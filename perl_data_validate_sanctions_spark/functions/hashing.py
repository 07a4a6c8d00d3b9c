"""Canonical content hashing for change detection / lineage.

Reference: ``_create_hash``
(/root/reference/lib/Data/Validate/Sanctions/Fetcher.pm:966-979) —
sha256 hex of canonically-serialized (sorted-key JSON) content; used to
detect whether a source's data changed between fetches.

Distributed refinement: the reference hashes one in-memory array in
order. At 10^12 rows there is no global order without a total sort, so
the engine defines the canonical content hash of a row-set as

    sha256( concat( sort( sha256(canonical_json(row)) ) ) )

— order-insensitive, computed with one ``groupBy`` whose partial
aggregation is map-side (collect_list of fixed 64-char hashes, sorted at
the end). Equal row-multisets ⇒ equal hash, which is exactly the
change-detection property the reference uses the hash for.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def canonical_row_hash(*cols: Column | str) -> Column:
    """sha256 hex of the canonical JSON of the given columns.

    ``to_json`` over a struct with alphabetically-ordered field names is
    the engine's canonical serialization (mirrors the reference's
    ``canonical => 1`` JSON encoder, Fetcher.pm:970-975).
    """
    cs = [(F.col(c) if isinstance(c, str) else c) for c in cols]
    struct = F.struct(*[c.alias(f"f{i:04d}") for i, c in enumerate(cs)])
    return F.sha2(F.to_json(struct), 256)


def content_hash_agg(row_hash: Column | str) -> Column:
    """Aggregate expression: order-insensitive content hash of a group
    via sorted concatenation — byte-exact canonical form, for groups
    small enough to collect (a source's dimension rows). For billions
    of rows per group use :func:`content_hash_agg_scalable`."""
    c = F.col(row_hash) if isinstance(row_hash, str) else row_hash
    return F.sha2(F.concat_ws("", F.sort_array(F.collect_list(c))), 256)


def content_hash_agg_scalable(
    row_hash: Column | str, mixer: str = "xxhash64"
) -> Column:
    """Order-insensitive content hash with O(1) aggregation state:
    sha256 over (count, Σ mix1(h), Σ mix2(h)) — two independent 60-64
    bit hash sums accumulated as decimal(38,0) (exact, cannot overflow
    below ~10^18 rows, no ANSI throw path). Equal row multisets ⇒ equal
    hash; collisions need simultaneous collisions in two independent
    sums — far beyond change-detection needs. This is what per-partition
    lineage uses at 10^12 rows, where collect_list would materialize
    billions of strings per group.

    ``mixer``: 'xxhash64' (default scale path) derives the two sums from
    seeded xxhash64 of the row hash; 'hexslice' derives them from two
    15-hex-char slices of the row hash itself — chosen because a plain
    SQL engine (the DuckDB driver-gate oracle) can reproduce the slices
    without xxhash64. The row hash is already sha256, so its hex slices
    are two independent uniform 60-bit values — same collision algebra."""
    c = F.col(row_hash) if isinstance(row_hash, str) else row_hash
    if mixer == "hexslice":
        s1 = F.sum(F.conv(F.substring(c, 1, 15), 16, 10).cast("decimal(38,0)"))
        s2 = F.sum(F.conv(F.substring(c, 16, 15), 16, 10).cast("decimal(38,0)"))
    else:
        s1 = F.sum(F.xxhash64(c, F.lit(1)).cast("decimal(38,0)"))
        s2 = F.sum(F.xxhash64(c, F.lit(2)).cast("decimal(38,0)"))
    return F.sha2(
        F.concat_ws(
            "|",
            F.count(F.lit(1)).cast("string"),
            s1.cast("string"),
            s2.cast("string"),
        ),
        256,
    )

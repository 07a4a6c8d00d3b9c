"""Deduplication operators for training-data pipelines.

Scale shapes:
- exact: hash-groupBy with map-side partial agg; the duplicate-key set
  is small → broadcast semi-join recovers member rows without
  shuffling the fact table.
- n-gram Jaccard: shingle → explode → equi-join on shingle (candidate
  generation) → exact verify. At scale the candidate join is the
  bottleneck → MinHash LSH replaces it: band buckets bound candidate
  fan-out, and only bucket-mates join.
- SimHash: 64-bit signature natively via aggregate/transform (no UDF);
  near-dups = small hamming distance, bucketed by signature prefix.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import fingerprint_md5, words


# --- exact -----------------------------------------------------------------

def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(fingerprint, n_docs, keeper_id): normalized-text dup groups;
    keeper = min id (deterministic survivor)."""
    fp = fingerprint_md5(text_col).alias("fingerprint")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep exactly one row per normalized text (the min-id row)."""
    fp = fingerprint_md5(text_col).alias("__fp")
    ranked = df.select("*", fp).groupBy("__fp").agg(
        F.min_by(F.struct(*df.columns), F.col(id_col)).alias("__keep")
    )
    return ranked.select("__keep.*")


# --- shingles + Jaccard ------------------------------------------------------

def shingles_from_tokens(toks: Column, w: int = 3) -> Column:
    """Distinct w-token shingles of an ALREADY-TOKENIZED document.

    When ``toks`` is a bound attribute (a materialized column, not an
    inline expression) the lambda below references it once per row —
    the per-element cost is just slice+concat, not a re-tokenize."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - w + 1, F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, w)))
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _shingle_table(
    df: DataFrame, text_col: str, id_col: str, w: int, cache: bool
) -> DataFrame:
    """(id, sh) with non-empty distinct shingle sets. Repartitioned by id
    so a small input file (one split) still parallelizes the per-doc
    shingle compute; CACHED because every consumer (sizes, explode,
    verify) re-reads it — and the columnar in-memory relation lets each
    consumer prune to the columns it needs (measured 2-4× faster than a
    row-based localCheckpoint for the count-verify path). The caller
    owns the cache's lifetime via :func:`_finish_pairs`, so repeated
    dedup calls don't leak executor storage for the session
    lifetime.

    Expression shape (round-7, guide §4.4-class duplication): the token
    array is materialized in its OWN projection so the shingle lambda
    references an attribute — the old single-expression form inlined
    the tokenizer into the transform lambda (re-split of the whole text
    PER SHINGLE ELEMENT, O(|doc|²)/row; HOFs are interpreted with no
    CSE) AND into a pushed-down ``size(sh) > 0`` filter that
    re-evaluated the entire chain a second time below the exchange.
    That filter only ever dropped null-text rows (``sh`` is never an
    empty array: empty-token docs yield ``[""]``, matching the DuckDB
    oracle's ``array_to_string`` of an empty slice), so it is now the
    equivalent ``text IS NOT NULL`` scan-pushable predicate. Measured
    3.65 s → 0.45 s for the 5000-doc build at sf0.1 (plans/r07)."""
    sh = (
        df.filter(F.col(text_col).isNotNull())
        .repartition(df.sparkSession.sparkContext.defaultParallelism * 2,
                     F.col(id_col))
        .select(F.col(id_col).alias("id"), words(text_col).alias("__toks"))
        .select("id", shingles_from_tokens(F.col("__toks"), w).alias("sh"))
    )
    return sh.cache() if cache else sh


def _explode_shingles(sh: DataFrame, *extra: Column) -> DataFrame:
    """(id, *extra, s): one row per shingle. ``explode_outer`` plus an
    ``s IS NOT NULL`` filter, not ``explode``: Spark infers
    ``size(sh) > 0`` from a plain explode and pushes it below the
    exchange, where a lazy shingle table (``cache=False``) inlines the
    whole tokenizer chain into that Filter (plans/r07 Filter (2)/(9)).
    The null filter also keeps a null shingle out of the minhash minima
    — ``xxhash64`` of null is not null."""
    return (sh.select("id", *extra, F.explode_outer("sh").alias("s"))
            .filter(F.col("s").isNotNull()))


def _finish_pairs(result: DataFrame, cached: DataFrame | None) -> DataFrame:
    """Materialize the pair result, then release the shingle cache.

    ``.cache()`` entries live in the session CacheManager until an
    explicit unpersist — an operator that caches an intermediate and
    returns a lazy plan either leaks storage on every call or forces
    cache-lifetime bookkeeping onto every caller. Instead the pair set
    (small by near-duplication's nature — it is the operator's OUTPUT,
    orders of magnitude below the input) is eagerly localCheckpointed:
    the expensive shingle reuse happens exactly once, under the cache,
    inside this call; the cache is dropped deterministically before
    returning (``cached=None`` when the caller owns a shared cache —
    see :func:`shingle_cache`); and the returned DataFrame is a cheap
    block-backed scan whose storage the ContextCleaner reclaims when
    the caller drops it. Callers that need a fully lazy plan pass
    ``cache=False`` to the operator and own the recomputation trade
    themselves.

    CLUSTER CAVEAT: ``localCheckpoint`` blocks are stored on executors
    without replication — an executor loss makes the checkpointed
    result unrecoverable (no lineage to recompute). Acceptable for the
    small pair sets here when the caller writes them out promptly; for
    long-lived cluster jobs, pass ``cache=False`` and persist the lazy
    plan to a real table/checkpoint instead."""
    out = result.localCheckpoint(eager=True)
    if cached is not None:
        cached.unpersist()
    return out


@contextmanager
def shingle_cache(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", w: int = 3
):
    """Suite-scoped shared shingle table.

    ``ngram_jaccard_pairs`` and ``minhash_lsh_pairs`` each need the
    same (id, shingle-set) table; run standalone, each builds and
    releases its own (the round-3 leak fix made that deterministic —
    and made a dedup *suite* pay the shingle build twice). This scopes
    ONE cached build across several operator calls with the same
    deterministic release:

        with shingle_cache(docs, w=3) as sh:
            nj = ngram_jaccard_pairs(docs, w=3, shingles=sh)
            mh = minhash_lsh_pairs(docs, w=3, shingles=sh)
        # cache entry released here; nj/mh are materialized pair sets

    The operators localCheckpoint their (small) pair outputs while the
    cache is live, so nothing recomputes shingles after release."""
    sh = _shingle_table(df, text_col, id_col, w, cache=True)
    try:
        yield sh
    finally:
        sh.unpersist()


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    cache: bool = True,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """All pairs with shingle-Jaccard ≥ threshold.

    COUNT-based verification: shingle sets are distinct arrays, so
    |A∩B| is exactly the number of join hits on the exploded shingle
    column — the pair join carries only (id, id) rows (never the
    shingle arrays) and the per-pair intersection is a groupBy count
    with map-side partials. Sizes join back at the end. Exact, and
    shuffle rows stay ~16 bytes wide at any scale.

    ``max_df`` (scale guard, default off): drop shingles appearing in
    more than max_df docs from candidate generation — the classic
    stop-shingle cap that bounds the m² blow-up of a hot shingle.
    Capped mode verifies with exact Jaccard on the full sets (array
    intersect), so reported values stay exact; recall is limited to
    pairs sharing ≥1 sub-cap shingle (documented trade — at 100 TB a
    shingle shared by millions of docs proposes no useful pair anyway).
    O(candidate pairs) either way; use :func:`minhash_lsh_pairs` when
    even capped candidates are too many.

    ``shingles``: a shared table from :func:`shingle_cache` (must have
    been built with the same ``w``); the operator then neither builds
    nor releases it. ``cache=False`` returns the fully lazy plan (the
    caller owns recomputation); see :func:`_finish_pairs` for the
    localCheckpoint executor-loss caveat of the eager default.
    """
    own = shingles is None
    sh = _shingle_table(df, text_col, id_col, w, cache) if own else shingles
    exploded = _explode_shingles(sh)
    if max_df is not None:
        rare = (
            exploded.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("s")
        )
        cand_src = exploded.join(rare, "s")
        cands = (
            cand_src.alias("a")
            .join(cand_src.alias("b"), "s")
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        out = (
            cands.join(
                sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
                "id_a",
            )
            .join(
                sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
                "id_b",
            )
            .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
        return _finish_pairs(out, sh if own else None) if cache else out
    # sizes ride the exploded rows (+4 B/row) instead of joining back
    # after the pair aggregation: at bench scale that removes two
    # broadcast-join builds (two extra jobs), and at 10^9-doc scale it
    # removes a pairs⋈sizes join that would no longer broadcast at all
    # (guide §2.3 "shuffle keys and metadata instead of payloads" —
    # na/nb are functionally dependent on the group key, recovered with
    # a min aggregate)
    sized = _explode_shingles(sh, F.size("sh").alias("n"))
    out = (
        sized.alias("a")
        .join(sized.alias("b"), "s")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.min("a.n").alias("na"),
            F.min("b.n").alias("nb"),
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return _finish_pairs(out, sh if own else None) if cache else out


# --- MinHash + LSH -----------------------------------------------------------

def minhash_signature(col: Column | str, k: int = 64) -> Column:
    """k-permutation MinHash signature of the shingle set: element i is
    min over shingles of xxhash64(i, shingle) — k independent hash
    families from the seed parameter, all JVM-side."""
    sh = col if isinstance(col, Column) else F.col(col)
    # one aggregate pass holding k running minima (vs k separate
    # array traversals: same hash count, but a k× smaller expression
    # tree → fast codegen, and one scan of the shingle array)
    init = F.array_repeat(F.lit((1 << 63) - 1), k)
    seeds = F.sequence(F.lit(0), F.lit(k - 1))
    return F.aggregate(
        sh,
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.transform(seeds, lambda i: F.xxhash64(i, s)),
            lambda a, b: F.least(a, b),
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 3,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    cache: bool = True,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash + banded LSH candidate pairs, exact-Jaccard verified.

    bands=16 × rows=4 over k=64 → collision prob ≈ 1-(1-s^4)^16
    (s = true Jaccard): ~0.97 at s=0.7, ~0.04 at s=0.2. Candidates come
    only from shared band buckets, so the all-pairs explosion of
    :func:`ngram_jaccard_pairs` never happens; hot buckets are bounded
    by banding (r rows per band) rather than by data skew.

    ``cache=True`` (default) materializes the pair set eagerly inside
    the call (localCheckpoint) and releases the internal shingle cache
    before returning — callers that need a lazy plan to push further
    filters/limits into pass ``cache=False`` and own the recomputation
    trade (see :func:`_finish_pairs` for the localCheckpoint
    executor-loss caveat). ``shingles``: a shared table from
    :func:`shingle_cache` (same ``w``); the operator then neither
    builds nor releases it.
    """
    rows_per_band = k // bands
    own = shingles is None
    sh = _shingle_table(df, text_col, id_col, w, cache) if own else shingles
    # signature minima via explode + ONE codegen'd HashAggregate of k
    # mins (bit-identical values to minhash_signature's aggregate/
    # zip_with form — same xxhash64(seed_i, shingle) per element, same
    # min — but higher-order functions are interpreted expression-tree
    # walks with boxed per-element closures, while min() aggregates run
    # in whole-stage codegen with map-side partials; the groupBy reuses
    # the shingle table's id-partitioning, so no exchange is added)
    mins = (
        _explode_shingles(sh)
        .groupBy("id")
        .agg(
            *[
                F.min(F.xxhash64(F.lit(i), F.col("s"))).alias(f"__m{i}")
                for i in range(k)
            ]
        )
    )
    # band explode carries ONLY (id, band, bucket) — never the shingle
    # array (the old 32-way explode duplicated every shingle set 32×
    # through the shuffle); candidate ids join their sets back after
    # the distinct, when the pair set is already LSH-small. Buckets
    # hash the same comma-joined minima as before (concat_ws renders
    # longs identically), so candidates are bit-identical too.
    banded = mins.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"__m{b * rows_per_band + r}")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")

    cands = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    out = (
        cands.join(
            sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return _finish_pairs(out, sh if own else None) if cache else out


# --- SimHash -----------------------------------------------------------------

def md5_hash60(t: Column) -> Column:
    """60-bit token hash from the first 15 hex chars of md5 — chosen
    because BOTH Spark and DuckDB compute identical md5 hex, making a
    simhash built on it replicable in plain SQL (the driver-gate oracle
    for q:simhash_near_dups). xxhash64 stays the default scale hash."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash64(
    col: Column | str, n_bits: int = 64, token_hash=None
) -> Column:
    """n_bits-wide SimHash of the token multiset, fully native: per-token
    hash, per-bit ±1 votes accumulated with aggregate/zip_with,
    sign → bit. No Python anywhere.

    ``token_hash``: Column→Column hash function; default xxhash64 (the
    scale path), :func:`md5_hash60` for a cross-engine-verifiable
    signature (pair with n_bits=60).

    Bit extraction uses ``lpad(bin(hash))`` + ``substr`` because Spark's
    shift functions require a literal shift count — ``bin`` renders the
    64-bit two's-complement pattern once per token and ``substr``
    accepts Column positions."""
    toks = words(col)
    thash = token_hash if token_hash is not None else F.xxhash64
    zeros = F.array_repeat(F.lit(0).cast("long"), n_bits)

    def tok_votes(t: Column) -> Column:
        bits = F.lpad(F.bin(thash(t)), 64, "0")
        # seq position j (1-based) votes for bit j-1 (LSB first)
        return F.transform(
            F.sequence(F.lit(1), F.lit(n_bits)),
            lambda j: F.when(
                F.substr(bits, F.lit(65) - j, F.lit(1)) == "1", F.lit(1)
            ).otherwise(F.lit(-1)),
        )

    votes = F.aggregate(
        toks,
        zeros,
        lambda acc, t: F.zip_with(acc, tok_votes(t), lambda a, v: a + v),
    )
    terms = []
    for j in range(n_bits):
        weight = (1 << j) if j < 63 else -(1 << 63)  # sign bit
        terms.append(
            F.when(F.element_at(votes, j + 1) > 0, F.lit(weight).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    sig = terms[0]
    for t in terms[1:]:
        sig = sig + t
    return sig


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (popcount via
    bit_count)."""
    return F.bit_count(a.bitwiseXOR(b))


def signature_block_cols(
    sig: Column, n_blocks: int, n_bits: int = 64
) -> list[Column]:
    """The pigeonhole bit-slices of a signature as ``struct(blk, val)``
    Columns — block i covers bits [lo_i, lo_i+w_i), widths differing by
    ≤1 when ``n_bits % n_blocks != 0``. Shared by the batch hamming
    join below and the streaming near-dup operator
    (streaming/stateful_dedup.py) so both sides bucket identically."""
    if n_blocks > n_bits:
        raise ValueError("n_blocks cannot exceed n_bits")
    base = n_bits // n_blocks
    extra = n_bits % n_blocks
    blocks = []
    lo = 0
    for i in range(n_blocks):
        w = base + (1 if i < extra else 0)
        mask = ((1 << w) - 1) if w < 64 else -1
        blocks.append(
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftrightunsigned(sig, lo).bitwiseAND(
                    F.lit(mask)
                ).alias("val"),
            )
        )
        lo += w
    return blocks


def signature_block_combo_cols(
    sig: Column, n_blocks: int, s: int = 1, n_bits: int = 64
) -> list[Column]:
    """``struct(blk, val)`` Columns for every s-combination of the
    pigeonhole blocks — ``blk`` numbers the combination, ``val``
    concatenates the member blocks' bit-slices (total width s·n_bits/
    n_blocks ≤ 64 enforced). ``s=1`` degenerates to
    ``signature_block_cols``. See ``hamming_near_dup_pairs`` for the
    exhaustiveness bound and the key-width scale rule."""
    from itertools import combinations

    if s < 1 or s > n_blocks:
        raise ValueError("s must be in [1, n_blocks]")
    if s == 1:
        return signature_block_cols(sig, n_blocks, n_bits)
    if n_blocks > n_bits:
        raise ValueError("n_blocks cannot exceed n_bits")
    base = n_bits // n_blocks
    extra = n_bits % n_blocks
    widths, los = [], []
    lo = 0
    for i in range(n_blocks):
        w = base + (1 if i < extra else 0)
        widths.append(w)
        los.append(lo)
        lo += w
    # widest possible combo must still fit one long
    if sum(sorted(widths)[-s:]) > 63:
        raise ValueError("combined block key exceeds 63 bits — lower s")
    out = []
    for ci, combo in enumerate(combinations(range(n_blocks), s)):
        val = F.lit(0).cast("long")
        for i in combo:
            mask = ((1 << widths[i]) - 1)
            piece = F.shiftrightunsigned(sig, los[i]).bitwiseAND(
                F.lit(mask)
            )
            val = F.shiftleft(val, widths[i]).bitwiseOR(piece)
        out.append(
            F.struct(F.lit(ci).alias("blk"), val.alias("val"))
        )
    return out


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    n_blocks: int | None = None,
    n_bits: int = 64,
    token_hash=None,
    s: int = 1,
) -> DataFrame:
    """Near-dup pairs by SimHash with pigeonhole blocking: the signature
    is split into ``n_blocks`` disjoint bit ranges and a pair becomes a
    candidate when ANY block matches exactly; hamming ≤ max_hamming is
    then verified on the full signature.

    **Recall bound (pigeonhole):** two signatures at hamming distance h
    differ in at most h blocks, so with h < n_blocks at least one block
    is identical ⇒ blocking is EXHAUSTIVE for ``n_blocks =
    max_hamming+1`` (the default). Fewer blocks trade recall for
    candidate count: bigger blocks = more selective buckets but pairs
    with every block touched are missed (the standard HmSearch /
    Charikar-dedup block trade, documented for callers who tune it).
    ``s`` > 1 switches to the C(k, s) combination keys — exhaustive AND
    more selective; see ``hamming_near_dup_pairs`` for the scale rule.

    Candidates carry only (id, id); signatures join back per candidate
    for the hamming verify. Each block-bucket is a shuffle key — hot
    buckets spread across ``n_blocks`` keys rather than one prefix."""
    sig = df.select(
        F.col(id_col).alias("id"),
        simhash64(text_col, n_bits=n_bits, token_hash=token_hash).alias("sig"),
    )
    return hamming_near_dup_pairs(sig, max_hamming=max_hamming,
                                  n_blocks=n_blocks, n_bits=n_bits, s=s)


def hamming_near_dup_pairs(
    sig: DataFrame,
    max_hamming: int = 8,
    n_blocks: int | None = None,
    n_bits: int = 64,
    s: int = 1,
) -> DataFrame:
    """The pigeonhole-blocked hamming join over ANY (id, sig) signature
    table — the shared core of ``simhash_near_dup_pairs`` (text) and
    ``operators/multimodal.py::phash_near_dup_pairs`` (images).

    ``s`` generalizes the pigeonhole (multi-index hashing, Norouzi et
    al.): with ``k = max_hamming + s`` blocks, ≤ max_hamming errors
    touch ≤ max_hamming blocks, so ≥ s blocks are UNTOUCHED and the
    concatenation of any s untouched blocks matches exactly — keying
    every C(k, s) s-combination stays EXHAUSTIVE while the bucket key
    widens from n_bits/k to s·n_bits/k bits. That width is the scale
    dial: s=1 gives 64/(h+1) ≈ 9-bit keys (≤1024 buckets — quadratic
    blowup beyond ~10k rows: measured 134 s for the join at 150k
    images), s=2 gives 16-bit keys (65k buckets — the same join runs
    in seconds). Pick s so s·n_bits/k ≳ log2(n_rows); the explode cost
    is C(k, s) rows per id (7 → 28 for h=6, s=1 → 2)."""
    if n_blocks is None:
        n_blocks = max_hamming + int(s)
    blocks = signature_block_combo_cols(
        F.col("sig"), n_blocks, s=int(s), n_bits=n_bits
    )
    # the signature (8 B) rides the blocked explode, so candidates are
    # hamming-verified IN the join projection and deduplicated only
    # AFTER the ≤ max_hamming filter (a near-dup-small set) — the old
    # shape deduplicated the full candidate set (a multi-million-row
    # distinct shuffle at 150k images) and then joined the signatures
    # back twice. One self-join (the build side is the same exchange,
    # reused), no join-backs. hamming is a pure function of the pair,
    # so dedup-after-verify returns the identical pair set.
    blocked = sig.select(
        "id", "sig", F.explode(F.array(*blocks)).alias("bb")
    ).select("id", "sig", "bb.blk", "bb.val")
    # SHUFFLE_HASH: the sides are the same exploded table, so Catalyst's
    # size estimate routinely lands under the broadcast threshold and
    # builds a multi-million-row broadcast hash relation (single-
    # threaded driver collect+serialize — measured 4.4 s vs 1.2 s for
    # the shuffled hash join on 150k×28-row sides). A self-join of
    # equal sides should never broadcast; shuffled-hash beats sort-merge
    # because per-partition build sides are small (guide §3.1).
    return (
        blocked.alias("a")
        .join(blocked.alias("b").hint("shuffle_hash"), ["blk", "val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.sig"), F.col("b.sig")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# --- near-dup group formation (connected components) -------------------------

def near_dup_groups(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """(id, group_id) for every id that appears in ≥1 near-dup pair —
    the group-formation half of a dedup pipeline (pairs from
    ``ngram_jaccard_pairs`` / ``minhash_lsh_pairs`` /
    ``simhash_near_dup_pairs`` / ``phash_near_dup_pairs`` all share the
    (id_a, id_b) shape). ``group_id`` is the MIN id of the connected
    component under the column's natural ordering — the same
    deterministic-survivor rule as ``exact_duplicate_groups``
    (keeper = min id); downstream "keep one per group" is
    ``filter(id == group_id)``.

    Min-label propagation: label(v) starts at min(v, neighbors(v)) and
    each round takes the min over neighbors' labels, converging in
    ≤ diameter(component) rounds. Scale shape: every round is ONE
    groupBy(id) shuffle whose rows carry only (id, label); the
    (undirected) edge table is localCheckpoint-ed once and re-joined
    per round, and each round's labels are eagerly checkpointed so
    lineage stays O(1) instead of O(rounds). Near-dup components are
    near-cliques in practice (diameter 2-3 ⇒ 3-4 rounds); pathological
    chains are bounded by ``max_iter`` and raise rather than silently
    return partial labels. For workloads with genuinely deep
    components the O(log n)-round alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14) slots in behind this same signature.

    Convergence is checked with a first-changed-row probe
    (``limit(1)``), not a full count — one extra cheap job per round.
    ``max_iter`` bounds the label-CHANGING rounds; one extra
    stability-probe round runs to observe convergence, so a component
    that finishes changing exactly at round max_iter still succeeds.
    """
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)

    labels = (
        edges.groupBy("a")
        .agg(F.min("b").alias("nmin"))
        .select(
            F.col("a").alias("id"),
            F.least(F.col("a"), F.col("nmin")).alias("lbl"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter + 1):
        # the round carries each vertex's OLD label through the
        # aggregation (max over the union: only the self row is
        # non-null), so the convergence probe is a filter+limit over
        # the just-checkpointed blocks — the round-6 shape re-joined
        # new labels against old ones, a second shuffle job per round
        new_labels = _propagation_round(
            edges, labels, with_old=True
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.filter(F.col("lbl") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels.select("id", "lbl")
        if changed == 0:
            return labels.select("id", F.col("lbl").alias("group_id"))
    raise ValueError(
        f"near_dup_groups did not converge in {max_iter} rounds — a "
        "component deeper than max_iter; raise max_iter or use a "
        "star-contraction variant"
    )


def _propagation_round(
    edges: DataFrame, labels: DataFrame, with_old: bool = False
) -> DataFrame:
    """One min-label-propagation round (shared by near_dup_groups and
    the PLANS evidence dump, so the dumped plan is by construction the
    plan that runs): push each vertex's label to its neighbors, then
    take the min of incoming and current labels per vertex.

    ``with_old=True`` additionally returns each vertex's previous label
    as ``old`` (max over the union — only the self row carries it, and
    every vertex has a self row), letting the caller's convergence
    probe read the round's own output instead of re-joining against the
    previous labels."""
    msgs = edges.join(
        labels.select(F.col("id").alias("a"), "lbl"), "a"
    ).select(F.col("b").alias("id"), "lbl")
    if not with_old:
        return msgs.union(labels).groupBy("id").agg(F.min("lbl").alias("lbl"))
    lbl_t = labels.schema["lbl"].dataType
    tagged = msgs.select(
        "id", "lbl", F.lit(None).cast(lbl_t).alias("old")
    ).union(labels.select("id", "lbl", F.col("lbl").alias("old")))
    return tagged.groupBy("id").agg(
        F.min("lbl").alias("lbl"), F.max("old").alias("old")
    )

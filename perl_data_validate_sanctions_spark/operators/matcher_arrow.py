"""Arrow-batched variant of the caption matcher (the BASELINE.json
north_star's "fuzzy token-match tiers re-expressed as vectorized pandas
UDF predicates").

Shape: ``mapInPandas`` over the images table with the (small) name
dimension's :class:`~.matcher.NameIndex` shipped to every Python worker
as a Spark broadcast variable (one per entries frame, ``DimSnapshot``)
— the distributed equivalent of the reference holding its whole
dataset in process memory (Sanctions.pm:321-352). Zero shuffles: one
narrow map stage; each Arrow batch is screened against the broadcast
inverted token index (Sanctions.pm:346-348), the same one the native
join is built from.

Trade-off vs the native Catalyst path (operators/matcher.py): no
shuffle at all (vs a ~2%-of-rows shuffle), but pays the Arrow hop.
Semantically identical under the pinned contract — one verdict row per
matched PHYSICAL input row (duplicate image_ids yield duplicate verdict
rows; each physical duplicate is its own violation) — asserted on a
dup-id fixture by
tests/test_matcher.py::test_caption_match_native_and_arrow_agree.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from .matcher import DimSnapshot, NameIndex

# [^\w\s] strips punctuation, [\d_] strips digits/underscore: together
# they leave exactly Unicode letters + whitespace (Java \p{L} twin)
_CLEAN_RE = re.compile(r"[^\w\s]|[\d_]", re.UNICODE)


def _clean_tokens_py(name: str) -> list[str]:
    """Python twin of functions.normalize.clean_name_tokens (must agree:
    strip non-letter/non-space, uppercase, split on whitespace).

    ``\\w`` minus digits/underscore == Unicode letters, mirroring Java's
    ``\\p{L}``.
    """
    cleaned = _CLEAN_RE.sub("", name or "").upper()
    return cleaned.split()


# Worker-process index cache: a module-level global (this module is
# importable on executors, not pickled by value). A Python worker drops a
# broadcast from its registry whenever it runs a task that does not carry
# it, so reading ``bc.value`` again would unpickle the index again; a
# reused worker (spark.python.worker.reuse, the default) unpickles it once
# per snapshot instead. The key is minted on the driver with the
# broadcast (a worker-side Broadcast has no ``id``), so a changed
# dimension never hits a stale index; the bound keeps a long-lived worker
# from accumulating dimensions.
_INDEX_CACHE: dict[str, NameIndex] = {}
_INDEX_CACHE_MAX = 4


def _worker_index(key: str, bc) -> NameIndex:
    idx = _INDEX_CACHE.get(key)
    if idx is None:
        if len(_INDEX_CACHE) >= _INDEX_CACHE_MAX:
            _INDEX_CACHE.pop(next(iter(_INDEX_CACHE)))
        idx = _INDEX_CACHE[key] = bc.value
    return idx


def match_captions_arrow(
    images: DataFrame,
    entries: DataFrame,
    id_col: str = "image_id",
    caption_col: str = "caption",
) -> DataFrame:
    """Same contract as matcher.match_captions, zero-shuffle Arrow path.

    The dimension rides the broadcast of ``DimSnapshot.of(entries)``, one
    per entries frame. ``DimSnapshot.of`` with another frame releases the
    snapshot, which destroys only that broadcast, and this plan then
    fails when run: run it first."""
    bc, key = DimSnapshot.of(entries).broadcast()
    id_type = images.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, list string, matched_name string"

    def screen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        index = _worker_index(key, bc)
        for pdf in batches:
            ids, lists, names = [], [], []
            caps = pdf[caption_col]
            for rid, cap in zip(pdf[id_col].tolist(), caps.tolist()):
                if not cap:
                    continue
                hit = index.best(_clean_tokens_py(cap))
                if hit is not None:
                    ids.append(rid)
                    lists.append(hit[0])
                    names.append(hit[1])
            yield pd.DataFrame({id_col: ids, "list": lists, "matched_name": names})

    return images.select(id_col, caption_col).mapInPandas(screen, out_schema)

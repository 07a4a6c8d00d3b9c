"""Arrow-batched variant of the caption matcher (the BASELINE.json
north_star's "fuzzy token-match tiers re-expressed as vectorized pandas
UDF predicates").

Shape: ``mapInPandas`` over the images table with the (small) name
dimension shipped to every Python worker as a Spark broadcast variable
(one per entries frame, ``DimSnapshot``) — the distributed equivalent
of the reference holding its whole dataset in process memory
(Sanctions.pm:321-352). Zero shuffles: one narrow map stage; each Arrow
batch is screened against a worker-local inverted token index (the
same candidate-pruning structure as Sanctions.pm:346-348).

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
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame

from .matcher import DimSnapshot

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


class _MatcherIndex:
    """Worker-local inverted index: token -> [(candidate id)], plus
    per-candidate token frozensets and metadata.

    Candidate pruning mirrors the native path's prefix-filter DF cap
    (matcher._collect_caption_index): each multi-token candidate's single
    highest-document-frequency token goes into a separate *dropped*
    postings dict consulted only for the two rescue classes — a
    single-token probe (any hit matches) or a probe token duplicated
    ≥2× (n_hits ≥ 2 from that token alone). Every candidate that can
    satisfy the match rule is still generated (≥2 distinct shared
    tokens ⇒ ≥1 survives the one-token drop); the per-candidate
    predicate below stays exact, so this is purely a candidate-set
    reduction — the high-DF postings ("AL", "MOHAMMED", …) that made
    full-dimension screening O(thousands of candidates per caption)
    are consulted only for the rare rescue probes."""

    __slots__ = ("token_to_cands", "dropped_to_cands", "single_to_cands",
                 "df", "cand_tokens", "cand_nsize", "cand_meta")

    def __init__(self, rows: list[dict[str, Any]]):
        self.token_to_cands: dict[str, list[int]] = {}
        self.dropped_to_cands: dict[str, list[int]] = {}
        # postings restricted to single-token names: the probe's own
        # dropped token consults ONLY these (any shared token matches a
        # single-token name), never the full high-DF posting list
        self.single_to_cands: dict[str, list[int]] = {}
        self.cand_tokens: list[frozenset[str]] = []
        # RAW token count: the reference's min-size rule counts
        # duplicated name tokens (Sanctions.pm:430), len(frozenset)
        # would not
        self.cand_nsize: list[int] = []
        self.cand_meta: list[tuple[str, str, int]] = []  # (source, name, entry_id)
        for r in rows:
            idx = len(self.cand_tokens)
            toks = frozenset(r["name_tokens"])
            self.cand_tokens.append(toks)
            self.cand_nsize.append(len(r["name_tokens"]))
            self.cand_meta.append((r["source"], r["name"], r["entry_id"]))
        df: dict[str, int] = {}
        for toks in self.cand_tokens:
            for t in toks:
                df[t] = df.get(t, 0) + 1
        self.df = df
        for idx, toks in enumerate(self.cand_tokens):
            # same drop choice as the native index: max (DF, token)
            dropped = (
                max(toks, key=lambda t: (df[t], t)) if len(toks) >= 2 else None
            )
            for t in toks:
                target = (
                    self.dropped_to_cands if t == dropped
                    else self.token_to_cands
                )
                target.setdefault(t, []).append(idx)
                if len(toks) == 1:
                    self.single_to_cands.setdefault(t, []).append(idx)

    def match_caption_tokens(self, ptokens: list[str]):
        """J1 candidate union + J2 rule; returns best (source, name) by
        (source, name, entry_id) or None — same deterministic choice as
        the native path's min-rank reduction with tier fixed at 1.

        Candidate generation mirrors the native path's BOTH-sides
        prefix filter: the probe's own max-(DF, token) token consults
        only the single-token-name postings; rescue tokens
        (single-token probes, duplicates ≥2×) consult everything. The
        per-candidate predicate below stays exact."""
        if not ptokens:
            return None
        distinct = set(ptokens)
        cands: set[int] = set()
        if len(ptokens) == 1:
            rescue: set[str] = distinct
        else:
            df = self.df
            pdrop = max(distinct, key=lambda t: (df.get(t, 0), t))
            for t in distinct:
                if t != pdrop:
                    cands.update(self.token_to_cands.get(t, ()))
            cands.update(self.single_to_cands.get(pdrop, ()))
            if len(distinct) < len(ptokens):
                rescue = {t for t in distinct if ptokens.count(t) >= 2}
            else:
                rescue = set()
        for t in rescue:
            cands.update(self.token_to_cands.get(t, ()))
            cands.update(self.dropped_to_cands.get(t, ()))
        if not cands:
            return None
        n_prob = len(ptokens)
        best = None
        for ci in cands:
            ctoks = self.cand_tokens[ci]
            hits = sum(1 for t in ptokens if t in ctoks)  # probe multiplicity
            if hits > 1 or (hits == 1 and min(n_prob, self.cand_nsize[ci]) == 1):
                meta = self.cand_meta[ci]
                if best is None or meta < best:
                    best = meta
        return best


# Worker-process index cache: a module-level global (this module is
# importable on executors, not pickled by value). Building _MatcherIndex
# over the full 15,664-entry dimension costs ~0.3 s and ran once PER
# TASK; a reused Python worker (spark.python.worker.reuse, the default)
# builds it once per DIMENSION CONTENT. The key is the snapshot's sha1
# of the pickled rows, computed once on the driver with its broadcast,
# so a changed dimension never hits a stale index; the bound keeps a
# long-lived worker from accumulating dimensions. It indexes the
# broadcast-scale dimension only, as the reference's in-process
# ``_index`` multimap does (Sanctions.pm:346-348).
_INDEX_CACHE: dict[str, _MatcherIndex] = {}
_INDEX_CACHE_MAX = 4


def _worker_index(content_key: str, bc) -> _MatcherIndex:
    idx = _INDEX_CACHE.get(content_key)
    if idx is None:
        if len(_INDEX_CACHE) >= _INDEX_CACHE_MAX:
            _INDEX_CACHE.pop(next(iter(_INDEX_CACHE)))
        idx = _INDEX_CACHE[content_key] = _MatcherIndex(bc.value)
    return idx


def match_captions_arrow(
    images: DataFrame,
    entries: DataFrame,
    id_col: str = "image_id",
    caption_col: str = "caption",
) -> DataFrame:
    """Same contract as matcher.match_captions, zero-shuffle Arrow path.

    The dimension rides the broadcast of ``DimSnapshot.of(entries)``, one
    per entries frame. A call of either caption matcher with another
    frame destroys it, and this plan then fails when run: run it first."""
    bc, content_key = DimSnapshot.of(entries).broadcast()
    id_type = images.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, list string, matched_name string"

    def screen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        index = _worker_index(content_key, bc)
        for pdf in batches:
            ids, lists, names = [], [], []
            caps = pdf[caption_col]
            for rid, cap in zip(pdf[id_col].tolist(), caps.tolist()):
                if not cap:
                    continue
                hit = index.match_caption_tokens(_clean_tokens_py(cap))
                if hit is not None:
                    ids.append(rid)
                    lists.append(hit[0])
                    names.append(hit[1])
            yield pd.DataFrame({id_col: ids, "list": lists, "matched_name": names})

    return images.select(id_col, caption_col).mapInPandas(screen, out_schema)

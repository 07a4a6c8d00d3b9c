"""The tiered match semantics (reference §2.4 J1-J7): a screening call
judged in plain Python on the driver, and the caption screen as one
Catalyst query shape.

Reference lifecycle being reproduced
(/root/reference/lib/Data/Validate/Sanctions.pm:217-319):

1. J1  candidate retrieval: probe name tokens looked up in an inverted
   token index, union of hits (Sanctions.pm:253-258). Here:
   :class:`NameIndex` holds the postings (token → name-dimension ranks)
   on the driver, built once per entries frame by its
   :class:`DimSnapshot` and read by all three matchers.
2. J2  fuzzy token-overlap (``_name_matches``, Sanctions.pm:421-437),
   :meth:`NameIndex.matches`: count probe tokens present in the entry
   name's tokens **with probe multiplicity** (a duplicated probe token
   counts twice); match iff count > 1, or count == 1 and
   min(|probe|,|entry|) == 1.
3. J3  conjunctive optional-field filter (``_match_other_fields``,
   Sanctions.pm:144-158): for each of 7 fields, if both sides present,
   probe value must be a member of the entry array, else the candidate
   dies; matched fields are reported.
4. J5  no-DOB-probe short-circuit (Sanctions.pm:270), then
   J4  DOB membership — epoch first, then year (Sanctions.pm:278-283),
   then J6 the dob_text / entry-without-DOB fallback requiring exact
   cleaned full-name equality (Sanctions.pm:286-315).
5. J7  verdict struct ``{matched, list, matched_args, comment}``
   (``_possible_match``, Sanctions.pm:401-410).

Steps 3-5 are :func:`_cascade`, walked by :meth:`DimSnapshot.judge`;
the probe-side normalisation (name tokens, DOB epoch and year, country
codes) stays in Spark, one projection collected per probe table.

Determinism refinement (documented, SURVEY §2.4): the reference scans
entries in Perl hash order and returns the first hit; we walk the
candidates in (source, name, entry_id) order and keep the least
(tier, rank) — direct-DOB tiers always beat the dob_text fallback
tier, matching the reference's two-pass structure.

Scale shape: ``match_probes`` is driver-sized — a screening call
(one person, as the reference answers one per call) looks up its
candidates in the driver-held postings and judges them in Python: over
a local probe frame, no Spark job. Bulk screening is ``match_captions``
/ ``match_captions_arrow``, which shuffle only candidate-bearing rows;
``bytes`` is never selected on either path (column pruning keeps it out
of the scan).
"""

from __future__ import annotations

import sys
import threading
import zlib
from uuid import uuid4

from pyspark import Broadcast
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException
from pyspark.sql.types import DataType, StructField, StructType

from ..functions.country import country_code
from ..functions.dates import date_to_epoch, epoch_year
from ..functions.normalize import (
    clean_full_name,
    clean_name_tokens,
    process_name,
    ucfirst,
)
from ..schema import OPTIONAL_MATCH_FIELDS, VERDICT_SCHEMA
from ..session import local_frame

# slot count for the crc32-bucketed document-frequency array the
# prefix filter shares between the driver-built index and the probe
# plan (an array<int> literal; element_at is O(1) where a map literal
# lookup is a linear scan). 32768 slots vs ~14k distinct fulldim
# tokens keeps the chance a rare token collides into a high-DF slot
# (and is therefore preferentially dropped, costing a little pruning,
# never correctness) under ~4%.
_DF_SLOTS = 32768


def build_name_dim(entries: DataFrame) -> DataFrame:
    """One row per (entry, alias): the reference's ``_index`` multimap
    (Sanctions.pm:360-382) with per-name token arrays
    (Sanctions.pm:343-345). Names are ucfirst'd at index time
    (Sanctions.pm:371)."""
    name = ucfirst(F.col("raw_name"))
    return (
        entries.select(
            F.col("entry_id"),
            F.col("source"),
            F.explode("names").alias("raw_name"),
            *[F.col(f) for f in ("dob_epoch", "dob_year", "dob_text")],
            *[F.col(f) for f in OPTIONAL_MATCH_FIELDS],
        )
        .withColumn("name", name)
        .withColumn("name_tokens", clean_name_tokens(name))
        .withColumn("name_clean_full", clean_full_name(name))
        .drop("raw_name")
    )


def _ranked(dim: DataFrame) -> list[Row]:
    """The name rows that have a token, collected (one job) and sorted
    by (source, name, entry_id): a row's position is its rank."""
    rows = [r for r in dim.collect() if r["name_tokens"]]
    rows.sort(key=lambda r: (r["source"], r["name"], r["entry_id"]))
    return rows


class NameIndex:
    """The token index of one dimension snapshot — the reference's
    in-memory ``_index`` (Sanctions.pm:321-352, 346-348), built once per
    ``_load_data`` on the driver from :func:`_ranked` rows. Every reader
    (the probe screen, the native join, the Arrow workers) reads it.

    Ranking: the rank is the row's position in (source, name, entry_id)
    order (Python str comparison = code-point order = Spark's UTF8-binary
    string order), so the caption verdict reduction is ``min(rank)``, a
    pure-int aggregate that plans as HashAggregate.

    DF cap (the full-dimension fan-out fix): for every name with ≥2
    distinct tokens, the single token of highest (df_eff, token) is its
    ``dropped`` token and goes into ``drops`` instead of ``kept`` — the
    prefix-filter bound for an overlap-≥2 predicate: a probe sharing ≥2
    distinct tokens with a name still retrieves it through a kept token.
    High-DF tokens ("AL", "MOHAMMED", …) are the dropped token of most
    names containing them, so the worst posting lists shrink by orders
    of magnitude. The two pair classes with possibly no kept hit —
    single-token probes (any hit matches) and a probe token duplicated
    ≥2× equal to the dropped token (n_hits ≥ 2 from it alone) — are
    rescued by also reading the dropped postings; both match
    unconditionally (see :func:`match_captions`).

    ``df_eff(t) = df_arr[crc32(t) % _DF_SLOTS]`` is the document
    frequency with slot collisions folded in (max over the slot): the
    native probe side reads ``df_arr`` as an array literal, so both
    sides share one exact global (df_eff, token) order. A collision can
    only make a name drop a slightly-less-common token. ``single`` holds
    the postings of names of raw size 1: a probe's own dropped token
    reads only those (any shared token matches them)."""

    def __init__(self, rows: list[Row] | list[dict]):
        # per rank: distinct tokens (sorted), RAW token count (the
        # min-size rule counts duplicates, Sanctions.pm:430), (source,
        # name). Interned, so pickle writes each token and source once.
        self.tokens = [tuple(sorted({sys.intern(t) for t in r["name_tokens"]}))
                       for r in rows]
        self.nsize = [len(r["name_tokens"]) for r in rows]
        self.meta = [(sys.intern(r["source"]), r["name"]) for r in rows]
        df: dict[str, int] = {}
        for ts in self.tokens:
            for t in ts:
                df[t] = df.get(t, 0) + 1
        self.df_arr = [0] * _DF_SLOTS
        for t, n in df.items():
            slot = zlib.crc32(t.encode()) % _DF_SLOTS
            self.df_arr[slot] = max(self.df_arr[slot], n)
        self.df_eff = {t: self.df_arr[zlib.crc32(t.encode()) % _DF_SLOTS] for t in df}
        self.dropped: list[str | None] = []
        self.kept: dict[str, list[int]] = {}
        self.drops: dict[str, list[int]] = {}
        self.single: dict[str, list[int]] = {}
        for rank, ts in enumerate(self.tokens):
            drop = max(ts, key=lambda t: (self.df_eff[t], t)) if len(ts) >= 2 else None
            self.dropped.append(drop)
            for t in ts:
                (self.drops if t == drop else self.kept).setdefault(t, []).append(rank)
            if self.nsize[rank] == 1:
                self.single.setdefault(ts[0], []).append(rank)

    def sharing(self, ptokens: list[str]) -> list[int]:
        """The ranks of the names sharing a token with ``ptokens`` (J1),
        ascending."""
        ranks: set[int] = set()
        for t in set(ptokens):
            ranks.update(self.kept.get(t, ()))
            ranks.update(self.drops.get(t, ()))
        return sorted(ranks)

    def index_rows(self) -> list[tuple]:
        """The native join's build side: one ``(token, rank, nsize, keep,
        dropped, name_tokens)`` row per distinct token of each name."""
        return [
            (t, rank, self.nsize[rank], t != drop, drop, list(ts))
            for rank, (ts, drop) in enumerate(zip(self.tokens, self.dropped))
            for t in ts
        ]

    def best(self, ptokens: list[str]) -> tuple[str, str] | None:
        """J1 + J2 for a caption: the (source, name) of the least-ranked
        matching name, or None — the native path's ``min(rank)``.

        Candidates follow the native join's both-sides prefix filter:
        the probe's own max-(df_eff, token) token reads only the
        single-token names; rescue tokens (a single-token probe's token,
        tokens duplicated ≥2×) read every posting. The per-candidate
        predicate stays exact."""
        distinct = set(ptokens)
        ranks: set[int] = set()
        rescue = distinct
        if len(ptokens) > 1:
            pdrop = max(distinct, key=lambda t: (self.df_eff.get(t, 0), t))
            for t in distinct - {pdrop}:
                ranks.update(self.kept.get(t, ()))
            ranks.update(self.single.get(pdrop, ()))
            rescue = ({t for t in distinct if ptokens.count(t) >= 2}
                      if len(distinct) < len(ptokens) else set())
        for t in rescue:
            ranks.update(self.kept.get(t, ()))
            ranks.update(self.drops.get(t, ()))
        for rank in sorted(ranks):
            if self.matches(ptokens, rank):
                return self.meta[rank]
        return None

    def matches(self, ptokens: list[str], rank: int) -> bool:
        """J2 (``_name_matches``, Sanctions.pm:421-437): the probe tokens
        found in the name, counted with probe multiplicity, number more
        than one, or exactly one when either side has one token."""
        ts = self.tokens[rank]
        hits = sum(1 for t in ptokens if t in ts)
        return hits > 1 or (hits == 1 and min(len(ptokens), self.nsize[rank]) == 1)


def _cascade(p: dict, e: dict) -> tuple[int, tuple] | None:
    """J3-J7 for one prepared probe row ``p`` and one name row ``e``
    that passed J2: ``(tier, verdict)``, or None when the candidate dies.

    Null elements in an entry's arrays keep Spark SQL's meaning: a
    membership test that cannot rule a value out (it is absent, but the
    array holds a null) kills the candidate; ``dob_text`` nulls are
    skipped in the comment, as ``array_join`` skips them."""
    fields = []
    for f in OPTIONAL_MATCH_FIELDS:
        pv, ev = p["__p_" + f], e[f]
        relevant = pv is not None and pv != "" and bool(ev)
        if relevant and pv not in ev:
            return None
        fields.append(pv if relevant else None)
    epochs, years, texts = e["dob_epoch"] or (), e["dob_year"] or (), e["dob_text"] or ()
    pepoch, pyear, pfull = p["__pepoch"], p["__pyear"], p["__pfull"]
    epoch = year = comment = None
    if not p["__dob_provided"]:  # J5
        tier = 1
    elif pepoch is not None and pepoch in epochs:  # J4, epoch before year
        tier, epoch = 1, pepoch
    elif pepoch is not None and None in epochs:
        return None
    elif pyear is not None and pyear in years:
        tier, year = 1, pyear
    elif pyear is not None and None in years:
        return None
    elif (texts or not (epochs or years)) and pfull is not None and pfull == e["name_clean_full"]:
        tier = 2  # J6
        if texts:
            comment = "dob raw text: " + ", ".join(t for t in texts if t is not None)
    else:
        return None
    return tier, (1, e["source"], (e["name"], *fields, epoch, year), comment)


class DimSnapshot:
    """Everything derived from one entries frame, each part built once, on
    first use, as the reference builds its ``_index`` once per
    ``_load_data`` (Sanctions.pm:321-352): the ranked name rows (the one
    collect), their :class:`NameIndex`, the probe screen's normalisation
    Columns, the entry count (the ``"auto"`` rule), the native join's
    frames and the index's broadcast (Arrow). The screening API and both
    caption matchers read it. One slot, keyed on the frame's IDENTITY:
    :meth:`of` with another frame releases the held snapshot, which
    destroys its broadcast (a plan built on it fails when it runs) and
    nothing else: a holder (the API) still reads its driver-side parts."""

    _held: DimSnapshot | None = None
    _lock = threading.RLock()

    def __init__(self, entries: DataFrame):
        self.entries = entries
        self._parts: dict[str, object] = {}

    @classmethod
    def of(cls, entries: DataFrame) -> DimSnapshot:
        with cls._lock:
            if cls._held is None or cls._held.entries is not entries:
                if cls._held is not None:
                    cls._held.release()
                cls._held = cls(entries)
            return cls._held

    def _part(self, name: str, build):
        with self._lock:
            if name not in self._parts:
                self._parts[name] = build()
            return self._parts[name]

    def rows(self) -> list[dict]:
        # dicts: a Row looks a field name up by a caught TypeError
        return self._part("rows", lambda: [
            r.asDict() for r in _ranked(build_name_dim(self.entries))])

    def count(self) -> int:
        return self._part("count", self.entries.count)

    def index(self) -> NameIndex:
        return self._part("index", lambda: NameIndex(self.rows()))

    def prep(self) -> tuple[list[Column], Column]:
        """The probe normalisation Columns :func:`match_probes` projects,
        and ``__pyear``: projected after them, so the date_to_epoch tree
        is not inlined a second time."""
        def build():
            full_name = process_name(
                F.col("first_name"), F.coalesce(F.col("last_name"), F.lit(""))
            )
            cols = [
                clean_name_tokens(full_name).alias("__ptokens"),
                clean_full_name(full_name).alias("__pfull"),
                F.col("date_of_birth").isNotNull().alias("__dob_provided"),
                date_to_epoch(F.col("date_of_birth")).alias("__pepoch"),
            ]
            # probe-side country normalization (Sanctions.pm:235-240):
            # unknown countries become '' which the field check then
            # ignores (falsy in Perl) — NOT a mismatch.
            for f in OPTIONAL_MATCH_FIELDS:
                p_f = F.col(f)
                if f in ("place_of_birth", "residence", "nationality", "citizen"):
                    p_f = F.when(p_f.isNotNull() & (p_f != ""), country_code(p_f))
                cols.append(p_f.alias("__p_" + f))
            return cols, epoch_year(F.col("__pepoch")).alias("__pyear")
        return self._part("prep", build)

    def candidates(self, ptokens: list[str]) -> list[tuple[int, dict]]:
        """The (rank, name row) pairs sharing a token with ``ptokens``, in
        rank order."""
        rows = self.rows()
        return [(i, rows[i]) for i in self.index().sharing(ptokens)]

    def judge(self, p: Row) -> tuple:
        """The VERDICT_SCHEMA value of one prepared probe row: the verdict
        of its least (tier, rank) candidate, or a miss."""
        p = p.asDict()
        ptokens, names = p["__ptokens"], self.index()
        deferred = None
        for rank, e in self.candidates(ptokens):
            if names.matches(ptokens, rank) and (hit := _cascade(p, e)):
                if hit[0] == 1:
                    return hit[1]
                deferred = deferred or hit[1]
        return deferred or (0, None, None, None)

    def join_frames(self) -> tuple[DataFrame, DataFrame]:
        """The native join's build side and its rank → (source, name) map,
        shipped to the JVM as Arrow columns once, not per call."""
        def build():
            spark, names = self.entries.sparkSession, self.index()
            return (
                local_frame(spark, names.index_rows(),
                            "__itoken string, __rank int, __nsize int, __keep boolean, "
                            "__dropped string, __ntokens array<string>"),
                local_frame(spark, [(rank, *m) for rank, m in enumerate(names.meta)],
                            "__rank int, source string, name string"),
            )
        return self._part("join_frames", build)

    def broadcast(self) -> tuple[Broadcast, str]:
        """The index as one broadcast, and the key a worker caches it
        under: minted here, as a worker-side Broadcast has no ``id``."""
        with self._lock:
            if DimSnapshot._held is not self:
                raise RuntimeError("DimSnapshot released: another entries frame replaced it")
            return self._part("broadcast", lambda: (
                self.entries.sparkSession.sparkContext.broadcast(self.index()),
                uuid4().hex))

    def release(self) -> None:
        with self._lock:
            bc = self._parts.pop("broadcast", None)
        # a stopped context already dropped its broadcasts and temp dir
        if bc is not None and bc[0]._sc._jsc is not None:
            bc[0].destroy()


def match_probes(
    probes: DataFrame,
    entries: DataFrame | DimSnapshot,
) -> DataFrame:
    """Full ``get_sanctioned_info`` over a probe table: returns the probe
    table plus a ``verdict`` struct column (VERDICT_SCHEMA). ``entries``
    is the entries DataFrame, read through ``DimSnapshot.of``, or a
    :class:`DimSnapshot` of it.

    One verdict per probe ROW, as the reference verdicts per call. The
    probe table must be driver-sized: its rows are collected once through
    the normalisation projection (which Catalyst folds on the driver over
    a local probe frame), each is judged against its candidates in
    Python, and the result is one local relation, so a call over the
    API's one-row probe submits no Spark job. Bulk screening belongs to
    :func:`match_captions`."""
    snap = entries if isinstance(entries, DimSnapshot) else DimSnapshot.of(entries)
    cols, pyear = snap.prep()
    n = len(probes.columns)
    rows = [
        (*r[:n], snap.judge(r))
        for r in probes.select("*", *cols).select("*", pyear).collect()
    ]
    # through DDL every nested field is nullable: pyspark rebuilds Arrow
    # struct arrays with nullable children, then cannot cast them into
    # VERDICT_SCHEMA's non-nullable ``matched``
    verdict = DataType.fromDDL(VERDICT_SCHEMA.simpleString())
    schema = StructType(probes.schema.fields + [StructField("verdict", verdict, False)])
    return local_frame(probes.sparkSession, rows, schema)


def _with_physical_row_key(
    images: DataFrame, id_col: str, caption_col: str
) -> DataFrame:
    """Attach a per-PHYSICAL-row key ``(__rfile, __rid)`` to the probe
    projection.

    Preferred source: the file-source ``_metadata`` hidden column
    (``file_path`` + ``row_index``) — fully DETERMINISTIC under task
    retry / speculative execution, because a recomputed split re-reads
    the same file rows at the same indices. This is the path every
    file-backed (parquet/Iceberg) input takes, i.e. the real-cluster
    hot path.

    Fallback (inputs with no file provenance, e.g. in-memory test
    frames): ``monotonically_increasing_id``. CAVEAT (contract): the
    fallback key is nondeterministic across task retries — if an
    upstream map task is recomputed after some reducers fetched its
    output, recomputed rows get different ids (SPARK-23207 class),
    which can duplicate/drop verdict rows for physical duplicates. On
    a cluster, feed file-backed frames; the fallback exists for local
    ephemeral inputs only.
    """
    cols = [F.col(id_col).alias("__pid"), F.col(caption_col)]
    # inputFiles() pre-filter: in-memory/synthetic frames have no file
    # provenance, so don't even attempt the _metadata resolution there —
    # a raised-and-caught AnalysisException would be logged loudly by
    # Spark 4's DataFrameQueryContextLogger on every call.
    try:
        input_files = images.inputFiles()
    except Exception:  # pragma: no cover - defensive
        input_files = []
    file_backed = bool(input_files)
    # Scale-adaptive probe parallelism (round 7): the whole probe-side
    # pipeline (tokenize HOFs, prefix drop, tagged explode, broadcast
    # join) runs INSIDE the scan stage, so a small single-file table —
    # one row group, unsplittable — executes it all on ONE core
    # (measured: match_documents over a 5000-doc single-file parquet
    # spent ~3 s serial). When the file count can't feed the cluster,
    # repartition the NARROW projection (id, caption, row key — never
    # the payload) right after the row key is attached; the row key is
    # computed before the exchange, so verdict identity is unchanged.
    # Inputs with >= defaultParallelism files (any real table) skip the
    # extra exchange entirely.
    def _spread(df: DataFrame) -> DataFrame:
        par = images.sparkSession.sparkContext.defaultParallelism
        if 0 < len(input_files) < par:
            return df.repartition(par)
        return df

    if file_backed:
        try:
            return _spread(images.select(
                *cols,
                F.col("_metadata.file_path").alias("__rfile"),
                F.col("_metadata.row_index").alias("__rid"),
            ))
        except AnalysisException:
            # _metadata pruned by an upstream projection/union: the input
            # IS file-backed but falls to the retry-nondeterministic key.
            # Loud on purpose — on a cluster this is the signal that a
            # retried task could duplicate/drop verdicts for physical
            # duplicates; feed the raw file scan to keep determinism.
            import warnings

            warnings.warn(
                "match_captions: file-backed input lost _metadata "
                "(projection/union above the scan?) — falling back to "
                "monotonically_increasing_id row keys, which are NOT "
                "stable under task retry",
                RuntimeWarning,
                stacklevel=2,
            )
    return images.select(
        *cols,
        F.lit("").alias("__rfile"),
        F.monotonically_increasing_id().alias("__rid"),
    )


def match_captions(
    images: DataFrame,
    entries: DataFrame,
    id_col: str = "image_id",
    caption_col: str = "caption",
) -> DataFrame:
    """The hot path: caption plays the probe full-name role
    (BASELINE.json input_hint), no DOB / optional fields — the cascade
    reduces to J1+J2 with the no-DOB short-circuit (J5).

    Returns ONLY matched rows ``(id, list, name)`` — at 10^12 rows the
    pass set is never materialized; per-partition pass counts come from
    the runner. Only candidate-bearing rows (captions sharing ≥1 token
    with the dimension) reach the shuffle.

    Contract (pinned, shared with :func:`..matcher_arrow.
    match_captions_arrow`): ONE verdict row per matched PHYSICAL input
    row — the reference verdicts per probe row (Sanctions.pm:217-319),
    so duplicate image_ids yield duplicate verdict rows (each physical
    duplicate is its own violation;
    tests/test_matcher.py::test_caption_match_native_and_arrow_agree
    pins both paths on a dup-id fixture). Dedup within one physical
    row's candidates uses an internal per-row key, never image_id —
    derived from file provenance (retry-deterministic) for file-backed
    inputs; see :func:`_with_physical_row_key` for the in-memory
    fallback and its retry caveat.

    Physical shape (chosen so the probe table is scanned ONCE, every
    aggregate hash-aggregates, and the full-dimension fan-out stays
    bounded — the round-4 fulldim cost was candidate fan-out through
    high-DF tokens feeding a SortAggregate):

    1. Prefix filter on BOTH sides (ppjoin-style, one global
       (df_eff, token) order shared via the index's df_arr): the name
       side drops its max-order token from the kept postings
       (:class:`NameIndex`), and each multi-token probe
       drops ITS max-order token (``__pdrop``) from candidate
       generation. For an overlap-≥2 match the smallest common token
       under the global order provably survives in both prefixes (it
       can equal neither side's max, since a second, larger common
       token exists), so every such pair is still retrieved.
    2. ONE broadcast hash join over a tagged explode:
       tag 'p' = prefix occurrences (all occurrences ≠ ``__pdrop``) →
       join kept postings; tag 'x' = ``__pdrop`` once → join
       single-token-name postings only (those match on any shared
       token); tag 'r' = rescue tokens (single-token probes: their
       token; tokens duplicated ≥2×) → join ALL postings (a
       duplicated shared token alone gives n_hits ≥ 2; a single-token
       probe hit has min_size == 1 — both match unconditionally).
       Joined rows carry integers + the probe token array + two token
       strings.
    3. ``n_hits`` via counting: grouped by (row-key, ``__rank``),
       ``count(*)`` over 'p' rows is the probe-multiplicity hit count
       of prefix tokens on the name's kept tokens. The two excluded
       slices are recovered per joined row in O(|probe|): hits on the
       name's dropped token ``size(filter(ptokens, = __dropped))``,
       and hits of the probe's dropped token on the name
       ``array_contains(__ntokens, __pdrop)``-gated (skipped when
       ``__pdrop == __dropped`` — those occurrences are already in the
       first term). prefix×kept, =__dropped, and (=__pdrop ∩ name,
       ≠__dropped) partition the hit multiset, so for groups with no
       forcing row ``cnt + __dhits + __pdhits`` is EXACTLY the
       reference's n_hits (Sanctions.pm:421-437) and the predicate
       ``force | psize==1 | nsize==1 | n_hits ≥ 2`` is equivalent to
       (n_hits > 1) | (n_hits == 1 & min(|p|,|n|) == 1). 'x'/'r' rows
       pollute cnt only in groups they force to true.
    4. Verdict reduction: ``min(__rank)`` (HashAggregate — the round-4
       ``min(struct)`` planned SortAggregate), then a broadcast join
       back to the rank→(source, name) map.

    Group keys hash the file path (``xxhash64``) instead of carrying
    the string — the round-4 string key is what made the sort rows
    wide. The (hash(file), row_index) pair colliding across files is a
    ~2^-64 event per file pair, documented as accepted.
    """
    snapshot = DimSnapshot.of(entries)
    names = snapshot.index()
    # the index as Arrow-built local relations, not pickled rows: the
    # pickled-row path serialized row by row (74k index rows: 2.3-9.7 s
    # PER CALL in the round-6 graded runs); the snapshot holds the frames
    index, rank_map = map(F.broadcast, snapshot.join_frames())

    # per-PHYSICAL-row key: grouping on image_id would silently merge
    # duplicate-id rows into one verdict (the round-2 native/arrow
    # divergence). File-backed inputs get a retry-deterministic
    # (file_path, row_index) key; see _with_physical_row_key.
    ptokens = F.col("__ptokens")
    # probe-side prefix drop: argmax over distinct tokens of
    # (df_eff, token). df_eff rides as ONE array<int> literal indexed
    # by crc32(token) % _DF_SLOTS — element_at on a folded array
    # literal is O(1) per lookup, where the first cut (a str_to_map
    # literal) paid GetMapValue's LINEAR scan over ~14k entries per
    # token per row: measured 14-16 s at 600 k rows × fulldim blob vs
    # 0.78 s for a lookup-free argmax. Slot collisions only perturb
    # WHICH token each side drops, never correctness: the index side
    # (driver Python, NameIndex) uses the same slotted
    # df_eff, so both sides share one exact global (df_eff, token)
    # order. Unknown tokens read whatever their slot holds — harmless,
    # the proof needs only a shared total order.
    #
    # Construction cost matters as much as evaluation cost here:
    # ``F.lit(list)`` expands to 32,768 py4j ``lit`` round-trips plus a
    # CreateArray the analyzer walks child-by-child — measured ~23 s of
    # DRIVER time per match_captions call (the plan is built fresh per
    # call), which dwarfed the ~5 s execution. One string literal split
    # and cast is a single py4j transfer, and Catalyst's ConstantFolding
    # collapses split(lit)+cast to the identical folded array literal
    # before codegen, so the per-row lookup stays O(1).
    df_arr_lit = F.split(
        F.lit(",".join(map(str, names.df_arr))), ","
    ).cast("array<int>")
    pdrop = F.array_max(
        F.transform(
            F.array_distinct(ptokens),
            lambda t: F.struct(
                F.element_at(
                    df_arr_lit,
                    (
                        F.pmod(
                            F.crc32(t.cast("binary")), F.lit(_DF_SLOTS)
                        )
                        + 1
                    ).cast("int"),
                ).alias("df"),
                t.alias("t"),
            ),
        )
    ).getField("t")
    prepared = (
        _with_physical_row_key(images, id_col, caption_col)
        .withColumn("__ptokens", clean_name_tokens(F.col(caption_col)))
        .filter(F.size("__ptokens") > 0)
        .withColumn("__rkey", F.xxhash64("__rfile"))
        .withColumn("__psize", F.size("__ptokens"))
        .withColumn("__pdrop", pdrop)
    )

    # rescue tokens ('r'): the O(|p|²) multiplicity scan runs only on
    # the rare rows that actually contain duplicates (cheap
    # distinct-size gate); single-token probes rescue with their token
    rescue_tokens = F.when(
        F.col("__psize") == 1, F.array_distinct(ptokens)
    ).otherwise(
        F.when(
            F.size(F.array_distinct(ptokens)) < F.col("__psize"),
            F.array_distinct(
                F.filter(
                    ptokens,
                    lambda t: F.size(F.filter(ptokens, lambda x: x == t)) >= 2,
                )
            ),
        ).otherwise(F.array().cast("array<string>"))
    )

    def _tag(tokens: Column, tag: str) -> Column:
        return F.transform(
            tokens,
            lambda t: F.struct(t.alias("__token"), F.lit(tag).alias("__tag")),
        )

    tagged = F.concat(
        _tag(F.filter(ptokens, lambda t: t != F.col("__pdrop")), "p"),
        _tag(
            F.when(F.col("__psize") >= 2, F.array(F.col("__pdrop"))).otherwise(
                F.array().cast("array<string>")
            ),
            "x",
        ),
        _tag(rescue_tokens, "r"),
    )
    exploded = prepared.select(
        "__rkey", "__rid", "__pid", "__psize", "__ptokens", "__pdrop",
        F.explode(tagged).alias("__t"),
    ).select(
        "__rkey", "__rid", "__pid", "__psize", "__ptokens", "__pdrop",
        F.col("__t.__token").alias("__token"),
        F.col("__t.__tag").alias("__tag"),
    )
    tag = F.col("__tag")
    joined = exploded.join(
        index,
        (F.col("__token") == F.col("__itoken"))
        & (
            ((tag == "p") & F.col("__keep"))
            | ((tag == "x") & (F.col("__nsize") == 1))
            | (tag == "r")
        ),
    )
    dropped_hits = F.when(
        F.col("__dropped").isNotNull(),
        F.size(F.filter(ptokens, lambda t: t == F.col("__dropped"))),
    ).otherwise(F.lit(0))
    pdrop_hits = F.when(
        ~F.col("__pdrop").eqNullSafe(F.col("__dropped"))
        & F.array_contains(F.col("__ntokens"), F.col("__pdrop")),
        F.size(F.filter(ptokens, lambda t: t == F.col("__pdrop"))),
    ).otherwise(F.lit(0))
    best = (
        joined.select(
            "__rkey", "__rid", "__pid", "__psize", "__rank", "__nsize",
            dropped_hits.alias("__dhits"),
            pdrop_hits.alias("__pdhits"),
            (tag != "p").cast("int").alias("__force"),
        )
        .groupBy("__rkey", "__rid", "__pid", "__rank")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.max("__psize").alias("__psize"),
            F.max("__nsize").alias("__nsize"),
            F.max("__dhits").alias("__dhits"),
            F.max("__pdhits").alias("__pdhits"),
            F.max("__force").alias("__force"),
        )
        .filter(
            (F.col("__force") == 1)
            | (F.col("__psize") == 1)
            | (F.col("__nsize") == 1)
            | (F.col("__cnt") + F.col("__dhits") + F.col("__pdhits") >= 2)
        )
        .groupBy("__rkey", "__rid", "__pid")
        .agg(F.min("__rank").alias("__rank"))
    )
    return best.join(rank_map, "__rank").select(
        F.col("__pid").alias(id_col),
        F.col("source").alias("list"),
        F.col("name").alias("matched_name"),
    )

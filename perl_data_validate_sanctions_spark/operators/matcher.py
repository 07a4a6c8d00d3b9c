"""The tiered match semantics (reference §2.4 J1-J7) as one Catalyst
query shape — no UDFs anywhere on this path.

Reference lifecycle being reproduced
(/root/reference/lib/Data/Validate/Sanctions.pm:217-319):

1. J1  candidate retrieval: probe name tokens looked up in an inverted
   token index, union of hits (Sanctions.pm:253-258). Here: explode the
   probe token array and broadcast-hash-join the token index — the
   inverted index IS the join; Catalyst plans a BroadcastHashJoin
   because the dimension is small.
2. J2  fuzzy token-overlap (``_name_matches``, Sanctions.pm:421-437):
   count probe tokens present in the entry name's tokens **with probe
   multiplicity** (a duplicated probe token counts twice — reproduced
   via ``size(filter(ptokens, t -> array_contains(ntokens, t)))``);
   match iff count > 1, or count == 1 and min(|probe|,|entry|) == 1.
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

Determinism refinement (documented, SURVEY §2.4): the reference scans
entries in Perl hash order and returns the first hit; we evaluate all
candidates and keep the minimum of (tier, source, name, entry_id) —
direct-DOB tiers always beat the dob_text fallback tier, matching the
reference's two-pass structure.

Scale shape (``match_probes``): the only shuffle is the one
aggregation per probe row, over the probe rows exploded by token and
left-joined to the broadcast index — no join back to the probe table.
``match_captions`` shuffles only candidate-bearing rows; ``bytes`` is
never selected on either path (column pruning keeps it out of the
scan).
"""

from __future__ import annotations

import hashlib
import pickle
import threading
import zlib

from pyspark import Broadcast
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from ..functions.country import country_code
from ..functions.dates import date_to_epoch, epoch_year
from ..functions.normalize import (
    clean_full_name,
    clean_name_tokens,
    process_name,
    ucfirst,
)
from ..schema import OPTIONAL_MATCH_FIELDS
from ..session import local_frame

# built lazily — Column construction needs an active session
def _empty(t: str) -> Column:
    return F.array().cast(f"array<{t}>")


_DIM_PREFIX = "__e_"

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


def build_token_index(name_dim: DataFrame) -> DataFrame:
    """Inverted token index (Sanctions.pm:346-348): token → candidate row.
    All candidate attributes ride along (prefixed) so the probe join is
    a single broadcast hash join."""
    prefixed = name_dim.select(
        [F.col(c).alias(_DIM_PREFIX + c) for c in name_dim.columns]
    )
    return prefixed.select(
        F.explode_outer(F.array_distinct(F.col(_DIM_PREFIX + "name_tokens"))).alias(
            "__token"
        ),
        *[_DIM_PREFIX + c for c in name_dim.columns],
    ).filter(F.col("__token").isNotNull())


def _e(field: str) -> Column:
    return F.col(_DIM_PREFIX + field)


def _candidate_predicates(
    ptokens: Column,
    pfull: Column,
    dob_provided: Column,
    pepoch: Column,
    pyear: Column,
    probe_fields: dict[str, Column],
) -> dict[str, Column]:
    """All per-candidate predicate columns, given probe-side expressions."""
    ntokens = _e("name_tokens")

    # J2 — multiplicity-preserving hit count
    n_hits = F.size(F.filter(ptokens, lambda t: F.array_contains(ntokens, t)))
    min_size = F.least(F.size(ptokens), F.size(ntokens))
    name_ok = (n_hits > 1) | ((n_hits == 1) & (min_size == 1))

    # J3 — conjunctive optional fields
    fields_ok = F.lit(True)
    matched_fields: dict[str, Column] = {}
    for f in OPTIONAL_MATCH_FIELDS:
        p_f = probe_fields[f]
        e_f = _e(f)
        relevant = (
            p_f.isNotNull() & (p_f != "") & e_f.isNotNull() & (F.size(e_f) > 0)
        )
        fields_ok = fields_ok & (~relevant | F.array_contains(e_f, p_f))
        matched_fields[f] = F.when(relevant, p_f)

    # J4/J5 — DOB tiers (epoch checked before year, Sanctions.pm:278)
    e_epochs = F.coalesce(_e("dob_epoch"), _empty("long"))
    e_years = F.coalesce(_e("dob_year"), _empty("int"))
    e_texts = F.coalesce(_e("dob_text"), _empty("string"))
    epoch_hit = (
        dob_provided & pepoch.isNotNull() & F.array_contains(e_epochs, pepoch)
    )
    year_hit = (
        dob_provided
        & ~epoch_hit
        & pyear.isNotNull()
        & F.array_contains(e_years, pyear)
    )
    direct = ~dob_provided | epoch_hit | year_hit

    # J6 — dob_text / no-DOB-entry fallback: exact cleaned-name equality
    has_text = F.size(e_texts) > 0
    no_ey = (F.size(e_epochs) == 0) & (F.size(e_years) == 0)
    deferred = (
        dob_provided
        & ~epoch_hit
        & ~year_hit
        & (has_text | no_ey)
        & (pfull == _e("name_clean_full"))
    )

    comment = F.when(
        deferred & has_text,
        F.concat(F.lit("dob raw text: "), F.array_join(e_texts, ", ")),
    )
    matched_args = F.struct(
        _e("name").alias("name"),
        *[matched_fields[f].alias(f) for f in OPTIONAL_MATCH_FIELDS],
        F.when(epoch_hit, pepoch).alias("dob_epoch"),
        F.when(year_hit, pyear).alias("dob_year"),
    )
    return dict(
        candidate_ok=name_ok & fields_ok & (direct | deferred),
        tier=F.when(direct, F.lit(1)).otherwise(F.lit(2)),
        comment=comment,
        matched_args=matched_args,
    )


def _miss_verdict() -> Column:
    from ..schema import MATCHED_ARGS_SCHEMA

    return F.struct(
        F.lit(0).alias("matched"),
        F.lit(None).cast("string").alias("list"),
        F.lit(None).cast(MATCHED_ARGS_SCHEMA).alias("matched_args"),
        F.lit(None).cast("string").alias("comment"),
    )


class ProbeIndex:
    """The screening index of one dimension snapshot, prepared once.

    Holds the broadcast-hinted token index and every Column
    :func:`match_probes` needs — the probe-side prep (tokens, cleaned
    full name, DOB epoch/year, country codes), the candidate predicates
    and the ranked verdict struct — so a call only wires a plan around
    them. The reference likewise builds its ``_index`` once per
    ``_load_data`` (Sanctions.pm:321-352, 360-382), not per query.
    ``table`` is the unhinted token index, for the owner to release."""

    def __init__(self, token_index: DataFrame):
        self.table = token_index
        self.index = F.broadcast(token_index)
        full_name = process_name(
            F.col("first_name"), F.coalesce(F.col("last_name"), F.lit(""))
        )
        pepoch = date_to_epoch(F.col("date_of_birth"))
        self.prep = [
            clean_name_tokens(full_name).alias("__ptokens"),
            clean_full_name(full_name).alias("__pfull"),
            F.col("date_of_birth").isNotNull().alias("__dob_provided"),
            pepoch.alias("__pepoch"),
            epoch_year(pepoch).alias("__pyear"),
        ]
        # probe-side country normalization (Sanctions.pm:235-240):
        # unknown countries become '' which the field check then ignores
        # (falsy in Perl) — NOT a mismatch.
        for f in OPTIONAL_MATCH_FIELDS:
            p_f = F.col(f)
            if f in ("place_of_birth", "residence", "nationality", "citizen"):
                p_f = F.when(p_f.isNotNull() & (p_f != ""), country_code(p_f))
            self.prep.append(p_f.alias("__p_" + f))

        preds = _candidate_predicates(
            F.col("__ptokens"),
            F.col("__pfull"),
            F.col("__dob_provided"),
            F.col("__pepoch"),
            F.col("__pyear"),
            {f: F.col("__p_" + f) for f in OPTIONAL_MATCH_FIELDS},
        )
        verdict = F.struct(
            F.lit(1).alias("matched"),
            _e("source").alias("list"),
            preds["matched_args"].alias("matched_args"),
            preds["comment"].alias("comment"),
        )
        ranked = F.struct(
            preds["tier"].alias("tier"),
            _e("source").alias("source"),
            _e("name").alias("name"),
            _e("entry_id").alias("entry_id"),
            verdict.alias("verdict"),
        )
        self.best = F.min(F.when(preds["candidate_ok"], ranked)).alias("__best")
        self.verdict = F.coalesce(F.col("__best.verdict"), _miss_verdict()).alias(
            "verdict"
        )

    @classmethod
    def of(cls, entries: DataFrame) -> ProbeIndex:
        return cls(build_token_index(build_name_dim(entries)))


class DimSnapshot:
    """What the caption screen derives from one entries frame, each part
    built once, on first use: the entry count (the ``"auto"`` rule), the
    collected dimension rows, their broadcast and content key (Arrow)
    and :func:`_caption_index` (native) — as the reference builds its
    ``_index`` once per ``_load_data`` (Sanctions.pm:321-352). One slot,
    keyed on the frame's IDENTITY: :meth:`of` with another frame
    releases the held snapshot and destroys its broadcast, so a plan
    built on it fails when it runs."""

    _held: DimSnapshot | None = None
    _lock = threading.RLock()

    def __init__(self, entries: DataFrame):
        self.entries = entries
        self._parts: dict[str, object] | None = {}

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
            if self._parts is None:
                raise RuntimeError("DimSnapshot released: another entries frame replaced it")
            if name not in self._parts:
                self._parts[name] = build()
            return self._parts[name]

    def count(self) -> int:
        return self._part("count", self.entries.count)

    def rows(self) -> list[dict]:
        return self._part("rows", lambda: [
            r.asDict() for r in build_name_dim(self.entries)
            .select("entry_id", "source", "name", "name_tokens").collect()])

    def broadcast(self) -> tuple[Broadcast, str]:
        """The rows as one broadcast, and their sha1 (the worker index key)."""
        return self._part("broadcast", lambda: (
            self.entries.sparkSession.sparkContext.broadcast(self.rows()),
            hashlib.sha1(pickle.dumps(self.rows())).hexdigest()))

    def caption_index(self) -> tuple[list[tuple], list[tuple], list[int]]:
        return self._part("caption_index", lambda: _caption_index(self.rows()))

    def release(self) -> None:
        with self._lock:
            parts, self._parts = self._parts or {}, None
        bc = parts.get("broadcast")
        # a stopped context already dropped its broadcasts and temp dir
        if bc is not None and bc[0]._sc._jsc is not None:
            bc[0].destroy()


def match_probes(
    probes: DataFrame,
    entries: DataFrame | ProbeIndex,
) -> DataFrame:
    """Full ``get_sanctioned_info`` over a probe table: returns the probe
    table plus a ``verdict`` struct column (VERDICT_SCHEMA). ``entries``
    is the entries DataFrame or a :class:`ProbeIndex` prepared from it.

    One verdict per probe ROW, as the reference verdicts per call: each
    row carries its own key ``__rk`` and the whole row (``__row``)
    through explode → left broadcast join → one aggregation on
    ``__rk``, so rows sharing a ``probe_id`` never take each other's
    verdict and a row with no candidate (or no name token) comes out
    once, as a miss.
    CAVEAT (same as :func:`_with_physical_row_key`'s fallback):
    ``__rk`` is ``monotonically_increasing_id``, which is not stable
    if a probe-side map task is recomputed after some reducers fetched
    its output, which can duplicate or drop verdict rows of that task."""
    idx = entries if isinstance(entries, ProbeIndex) else ProbeIndex.of(entries)
    prepared = probes.select(
        F.monotonically_increasing_id().alias("__rk"),
        F.struct(F.col("*")).alias("__row"),
        *idx.prep,
    )
    best = (
        prepared.withColumn("__token", F.explode_outer("__ptokens"))
        .join(idx.index, "__token", "left")
        .groupBy("__rk")
        .agg(F.first("__row").alias("__row"), idx.best)
    )
    return best.select("__row.*", idx.verdict)


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
    ephemeral inputs only. :func:`match_probes` keys its probe rows the
    same way (``__rk``) and carries the same caveat.
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


def _caption_index(rows: list[dict]):
    """Driver-side build of the caption-path token index from the
    collected name DIMENSION rows (:meth:`DimSnapshot.rows` —
    broadcast-scale by definition; the reference holds exactly this in
    process memory as its ``_index`` multimap, Sanctions.pm:346-348):
    rank them, and apply the prefix-filter document-frequency cap.

    Ranking: rows sorted by (source, name, entry_id) get a dense int
    ``__rank`` whose numeric order IS the lexicographic order the old
    ``min(struct(source, name, entry_id))`` reduction used (Python str
    comparison = code-point order = Spark's UTF8-binary string order) —
    so the verdict reduction becomes ``min(__rank)``, a pure-int
    aggregate that plans as HashAggregate (struct/string aggregation
    buffers force SortAggregate).

    DF cap (the full-dimension fan-out fix): for every name with ≥2
    distinct tokens, the single highest-document-frequency token (ties
    by token string) is marked ``keep = false`` — the prefix-filter
    bound for an overlap-≥2 predicate: a probe sharing ≥2 *distinct*
    tokens with a name still retrieves it through a kept token. High-DF
    tokens ("AL", "MOHAMMED", …) are the dropped token of most names
    containing them, so the worst posting lists shrink by orders of
    magnitude. The two pair classes with possibly no kept hit —
    single-token probes (any hit matches) and a probe token duplicated
    ≥2× equal to the dropped token (n_hits ≥ 2 from it alone) — are
    rescued by also joining those probe tokens against the dropped
    rows; both classes match unconditionally (see match_captions).

    Building this in driver Python instead of a Spark plan trades ~8
    tiny dimension jobs (DF groupBy, two windows, three broadcasts) for
    the snapshot's one collect — measurable fixed latency on the 600 k
    hot path, and byte-identical index content. Returns (index_rows,
    meta_rows, df_arr): index_rows = (token, rank, nsize, keep, dropped_token,
    name_token_set) with nsize the RAW token count (min-size rule
    counts duplicates, Sanctions.pm:430), meta_rows = (rank, source,
    name), and df_arr a ``_DF_SLOTS``-long int list holding
    ``df_eff(t) = df_arr[crc32(t) % _DF_SLOTS]`` (max over slot
    collisions) — the probe side needs the SAME global
    (df_eff, token) order to apply its own prefix drop, and an O(1)
    ``element_at`` on the array literal is what makes the probe-side
    lookup affordable (see match_captions). The per-name drop below
    uses df_eff, not raw DF, for exactly that shared-order reason; a
    collision can only make a name drop a slightly-less-common token.
    """
    rows = [r for r in rows if r["name_tokens"]]
    rows.sort(key=lambda r: (r["source"], r["name"], r["entry_id"]))
    tok_sets = [sorted(set(r["name_tokens"])) for r in rows]
    df_counts: dict[str, int] = {}
    for ts in tok_sets:
        for t in ts:
            df_counts[t] = df_counts.get(t, 0) + 1
    df_arr = [0] * _DF_SLOTS
    for t, n in df_counts.items():
        slot = zlib.crc32(t.encode()) % _DF_SLOTS
        if n > df_arr[slot]:
            df_arr[slot] = n

    def df_eff(t: str) -> int:
        return df_arr[zlib.crc32(t.encode()) % _DF_SLOTS]

    index_rows: list[tuple] = []
    meta_rows: list[tuple] = []
    for rank, (r, ts) in enumerate(zip(rows, tok_sets), start=1):
        meta_rows.append((rank, r["source"], r["name"]))
        dropped = (
            max(ts, key=lambda t: (df_eff(t), t)) if len(ts) >= 2 else None
        )
        nsize = len(r["name_tokens"])
        for t in ts:
            index_rows.append((t, rank, nsize, t != dropped, dropped, ts))
    return index_rows, meta_rows, df_arr


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
       (:func:`_caption_index`), and each multi-token probe
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
    spark = images.sparkSession
    index_rows, meta_rows, df_arr = DimSnapshot.of(entries).caption_index()
    # ship the driver-built index as Arrow columns, not pickled rows:
    # the pickled-row path serialized row by row and was the fulldim
    # outlier source (74k index rows: 2.3-9.7 s PER CALL in the round-6
    # graded runs' unattributed spread; columnar buffers take ~0.3 s)
    index = F.broadcast(
        local_frame(
            spark,
            index_rows,
            "__itoken string, __rank int, __nsize int, __keep boolean, "
            "__dropped string, __ntokens array<string>",
        )
    )
    rank_map = F.broadcast(
        local_frame(spark, meta_rows, "__rank int, source string, name string")
    )

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
    # (driver Python, _caption_index) uses the same slotted
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
        F.lit(",".join(map(str, df_arr))), ","
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

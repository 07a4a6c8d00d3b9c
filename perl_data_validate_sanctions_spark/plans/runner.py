"""The check registry + validation runner.

Generalizes the reference's top-level flow (`update_data` →
per-source fetch/parse/verify with per-source error isolation and
pass/fail bookkeeping, /root/reference/lib/Data/Validate/Sanctions.pm:
52-90 and Fetcher.pm:814-863) to: run every registered constraint check
over the images table, union their violation rows, and roll them up
into per-partition pass/fail verdicts (the per-source {updated,
verified, error} analog at partition granularity).

Partition granularity is the *logical* partition
``pmod(xxhash64(image_id), N_LOGICAL_PARTS)`` — stable under any
physical layout or cluster size (verdicts must not change when the
executor count does). On a real Iceberg deployment this maps to the
table's partition spec."""

from __future__ import annotations

import os
from functools import reduce
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..checks.drift import drift_from_hist, drift_violations
from ..checks.integrity import integrity_violations
from ..checks.referential import referential_violations
from ..checks.schema_check import schema_violations
from ..checks.stats import column_stats
from ..checks.unique import uniqueness_violations
from ..operators.matcher import DimSnapshot, match_captions
from ..operators.matcher_arrow import match_captions_arrow
from ..schema import VIOLATION_SCHEMA
from ..session import local_frame, release_checkpoint
from ..sources.synth import expected_caption, logical_partition

# opt-in (not in DEFAULT_CHECKS, so the sink oracle's expected rollup
# stays stable): PSI on the format mix — the band-based alternative to
# drift_fmt's chi-square, fed from the SAME cube, so enabling it adds
# no table scan. run_validation(checks=DEFAULT_CHECKS + ("drift_psi_fmt",))
PSI_CHECK = "drift_psi_fmt"

# the drift checks: a (column, kind) spec each over the cube's histogram
DRIFT_CHECKS = {"drift_w": ("w", "ks"), "drift_h": ("h", "ks"),
                "drift_fmt": ("fmt", "chi2"), PSI_CHECK: ("fmt", "psi")}

# captions look like "... in <Place>"; the trailing token is the
# caption-side foreign key checked against the places dimension
CAPTION_KEY_RE = r" in (\p{L}+)$"

# "auto" match-strategy budget: max sanction-dimension ENTRY rows for
# which the Arrow path (the snapshot's matcher.NameIndex, broadcast to
# every Python worker) is used. Sized from memory, not speed: on the
# 15,664-entry synthetic snapshot (15,666 name rows) the pickled index
# is 0.82 MB (~52 B per name row) and ~4.8 MB once unpickled (~300 B),
# so ~500k entries × ~3 aliases is a ~80 MB broadcast and ~450 MB per
# Python worker — the outer edge of a sane per-worker broadcast. The
# reference ships 15,664 entries (share/sanctions.yml), 30× inside the
# budget; its own design makes the same bet (the whole dataset is an
# in-process hash, Sanctions.pm:253-315 — there is no out-of-core path
# to mirror).
AUTO_ARROW_DIM_MAX_ENTRIES = 500_000


def resolve_match_strategy(n_dim_entries: int) -> str:
    """The SCALING.md crossover rule (round-5 measured), as code.

    Arrow won EVERY measured cell of the (rows × dimension) grid —
    600 k and 2.4 M rows, 212-alias and 15,664-entry dimensions,
    standalone and inside the concurrent suite — and the native path's
    candidate-aggregation state grows superlinearly with row count at
    full dimension (65-94 s vs Arrow's 9-12.5 s at 2.4 M), so rows
    never flip the choice and the rule takes no row count. Dimension
    size does: beyond the budget the rule picks the native path. That
    path also collects the whole dimension to the driver, once per
    entries frame (``DimSnapshot``), and joins the token index built
    there under an ``F.broadcast`` hint, so the index is held once per
    executor JVM instead of once per Python worker."""
    if n_dim_entries > AUTO_ARROW_DIM_MAX_ENTRIES:
        return "native"
    return "arrow"


def caption_key_expr() -> Column:
    k = F.regexp_extract(F.col("caption"), CAPTION_KEY_RE, 1)
    return F.when(k != "", k)


@dataclass
class ValidationReport:
    violations: DataFrame
    partition_verdicts: DataFrame
    check_summary: DataFrame
    stats: DataFrame | None = None
    drift_results: dict[str, DataFrame] = field(default_factory=dict)
    # every localCheckpoint-backed frame the run made: the cube, each
    # check's piece, the stats and the violations
    checkpoints: list[DataFrame] = field(default_factory=list)

    def release(self) -> None:
        """Free the blocks of every frame the run checkpointed. The
        report's frames cannot be read afterwards."""
        for df in self.checkpoints:
            release_checkpoint(df)


@dataclass
class _Run:
    """What a check's build reads: the run's inputs and the shared cube."""

    images: DataFrame
    part: Column
    entries: DataFrame | None
    ref_keys: DataFrame | None
    match_strategy: str
    pixel_sample: int | None


def _sanctioned(r: _Run) -> DataFrame | None:
    if r.entries is None:
        return None
    strategy = r.match_strategy
    if strategy == "auto":
        # the snapshot's count: one job per entries frame, not per run
        strategy = resolve_match_strategy(DimSnapshot.of(r.entries).count())
    matcher = match_captions_arrow if strategy == "arrow" else match_captions
    # a sanctioned caption is a violation row (the reference's {matched: 1}
    # verdict as a constraint failure); the logical partition derives from
    # image_id alone, so no join back to the table is needed
    return matcher(r.images, r.entries).select(
        F.lit("sanctioned").alias("check"),
        r.part.cast("int").alias("partition_id"),
        F.col("image_id").cast("string"),
        F.lit("caption").alias("column"),
        F.concat(F.lit("matched "), F.col("matched_name"),
                 F.lit(" on "), F.col("list")).alias("detail"),
    ).to(VIOLATION_SCHEMA)


# The check registry, in build order: build(run) returns the check's
# violation rows, or None when an input it needs was not given. Builds
# look check functions up as module globals at call time, so a patched
# or span-wrapped runner.<fn> is the one that runs. The DRIFT_CHECKS
# come after these: only they need the materialized cube, so every
# other plan is built while the cube job runs.
CHECKS: tuple[tuple[str, Callable[[_Run], DataFrame | None]], ...] = (
    ("schema", lambda r: schema_violations(r.images, r.part)),
    ("unique_image_id", lambda r: uniqueness_violations(
        r.images, "image_id", partition_expr=r.part)),
    ("unique_phash", lambda r: uniqueness_violations(
        r.images, "phash", partition_expr=r.part)),
    ("referential", lambda r: None if r.ref_keys is None else referential_violations(
        r.images, caption_key_expr(), r.ref_keys, partition_expr=r.part)),
    ("integrity", lambda r: integrity_violations(
        r.images, r.part, expected_caption("image_id"), pixel_sample=r.pixel_sample)),
    ("sanctioned", _sanctioned),
)
DEFAULT_CHECKS = (*(name for name, _ in CHECKS),
                  *(name for name in DRIFT_CHECKS if name != PSI_CHECK))


def run_validation(
    images: DataFrame,
    entries: DataFrame | None = None,
    ref_keys: DataFrame | None = None,
    checks: tuple[str, ...] = DEFAULT_CHECKS,
    partition_expr: Column | None = None,
    match_strategy: str = "auto",
    with_stats: bool = True,
    pixel_sample: int | None = None,
    sink_dir: str | None = None,
) -> ValidationReport:
    """Run the registered checks; roll violations into per-partition verdicts.

    ``sink_dir``: when set, the violation rows, the two rollups and —
    when ``with_stats`` — the per-column metrics are WRITTEN to
    ``{sink_dir}/{violations,partition_verdicts,check_summary,stats}
    .parquet`` and the report's DataFrames read back from those tables
    — the production shape at 10^12 rows, where artifacts land in
    tables, not the driver. Default (None) keeps the collect-friendly
    localCheckpoint-backed report.

    ``match_strategy``: ``"auto"`` (default) applies the measured
    SCALING.md crossover rule, :func:`resolve_match_strategy`: the
    Arrow screen while the dimension fits the worker-local index
    budget, the native relational path beyond it (which also collects
    the dimension to the driver once per entries frame, then
    broadcast-joins its token index).
    Explicit ``"arrow"`` / ``"native"`` override the rule — e.g. native
    when Python worker slots are the scarce resource; the two paths are
    output-identical by pinned contract.

    The cube, each check, the stats and each sink table materialize as
    their OWN Spark job from one driver thread pool, each in a FAIR
    scheduler pool named after it. A single union-of-9-branches job runs
    its AQE query stages largely sequentially (suite wall = SUM of
    branch latencies); concurrent jobs bring it down to ~max(branch)."""
    part = partition_expr if partition_expr is not None else logical_partition("image_id")
    spark = images.sparkSession
    ex = ThreadPoolExecutor(max_workers=len(CHECKS) + 2)  # + cube + stats

    def _materialize(name: str, action: Callable[[], object]) -> Future:
        def in_pool():
            # FAIR mode shares slots BETWEEN pools, chosen by this thread-local
            # property; in the one FIFO "default" pool the light checks would
            # queue behind the long mapInPandas stages. Pools are auto-created.
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", name)
            return action()

        return ex.submit(in_pool)

    checkpoints: list[DataFrame] = []

    def _checkpoint(name: str, df: DataFrame) -> Future:
        def action() -> DataFrame:
            cp = df.localCheckpoint(eager=True)
            checkpoints.append(cp)
            return cp

        return _materialize(name, action)

    def _sink(name: str, df: DataFrame) -> Future:
        path = os.path.join(sink_dir, f"{name}.parquet")
        return _materialize(name, lambda: df.write.mode("overwrite").parquet(path))

    try:
        # ONE scan builds the tiny (partition, w, h, fmt) data cube; the
        # drift histograms AND the per-partition row counts derive from
        # it. localCheckpoint, not .cache(): a cache entry would outlive
        # the report in the session CacheManager (repeated calls leak),
        # checkpoint blocks die with the report's plans. Submitted first
        # so its scan overlaps the driver-side plan construction below.
        cube = _checkpoint("cube", images.groupBy(
            part.cast("int").alias("partition_id"), "w", "h", "fmt"
        ).agg(F.count(F.lit(1)).alias("n")))
        run = _Run(images, part, entries, ref_keys, match_strategy, pixel_sample)

        # each check's job is submitted as soon as its plan is built
        jobs: list[Future] = []
        for name, build in CHECKS:
            df = build(run) if name in checks else None
            if df is not None:
                jobs.append(_checkpoint(name, df))
        # every selected drift check is ONE Python pass over the cube,
        # checkpointed as one piece that feeds drift_results and violations
        specs = [spec for name, spec in DRIFT_CHECKS.items() if name in checks]
        drift = _checkpoint("drift(fused)", drift_from_hist(cube.result(), specs)) if specs else None
        # the one-pass column stats are an independent scan the caller will
        # collect anyway: its job overlaps the checks instead of following
        stats_job = _checkpoint("stats", column_stats(images)) if with_stats else None
        pieces = [j.result() for j in jobs]
        drift_results: dict[str, DataFrame] = {}
        if drift is not None:
            results = drift.result()
            pieces.append(drift_violations(results))
            drift_results = {col if kind != "psi" else f"{col}_psi": results.filter(
                (F.col("column") == col) & (F.col("kind") == kind)) for col, kind in specs}
        stats_df = stats_job.result() if stats_job is not None else None

        if pieces:
            # the union of ~10 checkpointed pieces carries the SUM of their
            # partition counts (~300 at 32 cores): every consumer would
            # launch that many near-empty tasks and the sink would land that
            # many tiny files. A narrow coalesce bounds both without a
            # shuffle (violation rows are few; order is irrelevant). Every
            # piece is materialized, so it never narrows a check's own scan.
            violations = reduce(DataFrame.unionByName, pieces).coalesce(
                spark.sparkContext.defaultParallelism)
        else:
            violations = local_frame(spark, [], VIOLATION_SCHEMA)
        if sink_dir is not None:
            # production sink: violations land in a parquet table and every
            # downstream rollup scans the table — no driver-held blocks
            _sink("violations", violations).result()
            violations = spark.read.schema(VIOLATION_SCHEMA).parquet(
                os.path.join(sink_dir, "violations.parquet"))
        else:
            # lazy localCheckpoint, reused by the rollups and caller reads:
            # unlike .cache() its blocks die with the report, so a consumer
            # that never calls release() (the CLI, a notebook loop) cannot
            # leak executor storage across run_validation calls
            violations = violations.localCheckpoint(eager=False)
            checkpoints.append(violations)

        rows_per_part = cube.result().groupBy("partition_id").agg(
            F.sum("n").alias("n_rows"))
        fails_per_part = violations.groupBy("partition_id").agg(
            F.count(F.lit(1)).alias("n_violations"),
            F.count_distinct(
                F.when(F.col("image_id").isNotNull(), F.col("image_id"))
            ).alias("n_fail_rows"),
        )
        partition_verdicts = (
            rows_per_part.join(fails_per_part, "partition_id", "left")
            .fillna(0, ["n_violations", "n_fail_rows"])
            .withColumn("n_pass_rows", F.col("n_rows") - F.col("n_fail_rows"))
            .withColumn("passed", F.col("n_violations") == 0)
            .orderBy("partition_id")
        )
        check_summary = (
            violations.groupBy("check")
            .agg(F.count(F.lit(1)).alias("n_violations"))
            .orderBy("check")
        )
        if sink_dir is not None:
            # the rollups are tiny independent jobs over the written
            # violations table: write them concurrently. METRICS sink
            # alongside verdicts: the stats land as a table too.
            tables = {"partition_verdicts": partition_verdicts,
                      "check_summary": check_summary}
            if stats_df is not None:
                tables["stats"] = stats_df
            for w in [_sink(name, df) for name, df in tables.items()]:
                w.result()
            read = {name: spark.read.parquet(os.path.join(sink_dir, f"{name}.parquet"))
                    for name in tables}
            partition_verdicts = read["partition_verdicts"].orderBy("partition_id")
            check_summary = read["check_summary"].orderBy("check")
            stats_df = read.get("stats")
    finally:
        ex.shutdown(wait=False, cancel_futures=True)  # a failed build queues no more jobs
    return ValidationReport(violations, partition_verdicts, check_summary,
                            stats_df, drift_results, checkpoints)

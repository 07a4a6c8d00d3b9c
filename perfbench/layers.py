"""Per-layer measurement for traced runs.

``wrap_layers`` installs spans around the package's layer entry points
for traced ops. ``sweep`` calls each layer's public function on its own,
serially from the benchmark thread under a Spark job group, and reports
the time to build the DataFrame (``plan_s``, driver work), the time of
the action (``exec_s``), the Python-worker CPU from /proc and the stage
metrics of the group's jobs. Every traced run sweeps every layer, so
each per-layer metric is measured on every workload."""

from __future__ import annotations

import os
import shutil
import time

import inputs
from procstat import tree_cpu
from spans import StageReader
from workloads import BULK_ROWS, PIXEL_SAMPLE, read_report

SWEEP_PROBES = 2


def wrap_layers(tracer) -> None:
    """Spans at every layer boundary a workload op crosses. Functions
    the runner imported by name are wrapped where the runner binds them."""
    import workloads
    from perl_data_validate_sanctions_spark import api
    from perl_data_validate_sanctions_spark.checks import (
        drift, integrity, referential, schema_check, stats, unique,
    )
    from perl_data_validate_sanctions_spark.operators import matcher, matcher_arrow
    from perl_data_validate_sanctions_spark.plans import runner
    from perl_data_validate_sanctions_spark.streaming import checkpoint, incremental

    w = tracer.wrap
    w("plans.runner.run_validation", runner.run_validation, runner)
    w("checks.schema_check", schema_check.schema_violations, schema_check, runner)
    w("checks.unique", unique.uniqueness_violations, unique, runner)
    w("checks.referential", referential.referential_violations, referential, runner)
    w("checks.integrity", integrity.integrity_violations, integrity, runner)
    w("checks.stats", stats.column_stats, stats, runner)
    w("checks.drift.drift_from_hist", drift.drift_from_hist, drift, runner)
    w("checks.drift.drift_violations", drift.drift_violations, drift, runner)
    w("operators.matcher_arrow", matcher_arrow.match_captions_arrow, matcher_arrow, runner)
    w("operators.matcher.match_captions", matcher.match_captions, matcher, runner)
    w("operators.matcher.match_probes", matcher.match_probes, matcher, api)
    w("api.get_sanctioned_info", api.SanctionsValidator.get_sanctioned_info,
      api.SanctionsValidator)
    w("api.update_data", api.SanctionsValidator.update_data, api.SanctionsValidator)
    w("streaming.incremental.merge_source_states", incremental.merge_source_states,
      incremental)
    w("streaming.checkpoint.run_with_resume", checkpoint.run_with_resume, checkpoint)
    w("report_reads", workloads.read_report, workloads)


class _Sweep:
    def __init__(self, ctx):
        self.reader = StageReader(ctx.spark.sparkContext)
        self.pid = os.getpid()
        self.detail: dict = {}
        self.failures: list[str] = []

    def call(self, name: str, plan, action):
        """Time ``plan()`` then ``action(df)`` under job group ``name``;
        returns (record, action result)."""
        group = f"perfbench:{name}"
        c0 = tree_cpu(self.pid)
        with self.reader.job_group(group):
            t0 = time.perf_counter()
            df = plan()
            t1 = time.perf_counter()
            out = action(df)
            t2 = time.perf_counter()
        c1 = tree_cpu(self.pid)
        jobs = self.reader.group_jobs(group)
        rec = {"plan_s": t1 - t0, "exec_s": t2 - t1,
               "py_cpu_s": c1["python_workers"] - c0["python_workers"],
               "jobs": len(jobs), **StageReader.total(self.reader.stages(jobs))}
        self.detail[name] = rec
        return rec, out

    def check(self, name: str, plan):
        """A check layer: materialize its violation rows the way the
        runner does, then count them outside the timed part."""
        rec, cp = self.call(name, plan, lambda df: df.localCheckpoint(eager=True))
        rec["rows_out"] = cp.count()
        cp.unpersist()
        return rec


def _dir_size(path: str) -> tuple[float, int]:
    """(MB, number of parquet part files) under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return size / 1e6, files


def sweep(ctx, wl):
    """Every layer once; returns ({metric: (value, unit)}, detail, the
    messages of any output check that failed)."""
    from pyspark.sql import functions as F

    from perl_data_validate_sanctions_spark.api import SanctionsValidator
    from perl_data_validate_sanctions_spark.checks.drift import drift_check, drift_violations
    from perl_data_validate_sanctions_spark.checks.integrity import integrity_violations
    from perl_data_validate_sanctions_spark.checks.referential import referential_violations
    from perl_data_validate_sanctions_spark.checks.schema_check import schema_violations
    from perl_data_validate_sanctions_spark.checks.stats import column_stats
    from perl_data_validate_sanctions_spark.checks.unique import uniqueness_violations
    from perl_data_validate_sanctions_spark.operators.matcher import match_probes
    from perl_data_validate_sanctions_spark.operators.matcher_arrow import match_captions_arrow
    from perl_data_validate_sanctions_spark.plans.runner import caption_key_expr, run_validation
    from perl_data_validate_sanctions_spark.schema import ENTRY_SCHEMA, LINEAGE_SCHEMA, PROBE_SCHEMA
    from perl_data_validate_sanctions_spark.sources.synth import (
        N_LOGICAL_PARTS, PLACES, SOURCES, expected_caption, logical_partition,
    )
    from perl_data_validate_sanctions_spark.streaming.checkpoint import (
        CheckpointStore, partition_lineage, run_with_resume,
    )
    from perl_data_validate_sanctions_spark.streaming.incremental import (
        merge_source_states, source_state,
    )

    spark = ctx.spark
    sw = _Sweep(ctx)
    scratch = os.path.join(ctx.dirs["scratch"], "sweep")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    snapshot_path = inputs.snapshot(spark, ctx.cache_dir)
    # a workload without an image table of its own sweeps the table
    # bulk_suite would use for the same seed
    images = getattr(wl, "images", None)
    if images is None:
        images = spark.read.parquet(
            inputs.image_table(spark, ctx.seed, BULK_ROWS, ctx.cache_dir))
    entries = spark.read.parquet(snapshot_path)
    ref_keys = spark.createDataFrame([(p,) for p in PLACES], "key string")
    part = logical_partition("image_id")
    m: dict[str, tuple[float, str]] = {}

    def put(prefix, rec, keys):
        for k in keys:
            unit = {"rows_out": "count", "tasks": "count", "jobs": "count",
                    "shuffle_write_mb": "MB"}.get(k, "s")
            m[f"{prefix}.{k}"] = (float(rec[k]), unit)

    # --- check layers, standalone -----------------------------------------
    checks = {
        "checks.integrity": lambda: integrity_violations(
            images, part, expected_caption("image_id"), pixel_sample=PIXEL_SAMPLE),
        "operators.matcher_arrow": lambda: match_captions_arrow(images, entries),
        "checks.unique_image_id": lambda: uniqueness_violations(
            images, "image_id", partition_expr=part),
        "checks.unique_phash": lambda: uniqueness_violations(
            images, "phash", partition_expr=part),
        "checks.referential": lambda: referential_violations(
            images, caption_key_expr(), ref_keys, partition_expr=part),
        "checks.schema_check": lambda: schema_violations(images, part),
        "checks.stats": lambda: column_stats(images),
        "checks.drift": lambda: drift_violations(
            drift_check(images, "w", part, "ks")
            .unionByName(drift_check(images, "h", part, "ks"))
            .unionByName(drift_check(images, "fmt", part, "chi2"))),
    }
    recs = {name: sw.check(name, plan) for name, plan in checks.items()}
    for name in ("checks.integrity", "operators.matcher_arrow"):
        put(name, recs[name], ("plan_s", "exec_s", "py_cpu_s", "rows_out"))
    for name in ("checks.unique_image_id", "checks.unique_phash"):
        put(name, recs[name], ("exec_s", "shuffle_write_mb", "tasks", "rows_out"))
    for name in ("checks.referential", "checks.schema_check", "checks.stats", "checks.drift"):
        put(name, recs[name], ("exec_s", "executor_cpu_s"))
    for name in ("checks.stats", "checks.drift"):
        put(name, recs[name], ("rows_out",))

    # --- operators.matcher.match_probes, per probe ------------------------
    cols = PROBE_SCHEMA.fieldNames()
    probes = inputs.probe_mix(inputs.snapshot_rows(spark, snapshot_path), ctx.seed,
                              SWEEP_PROBES)
    per = []
    for i, p in enumerate(probes):
        row = {c: None for c in cols} | {"probe_id": f"p{i}"} | p["kwargs"]
        probe_df = spark.createDataFrame([tuple(row[c] for c in cols)], PROBE_SCHEMA)
        rec, _ = sw.call(f"operators.matcher.match_probes.{i}",
                         lambda: match_probes(probe_df, entries), lambda df: df.collect())
        per.append(rec)
    m["operators.match_probes.plan_s"] = (sum(r["plan_s"] for r in per) / len(per), "s")
    m["operators.match_probes.exec_s"] = (sum(r["exec_s"] for r in per) / len(per), "s")
    m["operators.match_probes.jobs"] = (sum(r["jobs"] for r in per) / len(per), "count")
    m["operators.match_probes.tasks"] = (sum(r["tasks"] for r in per) / len(per), "count")

    # --- plans.runner: the suite in memory, then with a sink --------------
    lo = sw.reader.last_job_id() + 1
    t0 = time.perf_counter()
    report = run_validation(images, entries=entries, ref_keys=ref_keys,
                            pixel_sample=PIXEL_SAMPLE)
    t1 = time.perf_counter()
    read_report(report)
    t2 = time.perf_counter()
    sw.detail["plans.runner.pools"] = sw.reader.by_pool(
        sw.reader.stages(range(lo, sw.reader.last_job_id() + 1)))
    standalone = sum(r["plan_s"] + r["exec_s"] for r in recs.values())
    m["plans.runner.checks_s"] = (t1 - t0, "s")
    m["plans.runner.rollup_s"] = (t2 - t1, "s")
    m["plans.runner.concurrency_gain"] = (standalone / (t2 - t0), "ratio")

    # streaming.checkpoint.partition_lineage over the in-memory verdicts
    rec, lineage = sw.call("streaming.lineage", lambda: partition_lineage(
        images, report.partition_verdicts, part, "sweep"), lambda df: df.collect())
    m["streaming.lineage_s"] = (rec["plan_s"] + rec["exec_s"], "s")
    report.violations.unpersist()

    sink = os.path.join(scratch, "sink")
    t0 = time.perf_counter()
    read_report(run_validation(images, entries=entries, ref_keys=ref_keys,
                               pixel_sample=PIXEL_SAMPLE, sink_dir=sink))
    sw.detail["plans.runner.sink_s"] = time.perf_counter() - t0
    mb, files = _dir_size(sink)
    m["plans.runner.sink_mb"] = (mb, "MB")
    m["plans.runner.sink_files"] = (float(files), "count")

    # --- api: update_data with one changed source, then one screening -----
    snap = os.path.join(scratch, "snapshot.parquet")
    shutil.copytree(snapshot_path, snap)
    v = SanctionsValidator(spark, sanction_path=snap)
    changed = SOURCES[ctx.seed % len(SOURCES)]
    extra = spark.createDataFrame([(10**9, changed, ["Extra Genersson"], None, [1960],
                                    None, None, None, None, None, None, None, None)],
                                  ENTRY_SCHEMA)
    fetched = entries.filter(F.col("source") == changed).unionByName(extra)
    cur = v.data()
    rec, _ = sw.call("streaming.incremental.merge", lambda: merge_source_states(
        source_state(cur), source_state(fetched)), lambda df: df.collect())
    m["streaming.merge_s"] = (rec["plan_s"] + rec["exec_s"], "s")
    t0 = time.perf_counter()
    decisions = v.update_data(fetched).collect()
    m["api.update_data_s"] = (time.perf_counter() - t0, "s")
    taken = sorted(r["source"] for r in decisions if r["take_new"])
    if taken != [changed]:
        sw.failures.append(f"update_data took {taken}, expected [{changed!r}]")
    m["api.publish_mb"] = (_dir_size(os.path.realpath(snap))[0], "MB")
    p = probes[0]
    t0 = time.perf_counter()
    got = v.get_sanctioned_info(**p["kwargs"])
    m["api.get_sanctioned_info_s"] = (time.perf_counter() - t0, "s")
    if got["matched"] != p["matched"] or got.get("list") != p["list"]:
        sw.failures.append(f"screening {p} returned {got}")

    # --- streaming.checkpoint: a half-done and a finished run -------------
    store = CheckpointStore(os.path.join(scratch, "ckpt"))
    now = int(time.time())

    def lineage_rows(run_id, parts):
        return spark.createDataFrame(
            [(run_id, pid, "images", None, 0, 0, 0, now, now, None) for pid in parts],
            LINEAGE_SCHEMA)

    store.append(lineage_rows("half", range(N_LOGICAL_PARTS // 2)))
    store.append(lineage_rows("done", range(N_LOGICAL_PARTS)))
    t0 = time.perf_counter()
    done = store.completed_partitions(spark, "half")
    m["streaming.completed_partitions_s"] = (time.perf_counter() - t0, "s")
    if done != list(range(N_LOGICAL_PARTS // 2)):
        sw.failures.append(f"completed_partitions returned {done}")
    t0 = time.perf_counter()
    _, full, rep = run_with_resume(images, store, run_id="done", entries=entries,
                                   ref_keys=ref_keys, pixel_sample=PIXEL_SAMPLE)
    n_lineage = full.count()
    m["streaming.noop_resume_s"] = (time.perf_counter() - t0, "s")
    if rep is not None or n_lineage != N_LOGICAL_PARTS:
        sw.failures.append("a finished run was not skipped on resume")
    m["streaming.lineage_rows"] = (float(len(lineage)), "count")
    shutil.rmtree(scratch, ignore_errors=True)
    return m, sw.detail, sw.failures

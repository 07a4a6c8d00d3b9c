"""The benchmark's workloads: how each sets up, what one op is, and how
each op's output is checked.

Both are closed loops driven by one client thread: the next op starts
when the previous one returned and was checked."""

from __future__ import annotations

import itertools
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import inputs

BULK_ROWS = 20_000
PIXEL_SAMPLE = 4096


@dataclass
class OpResult:
    items: int
    ok: bool
    note: str = ""


def read_report(report) -> dict:
    """The reads every consumer of a report makes, run concurrently as
    independent actions over the same materialized violations."""
    outs = {"partition_verdicts": report.partition_verdicts,
            "check_summary": report.check_summary}
    if report.stats is not None:
        outs["stats"] = report.stats
    with ThreadPoolExecutor(max_workers=len(outs)) as ex:
        got = dict(zip(outs, ex.map(lambda df: df.collect(), outs.values())))
    return got


def summary_of(rows) -> dict[str, int]:
    return {r["check"]: int(r["n_violations"]) for r in rows}


class BulkSuite:
    """One ``run_validation`` with the default checks over the seed's
    mixed-payload table, plus the report reads."""

    name = "bulk_suite"
    # the first pass is cold and the next two still fall by about 10%
    warm = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_rows = BULK_ROWS
        self.drift = None

    def inputs(self) -> None:
        """One-time generation, cached by (seed, size)."""
        ctx = self.ctx
        self.table_path = inputs.image_table(ctx.spark, ctx.seed, self.n_rows, ctx.cache_dir)
        self.oracle = inputs.table_oracle(ctx.spark, self.table_path)
        self.snapshot_path = inputs.snapshot(ctx.spark, ctx.cache_dir)
        ctx.record["oracle_counts"] = self.oracle["counts"]
        ctx.record["planted_real_corruptions"] = len(self.oracle["planted"])

    def open(self) -> None:
        from perl_data_validate_sanctions_spark.sources.synth import PLACES

        spark = self.ctx.spark
        self.images = spark.read.parquet(self.table_path)
        self.entries = spark.read.parquet(self.snapshot_path)
        self.n_entries = self.entries.count()
        self.ref_keys = spark.createDataFrame([(p,) for p in PLACES], "key string")

    def validate(self, **kw):
        from perl_data_validate_sanctions_spark.plans.runner import run_validation

        return run_validation(self.images, entries=self.entries, ref_keys=self.ref_keys,
                              match_strategy="auto", pixel_sample=PIXEL_SAMPLE, **kw)

    def op(self) -> tuple[float, OpResult]:
        import time

        t0 = time.perf_counter()
        report = self.validate()
        got = read_report(report)
        wall = time.perf_counter() - t0
        try:
            return wall, OpResult(self.n_rows, *self.check(report, got))
        finally:
            report.violations.unpersist()

    def check(self, report, got) -> tuple[bool, str]:
        """Row-level check counts must equal the oracle's, every planted
        corruption and drifted partition must be flagged, and the drift
        counts must equal those of the run's first op."""
        from pyspark.sql import functions as F

        from perl_data_validate_sanctions_spark.sources.synth import (
            DRIFT_PARTS, N_LOGICAL_PARTS,
        )

        summary = summary_of(got["check_summary"])
        drift = {k: v for k, v in summary.items() if k.startswith("drift_")}
        rows = {k: v for k, v in summary.items() if k not in drift}
        if rows != self.oracle["counts"]:
            return False, f"check_summary {rows} != oracle {self.oracle['counts']}"
        if self.drift is None:
            self.drift = drift
            self.ctx.record["drift_counts"] = drift
        if drift != self.drift:
            return False, f"drift counts {drift} != first op's {self.drift}"
        verdicts = got["partition_verdicts"]
        if len(verdicts) != N_LOGICAL_PARTS or sum(r["n_rows"] for r in verdicts) != self.n_rows:
            return False, "partition_verdicts do not cover the table"
        if any(int(r["n_rows"]) != self.n_rows for r in got["stats"]):
            return False, "stats row count differs from the table"
        flagged = report.violations.filter(
            F.col("check").isin("integrity", "drift_ks", "drift_chi2")
        ).select("check", "partition_id", "image_id", "column").collect()
        missed = set(self.oracle["planted"]) - {
            r["image_id"] for r in flagged if r["check"] == "integrity"}
        if missed:
            return False, f"{len(missed)} planted corruptions missed"
        for check, column in (("drift_ks", "w"), ("drift_ks", "h"), ("drift_chi2", "fmt")):
            parts = {r["partition_id"] for r in flagged
                     if r["check"] == check and r["column"] == column}
            if not set(DRIFT_PARTS) <= parts:
                return False, f"{check} on {column} missed drifted partitions"
        return True, ""


class ProbeScreen:
    """One ``SanctionsValidator.get_sanctioned_info`` call on the parquet
    snapshot, with the probe drawn from the seed's mix."""

    name = "probe_screen"
    # the first call compiles the probe plan (about 12 s); later calls
    # fall from about 3.3 s and level off near 1.8-2.2 s after seven or so
    warm = 8
    n_probes = 400

    def __init__(self, ctx):
        self.ctx = ctx

    def inputs(self) -> None:
        ctx = self.ctx
        self.snapshot_path = inputs.snapshot(ctx.spark, ctx.cache_dir)
        rows = inputs.snapshot_rows(ctx.spark, self.snapshot_path)
        self.probes = inputs.probe_mix(rows, ctx.seed, self.n_probes)
        self.n_entries = len(rows)

    def open(self) -> None:
        from perl_data_validate_sanctions_spark.api import SanctionsValidator

        self.validator = SanctionsValidator(self.ctx.spark, sanction_path=self.snapshot_path)
        self.validator.data()
        self.next = itertools.count()

    def op(self) -> tuple[float, OpResult]:
        import time

        probe = self.probes[next(self.next) % len(self.probes)]
        t0 = time.perf_counter()
        got = self.validator.get_sanctioned_info(**probe["kwargs"])
        wall = time.perf_counter() - t0
        ok = got["matched"] == probe["matched"] and got.get("list") == probe["list"]
        return wall, OpResult(1, ok, "" if ok else f"{probe}: got {got}")


WORKLOADS = {w.name: w for w in (BulkSuite, ProbeScreen)}

"""End-to-end runner, checkpointed resume, and incremental-update merge
semantics (ported from t/05_sanctions_redis.t:231-298)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from perl_data_validate_sanctions_spark.plans.runner import run_validation
from perl_data_validate_sanctions_spark.schema import VIOLATION_SCHEMA
from perl_data_validate_sanctions_spark.sources.synth import (
    DRIFT_PARTS,
    N_LOGICAL_PARTS,
    PLACES,
    logical_partition,
    synth_entries,
    synth_images,
)
from perl_data_validate_sanctions_spark.streaming.checkpoint import (
    CheckpointStore,
    run_with_resume,
)
from perl_data_validate_sanctions_spark.streaming.incremental import (
    merge_source_states,
)

N = 12_000


@pytest.fixture(scope="module")
def images(spark):
    df = synth_images(spark, N, num_partitions=8).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def ref_dims(spark):
    entries = synth_entries(spark, n_extra=30)
    ref_keys = spark.createDataFrame([(p,) for p in PLACES], "key string")
    return entries, ref_keys


def test_full_validation_report(spark, images, ref_dims):
    entries, ref_keys = ref_dims
    report = run_validation(images, entries=entries, ref_keys=ref_keys)
    verdicts = report.partition_verdicts.collect()
    assert len(verdicts) == N_LOGICAL_PARTS
    assert sum(r["n_rows"] for r in verdicts) == N
    # drifted partitions must fail; some partitions must pass... at
    # least the planted drift partitions are failed:
    failed = {r["partition_id"] for r in verdicts if not r["passed"]}
    assert set(DRIFT_PARTS) <= failed
    summary = {r["check"]: r["n_violations"] for r in report.check_summary.collect()}
    # every planted violation class is detected
    for check in ("unique_image_id", "unique_phash", "integrity", "sanctioned"):
        assert summary.get(check, 0) > 0, f"{check} found nothing: {summary}"
    assert summary.get("schema", 0) == 0
    # sanctioned captions ≈ 2%
    assert 0.01 * N < summary["sanctioned"] < 0.04 * N
    # violations conform to the shared schema
    assert report.violations.schema == VIOLATION_SCHEMA


def test_release_frees_checkpointed_rdds(spark, images, ref_dims):
    """release() frees every localCheckpoint the run made, which
    DataFrame.unpersist() does not."""
    entries, ref_keys = ref_dims
    report = run_validation(images, entries=entries, ref_keys=ref_keys)
    report.check_summary.collect()  # computes the lazy violations checkpoint
    # cube + 6 check pieces + fused drift + stats + violations
    assert len(report.checkpoints) == 10
    ids = {df._jdf.queryExecution().logical().rdd().id() for df in report.checkpoints}

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    assert ids <= persisted()
    report.violations.unpersist()
    assert ids <= persisted()
    report.release()
    assert not ids & persisted()


def test_resume_skips_completed_partitions(spark, images, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    store = CheckpointStore(ckpt)
    part = logical_partition("image_id")
    checks = ("schema", "unique_image_id", "drift_w")

    # interrupted first attempt: only partitions 0..9 got processed
    subset = images.filter(part < 10)
    run_id, lineage1, rep1 = run_with_resume(
        subset, store, run_id="runA", partition_expr=part,
        checks=checks, with_stats=False,
    )
    done1 = sorted(r["partition_id"] for r in lineage1.collect())
    assert done1 == list(range(10))

    # resume over the full table: the 10 done partitions are skipped
    run_id, lineage2, rep2 = run_with_resume(
        images, store, run_id="runA", partition_expr=part,
        checks=checks, with_stats=False,
    )
    assert rep2 is not None
    recomputed = {r["partition_id"] for r in rep2.partition_verdicts.collect()}
    assert recomputed == set(range(10, N_LOGICAL_PARTS))
    all_parts = sorted(r["partition_id"] for r in lineage2.collect())
    assert all_parts == list(range(N_LOGICAL_PARTS))

    # third run: everything complete → no recompute at all
    run_id, lineage3, rep3 = run_with_resume(
        images, store, run_id="runA", partition_expr=part,
        checks=checks, with_stats=False,
    )
    assert rep3 is None
    assert lineage3.count() == N_LOGICAL_PARTS

    # lineage equals a clean single-shot run (row counts + hashes)
    store_clean = CheckpointStore(str(tmp_path_factory.mktemp("ckpt2")))
    _, clean, _ = run_with_resume(
        images, store_clean, run_id="runB", partition_expr=part,
        checks=checks, with_stats=False,
    )
    a = {(r["partition_id"], r["content_hash"], r["n_rows"], r["n_fail"])
         for r in lineage3.collect()}
    b = {(r["partition_id"], r["content_hash"], r["n_rows"], r["n_fail"])
         for r in clean.collect()}
    assert a == b


def _state(spark, rows):
    return spark.createDataFrame(
        rows, "source string, updated long, n_entries long, "
        "content_hash string, error string"
    )


def test_incremental_merge_semantics(spark):
    cur = _state(spark, [
        ("EU", 100, 10, "h1", None),
        ("HMT", 200, 20, "h2", None),
        ("OFAC", 300, 30, "h3", "old failure"),
    ])
    new = _state(spark, [
        ("EU", 100, 10, "h1", None),        # unchanged → keep, not changed
        ("HMT", 200, 25, "h2b", None),      # count differs, same date → replace
        ("OFAC", 300, 30, "h3b", None),     # error cleared → replace
        ("UNSC", 400, 5, "h4", None),       # new source → add
        ("MOHA", 0, 0, None, "boom"),       # fetch error → record error
    ])
    out = {r["source"]: r for r in merge_source_states(cur, new, now=1000).collect()}

    assert out["EU"]["changed"] is False and out["EU"]["take_new"] is False
    assert out["EU"]["content_hash"] == "h1"

    assert out["HMT"]["changed"] is True and out["HMT"]["take_new"] is True
    assert out["HMT"]["n_entries"] == 25 and out["HMT"]["content_hash"] == "h2b"

    assert out["OFAC"]["changed"] is True
    assert out["OFAC"]["error"] is None  # error cleared (Sanctions.pm:64-67)
    assert out["OFAC"]["content_hash"] == "h3b"

    assert out["UNSC"]["changed"] is True and out["UNSC"]["n_entries"] == 5

    assert out["MOHA"]["changed"] is True and out["MOHA"]["take_new"] is False
    assert out["MOHA"]["error"] == "boom"  # error recorded (Sanctions.pm:69-72)
    assert all(r["verified"] == 1000 for r in out.values())


def test_validation_report_parquet_sink(spark, images, ref_dims, tmp_path):
    """sink_dir writes violations/verdicts/summary to parquet tables and
    the returned report reads from them — same verdicts as the
    collect-path report (the 10^12-row artifact shape)."""
    import os

    entries, ref_keys = ref_dims
    base = run_validation(images, entries=entries, ref_keys=ref_keys)
    sunk = run_validation(images, entries=entries, ref_keys=ref_keys,
                          sink_dir=str(tmp_path))
    for name in ("violations", "partition_verdicts", "check_summary",
                 "stats"):
        assert os.path.isdir(str(tmp_path / f"{name}.parquet")), name
    # the metrics table is sunk too and reads back value-identical
    skey = lambda r: tuple(  # noqa: E731
        sorted((k, str(v)) for k, v in r.asDict().items())
    )
    assert sorted(map(skey, sunk.stats.collect())) == sorted(
        map(skey, base.stats.collect())
    )
    key = lambda r: (r["partition_id"], r["n_rows"], r["n_violations"],  # noqa: E731
                     r["n_fail_rows"], r["passed"])
    assert sorted(map(key, sunk.partition_verdicts.collect())) == sorted(
        map(key, base.partition_verdicts.collect())
    )
    assert sorted(
        (r["check"], r["n_violations"])
        for r in sunk.check_summary.collect()
    ) == sorted(
        (r["check"], r["n_violations"])
        for r in base.check_summary.collect()
    )
    assert sunk.violations.schema == VIOLATION_SCHEMA
    assert sunk.violations.count() == base.violations.count()


def test_resolve_match_strategy_rule():
    """The SCALING.md crossover, pinned at both measured dimension
    scales (VERDICT r5 #2): Arrow while the dimension fits the
    worker-local index budget, native beyond it, and row count never
    flips an in-budget choice."""
    from perl_data_validate_sanctions_spark.plans import runner

    assert runner.resolve_match_strategy(212) == "arrow"        # bench dim
    assert runner.resolve_match_strategy(15_664) == "arrow"     # bundled dim
    over = runner.AUTO_ARROW_DIM_MAX_ENTRIES + 1
    assert runner.resolve_match_strategy(over) == "native"


def test_auto_strategy_dispatch(spark, images, ref_dims, monkeypatch):
    """run_validation(match_strategy='auto') routes through the
    crossover rule: the Arrow screen at bundled-dimension scale, the
    native relational path once the dimension outgrows the budget
    (native stubbed — the DISPATCH is what's under test here; path
    output-agreement is pinned by test_matcher)."""
    from perl_data_validate_sanctions_spark.plans import runner

    entries, _ = ref_dims
    calls: list[str] = []
    real_arrow = runner.match_captions_arrow

    def spy_arrow(imgs, ents, *a, **k):
        calls.append("arrow")
        return real_arrow(imgs, ents, *a, **k)

    def spy_native(imgs, ents, *a, **k):
        calls.append("native")
        return spark.createDataFrame(
            [], "image_id string, list string, matched_name string"
        )

    monkeypatch.setattr(runner, "match_captions_arrow", spy_arrow)
    monkeypatch.setattr(runner, "match_captions", spy_native)

    small = images.limit(500)
    runner.run_validation(small, entries=entries, checks=("sanctioned",),
                          with_stats=False)
    assert calls == ["arrow"]

    big_dim = spark.range(runner.AUTO_ARROW_DIM_MAX_ENTRIES + 1)
    runner.run_validation(small, entries=big_dim, checks=("sanctioned",),
                          with_stats=False)
    assert calls == ["arrow", "native"]

    # explicit override still wins over the rule
    runner.run_validation(small, entries=entries, checks=("sanctioned",),
                          with_stats=False, match_strategy="native")
    assert calls == ["arrow", "native", "native"]


def test_new_entries_frame_invalidates_dim_snapshot(spark):
    """The caption screen's dimension snapshot follows the entries frame:
    a name only in the new frame is flagged, a name only in the old one
    no longer is, and going back to the old frame reuses nothing built
    for the new one."""
    from perl_data_validate_sanctions_spark.schema import ENTRY_SCHEMA

    images = spark.createDataFrame(
        [("img-a", "A photo of Ivor Onlya in Rivertown", 64, 64, "png"),
         ("img-b", "A photo of Bella Onlyb in Rivertown", 64, 64, "png"),
         ("img-c", "An ordinary landscape", 64, 64, "png")],
        "image_id string, caption string, w int, h int, fmt string",
    )

    def frame(eid, source, name):
        return spark.createDataFrame([(eid, source, [name]) + (None,) * 10],
                                     ENTRY_SCHEMA)

    def flagged(entries):
        report = run_validation(images, entries=entries, checks=("sanctioned",),
                                with_stats=False)
        return {(r["image_id"], r["detail"]) for r in report.violations.collect()}

    a = frame(1, "list-A", "Ivor Onlya")
    b = frame(2, "list-B", "Bella Onlyb")
    assert flagged(a) == {("img-a", "matched Ivor Onlya on list-A")}
    assert flagged(b) == {("img-b", "matched Bella Onlyb on list-B")}
    assert flagged(a) == {("img-a", "matched Ivor Onlya on list-A")}


def test_warm_run_submits_no_dimension_job(spark, images, monkeypatch):
    """A repeat run over the SAME entries frame reuses its snapshot: no
    count job for the "auto" rule, no name-dimension collect, no new
    broadcast."""
    from perl_data_validate_sanctions_spark.operators import matcher

    entries = synth_entries(spark, n_extra=30)
    small = images.limit(500)
    first = run_validation(small, entries=entries, checks=("sanctioned",),
                           with_stats=False)
    calls: list[str] = []
    real_dim, real_count = matcher.build_name_dim, entries.count

    def spy_dim(*a, **k):
        calls.append("build_name_dim")
        return real_dim(*a, **k)

    monkeypatch.setattr(matcher, "build_name_dim", spy_dim)
    monkeypatch.setattr(entries, "count",
                        lambda: calls.append("count") or real_count())
    again = run_validation(small, entries=entries, checks=("sanctioned",),
                           with_stats=False)
    assert calls == []
    assert sorted(again.violations.collect()) == sorted(first.violations.collect())


def test_runner_psi_opt_in_check(spark, images):
    """The opt-in PSI drift check (plans/runner.py PSI_CHECK) rides the
    SAME cube as the default drift branches — no extra table scan — and
    lands in the rollup under check='drift_psi'. The synth fixture's
    planted drift partitions skew the fmt mix, so PSI flags a superset
    of nothing and a subset of all partitions (band 0.25)."""
    from perl_data_validate_sanctions_spark.plans.runner import (
        DEFAULT_CHECKS,
        PSI_CHECK,
    )

    report = run_validation(
        images,
        checks=("drift_fmt", PSI_CHECK),
    )
    assert "fmt_psi" in report.drift_results
    psi = report.drift_results["fmt_psi"].collect()
    assert all(r["kind"] == "psi" and r["p_value"] is None for r in psi)
    rollup = {r["check"] for r in report.violations.select("check").distinct().collect()}
    assert rollup <= {"drift_chi2", "drift_psi"}
    assert PSI_CHECK not in DEFAULT_CHECKS  # opt-in by design


def test_registry_looks_up_checks_at_call_time(spark, images, ref_dims, monkeypatch):
    """Every check function the runner binds by name is looked up when
    the run happens, not captured by the registry at import time — the
    contract test_auto_strategy_dispatch and span-wrapping callers rely
    on. A single-check run yields the same rows as the full suite."""
    from perl_data_validate_sanctions_spark.plans import runner

    entries, ref_keys = ref_dims
    called: set[str] = set()

    def spy(name):
        real = getattr(runner, name)

        def wrapped(*a, **k):
            called.add(name)
            return real(*a, **k)

        monkeypatch.setattr(runner, name, wrapped)

    names = ("schema_violations", "uniqueness_violations",
             "referential_violations", "integrity_violations",
             "column_stats", "drift_from_hist", "drift_violations",
             "match_captions_arrow")
    for name in names:
        spy(name)
    full = runner.run_validation(images, entries=entries, ref_keys=ref_keys,
                                 checks=runner.DEFAULT_CHECKS)
    assert called == set(names)

    def key(r):
        return (r["partition_id"], r["image_id"], r["column"], r["detail"])

    alone = runner.run_validation(images, checks=("integrity",), with_stats=False)
    assert {r["check"] for r in alone.violations.collect()} == {"integrity"}
    want = full.violations.filter(F.col("check") == "integrity").collect()
    assert want and sorted(map(key, alone.violations.collect())) == sorted(map(key, want))


def test_checkpoint_read_fails_loudly(spark, tmp_path):
    """Only a missing checkpoint path means "nothing done yet"; a store
    that cannot be read at all (here: an unknown filesystem) raises
    instead of silently recomputing every partition."""
    from py4j.protocol import Py4JJavaError

    assert CheckpointStore(str(tmp_path / "none")).completed_partitions(spark, "x") == []
    with pytest.raises(Py4JJavaError, match="nosuchfs"):
        CheckpointStore("nosuchfs://bucket/ck").completed_partitions(spark, "x")


def test_corrupt_lineage_fails_loudly(spark, tmp_path):
    """A lineage directory that is present but unreadable (a part file
    that is not parquet) raises; it never reads as "nothing done yet"."""
    from py4j.protocol import Py4JJavaError

    lineage = tmp_path / "ck" / "lineage"
    lineage.mkdir(parents=True)
    (lineage / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError):
        CheckpointStore(str(tmp_path / "ck")).completed_partitions(spark, "x")

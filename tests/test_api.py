"""Facade API parity — the reference's calling conventions and verdict
shapes (t/01_basic.t, t/03_oo.t surface)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from perl_data_validate_sanctions_spark.api import SanctionsValidator
from perl_data_validate_sanctions_spark.sources.synth import synth_entries


@pytest.fixture(scope="module")
def validator(spark):
    return SanctionsValidator(spark, entries=synth_entries(spark, n_extra=10))


def test_positional_api(validator):
    assert validator.is_sanctioned("NEVEROV", "Sergei Ivanovich", -253411200) == 1
    assert validator.is_sanctioned("chris", "down") == 0


def test_keyword_api_verdict_shape(validator):
    r = validator.get_sanctioned_info(
        first_name="Zaki", last_name="Ahmad", date_of_birth="1999-01-05"
    )
    assert r == {
        "matched": 1,
        "list": "EU-Sanctions",
        "comment": None,
        "matched_args": {"name": "Zaki Izzat Zaki AHMAD", "dob_year": 1999},
    }
    assert validator.get_sanctioned_info("nobody", "anywhere") == {"matched": 0}


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_warm_screening_call_submits_no_job(spark, validator, jobs_of, arrow):
    """A warm call is answered on the driver, whatever the Arrow conf
    says: the probe and its candidates are local relations that
    Catalyst folds, so no Spark job runs. A list-built probe, or a join
    against a Spark-side index, would submit jobs on every call."""
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(conf)
    spark.conf.set(conf, arrow)
    try:
        validator.get_sanctioned_info("nobody", "anywhere")  # builds the index
        got, jobs = jobs_of(
            lambda: validator.get_sanctioned_info("Zaki", "Ahmad", "1999-01-05"))
    finally:
        spark.conf.set(conf, before)
    assert got["matched"] == 1 and got["list"] == "EU-Sanctions"
    assert jobs == 0


def test_update_data_and_export(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("snap") / "entries.parquet")
    v = SanctionsValidator(spark, sanction_path=path)
    base = synth_entries(spark, n_extra=5)
    base.write.mode("overwrite").parquet(path)
    v._last_load = 0  # force reload past the throttle

    # a fetch that drops one source's entries → that source replaced
    fetched = base.filter(F.col("source") != "EU-Sanctions").unionByName(
        base.filter(F.col("source") == "EU-Sanctions").limit(1)
    )
    decisions = {r["source"]: r for r in v.update_data(fetched).collect()}
    assert decisions["EU-Sanctions"]["changed"] is True
    unchanged = [s for s, r in decisions.items() if not r["changed"]]
    assert unchanged  # the untouched sources are not rewritten

    out = str(tmp_path_factory.mktemp("exp") / "out.parquet")
    v.export_data(out)
    assert spark.read.parquet(out).count() == v.data().count()


def test_new_snapshot_invalidates_cached_index(spark, tmp_path_factory):
    """The prepared screening index belongs to one loaded snapshot: it
    is reused while the snapshot stands, rebuilt after a reload through
    the mtime path and after update_data, and the old one is dropped.
    A stale index would keep answering from the dropped data."""
    import gc
    import weakref

    def assert_replaced(old):
        assert v._index is not old()
        gc.collect()
        assert old() is None, "the validator still holds the old index"

    path = str(tmp_path_factory.mktemp("idx") / "entries.parquet")
    base = synth_entries(spark, n_extra=0)
    base.write.parquet(path)
    v = SanctionsValidator(spark, sanction_path=path)
    assert v.is_sanctioned("Hamza") == 1  # UNSC-Sanctions persona
    assert v.is_sanctioned("Quirin", "Zebedee") == 0
    first = v._index
    assert v.is_sanctioned("Hamza") == 1
    assert v._index is first  # same snapshot: no rebuild

    # mtime path: the snapshot is rewritten with UNSC-Sanctions replaced
    newcomer = spark.createDataFrame(
        [(10**6, "UNSC-Sanctions", ["Quirin Zebedee"])
         + (None,) * 10],
        base.schema,
    )
    base.filter(F.col("source") != "UNSC-Sanctions").unionByName(
        newcomer
    ).write.mode("overwrite").parquet(path)
    old = weakref.ref(first)
    del first
    v._last_load = 0  # force the reload past the throttle
    assert v.is_sanctioned("Quirin", "Zebedee") == 1
    assert v.is_sanctioned("Hamza") == 0
    assert_replaced(old)

    # update_data path: the original UNSC-Sanctions entries come back
    old = weakref.ref(v._index)
    decisions = v.update_data(base.filter(F.col("source") == "UNSC-Sanctions"))
    assert [r["source"] for r in decisions.collect() if r["take_new"]] == [
        "UNSC-Sanctions"
    ]
    assert v.is_sanctioned("Hamza") == 1
    assert v.is_sanctioned("Quirin", "Zebedee") == 0
    assert_replaced(old)


def test_screening_and_validation_share_one_snapshot(spark, monkeypatch):
    """A process that screens and validates one entries frame collects
    its name rows once and builds one name index, on either caption
    path. A run over another frame takes the process-wide slot, but the
    validator keeps its own snapshot: its next call collects nothing and
    gives the same verdict."""
    from perl_data_validate_sanctions_spark.operators import matcher
    from perl_data_validate_sanctions_spark.plans.runner import run_validation
    from perl_data_validate_sanctions_spark.sources.synth import synth_images

    dims: list[int] = []
    builds: list[int] = []
    real_dim, real_init = matcher.build_name_dim, matcher.NameIndex.__init__

    def dim_spy(*a, **k):
        dims.append(1)
        return real_dim(*a, **k)

    def init_spy(self, *a, **k):
        builds.append(1)
        real_init(self, *a, **k)

    monkeypatch.setattr(matcher, "build_name_dim", dim_spy)
    # on __init__, so the broadcast still pickles a matcher.NameIndex
    monkeypatch.setattr(matcher.NameIndex, "__init__", init_spy)
    images = synth_images(spark, 500, num_partitions=2)

    def flagged(entries, strategy):
        report = run_validation(images, entries=entries, checks=("sanctioned",),
                                with_stats=False, match_strategy=strategy)
        out = sorted(report.violations.collect())
        report.release()
        return out

    v = SanctionsValidator(spark, entries=synth_entries(spark, n_extra=12))
    hit = v.get_sanctioned_info("Zaki", "Ahmad", "1999-01-05")
    assert hit["list"] == "EU-Sanctions"
    assert flagged(v.data(), "arrow") == flagged(v.data(), "native")
    assert (len(dims), len(builds)) == (1, 1)

    assert flagged(synth_entries(spark, n_extra=13), "arrow")
    assert len(dims) == 2
    assert v.get_sanctioned_info("Zaki", "Ahmad", "1999-01-05") == hit
    assert len(dims) == 2


def test_last_updated_roundtrip_and_source_status(spark, tmp_path_factory):
    """Sanctions.pm:92-102: last_updated is max(updated) across sources
    (or the named source's); the stamped publish epoch must round-trip
    update_data → persisted state → last_updated, including through a
    fresh validator instance."""
    path = str(tmp_path_factory.mktemp("lu") / "entries.parquet")
    v = SanctionsValidator(spark, sanction_path=path)
    base = synth_entries(spark, n_extra=5)
    base.write.mode("overwrite").parquet(path)
    v._last_load = 0

    stamps = {"EU-Sanctions": 1690000000, "HMT-Sanctions": 1700000123}
    v.update_data(base, updated_by_source=stamps,
                  errors_by_source={"MOHA-Sanctions": "timeout fetching"})
    assert v.last_updated() == 1700000123
    assert v.last_updated("EU-Sanctions") == 1690000000
    assert v.last_updated("no-such-source") is None

    status = {r["source"]: r for r in v.source_status().collect()}
    assert status["MOHA-Sanctions"]["error"] == "timeout fetching"
    assert status["EU-Sanctions"]["error"] is None
    assert status["EU-Sanctions"]["verified"] > 0

    # persisted: a brand-new validator sees the same state
    v2 = SanctionsValidator(spark, sanction_path=path)
    assert v2.last_updated() == 1700000123
    # a later successful fetch clears the error (Sanctions.pm:66-70)
    v2._last_load = 0
    v2.update_data(base.filter(F.col("source") == "MOHA-Sanctions"),
                   updated_by_source={"MOHA-Sanctions": 1710000000})
    status2 = {r["source"]: r for r in v2.source_status().collect()}
    assert status2["MOHA-Sanctions"]["error"] is None
    assert v2.last_updated() == 1710000000
    # the snapshot is now a symlinked versioned dir; readers never see
    # a missing path mid-publish
    import os

    assert os.path.islink(path) and os.path.isdir(os.path.realpath(path))


def test_cli_update_twice_second_is_noop(spark, tmp_path_factory, capsys):
    """bin/update_sanctions_csv analog (xt/20_update.t:53-65): update
    from feed files, then rerun — the second run must change nothing."""
    import json

    from perl_data_validate_sanctions_spark.cli import main

    snap = str(tmp_path_factory.mktemp("cliupd") / "entries.parquet")
    fixtures = "tests/data"
    argv = [
        "update", "--snapshot", snap,
        "--feed", f"OFAC-SDN={fixtures}/ofac.xml",
        "--feed", f"HMT-Sanctions={fixtures}/hmt.csv",
        "--feed", f"EU-Sanctions={fixtures}/eu.xml",
    ]
    assert main(argv) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["n_entries"] > 0
    assert all(s["changed"] for s in first["sources"].values())
    assert first["last_updated"] > 0  # parsers' publish epochs stamped

    assert main(argv) == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["n_entries"] == first["n_entries"]
    assert not any(s["changed"] for s in second["sources"].values())
    assert second["last_updated"] == first["last_updated"]


def test_sanction_file_env_precedence(spark, tmp_path_factory, monkeypatch):
    """t/02_env.t:43-50: explicit path beats $SANCTION_FILE beats bundled."""
    from perl_data_validate_sanctions_spark.sources.synth import synth_entries

    d = tmp_path_factory.mktemp("envprec")
    env_path = str(d / "env.parquet")
    explicit_path = str(d / "explicit.parquet")
    synth_entries(spark, n_extra=0).limit(1).write.parquet(env_path)
    synth_entries(spark, n_extra=0).limit(3).write.parquet(explicit_path)

    monkeypatch.setenv("SANCTION_FILE", env_path)
    v_env = SanctionsValidator(spark)
    assert v_env.sanction_path == env_path
    assert v_env.data().count() == 1

    v_explicit = SanctionsValidator(spark, sanction_path=explicit_path)
    assert v_explicit.data().count() == 3


def test_unstamped_update_preserves_epochs_and_content(spark, tmp_path_factory):
    """ADVICE r2: update_data WITHOUT updated_by_source (the pre-existing
    default API) must not reset persisted publish epochs — an identical
    unstamped re-fetch is a no-op (the reference's `//= 0` default
    applies to never-seen sources only, Sanctions.pm:59)."""
    path = str(tmp_path_factory.mktemp("unstamped") / "entries.parquet")
    base = synth_entries(spark, n_extra=5)
    base.write.mode("overwrite").parquet(path)

    v = SanctionsValidator(spark, sanction_path=path)
    v._last_load = 0
    v.update_data(base, updated_by_source={"EU-Sanctions": 1690000000})
    assert v.last_updated("EU-Sanctions") == 1690000000

    # identical re-fetch, NO stamps: nothing changed, epoch kept
    v._last_load = 0
    decisions = {
        r["source"]: r for r in v.update_data(base).collect()
    }
    assert not decisions["EU-Sanctions"]["changed"]
    assert v.last_updated("EU-Sanctions") == 1690000000

    # a fresh validator reading persisted state agrees
    v2 = SanctionsValidator(spark, sanction_path=path)
    assert v2.last_updated("EU-Sanctions") == 1690000000


def test_publish_retains_previous_version(spark, tmp_path_factory):
    """ADVICE r2: the symlink swap must NOT delete the version a
    concurrent reader may still be scanning — the newest versions are
    retained (deferred GC), and only older ones are collected."""
    import glob
    import os

    path = str(tmp_path_factory.mktemp("retain") / "entries.parquet")
    v = SanctionsValidator(spark, sanction_path=path)
    e = synth_entries(spark, n_extra=2)

    v._publish_parquet(e, path)
    first_target = os.path.realpath(path)
    # a reader resolves the current version NOW (simulating a mid-scan
    # plan holding the old realpath)...
    reader = spark.read.parquet(first_target)

    v._publish_parquet(e.limit(3), path)
    # ...and must still be able to execute after the swap
    assert os.path.isdir(first_target)
    assert reader.count() == e.count()
    assert os.path.realpath(path) != first_target

    # a third publish collects the oldest version but keeps the last 2
    v._publish_parquet(e.limit(1), path)
    versions = sorted(
        x for x in glob.glob(path + ".v*") if os.path.isdir(x)
    )
    assert len(versions) == 2
    assert not os.path.isdir(first_target)
    assert spark.read.parquet(path).count() == 1


def test_cli_validate_sink_dir(spark, tmp_path_factory, capsys):
    """`validate --sink-dir` writes the three parquet artifacts (the
    production shape: reports land in tables, not the driver — round-5
    CLI promotion of run_validation(sink_dir=...))."""
    import json
    import os

    from perl_data_validate_sanctions_spark.cli import main

    sink = str(tmp_path_factory.mktemp("clisink") / "report")
    argv = ["validate", "--synth-rows", "2000", "--sink-dir", sink]
    assert main(argv) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["sink_dir"] == sink
    for name in ("violations", "partition_verdicts", "check_summary"):
        path = os.path.join(sink, f"{name}.parquet")
        assert os.path.isdir(path), name
        assert spark.read.parquet(path).count() > 0, name
    # the JSON report agrees with the persisted tables
    verd = spark.read.parquet(
        os.path.join(sink, "partition_verdicts.parquet")
    )
    assert out["n_rows"] == sum(r["n_rows"] for r in verd.collect())


def test_cli_validate_extra_checks_psi(capsys):
    """`validate --extra-checks drift_psi_fmt` appends the opt-in PSI
    check to the default suite from the production CLI surface; its
    violations land in the rollup under drift_psi."""
    import json

    from perl_data_validate_sanctions_spark.cli import main

    argv = ["validate", "--synth-rows", "8000",
            "--extra-checks", "drift_psi_fmt"]
    assert main(argv) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "drift_psi" in out["violations_by_check"], out
    assert out["violations_by_check"]["drift_psi"] >= 1

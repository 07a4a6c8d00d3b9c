"""A repeat validation run, or screening call, reuses the generated code
of the first.

Spark caches compiled whole-stage and expression code keyed on the
generated source. A suite whose sources are stable across runs, in a
cache that holds them all, compiles almost nothing on a warm repeat;
per-run literals in generated code, or a cache smaller than the suite's
working set, make every run pay Janino (and the JIT) again.

The cache is global to the JVM, and earlier tests in the shared session
(the CLI's ``validate``, the ``validate_sink`` query) already compile
most of the suite's sources. So the runs go in a fresh process, on a
session built by ``get_spark`` exactly as the test fixture builds it."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RUNS = """
import json

from perl_data_validate_sanctions_spark.plans.runner import run_validation
from perl_data_validate_sanctions_spark.session import get_spark
from perl_data_validate_sanctions_spark.sources.synth import (
    PLACES, synth_entries, synth_images)

spark = get_spark(app_name="pdvs-codegen-reuse", cores=4, shuffle_partitions=4)
metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
images = synth_images(spark, 2_000, num_partitions=4).cache()
images.count()
entries = synth_entries(spark, n_extra=30)
ref_keys = spark.createDataFrame([(p,) for p in PLACES], "key string")


def compiled_by_one_run():
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    report = run_validation(images, entries=entries, ref_keys=ref_keys)
    report.partition_verdicts.collect()
    report.check_summary.collect()
    report.stats.collect()
    return metrics.METRIC_COMPILATION_TIME().getCount() - before


print(json.dumps([compiled_by_one_run() for _ in range(3)]))
spark.stop()
"""


_SCREENS = """
import json

from perl_data_validate_sanctions_spark.api import SanctionsValidator
from perl_data_validate_sanctions_spark.session import get_spark
from perl_data_validate_sanctions_spark.sources.synth import synth_entries

spark = get_spark(app_name="pdvs-codegen-reuse", cores=4, shuffle_partitions=4)
metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
v = SanctionsValidator(spark, entries=synth_entries(spark, n_extra=30))
probes = [
    ("Zaki", "Ahmad", "1999-01-05"),
    ("NEVEROV", "Sergei Ivanovich", "-253411200"),
    ("chris", "down", None),
    ("Ali Hassan", "Majid", "1970-01-01"),
    ("nobody", "anywhere", "1980-02-29"),
]


def compiled_by_one_call(first, last, dob):
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    v.get_sanctioned_info(first_name=first, last_name=last, date_of_birth=dob)
    return metrics.METRIC_COMPILATION_TIME().getCount() - before


print(json.dumps([compiled_by_one_call(*p) for p in probes]))
spark.stop()
"""


def _compiled_per_op(script: str) -> list[int]:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in [env.get("PYTHONPATH")] if p])
    proc = subprocess.run([sys.executable, "-c", script], cwd=REPO, env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_repeat_run_reuses_generated_code():
    warm, *repeats = _compiled_per_op(_RUNS)
    assert warm > 0
    # AQE numbers the codegen stages it re-plans in the order concurrent
    # stages finish, so a repeat may compile a handful of renumbered
    # copies (0-16 of ~176 seen); the fewer of two repeats is free of
    # that noise. Per-run literals in generated code, or a cache smaller
    # than the suite, recompile nearly everything on every repeat.
    assert min(repeats) <= warm // 10, (warm, repeats)


def test_repeat_screening_reuses_generated_code():
    """Each call's probe values are data in its local relation, never
    literals in generated code, so a call with new values compiles
    nothing the first call did not."""
    warm, *repeats = _compiled_per_op(_SCREENS)
    assert warm > 0
    assert min(repeats) <= 2, (warm, repeats)

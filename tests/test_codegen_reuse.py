"""A repeat validation run reuses the generated code of the first.

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


def test_repeat_run_reuses_generated_code():
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in [env.get("PYTHONPATH")] if p])
    proc = subprocess.run([sys.executable, "-c", _RUNS], cwd=REPO, env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    warm, *repeats = json.loads(proc.stdout.strip().splitlines()[-1])
    assert warm > 0
    # AQE numbers the codegen stages it re-plans in the order concurrent
    # stages finish, so a repeat may compile a handful of renumbered
    # copies (0-16 of ~176 seen); the fewer of two repeats is free of
    # that noise. Per-run literals in generated code, or a cache smaller
    # than the suite, recompile nearly everything on every repeat.
    assert min(repeats) <= warm // 10, (warm, repeats)

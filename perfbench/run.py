"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_suite --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints a summary to stderr and, as the
last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones (see perfbench/README.md). Everything the run writes stays under
``.perfbench_work/`` in the repository root, including a JSON artifact
with every sample, the environment record and, when traced, the spans."""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "perl_data_validate_sanctions_spark"
WORK = ROOT / ".perfbench_work"

# fixed JVM heap, well below the machine's RAM; local mode runs the
# executors inside the driver JVM, so this is the whole Spark heap
HEAP = "2g"


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def _confine_to_work_dir() -> dict[str, str]:
    """Point every scratch location of the driver, the JVM and the
    Python workers into the work directory."""
    tmp = WORK / "tmp"
    dirs = {"tmp": tmp, "local": WORK / "spark-local", "native": WORK / "native",
            "cache": WORK / "cache", "runs": WORK / "runs", "scratch": WORK / "scratch"}
    for d in dirs.values():
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(dirs["local"])
    os.environ["PDVS_NATIVE_CACHE"] = str(dirs["native"])
    # the JVM that spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers unpickle the benchmark's own batch functions by
    # module name, so they need the benchmark directory on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(HERE), str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {k: str(v) for k, v in dirs.items()}


def session_conf(dirs: dict[str, str]) -> dict[str, str]:
    return {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={dirs['tmp']}",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": os.path.join(dirs["scratch"], "warehouse"),
    }


class Context:
    def __init__(self, args, dirs, spark, cores):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.dirs = dirs
        self.cache_dir = dirs["cache"]
        self.spark = spark
        self.cores = cores
        self.heap = HEAP
        self.conf = session_conf(dirs)
        self.record: dict = {}


def stop_spark(spark) -> None:
    """Stop Spark, then wait until the JVM and every process it started
    have ended; kill what is still there after a grace period."""
    import signal

    from pyspark import SparkContext

    from procstat import tree_pids

    me = os.getpid()
    started = set(tree_pids(me)) - {me}
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)

    def alive() -> list[int]:
        out = []
        for pid in started:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                        out.append(pid)
            except OSError:
                pass
        return out

    deadline = time.monotonic() + 30
    while alive() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in alive():
        os.kill(pid, signal.SIGKILL)


def main(argv=None) -> int:
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE!r} not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    args = parse_args(argv)
    dirs = _confine_to_work_dir()

    import measure
    from perl_data_validate_sanctions_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=session_conf(dirs))
    session_start_s = time.perf_counter() - t0
    ctx = Context(args, dirs, spark, cores)
    try:
        result, artifact = measure.run(ctx, args.workload, T_START, session_start_s)
    finally:
        stop_spark(spark)
    out = Path(dirs["runs"]) / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    out.write_text(json.dumps(artifact, indent=1, default=str))
    for name, m in result["metrics"].items():
        print(f"{name:40s} {m['value']:14.4f} {m['unit']}", file=sys.stderr)
    print(f"artifact: {out}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""SparkSession builder tuned for this engine.

Defaults target local[N] testing but every knob is chosen for the
1000-executor / 100 TB case too: AQE on (runtime skew-join + partition
coalescing), Arrow on (all Python boundaries are Arrow batches), UTC
session time (the reference computes all epochs at UTC midnight —
/root/reference/lib/Data/Validate/Sanctions/Fetcher.pm:124-141), ANSI off
(invalid dates must yield NULL, not errors, matching the reference's
``eval { ... } // undef`` behavior).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "pdvs-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores``: int N -> ``local[N]``; "*" -> all; None -> env
    ``SPARK_GRAFT_CPUS`` or "*".

    The generated-code cache size is a static conf: it holds only for a
    session this function builds (the CLI, the tests, perfbench).
    A caller's own session, such as the driver contract's, keeps
    Spark's default of 100 entries. ``extra_conf`` overrides any default.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores in ("*",) else max(int(cores), 4)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Fewer, larger scan tasks: the validation suite runs ~10
        # concurrent jobs whose aggregate tasks keep every slot busy, so
        # per-job scan parallelism can be coarse — and the driver's
        # task-event/scheduling volume (the measured serial component of
        # suite wall: ~26 s at 4.8M rows with 128m splits, ~12 s at
        # 512m) scales with task count. Measured at 2.4M rows/32c:
        # 19.5 s (128m) → 16.0 s (512m), neutral at 600k rows.
        .config("spark.sql.files.maxPartitionBytes", "536870912")
        # FAIR lets the many small stages of light checks interleave
        # with the long mapInPandas stages instead of queuing behind
        # them (measured 16.0 → 14.4 s at 2.4M rows/32c).
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # invalid date components must produce NULL (reference returns
        # undef on unparseable dates), not raise:
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("PDVS_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark keeps compiled generated code in an LRU of this many
        # sources (default 100). One default-check suite needs ~190
        # distinct sources (AQE variants included) and the screening
        # probe ~24, so at 100 the suite's cyclic scan misses on every
        # lookup: each run recompiled ~170 sources in Janino and C2
        # re-JITted the reloaded classes (a 20k-row suite on 4 cores:
        # ~20 → ~15 CPU-s, 5.3 → 4.0 s per run). 1000 holds the measured
        # working set ~4.5× over; Metaspace stays ~167 MB either way,
        # since the thrash only unloaded and reloaded the same classes.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: StructType | str
) -> DataFrame:
    """A frame over rows the driver holds, planned as a ``LocalRelation``.

    ``createDataFrame(list, schema)`` plans a ``LogicalRDD`` over a
    PythonRDD: every scan of it starts Python workers on
    ``defaultParallelism`` tasks to unpickle the rows (a one-row
    screening probe: ~1.3 s of executor run time for ~0.14 s of CPU). A
    ``pyarrow.Table`` reaches the JVM as Arrow batches and plans as a
    ``LocalRelation`` — one ``LocalTableScan`` task, or folded away by
    the optimizer — whatever ``spark.sql.execution.arrow.pyspark.enabled``
    says. The rows stay data in the relation, never literals in
    generated code. A null in a non-nullable field raises, as on the
    list path; a value of the wrong type raises too, where the list path
    would ``str()`` it into a string field."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows, strict=True)) or [()] * len(arrow_schema)
    arrays = [
        pa.array(c, type=f.type)
        for c, f in zip(columns, arrow_schema, strict=True)
    ]
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint``-backed frame.

    ``DataFrame.unpersist()`` leaves them in place: they belong to the
    checkpointed RDD under the plan, not to the cache manager. The
    frame cannot be read afterwards."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)

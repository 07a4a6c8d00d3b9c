"""Checkpointed lineage + resume.

Generalizes the reference's lineage callback — per source
``(id, cleaned_url, date, sha256, count)``
(/root/reference/lib/Data/Validate/Sanctions/Fetcher.pm:853-854) — and
its Redis bookkeeping (``updated``/``verified``/``error`` per source,
Redis.pm:108-123) to a per-partition lineage table:

    (run_id, partition_id, source, content_hash, n_rows, n_pass,
     n_fail, updated, verified, error)

Resume contract (north_rule "resumable from checkpoint with
per-partition lineage + metrics"): a rerun of the same run_id skips
every partition that already has a lineage row — the anti-join analog
of the reference's "Source X is not changed" path
(Sanctions.pm:73-81). Writes are idempotent per (run_id, partition_id):
each attempt lands in its own parquet file, readers keep the
latest-``verified`` row — at-least-once appends, exactly-once reads
(the tmp-file+rename atomic-publish analog of Sanctions.pm:384-395;
on Iceberg this is a snapshot commit)."""

from __future__ import annotations

import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import canonical_row_hash, content_hash_agg_scalable
from ..schema import LINEAGE_SCHEMA
from ..session import local_frame


class CheckpointStore:
    def __init__(self, path: str):
        self.path = path.rstrip("/")
        self._lineage_path = f"{self.path}/lineage"

    def read(self, spark: SparkSession) -> DataFrame:
        """Deduped lineage: latest verified row per (run_id, partition_id)."""
        try:
            raw = spark.read.schema(LINEAGE_SCHEMA).parquet(self._lineage_path)
        except AnalysisException as e:
            # only a missing path means "no checkpoint yet"; any other
            # failure (unknown filesystem, permissions, unmounted store)
            # must not silently restart the run from nothing
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return local_frame(spark, [], LINEAGE_SCHEMA)
        w = Window.partitionBy("run_id", "partition_id").orderBy(
            F.col("verified").desc()
        )
        return (
            raw.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def completed_partitions(self, spark: SparkSession, run_id: str) -> list[int]:
        rows = (
            self.read(spark)
            .filter((F.col("run_id") == run_id) & F.col("error").isNull())
            .select("partition_id")
            .collect()
        )
        return sorted(r["partition_id"] for r in rows)

    def append(self, lineage: DataFrame) -> None:
        lineage.select([f.name for f in LINEAGE_SCHEMA.fields]).write.mode(
            "append"
        ).parquet(self._lineage_path)


def partition_lineage(
    images: DataFrame,
    partition_verdicts: DataFrame,
    partition_expr: Column,
    run_id: str,
    source: str = "images",
    now: int | None = None,
) -> DataFrame:
    """One lineage row per partition: verdict counts + canonical content
    hash (sha256 over the partition's row hashes — Fetcher.pm:966-979
    semantics, order-insensitive via the O(1)-state commutative
    aggregate so a partition of billions of rows never collects;
    `bytes` excluded so lineage never scans payloads)."""
    now = int(now if now is not None else time.time())
    hashes = (
        images.select(
            partition_expr.cast("int").alias("partition_id"),
            canonical_row_hash(
                "image_id", "w", "h", "fmt", "caption", "phash"
            ).alias("__rh"),
        )
        .groupBy("partition_id")
        .agg(content_hash_agg_scalable("__rh").alias("content_hash"))
    )
    return (
        partition_verdicts.join(hashes, "partition_id", "left")
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("partition_id"),
            F.lit(source).alias("source"),
            F.col("content_hash"),
            F.col("n_rows").cast("long"),
            F.col("n_pass_rows").cast("long").alias("n_pass"),
            F.col("n_fail_rows").cast("long").alias("n_fail"),
            F.lit(now).cast("long").alias("updated"),
            F.lit(now).cast("long").alias("verified"),
            F.lit(None).cast("string").alias("error"),
        )
    )


def run_with_resume(
    images: DataFrame,
    store: CheckpointStore,
    run_id: str | None = None,
    partition_expr: Column | None = None,
    **run_kwargs,
):
    """Validate with checkpointed resume: partitions already completed
    for this run_id are anti-joined away before any check runs, so an
    interrupted run recomputes nothing it finished.

    Returns (run_id, lineage_df_for_run, report_or_None). report is None
    when every partition was already complete."""
    from ..plans.runner import run_validation
    from ..sources.synth import logical_partition

    spark = images.sparkSession
    run_id = run_id or uuid.uuid4().hex[:12]
    part = (
        partition_expr
        if partition_expr is not None
        else logical_partition("image_id")
    )

    done = store.completed_partitions(spark, run_id)
    remaining = images
    if done:
        remaining = images.filter(~part.isin(done))

    report = None
    if remaining.limit(1).count() > 0:
        report = run_validation(remaining, partition_expr=part, **run_kwargs)
        lineage = partition_lineage(
            remaining, report.partition_verdicts, part, run_id
        )
        store.append(lineage)

    full = store.read(spark).filter(F.col("run_id") == run_id)
    return run_id, full, report

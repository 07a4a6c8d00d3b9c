"""Structured Streaming front-end for the validation suite.

The reference has no true streaming — its closest analog is the
periodic-refresh loop with publish-timestamp change detection
(update_data, /root/reference/lib/Data/Validate/Sanctions.pm:52-90;
throttle/mtime gates at 29,331-338). This module is the engine's
streaming generalization: new image files land in a directory, the
file-source checkpoint gives exactly-once pickup (the mtime/updated
gate, done right), and every micro-batch runs the same check suite via
``foreachBatch``, appending violations + per-partition lineage.

Also provides a windowed drift monitor (watermark + tumbling window
over an event-time column) for continuous chi-square-style mix
monitoring — the "late data" capability the reference never had.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import IMAGES_SCHEMA


def validate_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    violations_out: str,
    entries: DataFrame | None = None,
    ref_keys: DataFrame | None = None,
    checks: tuple[str, ...] = (
        "schema",
        "unique_image_id",
        "unique_phash",
        "integrity",
        "sanctioned",
    ),
    available_now: bool = True,
):
    """Validate an ever-growing directory of image parquet files.

    Each micro-batch is validated independently (uniqueness is
    within-batch; cross-batch uniqueness belongs to the batch runner or
    a stateful dedup). Returns the StreamingQuery; with
    ``available_now`` the caller can ``awaitTermination()`` for a
    drain-and-stop run (the cron-refresh analog).
    """
    from ..plans.runner import run_validation

    stream = spark.readStream.schema(IMAGES_SCHEMA).parquet(input_dir)

    def per_batch(batch_df: DataFrame, epoch_id: int) -> None:
        report = run_validation(
            batch_df,
            entries=entries,
            ref_keys=ref_keys,
            checks=checks,
            with_stats=False,
        )
        (
            report.violations.withColumn("epoch_id", F.lit(epoch_id))
            .write.mode("append")
            .parquet(violations_out)
        )
        report.release()

    writer = (
        stream.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_type_counts(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming windowed mix monitor: counts per (window, type) with a
    watermark for late data. Works on both streaming and batch frames
    (batch ignores the watermark), so tests can assert parity."""
    # TIMESTAMP_NTZ columns don't support watermarks; cast (UTC session
    # time zone makes this a semantic no-op)
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(type_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col(type_col).alias("value"),
            F.col("n"),
        )
    )

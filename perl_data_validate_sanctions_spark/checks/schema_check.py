"""Schema/domain conformance: the engine analog of the reference's fixed
closed entry vocabulary (every parser converges on one schema,
Fetcher.pm:199-256) and its publish-date sanity gate ``updated > 1``
(Fetcher.pm:847).

Domain rules are one narrow Column-predicate pass."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import VIOLATION_SCHEMA

ALLOWED_FMTS = ("png", "jpeg", "webp")
MAX_DIM = 1 << 16


def schema_violations(
    df: DataFrame, partition_expr: Column | None = None
) -> DataFrame:
    """Domain-rule violations as VIOLATION_SCHEMA rows, single pass."""
    part = (
        partition_expr if partition_expr is not None else F.lit(None).cast("int")
    )

    rules: list[tuple[str, Column, str]] = [
        ("image_id", ~F.col("image_id").rlike(r"^img-\d{12}$"),
         "image_id not img-%012d"),
        ("w", F.col("w").isNull() | (F.col("w") <= 0) | (F.col("w") >= MAX_DIM),
         "w out of (0, 65536)"),
        ("h", F.col("h").isNull() | (F.col("h") <= 0) | (F.col("h") >= MAX_DIM),
         "h out of (0, 65536)"),
        ("fmt", F.col("fmt").isNull() | ~F.col("fmt").isin(*ALLOWED_FMTS),
         f"fmt not in {ALLOWED_FMTS}"),
        ("phash", F.col("phash").isNull(), "phash null"),
        ("bytes", F.col("bytes").isNull(), "bytes null"),
    ]
    # one pass: build an array of struct(column, detail) for failed rules,
    # explode non-empty — single scan, no unions
    failures = F.array(
        *[
            F.when(cond, F.struct(F.lit(col).alias("column"),
                                  F.lit(detail).alias("detail")))
            for col, cond, detail in rules
        ]
    )
    compact = F.filter(failures, lambda x: x.isNotNull())
    out = (
        df.select(
            part.cast("int").alias("partition_id"),
            "image_id",
            F.explode(compact).alias("f"),
        )
        .select(
            F.lit("schema").alias("check"),
            "partition_id",
            F.col("image_id").cast("string").alias("image_id"),
            F.col("f.column").alias("column"),
            F.col("f.detail").alias("detail"),
        )
    )
    return out.to(VIOLATION_SCHEMA)

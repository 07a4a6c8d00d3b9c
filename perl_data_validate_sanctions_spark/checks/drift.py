"""Distribution-drift detection per partition: KS for numeric columns,
chi-square and PSI for categoricals, each partition against the
rest-of-table holdout (global minus own counts — unbiased). The
statistics run in ``mapInPandas`` over Arrow batches (BASELINE.json
north_star), in two phases:

  phase 1 (native, map-side combined): groupBy(partition, value).count()
           — at 10^12 rows this reduces each partition to its value
           histogram (≤ a few thousand rows per partition for pixel
           dimensions / formats);
  phase 2 (Arrow, ONE Python task): ``repartition(1).mapInPandas`` pivots
           each column of the histogram to a dense partition × value
           count matrix (an absent value is a zero cell) and computes
           every requested statistic from it. The holdout is the column
           sum minus the row — arithmetic, no join.

So Python sees only histograms, never rows. The bound: the histogram
must fit one Python worker — partitions × distinct values per column,
small for the low-cardinality columns drift applies to. Bin a
high-cardinality column first."""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._stat_math import chi2_from_counts, ks_two_sample_from_counts

_RESULT_SCHEMA = (
    "partition_id int, column string, kind string, statistic double, "
    "p_value double, n long, drifted boolean"
)

# PSI's standard industry decision bands: < 0.1 stable, 0.1-0.25
# moderate shift, > 0.25 major shift. The default flags at 0.25.
PSI_THRESHOLD = 0.25
# proportion floor for empty cells (the usual PSI smoothing — keeps
# ln() finite when a value is absent from one side of the comparison)
_PSI_EPS = 1e-6


def drift_check(
    df: DataFrame,
    value_col: str,
    partition_expr: Column,
    kind: str = "ks",
    alpha: float = 1e-6,
    psi_threshold: float = PSI_THRESHOLD,
) -> DataFrame:
    """Per-partition drift verdicts: (partition_id, column, kind,
    statistic, p_value, n, drifted).

    ``alpha`` defaults tight (1e-6): with millions of rows per partition
    even trivial wobbles are 'significant' at 0.05; drift detection at
    scale wants effect-size-large deviations. ``kind="psi"`` flags on
    the statistic itself instead (``psi_threshold``, default the
    industry major-shift band 0.25) — PSI is a divergence, not a test.
    """
    hist = (
        df.select(partition_expr.cast("int").alias("partition_id"), value_col)
        .filter(F.col(value_col).isNotNull())
        .groupBy("partition_id", value_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return drift_from_hist(hist, [(value_col, kind)], alpha=alpha,
                           psi_threshold=psi_threshold)


def _statistics(own: np.ndarray, values: pd.Index, kind: str, alpha: float,
                psi_threshold: float) -> tuple[np.ndarray, ...]:
    """(statistic, p_value, drifted) per row of the partition × value
    count matrix ``own``, each row against the rest of the table. An
    empty holdout is all zeros, so dividing it by max(total, 1) is exact.

    PSI = Σ (p_own − p_rest)·ln(p_own / p_rest) over the value bins,
    zero-mass cells floored at ``_PSI_EPS`` (the standard smoothing); a
    single-partition table (empty holdout) floors every rest-proportion,
    yielding a large PSI — the same "this holdout is meaningless" signal
    chi2's penalty term gives. Its p_value is NULL: PSI is a divergence
    with decision bands, not a test statistic."""
    rest = own.sum(axis=0) - own
    if kind == "psi":
        p_own = np.maximum(own / own.sum(axis=1, keepdims=True), _PSI_EPS)
        rest_tot = np.maximum(rest.sum(axis=1, keepdims=True), 1)
        p_rest = np.maximum(rest / rest_tot, _PSI_EPS)
        psi = ((p_own - p_rest) * np.log(p_own / p_rest)).sum(axis=1)
        return psi, np.full(len(psi), np.nan), psi > psi_threshold
    if kind == "ks":
        x = pd.to_numeric(values).to_numpy(dtype=np.float64)
        sp = [ks_two_sample_from_counts(x, o, r) for o, r in zip(own, rest)]
    else:
        sp = [chi2_from_counts(o, r / max(r.sum(), 1))[:2] for o, r in zip(own, rest)]
    stat, p = np.array(sp, dtype=np.float64).T
    return stat, p, p < alpha


def drift_from_hist(
    hist: DataFrame,
    specs: Iterable[tuple[str, str]],
    alpha: float = 1e-6,
    psi_threshold: float = PSI_THRESHOLD,
) -> DataFrame:
    """Drift verdicts for every ``(column, kind)`` spec from one
    (partition_id, <columns>, n) histogram, all computed in one Python
    task — lets the runner feed every drift check from one cube scan.

    A partition gets a row for a column only if it holds a non-null
    value of it. ``repartition(1)``, not ``coalesce(1)``: a narrow
    coalesce would pull the histogram's own aggregation into the single
    task too."""
    specs = list(specs)
    for _, kind in specs:
        if kind not in ("ks", "chi2", "psi"):
            raise ValueError(kind)

    def verdicts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(batches, ignore_index=True)
        for col, kind in specs:
            # dense partition × value counts, sorted both ways; null
            # values (and partitions) drop out of the groupby
            grid = pdf.groupby(["partition_id", col])["n"].sum().unstack(fill_value=0)
            if grid.empty:
                continue
            own = grid.to_numpy(dtype=np.float64)
            stat, p, drifted = _statistics(own, grid.columns, kind, alpha,
                                           psi_threshold)
            yield pd.DataFrame({
                "partition_id": grid.index.to_numpy(dtype=np.int32),
                "column": col, "kind": kind, "statistic": stat,
                "p_value": p, "n": own.sum(axis=1).astype(np.int64),
                "drifted": drifted,
            })

    return hist.repartition(1).mapInPandas(verdicts, _RESULT_SCHEMA)


def drift_violations(results: DataFrame) -> DataFrame:
    """Project drift results to VIOLATION_SCHEMA (one row per drifted
    partition — violations are partition-granular for this check)."""
    from ..schema import VIOLATION_SCHEMA

    return (
        results.filter(F.col("drifted"))
        .select(
            F.concat(F.lit("drift_"), F.col("kind")).alias("check"),
            F.col("partition_id"),
            F.lit(None).cast("string").alias("image_id"),
            F.col("column"),
            F.when(
                F.col("kind") == "psi",
                F.format_string("psi=%.4f n=%d", F.col("statistic"),
                                F.col("n")),
            ).otherwise(
                F.format_string(
                    "stat=%.4f p=%.3g n=%d", F.col("statistic"),
                    F.col("p_value"), F.col("n"),
                )
            ).alias("detail"),
        )
        .to(VIOLATION_SCHEMA)
    )


# ----------------------------------------------------- embedding drift ------

EMBEDDING_COSINE_THRESHOLD = 0.5


def embedding_drift_check(
    df: DataFrame,
    vec_col: str,
    partition_expr,
    threshold: float = EMBEDDING_COSINE_THRESHOLD,
) -> DataFrame:
    """Distribution drift for HIGH-DIMENSIONAL columns: per partition,
    the cosine similarity between the partition's mean embedding and
    the rest-of-table mean (the same unbiased holdout as the scalar
    drift checks). A partition whose centroid points away from the
    corpus centroid (cosine < threshold) is drifted — the standard
    cheap screen for "this shard came from a different embedding model
    / corpus slice".

    Scale shape (the IVF mini-kmeans trick, similarity.py:232):
    posexplode to (partition, dim, component) then TWO HashAggregates —
    the shuffle carries |partitions| × dim rows, never embeddings; all
    math is JVM-native Columns (components cast to double so the
    oracle's accumulation matches bit-for-bit after rounding). p_value
    is NULL — like PSI, a divergence with a band, not a test."""
    base = df.select(
        partition_expr.cast("int").alias("partition_id"),
        F.posexplode(F.col(vec_col)).alias("d", "x"),
    ).select("partition_id", "d", F.col("x").cast("double").alias("x"))
    per = base.groupBy("partition_id", "d").agg(
        F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n")
    )
    glob = per.groupBy("d").agg(
        F.sum("sx").alias("gx"), F.sum("n").alias("gn")
    )
    j = per.join(F.broadcast(glob), "d")
    mo = F.col("sx") / F.col("n")
    rest_n = F.col("gn") - F.col("n")
    mr = F.when(rest_n > 0,
                (F.col("gx") - F.col("sx")) / rest_n).otherwise(F.lit(0.0))
    cells = j.select(
        "partition_id",
        (mo * mr).alias("__dot"),
        (mo * mo).alias("__no"),
        (mr * mr).alias("__nr"),
        F.col("n").alias("__n"),
    )
    denom = F.sqrt(F.col("no_sum")) * F.sqrt(F.col("nr_sum"))
    return (
        cells.groupBy("partition_id")
        .agg(
            F.sum("__dot").alias("dot_sum"),
            F.sum("__no").alias("no_sum"),
            F.sum("__nr").alias("nr_sum"),
            F.max("__n").cast("long").alias("n"),
        )
        .select(
            "partition_id",
            F.lit(vec_col).alias("column"),
            F.lit("embedding_cosine").alias("kind"),
            F.when(denom > 0, F.col("dot_sum") / denom)
            .otherwise(F.lit(0.0)).alias("statistic"),
            F.lit(None).cast("double").alias("p_value"),
            "n",
            (
                F.when(denom > 0, F.col("dot_sum") / denom)
                .otherwise(F.lit(0.0)) < F.lit(float(threshold))
            ).alias("drifted"),
        )
    )

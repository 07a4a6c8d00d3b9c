"""Capture formatted physical plans of the hot paths into
plans/PLANS.md — the evidence that filters push down, `bytes` is
pruned, joins broadcast, and aggregations are partial-first."""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from perl_data_validate_sanctions_spark.checks.stats import column_stats  # noqa: E402
from perl_data_validate_sanctions_spark.checks.unique import (  # noqa: E402
    duplicate_keys,
)
from perl_data_validate_sanctions_spark.operators.matcher import (  # noqa: E402
    match_captions,
)
from perl_data_validate_sanctions_spark.session import get_spark  # noqa: E402
from perl_data_validate_sanctions_spark.sources.synth import (  # noqa: E402
    synth_entries,
    synth_images,
)

OUT = str(ROOT / "plans" / "PLANS.md")


def fmt(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def main() -> None:
    spark = get_spark(cores=4, shuffle_partitions=4)
    path = "/tmp/pdvs_plans_imgs"
    if not os.path.isdir(path):
        synth_images(spark, 20000, num_partitions=4).write.mode(
            "overwrite"
        ).parquet(path)
    images = spark.read.parquet(path)
    entries = synth_entries(spark, n_extra=50)

    # ANN top-k: partial per-partition top-k aggregate BEFORE the
    # exchange (no per-query global window sort), and the IVF index
    # scan pruned by an ivf_cluster partition filter
    from perl_data_validate_sanctions_spark.operators.similarity import (
        brute_force_topk,
        ivf_ann_topk_indexed,
        train_ivf_centroids,
        write_ivf_index,
    )

    emb = spark.createDataFrame(
        [
            (i, [float((i * 7 + j * 3) % 13 - 6) for j in range(16)])
            for i in range(200)
        ],
        "vec_id long, embedding array<float>",
    )
    queries = emb.limit(2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    ivf_path = "/tmp/pdvs_plans_ivf"
    cents = train_ivf_centroids(emb, n_centroids=4, dim=16, iterations=1)
    write_ivf_index(emb, cents, ivf_path)

    # full bundled dimension (15,664 entries): the token index must
    # still broadcast at real dimension size
    full_dim_sections = {}
    bundled_yml = "/root/reference/share/sanctions.yml"
    if os.path.exists(bundled_yml):
        from perl_data_validate_sanctions_spark.sources.yaml_io import (
            load_yaml_dataset,
        )

        full_entries, _ = load_yaml_dataset(spark, bundled_yml)
        full_dim_sections[
            "match_captions vs full bundled dimension "
            "(15,664 entries — join must still broadcast)"
        ] = match_captions(images, full_entries)

    sections = {
        "match_captions (J1-J2 hot path)": match_captions(images, entries),
        **full_dim_sections,
        "duplicate_keys(phash) (salted two-phase)": duplicate_keys(
            images, "phash"
        ),
        "column_stats (one-pass wide agg)": column_stats(images),
        "filter pushdown sample (w > 800, two columns)": images.select(
            "image_id", "w"
        ).filter(F.col("w") > 800),
        "brute_force_topk (partial top-k agg, no per-query window)":
            brute_force_topk(emb, queries, k=5),
        "ivf_ann_topk_indexed (PartitionFilters prune inverted lists)":
            ivf_ann_topk_indexed(spark, ivf_path, queries, cents,
                                 k=5, n_probe=2),
        "extract_image_features (ReadSchema pruned to id+bytes, one "
        "narrow mapInPandas stage — real PNG/JPEG and stub rows alike)":
            __import__(
                "perl_data_validate_sanctions_spark.operators.multimodal",
                fromlist=["extract_image_features"],
            ).extract_image_features(images),
        "extract_audio_features (same shape: id+bytes scan, zero "
        "shuffle, features only leave the worker)":
            __import__(
                "perl_data_validate_sanctions_spark.operators.multimodal",
                fromlist=["extract_audio_features"],
            ).extract_audio_features(
                images.select(F.col("image_id").alias("audio_id"), "bytes")
            ),
        "psi drift (one partial-first histogram aggregate, then ONE "
        "repartition(1) mapInPandas task computes the statistic — the "
        "same pass KS and chi-square use; no join builds the holdout)":
            __import__(
                "perl_data_validate_sanctions_spark.checks.drift",
                fromlist=["drift_check"],
            ).drift_check(
                images, "fmt",
                F.pmod(F.xxhash64("image_id"), F.lit(16)), kind="psi",
            ),
        "phash_near_dup_pairs (ReadSchema pruned to id+bytes, "
        "pigeonhole block explode carries only (id, blk, val), "
        "hamming verify joins signatures back per candidate)":
            __import__(
                "perl_data_validate_sanctions_spark.operators.multimodal",
                fromlist=["phash_near_dup_pairs"],
            ).phash_near_dup_pairs(images, max_hamming=6),
    }

    # near_dup_groups: the repeated unit is ONE min-label-propagation
    # round — dump that round's plan (the operator itself returns a
    # post-checkpoint scan, which hides it). What to look for: the
    # only Exchange is the groupBy(id) hash partitioning, its rows
    # carry just (id, lbl), and the aggregate is partial-first.
    from perl_data_validate_sanctions_spark.operators.dedup import (
        _propagation_round,
    )

    pair_df = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a int, id_b int"
    )
    e = pair_df.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    edges = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.groupBy("a").agg(F.min("b").alias("nmin"))
        .select(F.col("a").alias("id"),
                F.least(F.col("a"), F.col("nmin")).alias("lbl"))
        .localCheckpoint(eager=True)
    )
    sections[
        "near_dup_groups round (one label-propagation round — the "
        "operator's own _propagation_round: edges join labels shuffled "
        "on the id key — SortMergeJoin is the correct join here, BOTH "
        "sides are fact-sized at scale — then one partial-first "
        "groupBy(id); every shuffle row is just (a, b) or (id, lbl); "
        "scans are the per-round localCheckpoints)"
    ] = _propagation_round(edges, labels)
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        f.write(
            "# Physical plans of the hot paths (generated by "
            "scripts/dump_plans.py)\n\n"
            "What to look for: `ReadSchema` never includes `bytes` "
            "outside the integrity check; the token-index join is a "
            "`BroadcastHashJoin`; aggregates are partial (map-side) "
            "before their single `Exchange`; filters appear in "
            "`PushedFilters`.\n"
        )
        for title, df in sections.items():
            f.write(f"\n## {title}\n\n```\n{fmt(df)}\n```\n")
    print("wrote", OUT)


if __name__ == "__main__":
    main()

"""ANN quality report: recall@k of the approximate similarity paths
(IVF, SRP-LSH) against the brute-force exact top-k on the same
embeddings — the first number a real user asks of an ANN index.  The
oracle gate already proves the approximate plans compute their DEFINED
approximation deterministically; this measures how good the
approximation is, per index parameter.

    python tools/ann_recall.py [sf_dir]      # default /root/testdata/sf0.1

Prints one row per (index, parameter) with mean/min recall@10 over the
query set, plus the exact-candidate volume the parameter implies.
Results are recorded in SCALE.md §"ANN recall"; the regression floor
lives in tests/test_similarity.py::test_ivf_lsh_recall_floor_testdata.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_QUERIES = 50
K = 10
N_CENTROIDS = 16


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from btc_usdt_etl_pipeline_spark.operators.similarity import (
        brute_force_top_k,
        ivf_top_k,
        lsh_top_k,
        recall_at_k,
    )

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.showConsoleProgress", "false")
        .appName("ann_recall")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    e = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        .cache()
    )
    n = e.count()
    queries = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )

    exact = brute_force_top_k(e, queries, k=K).cache()
    exact.count()
    print(f"sf_dir={sf_dir} corpus={n} queries={N_QUERIES} k={K}")

    def report(tag: str, approx_df) -> None:
        r = recall_at_k(approx_df, exact)
        row = r.agg(
            F.avg("recall").alias("mean"), F.min("recall").alias("worst")
        ).first()
        print(f"{tag}: mean_recall@{K}={row['mean']:.3f} worst={row['worst']:.3f}")

    for nprobe in (1, 2, 4, 8):
        report(
            f"ivf cells={N_CENTROIDS} nprobe={nprobe} "
            f"(scan≈{nprobe}/{N_CENTROIDS} of corpus)",
            ivf_top_k(e, queries, centroids, k=K, nprobe=nprobe),
        )
    for tables in (1, 2, 4, 8):
        report(
            f"lsh planes=6 tables={tables}",
            lsh_top_k(e, queries, k=K, planes=6, tables=tables),
        )
    for planes in (4, 8):
        report(
            f"lsh planes={planes} tables=4",
            lsh_top_k(e, queries, k=K, planes=planes, tables=4),
        )
    for planes, tables, probes in (
        (6, 2, 6),
        (7, 4, 7),
        (7, 4, 10),
        (6, 4, 6),
    ):
        report(
            f"lsh multiprobe planes={planes} tables={tables} "
            f"probes={probes}",
            lsh_top_k(
                e, queries, k=K, planes=planes, tables=tables,
                probes=probes,
            ),
        )


if __name__ == "__main__":
    main()

"""Cache hygiene: operators must leave no persisted state behind.

Round-2/3 carried ask: minhash, ngram-jaccard, the bucket-offset global
index, and the unkeyed as-of join used to ``persist()`` intermediates that
the returned lazy plan referenced forever — nothing could ever unpersist
them, so cached blocks accumulated across queries in a long-lived session
(the bench loop had to ``clearCache()`` between queries).  The operators
now recompute column-pruned subtrees instead of caching; these tests pin
that contract: run the operators back-to-back, consume the results, and
assert the block manager and catalog are empty.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from btc_usdt_etl_pipeline_spark.operators.asof import asof_join  # noqa: E402
from btc_usdt_etl_pipeline_spark.operators.dedup import (  # noqa: E402
    minhash_near_dedup,
    ngram_jaccard_pairs,
)
from btc_usdt_etl_pipeline_spark.operators.resample import (  # noqa: E402
    resample_by_count,
)
from tests.conftest import plan_mentions  # noqa: E402


def _persistent_rdd_count(spark) -> int:
    # Collect Python garbage first: localCheckpoint blocks from OTHER
    # tests are released when their DataFrames are GC'd, and a release
    # landing between the base and final measurements would skew the
    # delta (observed in-suite: 14 -> 4 with zero operator leaks).
    import gc

    gc.collect()
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _docs(spark, n=60):
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    rows = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(12)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_back_to_back_operators_leave_no_cached_state(spark, scale_paths):
    spark.catalog.clearCache()
    base_rdds = _persistent_rdd_count(spark)

    docs = _docs(spark)
    # q30-shaped: MinHash near-dedup, fully consumed
    minhash_near_dedup(num_hashes=16, bands=4, jaccard_threshold=0.5)(
        docs
    ).collect()
    # q38-shaped: n-gram Jaccard
    ngram_jaccard_pairs(threshold=0.5)(docs).collect()
    # q22-shaped: bucket-offset global index resample
    klines = spark.range(8000).select(
        F.col("id").alias("open_time"),
        (F.col("id") % 7).cast("double").alias("open"),
        (F.col("id") % 11).cast("double").alias("high"),
        (F.col("id") % 5).cast("double").alias("low"),
        (F.col("id") % 3).cast("double").alias("close"),
        F.lit(1).alias("number_of_trades"),
    )
    with scale_paths():
        bars = resample_by_count(n=1000)(klines)
    assert plan_mentions(bars, "_offset")
    bars.collect()
    # unkeyed as-of join (bucketed carry path)
    trades = spark.range(500).select(
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
        F.col("id").cast("double").alias("px"),
    )
    quotes = spark.range(100).select(
        F.timestamp_seconds(F.col("id") * 300).alias("qts"),
        F.col("id").cast("double").alias("bid"),
    )
    asof_join(
        trades, quotes, time_col="ts", right_time_col="qts",
        right_value_cols=["bid"],
    ).collect()

    # No NEW persisted state from the operators under test.  (<=, not
    # ==: absolute equality is order-dependent in the full suite —
    # other tests legitimately localCheckpoint, e.g. the
    # star-contraction rounds, and those blocks are released whenever
    # their DataFrames get GC'd, which can happen mid-test.)
    assert _persistent_rdd_count(spark) <= base_rdds
    assert not [
        t for t in spark.catalog.listTables() if spark.catalog.isCached(t.name)
    ]

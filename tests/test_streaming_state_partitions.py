"""State partitions of the availableNow drains.

``run_available_now`` starts every query with one state partition per
core (``defaultParallelism``) and restores the session's
``spark.sql.shuffle.partitions`` afterwards; a resumed checkpoint keeps
the count it was created with.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.streaming.ohlcv import run_available_now
from tests.conftest import job_description

KEY = "spark.sql.shuffle.partitions"
SCHEMA = "event_id long, ts_ms long, value double"
BASE_MS = 1_700_000_000_000


@pytest.fixture
def seven_partitions(spark):
    """Session at 7 shuffle partitions, a count no core count here has."""
    prev = spark.conf.get(KEY)
    spark.conf.set(KEY, "7")
    assert spark.sparkContext.defaultParallelism != 7
    try:
        yield
    finally:
        spark.conf.set(KEY, prev)


def _write(spark, d, name, ids):
    rows = [(i, BASE_MS + i * 3_600_000, float(i % 5)) for i in ids]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
        f"{d}/in/{name}"
    )


def _windowed(spark, d):
    """Watermarked 6-hour window aggregate over the input directory."""
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/in/*")
        .withColumn("ts", F.timestamp_millis("ts_ms"))
        .withWatermark("ts", "10 days")
        .groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .select(F.col("w.start").alias("window_start"), "n", "s")
    )


def _state_partition_count(query):
    counts = {
        op["numShufflePartitions"]
        for p in query.recentProgress
        for op in p["stateOperators"]
    }
    assert len(counts) == 1, counts
    return counts.pop()


def _rows(spark, table):
    return sorted(map(tuple, spark.table(table).collect()))


def test_drain_uses_one_state_partition_per_core(spark, seven_partitions):
    with tempfile.TemporaryDirectory() as d:
        _write(spark, d, "f1.parquet", range(0, 20))
        _write(spark, d, "f2.parquet", range(20, 40))
        q = run_available_now(_windowed(spark, d), "t_sp_cores", f"{d}/ck")
        assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 2
        cores = spark.sparkContext.defaultParallelism
        assert _state_partition_count(q) == cores
        assert spark.conf.get(KEY) == "7"
        assert sum(r[1] for r in _rows(spark, "t_sp_cores")) == 40


def test_conf_restored_when_start_raises(spark, seven_partitions):
    with tempfile.TemporaryDirectory() as d:
        _write(spark, d, "f1.parquet", range(0, 5))
        plain = spark.readStream.schema(SCHEMA).parquet(f"{d}/in/*")
        # Complete mode needs an aggregate: start() fails analysis.
        with pytest.raises(AnalysisException):
            run_available_now(plain, "t_sp_raise", f"{d}/ck")
        assert spark.conf.get(KEY) == "7"


def test_resumed_checkpoint_keeps_its_partition_count(
    spark, seven_partitions
):
    with tempfile.TemporaryDirectory() as d:
        _write(spark, d, "f1.parquet", range(0, 20))
        first = (
            _windowed(spark, d).writeStream.trigger(availableNow=True)
            .option("checkpointLocation", f"{d}/ck")
            .outputMode("complete")
            .format("memory")
            .queryName("t_sp_plain")
            .start()
        )
        first.awaitTermination()
        assert _state_partition_count(first) == 7

        _write(spark, d, "f2.parquet", range(20, 40))
        resumed = run_available_now(
            _windowed(spark, d), "t_sp_resumed", f"{d}/ck"
        )
        assert _state_partition_count(resumed) == 7
        fresh = run_available_now(
            _windowed(spark, d), "t_sp_fresh", f"{d}/ck_fresh"
        )
        assert _state_partition_count(fresh) == (
            spark.sparkContext.defaultParallelism
        )
        assert _rows(spark, "t_sp_resumed") == _rows(spark, "t_sp_fresh")
        assert sum(r[1] for r in _rows(spark, "t_sp_fresh")) == 40


def test_parquet_sink_drain_names_its_query(spark):
    # Append mode goes through the parquet sink, not the memory sink;
    # its micro-batch jobs still carry the query name.
    with tempfile.TemporaryDirectory() as d:
        _write(spark, d, "f1.parquet", range(0, 5))
        plain = spark.readStream.schema(SCHEMA).parquet(f"{d}/in/*")
        q = run_available_now(
            plain, "t_sp_named", f"{d}/ck", output_mode="append"
        )
        assert q.name == "t_sp_named"
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
            str(q.runId)
        )
        assert jobs
        for job in jobs:
            assert "t_sp_named" in job_description(spark, job)
        assert spark.table("t_sp_named").count() == 5

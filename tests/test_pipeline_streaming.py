"""End-to-end pipeline smoke (t1 shape) + streaming/batch equivalence.

Re-probes the verify-skill checklist: ragged tail, rerun idempotence,
empty-ish input, and availableNow backfill == batch.
"""

from __future__ import annotations

import math
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.operators.resample import resample_by_time
from btc_usdt_etl_pipeline_spark.pipeline.runner import EtlConfig, run_etl
from btc_usdt_etl_pipeline_spark.streaming.ohlcv import (
    run_available_now,
    streaming_ohlcv,
)
from tests.conftest import make_klines


def test_etl_end_to_end_with_ragged_tail_and_rerun(spark):
    n, track = 10_000, 3600
    with tempfile.TemporaryDirectory() as d:
        make_klines(spark, n).write.mode("overwrite").parquet(f"{d}/in")
        cfg = EtlConfig(
            input_path=f"{d}/in",
            input_format="parquet",
            track_each=track,
            table="t_test_bars",
            export_path=f"{d}/out_csv",
        )
        run_etl(spark, cfg)
        bars = spark.table("t_test_bars")
        assert bars.count() == math.ceil(n / track)  # ragged tail kept
        total = bars.agg(F.sum("number_of_trades")).first()[0]

        # rerun MUST converge, not double (reference append bug §4.2-5)
        run_etl(spark, cfg)
        assert spark.table("t_test_bars").count() == math.ceil(n / track)
        assert (
            spark.table("t_test_bars").agg(F.sum("number_of_trades")).first()[0]
            == total
        )

        exported = spark.read.option("header", "true").csv(f"{d}/out_csv")
        assert exported.count() == math.ceil(n / track)


def test_streaming_foreach_batch_upsert(spark):
    # M5: streaming OHLCV upsert through foreachBatch into a warehouse
    # table — the sink pattern for real deployments (memory sink is the
    # test harness).  availableNow + complete mode re-emits the full
    # aggregate per batch; the upsert overwrites, so reruns converge.
    with tempfile.TemporaryDirectory() as d:
        df = make_klines(spark, 7200, start_ms=1_700_002_800_000).withColumn(
            "event_time", F.timestamp_millis("open_time")
        )
        df.write.mode("overwrite").parquet(f"{d}/in")
        stream = spark.readStream.schema(
            spark.read.parquet(f"{d}/in").schema
        ).parquet(f"{d}/in")
        result = streaming_ohlcv(
            stream, interval="1 hour", time_col="event_time",
            value_col="close", watermark="2 hours",
        )

        def upsert(batch_df, batch_id):
            batch_df.write.mode("overwrite").saveAsTable("t_upsert_bars")

        run_available_now(result, "unused", f"{d}/ckpt", upsert=upsert)
        bars = spark.table("t_upsert_bars").orderBy("window_start").collect()
        assert len(bars) == 2
        assert all(b.n_rows == 3600 for b in bars)


def test_streaming_csv_landing_dir_ingestion(spark):
    # M5: file-source readStream over a landing dir of headerless
    # Binance-format kline CSVs (the reference's monthly drop shape),
    # through the tumbling OHLCV aggregation, drained with availableNow.
    import csv

    from btc_usdt_etl_pipeline_spark.schema import KLINE_SCHEMA
    from tests.conftest import kline_rows

    with tempfile.TemporaryDirectory() as d:
        os.makedirs(f"{d}/landing")
        rows = kline_rows(7200, start_ms=1_700_002_800_000)
        for name, chunk in [("m1.csv", rows[:3600]), ("m2.csv", rows[3600:])]:
            with open(f"{d}/landing/{name}", "w", newline="") as fh:
                csv.writer(fh).writerows(chunk)
        stream = (
            spark.readStream.schema(KLINE_SCHEMA)
            .csv(f"{d}/landing", header=False)
            .withColumn("event_time", F.timestamp_millis(F.col("open_time")))
        )
        result = streaming_ohlcv(
            stream, interval="1 hour", time_col="event_time",
            value_col="close", watermark="2 hours",
        )
        run_available_now(result, "t_csv_stream", f"{d}/ckpt")
        bars = spark.table("t_csv_stream").orderBy("window_start").collect()
        assert len(bars) == 2
        assert all(b.n_rows == 3600 for b in bars)


def test_stateful_custom_operator_carries_state_across_batches(spark):
    # applyInPandasWithState: per-key running extrema.  Two input files +
    # maxFilesPerTrigger=1 forces TWO micro-batches, so the final
    # emission per key proves state survived the batch boundary.
    from btc_usdt_etl_pipeline_spark.streaming.stateful import (
        stateful_running_extrema,
    )

    with tempfile.TemporaryDirectory() as d:
        rows1 = [(1, 10.0), (1, 5.0), (2, 7.0)]
        rows2 = [(1, 20.0), (2, 1.0), (2, 9.0)]
        spark.createDataFrame(rows1, "user_id long, value double").write.parquet(
            f"{d}/in/f1.parquet"
        )
        spark.createDataFrame(rows2, "user_id long, value double").write.parquet(
            f"{d}/in/f2.parquet"
        )
        stream = (
            spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/in/*")
        )
        result = stateful_running_extrema(stream)
        run_available_now(
            result, "t_stateful", f"{d}/ckpt", output_mode="update"
        )
        rows = spark.table("t_stateful").collect()
        # take the final (highest-count) emission per key
        final = {}
        for r in rows:
            cur = final.get(r.user_id)
            if cur is None or r.running_count > cur.running_count:
                final[r.user_id] = r
        assert final[1].running_min == 5.0
        assert final[1].running_max == 20.0
        assert final[1].running_count == 3
        assert final[2].running_min == 1.0
        assert final[2].running_max == 9.0
        assert final[2].running_count == 3
        # and two distinct emissions for a key proves >1 micro-batch
        assert len([r for r in rows if r.user_id == 1]) >= 2


def test_streaming_processing_time_trigger_commits_multiple_batches(spark):
    # Continuous-trigger smoke: everything else in the suite drains under
    # availableNow; this pins the clock-driven path.  Two files behind
    # maxFilesPerTrigger=1 mean consuming both REQUIRES the
    # processingTime trigger to fire at least twice — run_processing_time
    # returns the committed data-batch count and we assert both files'
    # rows reached the sink.
    from btc_usdt_etl_pipeline_spark.streaming.ohlcv import (
        run_processing_time,
    )

    with tempfile.TemporaryDirectory() as d:
        df = make_klines(spark, 7200, start_ms=1_700_002_800_000).withColumn(
            "event_time", F.timestamp_millis("open_time")
        )
        cut = 1_700_002_800_000 + 3600 * 1000
        # coalesce(1): exactly ONE part file per directory, so
        # maxFilesPerTrigger=1 means one HOUR per micro-batch.
        df.filter(F.col("open_time") < cut).coalesce(1).write.parquet(
            f"{d}/in/f1.parquet"
        )
        df.filter(F.col("open_time") >= cut).coalesce(1).write.parquet(
            f"{d}/in/f2.parquet"
        )
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/in/*")
        )
        result = streaming_ohlcv(
            stream, interval="1 hour", time_col="event_time",
            value_col="close", watermark="2 hours",
        )
        n_batches = run_processing_time(
            result, "t_pt_stream", f"{d}/ckpt",
            interval="200 milliseconds", min_data_batches=2,
        )
        assert n_batches >= 2
        bars = spark.table("t_pt_stream").collect()
        assert len(bars) == 2
        assert sum(b.n_rows for b in bars) == 7200


def test_stateful_extrema_string_key(spark):
    # The output schema derives the key field's type from the stream — a
    # string grouping key must round-trip unchanged (regression for a
    # hardcoded `long` key field that broke non-long keys).
    from btc_usdt_etl_pipeline_spark.streaming.stateful import (
        stateful_running_extrema,
    )

    with tempfile.TemporaryDirectory() as d:
        rows = [("alice", 3.0), ("alice", 9.0), ("bob", 4.0)]
        spark.createDataFrame(
            rows, "user_id string, value double"
        ).write.parquet(f"{d}/in")
        stream = spark.readStream.schema(
            "user_id string, value double"
        ).parquet(f"{d}/in")
        result = stateful_running_extrema(stream)
        assert dict(result.dtypes)["user_id"] == "string"
        run_available_now(
            result, "t_stateful_str", f"{d}/ckpt", output_mode="update"
        )
        final = {r.user_id: r for r in spark.table("t_stateful_str").collect()}
        assert final["alice"].running_min == 3.0
        assert final["alice"].running_max == 9.0
        assert final["alice"].running_count == 2
        assert final["bob"].running_count == 1


def test_streaming_ohlcv_equals_batch(spark):
    with tempfile.TemporaryDirectory() as d:
        df = make_klines(spark, 7200, start_ms=1_700_002_800_000).withColumn(
            "event_time", F.timestamp_millis("open_time")
        )
        df.write.mode("overwrite").parquet(f"{d}/in")
        # streaming_ohlcv derives all of OHLC from one value column, so
        # the batch comparison must aggregate the same column.
        vc = {"open": "close", "high": "close", "low": "close",
              "close": "close"}
        batch = (
            spark.read.parquet(f"{d}/in")
            .transform(
                resample_by_time(
                    "1 hour", time_col="event_time", value_cols=vc
                )
            )
            .collect()
        )

        stream = spark.readStream.schema(
            spark.read.parquet(f"{d}/in").schema
        ).parquet(f"{d}/in")
        result = streaming_ohlcv(
            stream,
            interval="1 hour",
            time_col="event_time",
            value_col="close",
            watermark="2 hours",
        )
        run_available_now(result, "t_stream_bars", f"{d}/ckpt")
        streamed = spark.table("t_stream_bars").orderBy("window_start").collect()

        assert len(streamed) == len(batch) == 2
        for s, b in zip(streamed, batch):
            assert s.window_start == b.window_start
            assert s.high == b.high and s.low == b.low


def test_stream_static_broadcast_enrichment(spark):
    # Stream-static join: the static dimension side is re-resolved per
    # micro-batch and broadcast (no state store, no watermark needed) —
    # the standard enrichment shape for reference-data joins at scale.
    from btc_usdt_etl_pipeline_spark.streaming.ohlcv import run_available_now

    with tempfile.TemporaryDirectory() as d:
        rows = [(i, i % 3, float(i)) for i in range(30)]
        spark.createDataFrame(
            rows, "event_id long, dim_id long, value double"
        ).write.parquet(f"{d}/in/f0.parquet")
        dim = spark.createDataFrame(
            [(0, "bronze"), (1, "silver"), (2, "gold")],
            "dim_id long, tier string",
        )
        stream = (
            spark.readStream.schema(
                "event_id long, dim_id long, value double"
            )
            .parquet(f"{d}/in/*")
            .join(F.broadcast(dim), "dim_id")
            .groupBy("tier")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        run_available_now(stream, "t_enriched", f"{d}/ckpt")
        got = {r.tier: r.n for r in spark.table("t_enriched").collect()}
        assert got == {"bronze": 10, "silver": 10, "gold": 10}


def test_stream_interval_join_buffers_state_across_batches(spark):
    # Stream-stream join: the left row arrives in batch 1, its matching
    # right rows in batch 2 (maxFilesPerTrigger=1) — emitting the match
    # proves the join state store buffered across the batch boundary.
    from btc_usdt_etl_pipeline_spark.streaming.ohlcv import (
        run_available_now,
        streaming_interval_join,
    )

    base = 1_700_000_000_000
    with tempfile.TemporaryDirectory() as d:
        f1 = [(101, 1, base, "L")]  # one left row
        f2 = [
            (201, 1, base + 60_000, "R"),        # +1 min: in range
            (202, 1, base + 7_200_000, "R"),     # +2 h: out of range
            (203, 2, base + 60_000, "R"),        # other key
            (102, 2, base + 120_000, "L"),       # left in batch 2
            (204, 2, base + 180_000, "R"),       # matches 102
        ]
        schema = "event_id long, user_id long, ts_ms long, side string"
        spark.createDataFrame(f1, schema).write.parquet(f"{d}/in/f1.parquet")
        spark.createDataFrame(f2, schema).write.parquet(f"{d}/in/f2.parquet")

        def _stream():
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{d}/in/*")
                .withColumn("ts", F.timestamp_millis("ts_ms"))
            )

        left = (
            _stream()
            .filter(F.col("side") == "L")
            .select(
                F.col("event_id").alias("l_id"), "user_id",
                F.col("ts").alias("l_ts"),
            )
        )
        right = (
            _stream()
            .filter(F.col("side") == "R")
            .select(
                F.col("event_id").alias("r_id"), "user_id",
                F.col("ts").alias("r_ts"),
            )
        )
        joined = streaming_interval_join(
            left, right, key_col="user_id", left_time="l_ts",
            right_time="r_ts", upper="1 hour", watermark="10 days",
        ).select("l_id", "r_id")
        run_available_now(
            joined, "t_ivjoin", f"{d}/ckpt", output_mode="append"
        )
        got = sorted((r.l_id, r.r_id) for r in spark.table("t_ivjoin").collect())
        assert got == [(101, 201), (102, 204)]

        # The time-bucketed composite-key variant (zipf-hot-key state
        # splitting) must emit the IDENTICAL pair set: each matching
        # pair shares exactly one right-side bucket, so no misses and
        # no duplicates — including the boundary match at exactly
        # left_ts (same bucket) and a +1 min match crossing into the
        # next hour bucket.
        joined_b = streaming_interval_join(
            left, right, key_col="user_id", left_time="l_ts",
            right_time="r_ts", upper="1 hour", watermark="10 days",
            bucket_width_s=3600,
        ).select("l_id", "r_id")
        run_available_now(
            joined_b, "t_ivjoin_b", f"{d}/ckpt_b", output_mode="append"
        )
        got_b = sorted(
            (r.l_id, r.r_id) for r in spark.table("t_ivjoin_b").collect()
        )
        assert got_b == got


def test_streaming_checkpoint_resume_processes_only_new_files(spark):
    # Exactly-once across restarts: drain, add a file, drain again with
    # the SAME checkpoint — the second run must pick up only the new
    # file (offsets come from the checkpoint, not from scratch).
    from btc_usdt_etl_pipeline_spark.streaming.ohlcv import run_available_now

    schema = "event_id long, value double"
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(1, 1.0), (2, 2.0)], schema
        ).write.parquet(f"{d}/in/f1.parquet")

        def drain():
            agg = (
                spark.readStream.schema(schema)
                .parquet(f"{d}/in/*")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("value").alias("total"),
                )
            )
            run_available_now(agg, "t_resume", f"{d}/ckpt")

        drain()
        r1 = spark.table("t_resume").collect()[0]
        assert (r1.n, r1.total) == (2, 3.0)

        spark.createDataFrame(
            [(3, 10.0)], schema
        ).write.parquet(f"{d}/in/f2.parquet")
        drain()  # same checkpoint: incremental, stateful continuation
        r2 = spark.table("t_resume").collect()[0]
        assert (r2.n, r2.total) == (3, 13.0)


def test_interval_join_rejects_narrow_bucket(spark):
    import pytest

    from btc_usdt_etl_pipeline_spark.streaming.ohlcv import (
        streaming_interval_join,
    )

    left = spark.readStream.format("rate").load().selectExpr(
        "value AS k", "timestamp AS lt"
    )
    right = spark.readStream.format("rate").load().selectExpr(
        "value AS k", "timestamp AS rt"
    )
    with pytest.raises(ValueError, match="narrower than upper"):
        streaming_interval_join(
            left, right, "k", "lt", "rt", upper="1 hour",
            bucket_width_s=600,
        )


def test_backfill_retry_and_error_policies(spark):
    """Backfill drives one idempotent run per partition with bounded
    retries: good partitions land in their own tables, a missing-input
    partition exhausts its attempts and is reported (continue) or
    raised (fail), rerunning the range converges, and a multi-partition
    backfill into one unpartitioned table is refused up front."""
    import pytest as _pytest

    from btc_usdt_etl_pipeline_spark.pipeline.schedule import backfill

    n, track = 4_000, 1_000
    with tempfile.TemporaryDirectory() as d:
        for p in ("p2024_01", "p2024_02"):
            make_klines(spark, n).write.mode("overwrite").parquet(
                f"{d}/in/{p}"
            )
        cfg = EtlConfig(
            input_path="unused",
            input_format="parquet",
            track_each=track,
            table="unused",
        )
        results = backfill(
            spark, cfg,
            partitions=["p2024_01", "p2024_02", "p2024_03"],  # 03 missing
            path_template=f"{d}/in/{{p}}",
            table_template="t_bf_{p}",
            max_attempts=2,
            on_error="continue",
        )
        by_p = {r.partition: r for r in results}
        assert by_p["p2024_01"].ok and by_p["p2024_01"].attempts == 1
        assert by_p["p2024_02"].ok
        assert not by_p["p2024_03"].ok
        assert by_p["p2024_03"].attempts == 2
        # the error names the missing partition's path, not another's
        assert "p2024_03" in (by_p["p2024_03"].error or "")
        per = math.ceil(n / track)
        # EVERY good partition's output exists — nothing clobbered
        assert spark.table("t_bf_p2024_01").count() == per
        assert spark.table("t_bf_p2024_02").count() == per

        # rerun the whole range: converges (idempotent overwrite)
        backfill(
            spark, cfg,
            partitions=["p2024_01", "p2024_02"],
            path_template=f"{d}/in/{{p}}",
            table_template="t_bf_{p}",
        )
        assert spark.table("t_bf_p2024_01").count() == per
        assert spark.table("t_bf_p2024_02").count() == per

        # fail-fast policy raises on the exhausted partition
        with _pytest.raises(RuntimeError, match="p2024_03"):
            backfill(
                spark, cfg,
                partitions=["p2024_03"],
                path_template=f"{d}/in/{{p}}",
                table_template="t_bf_{p}",
                max_attempts=1,
                on_error="fail",
            )

        # refused: multi-partition backfill into ONE unpartitioned
        # table would keep only the last partition's rows
        with _pytest.raises(ValueError, match="LAST partition"):
            backfill(
                spark, cfg,
                partitions=["p2024_01", "p2024_02"],
                path_template=f"{d}/in/{{p}}",
            )


def test_streaming_incremental_rollup_equals_batch(spark, tmp_path):
    """Draining the stream through the versioned foreachBatch merge
    sink (multiple micro-batches forced via maxFilesPerTrigger) yields
    EXACTLY the batch recompute; replaying the last batch (retry
    simulation) is idempotent; old versions are GC'd to the newest
    two."""
    import datetime as dt

    from btc_usdt_etl_pipeline_spark.operators.resample import (
        bar_state,
        finalize_bars,
    )
    from btc_usdt_etl_pipeline_spark.streaming.ohlcv import (
        _state_versions,
        incremental_rollup_upsert,
        read_rollup_state,
    )

    base = dt.datetime(2024, 5, 1)
    rows = [
        (i, base + dt.timedelta(minutes=(i * 17) % (48 * 60)),
         float(i % 23) * 1.5)
        for i in range(600)
    ]
    src = str(tmp_path / "src")
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    # several files -> several micro-batches with maxFilesPerTrigger=1
    df.repartition(4).write.parquet(src)

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    upsert = incremental_rollup_upsert(spark, state, "ts", "value", "1 hour")
    q = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .foreachBatch(upsert)
        .start()
    )
    q.awaitTermination()

    got = sorted(
        map(tuple, finalize_bars(read_rollup_state(spark, state)).collect())
    )
    want = sorted(
        map(tuple, finalize_bars(
            df.transform(bar_state("ts", "value", "1 hour"))
        ).collect())
    )
    assert got == want
    versions = _state_versions(spark, state)
    assert len(versions) <= 2  # ohlcv._RETAIN

    # retry semantics: same batch_id + same data (the Structured
    # Streaming replay contract) must land identical state.  Simulate
    # directly with manual batches on a fresh state dir.
    state2 = str(tmp_path / "state2")
    b0 = df.filter(F.col("event_id") % 2 == 0)
    b1 = df.filter(F.col("event_id") % 2 == 1)
    up2 = incremental_rollup_upsert(spark, state2, "ts", "value", "1 hour")
    up2(b0, 0)
    up2(b1, 1)
    after_first = sorted(
        map(tuple, finalize_bars(read_rollup_state(spark, state2)).collect())
    )
    assert after_first == want
    up2(b1, 1)  # retried batch: recomputes from v0, lands same bytes
    after_retry = sorted(
        map(tuple, finalize_bars(read_rollup_state(spark, state2)).collect())
    )
    assert after_retry == want


# Each versioned sink: factory name and its arguments after state_dir.
_VERSIONED_SINKS = {
    "rollup": ("incremental_rollup_upsert", ("ts", "value", "1 hour")),
    "ddsketch": ("incremental_ddsketch_upsert", ("value", "g")),
    "hll": ("incremental_hll_upsert", ("ts", "user_id", "hour")),
}


@pytest.mark.parametrize("sink", sorted(_VERSIONED_SINKS))
def test_versioned_sink_keeps_two_and_replays_after_cleanup(
    spark, tmp_path, sink
):
    """Every versioned sink keeps exactly the newest two versions, and
    a batch replayed after the cleanup deleted v0 (sink succeeded,
    checkpoint commit failed) recomputes from v1: the state equals the
    whole input folded as one batch."""
    import datetime as dt

    from btc_usdt_etl_pipeline_spark.streaming import ohlcv
    from btc_usdt_etl_pipeline_spark.streaming.ohlcv import (
        _state_versions,
        read_rollup_state,
    )

    base = dt.datetime(2024, 5, 1)
    rows = [
        (i, base + dt.timedelta(minutes=(i * 17) % (48 * 60)),
         "g" + str(i % 3), (i * 7) % 97, float(i % 23) * 1.5)
        for i in range(600)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, g string, user_id long, "
        "value double",
    )
    factory, args = _VERSIONED_SINKS[sink]
    make = getattr(ohlcv, factory)
    batches = [df.filter(F.col("event_id") % 3 == i) for i in range(3)]
    state = str(tmp_path / "state")
    up = make(spark, state, *args)
    for batch_id, batch in enumerate(batches):
        up(batch, batch_id)
    assert _state_versions(spark, state) == [1, 2]
    up(batches[2], 2)  # replay: v0 is gone, v1 is the predecessor
    assert _state_versions(spark, state) == [1, 2]

    full = str(tmp_path / "full")
    make(spark, full, *args)(df, 0)

    def state_rows(d):
        return sorted(map(repr, read_rollup_state(spark, d).collect()))

    assert state_rows(state) == state_rows(full)


def test_read_rollup_state_raises_without_a_version(spark, tmp_path):
    """No ``v*`` version under the state dir — missing dir or a dir
    with only non-version entries — raises instead of returning an
    empty frame."""
    from btc_usdt_etl_pipeline_spark.streaming.ohlcv import (
        read_rollup_state,
    )

    with pytest.raises(FileNotFoundError):
        read_rollup_state(spark, str(tmp_path / "missing"))
    state = tmp_path / "state"
    (state / "_tmp").mkdir(parents=True)
    (state / "vx").mkdir()
    with pytest.raises(FileNotFoundError):
        read_rollup_state(spark, str(state))


def test_streaming_hll_registers_equal_batch(spark, tmp_path):
    """HLL register state after draining multiple micro-batches ==
    batch recompute (the register merge law over the stream's
    partitioning); a retried batch is idempotent."""
    import datetime as dt

    from btc_usdt_etl_pipeline_spark.operators.sketch import (
        hll_distinct_by,
        hll_estimate_from_registers,
    )
    from btc_usdt_etl_pipeline_spark.streaming.ohlcv import (
        incremental_hll_upsert,
        read_rollup_state,
    )

    base = dt.datetime(2024, 5, 1)
    rows = [
        (i, base + dt.timedelta(minutes=(i * 13) % (24 * 60)),
         (i * 7) % 97)
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    src = str(tmp_path / "srcH")
    df.repartition(3).write.parquet(src)
    state = str(tmp_path / "stateH")
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    upsert = incremental_hll_upsert(spark, state, "ts", "user_id", "hour")
    q = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckptH"))
        .foreachBatch(upsert)
        .start()
    )
    q.awaitTermination()

    got = sorted(
        map(
            tuple,
            hll_estimate_from_registers(
                read_rollup_state(spark, state), ["bucket_start"]
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            df.select(
                F.date_trunc("hour", "ts").alias("bucket_start"),
                "user_id",
            )
            .transform(hll_distinct_by(["bucket_start"], "user_id"))
            .select(
                "bucket_start", "m", "n_present", "v_zero",
                "est_raw", "est",
            )
            .collect(),
        )
    )
    assert got == want

    # retry idempotence on manual batches
    state2 = str(tmp_path / "stateH2")
    up2 = incremental_hll_upsert(spark, state2, "ts", "user_id", "hour")
    up2(df.filter(F.col("event_id") % 2 == 0), 0)
    up2(df.filter(F.col("event_id") % 2 == 1), 1)
    up2(df.filter(F.col("event_id") % 2 == 1), 1)  # retry
    got2 = sorted(
        map(
            tuple,
            hll_estimate_from_registers(
                read_rollup_state(spark, state2), ["bucket_start"]
            ).collect(),
        )
    )
    assert got2 == want


def test_streaming_ddsketch_equals_batch(spark, tmp_path):
    """DDSketch bucket state after draining multiple micro-batches ==
    the batch sketch (counts are a commutative monoid, so any split
    merges to the identical state); quantile readout off the final
    state matches batch dd_sketch exactly; retried batch idempotent."""
    import datetime as dt

    from btc_usdt_etl_pipeline_spark.operators.sketch import (
        dd_sketch,
        dd_sketch_readout,
    )
    from btc_usdt_etl_pipeline_spark.streaming.ohlcv import (
        incremental_ddsketch_upsert,
        read_rollup_state,
    )

    base = dt.datetime(2024, 5, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i % 600),
         "g" + str(i % 3),
         # include zero/negative values: the domain filter must act
         # identically batch and streaming
         float(((i * 37) % 1000) - 5) / 3.0)
        for i in range(900)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, g string, value double"
    )
    src = str(tmp_path / "srcD")
    df.repartition(4).write.parquet(src)
    state = str(tmp_path / "stateD")
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckptD"))
        .foreachBatch(
            incremental_ddsketch_upsert(spark, state, "value", "g")
        )
        .start()
    )
    q.awaitTermination()

    got = sorted(
        map(
            tuple,
            dd_sketch_readout("g")(
                read_rollup_state(spark, state)
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, df.transform(dd_sketch("value", group_by="g")).collect())
    )
    assert got == want
    assert len(want) == 9  # 3 groups x 3 quantiles

    # retry idempotence on manual batches
    state2 = str(tmp_path / "stateD2")
    up2 = incremental_ddsketch_upsert(spark, state2, "value", "g")
    up2(df.filter(F.col("event_id") % 2 == 0), 0)
    up2(df.filter(F.col("event_id") % 2 == 1), 1)
    up2(df.filter(F.col("event_id") % 2 == 1), 1)  # retry
    got2 = sorted(
        map(
            tuple,
            dd_sketch_readout("g")(
                read_rollup_state(spark, state2)
            ).collect(),
        )
    )
    assert got2 == want

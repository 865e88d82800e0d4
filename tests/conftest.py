"""Shared Spark session + fixture builders for the engine test suite."""

from __future__ import annotations

import contextlib
import math
import os
import re
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from btc_usdt_etl_pipeline_spark.session import LAUNCH_CONF  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    """The suite's session, on the engine's launch confs (the no-fork
    ``file://`` filesystem) like every ``build_session`` session."""
    builder = (
        SparkSession.builder.master("local[4]")
        .appName("engine-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="wh-"))
    )
    for k, v in LAUNCH_CONF.items():
        builder = builder.config(k, v)
    s = builder.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def scale_paths(monkeypatch):
    """``with scale_paths():`` forces every size-gated scale plan: the
    size and hot-key gates drop below any input, so each operator built
    inside the block takes its chunked / bucketed plan.
    ``with scale_paths(on=False):`` forces the plain plans instead: the
    gates rise above any input.  A DataFrame built from Python rows
    carries no size statistics, and ``windows._plan_size`` reads that
    as 0 bytes, so at the default constants its size gates already keep
    the plain plans; forcing that side too keeps a test's plain half
    independent of the constants' values."""
    import btc_usdt_etl_pipeline_spark.operators.resample as R
    import btc_usdt_etl_pipeline_spark.operators.windows as W

    @contextlib.contextmanager
    def forced(on=True):
        bytes_, rows = (-1, 0) if on else (math.inf, math.inf)
        with monkeypatch.context() as m:
            m.setattr(W, "_CHUNK_THRESHOLD_BYTES", bytes_)
            m.setattr(W, "_KEYED_HOT_KEY_ROWS", rows)
            m.setattr(W, "_KEYED_HOT_KEY_ROWS_CHEAP", rows)
            m.setattr(R, "_SORT_THRESHOLD_BYTES", bytes_)
            yield

    return forced


def plan_mentions(df, column):
    """Whether ``column`` is an attribute anywhere in ``df``'s
    optimized plan — scale plans carry helper columns (``_chunk``,
    ``_rb``, ``_offset``...) that they drop before returning."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.search(rf"(?<!\w){re.escape(column)}#", plan) is not None


def plain_and_scaled(scale_paths, build, marker):
    """``build()`` once with the plain plans forced and once with the
    scale plans forced; asserts the scale plan's ``marker`` column is in
    the second plan only — the proof that the gate flipped — and
    returns both DataFrames."""
    with scale_paths(on=False):
        plain = build()
    with scale_paths():
        scaled = build()
    assert not plan_mentions(plain, marker), marker
    assert plan_mentions(scaled, marker), marker
    return plain, scaled


def jobs_under_group(spark, group, fn):
    """Run ``fn`` under a job group; return its result and the job ids."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "caller")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def job_description(spark, job_id):
    """The ``spark.job.description`` a finished job ran under."""
    job = spark.sparkContext._jsc.sc().statusStore().job(job_id)
    return job.description().get()


def kline_rows(n: int, start_ms: int = 1_700_000_000_000, step_ms: int = 1000):
    """Gap-free 1s kline fixture rows in canonical column order."""
    rows = []
    for i in range(n):
        t = start_ms + i * step_ms
        px = 100.0 + (i % 7) - (i % 3)
        rows.append(
            (
                t,                # open_time
                px,               # open
                px + 2.0,         # high
                px - 1.5,         # low
                px + 0.5,         # close
                10.0 + i % 5,     # volume
                t + 999,          # close_time
                1000.0,           # quote_asset_volume
                int(1 + i % 4),   # number_of_trades
                5.0,              # taker_buy_base
                500.0,            # taker_buy_quote
                0,                # ignore
            )
        )
    return rows


KLINE_DDL = (
    "open_time long, open double, high double, low double, close double, "
    "volume double, close_time long, quote_asset_volume double, "
    "number_of_trades long, taker_buy_base_asset_volume double, "
    "taker_buy_quote_asset_volume double, ignore long"
)


def make_klines(spark, n: int, **kw):
    return spark.createDataFrame(kline_rows(n, **kw), KLINE_DDL)

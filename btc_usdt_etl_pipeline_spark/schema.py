"""Canonical schemas and epoch normalization.

The reference declares one explicit 12-column kline schema
(``/root/reference/components/process_data.py:93-106``) with spaced column
names ("Open time") and raw epoch longs.  The engine's canonical dialect is
snake_case (the reference's own notebook dialect,
``/root/reference/notebooks/explore_datasets.ipynb`` cell 6) and adds a
derived ``event_time: TimestampType`` so time-window operators are unit-safe.

Binance switched 1s-kline epochs from milliseconds to microseconds in 2025;
the reference never converts (a commented-out attempt sits at
``/root/reference/components/btcusdt_ingest_data.py:66-73``).  We normalize
by magnitude at ingest: see :func:`normalize_epoch`.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DoubleType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from btc_usdt_etl_pipeline_spark.session import job_description

#: Canonical 1-second kline table (reference schema, snake_case dialect).
KLINE_SCHEMA = StructType(
    [
        StructField("open_time", LongType(), False),
        StructField("open", DoubleType(), True),
        StructField("high", DoubleType(), True),
        StructField("low", DoubleType(), True),
        StructField("close", DoubleType(), True),
        StructField("volume", DoubleType(), True),
        StructField("close_time", LongType(), True),
        StructField("quote_asset_volume", DoubleType(), True),
        StructField("number_of_trades", LongType(), True),
        StructField("taker_buy_base_asset_volume", DoubleType(), True),
        StructField("taker_buy_quote_asset_volume", DoubleType(), True),
        StructField("ignore", LongType(), True),
    ]
)

#: Binance CSV header names (reference dialect,
#: /root/reference/components/btcusdt_ingest_data.py:37-41) → canonical.
REFERENCE_TO_CANONICAL = {
    "Open time": "open_time",
    "Open": "open",
    "High": "high",
    "Low": "low",
    "Close": "close",
    "Volume": "volume",
    "Close time": "close_time",
    "Quote asset volume": "quote_asset_volume",
    "Number of trades": "number_of_trades",
    "Taker buy base asset volume": "taker_buy_base_asset_volume",
    "Taker buy quote asset volume": "taker_buy_quote_asset_volume",
    "Ignore": "ignore",
}

#: Aggregated OHLCV bar table (reference output shape,
#: /root/reference/components/process_data.py:50-59).
BAR_COLUMNS = ["open_time", "open", "high", "low", "close", "number_of_trades"]

# Epoch-unit detection thresholds.  A millisecond epoch for any plausible
# market data date (1973..5138) lies in [1e11, 1e14); microseconds in
# [1e14, 1e17); nanoseconds at/above 1e17; seconds below 1e11.
_MS_LOW = 100_000_000_000  # 1e11
_US_LOW = 100_000_000_000_000  # 1e14
_NS_LOW = 100_000_000_000_000_000  # 1e17


def normalize_epoch(col: Column) -> Column:
    """Epoch long of unknown unit (s / ms / µs / ns) → TimestampType (UTC).

    Magnitude-based unit detection; a pure column expression so it stays in
    whole-stage codegen — no UDF.  The ns→µs truncation goes through exact
    decimal division: a double ``/ 1000`` would lose µs precision at 1.7e18
    (beyond the 53-bit double mantissa).
    """
    ns_to_us = F.floor(col.cast("decimal(38,0)") / F.lit(1000)).cast("long")
    return (
        F.when(col >= F.lit(_NS_LOW), F.timestamp_micros(ns_to_us))
        .when(col >= F.lit(_US_LOW), F.timestamp_micros(col))
        .when(col >= F.lit(_MS_LOW), F.timestamp_millis(col))
        .otherwise(F.timestamp_seconds(col))
    )


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Schema-driven event-time normalization: make ``col`` TimestampType.

    The driver's ``events.parquet`` has shipped ``ts`` both as an epoch
    int64 (nanoseconds) and as a genuine parquet ``timestamp[us]`` across
    regenerations, so the loader must not assume either.  Dispatch on the
    column's actual type:

    - ``TimestampType`` — already correct, pass through.
    - ``TimestampNTZType`` — cast to ``timestamp``; under the engine's UTC
      session timezone this is value-identical (oracle-comparable).
    - integral — magnitude-based unit detection via :func:`normalize_epoch`
      (the reference's own unhandled ms/µs hazard,
      /root/reference/components/btcusdt_ingest_data.py:66-73).

    Works on batch and streaming DataFrames alike (pure column expression,
    no action, no UDF).
    """
    dt = df.schema[col].dataType
    if isinstance(dt, TimestampType):
        return df
    if isinstance(dt, TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        return df.withColumn(col, normalize_epoch(F.col(col)))
    raise TypeError(
        f"column {col!r} has unsupported event-time type {dt.simpleString()}"
    )


def canonicalize_klines(df: DataFrame) -> DataFrame:
    """Rename reference-dialect columns, add normalized ``event_time``.

    Accepts either the spaced reference header names or already-snake_case
    names; idempotent.
    """
    for ref, canon in REFERENCE_TO_CANONICAL.items():
        if ref in df.columns:
            df = df.withColumnRenamed(ref, canon)
    if "event_time" not in df.columns:
        df = df.withColumn("event_time", normalize_epoch(F.col("open_time")))
    return df


#: (applicationId, real path) -> (file stamp, schema, scan partitions).
#: One entry per table per SparkContext; a new stamp replaces the old
#: entry.  Two threads that miss together both infer and store the same
#: value, so no lock is needed.
_TABLE_METADATA: dict[tuple[str, str], tuple[tuple, StructType, int]] = {}


def _file_stamp(path: str) -> tuple | None:
    """``(st_ino, st_size, st_mtime_ns)`` of ``path``, or of every file
    under it (with its relative name) for a directory table; ``None``
    when the local filesystem cannot stat it."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_ino, st.st_size, st.st_mtime_ns)
        stamps = []
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for name in sorted(files):
                full = os.path.join(root, name)
                f = os.stat(full)
                stamps.append((os.path.relpath(full, path), f.st_ino,
                               f.st_size, f.st_mtime_ns))
        return tuple(stamps)
    except OSError:
        return None


def table_metadata(spark: SparkSession, path: str) -> tuple[StructType, int]:
    """A parquet table's own schema and its scan's partition count,
    resolved once per session and file version.

    A miss runs the plain ``spark.read.parquet(path)`` schema inference
    (one footer job, described by the path it reads) and plans the scan
    for its partition count.  A hit, same SparkContext, real path and
    file stamp, launches no Spark job.  Only metadata is kept: every
    query that reads the table still scans it.  A path the local
    filesystem cannot stat is never cached, so Spark reports a missing
    or remote table exactly as a plain read would.

    The metadata is resolved under the session conf of the first load;
    a later change to the parquet read confs in the same SparkContext is
    not tracked.
    """
    real = os.path.realpath(path)
    stamp = _file_stamp(real)
    sc = spark.sparkContext
    key = (sc.applicationId, real)
    hit = _TABLE_METADATA.get(key)
    if hit is not None and hit[0] == stamp:  # stored stamps are never None
        return hit[1], hit[2]
    with job_description(sc, f"table_metadata: infer schema of {path}"):
        df = spark.read.parquet(path)
        meta = (df.schema, df.rdd.getNumPartitions())
    if stamp is not None:
        _TABLE_METADATA[key] = (stamp, *meta)
    return meta

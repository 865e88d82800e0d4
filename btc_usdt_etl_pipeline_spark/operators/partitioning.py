"""Partitioning hygiene shared by operators.

Small-file inputs (one parquet row group) give Spark a single input
partition, which serializes every downstream expression no matter how
many cores exist.  At 100 TB inputs arrive with thousands of splits and
these helpers are no-ops; on under-partitioned inputs they buy full
parallelism for one extra (cheap, row-count-bounded) shuffle.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(
    cols: Sequence[str],
    bits: int = 8,
    bounds: dict[str, tuple[float, float]] | None = None,
    out: str = "zkey",
) -> Callable[[DataFrame], DataFrame]:
    """Morton (Z-order) interleave key over quantized columns — the
    data-layout lever behind multi-dimensional file clustering (Delta /
    Iceberg ``OPTIMIZE ZORDER`` shape): sorting/range-partitioning by
    ``zkey`` before the write co-locates rows that are close in EVERY
    listed dimension, so min/max file statistics prune scans on any of
    them, not just the leading sort column.

    Each column is min-max quantized to ``bits`` bits and the bit
    strings are interleaved (column j owns bit positions ``b·n + j``).
    ``bounds`` pins the quantization range per column; when omitted the
    global min/max come from an IN-PLAN 1-row aggregate attached via
    ``functions.attach_scalar`` (broadcast hash join, no driver
    action).  At 100 TB pass ``bounds`` from
    table statistics to skip that aggregate pass entirely.

    Everything is integer/double arithmetic with identical semantics in
    any engine — a SQL oracle replays the exact key.
    """
    ncols = len(cols)
    if ncols < 2:
        raise ValueError("zorder needs at least 2 columns")
    if bits * ncols > 64:
        # JVM shiftleft wraps the shift amount mod 64, so an oversized
        # interleave would SILENTLY fold high bits onto low positions
        # and cluster rows on the wrong dimensions.
        raise ValueError(
            f"bits*ncols = {bits * ncols} exceeds the 64-bit key"
        )

    def _q(x: Column, lo: Column, hi: Column) -> Column:
        # Quantize to [0, 2^bits - 1]; degenerate (hi == lo) → 0.
        # Clamp BOTH ends: caller-supplied ``bounds`` may come from
        # stale table stats, and a value outside [lo, hi] must pin to
        # the edge bucket — an unclamped negative code would wrap under
        # the &1 interleave and scatter rows to wrong Z-key regions.
        span = hi - lo
        scaled = F.when(span > 0, (x - lo) / span).otherwise(F.lit(0.0))
        return F.greatest(
            F.lit(0).cast("long"),
            F.least(
                F.floor(scaled * F.lit(float(2 ** bits))).cast("long"),
                F.lit(2 ** bits - 1),
            ),
        )

    def _t(df: DataFrame) -> DataFrame:
        if bounds is None:
            aggs = []
            for c in cols:
                aggs.append(F.min(F.col(c).cast("double")).alias(f"_lo_{c}"))
                aggs.append(F.max(F.col(c).cast("double")).alias(f"_hi_{c}"))
            from btc_usdt_etl_pipeline_spark.functions import (
                attach_scalar,
            )

            df = attach_scalar(
                df,
                df.agg(*aggs),
                F.col(cols[0]),
                F.col(f"_lo_{cols[0]}"),
            )
            lohi = {
                c: (F.col(f"_lo_{c}"), F.col(f"_hi_{c}")) for c in cols
            }
        else:
            lohi = {
                c: (F.lit(float(bounds[c][0])), F.lit(float(bounds[c][1])))
                for c in cols
            }
        z = F.lit(0).cast("long")
        for j, c in enumerate(cols):
            q = _q(F.col(c).cast("double"), *lohi[c])
            for bpos in range(bits):
                z = z.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(q, bpos).bitwiseAND(F.lit(1)),
                        bpos * ncols + j,
                    )
                )
        df = df.withColumn(out, z)
        if bounds is None:
            df = df.drop(
                *[f"_lo_{c}" for c in cols], *[f"_hi_{c}" for c in cols]
            )
        return df

    return _t


def ensure_parallelism(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition iff the plan has fewer partitions than the cluster's
    default parallelism: hash-partitioned by ``keys`` when given, so
    downstream groupBys on the same keys can reuse the exchange, and
    round-robin when called without keys.  Probes the plan's partition
    count on every call (``df.rdd``).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *keys) if keys else df.repartition(target)

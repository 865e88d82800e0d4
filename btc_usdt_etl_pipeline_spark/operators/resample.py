"""OHLCV resampling — the reference's one real Spark job, re-architected.

Reference semantics (``/root/reference/components/process_data.py:44-59``):
every 3600 *consecutive rows* (ordered by ``Open time``) collapse to one bar
via ``groupBy(group_id).agg(first, first, max, min, last, sum)`` where
``group_id = floor((row_number()-1)/3600)`` over a **global, single-partition
window** (anti-pattern §4.2-1) and ``first``/``last`` are order-dependent
(anti-pattern §4.2-2).

This module provides both declared semantics (SURVEY.md §2 semantics note):

- :func:`resample_by_count` — reference-faithful row-count bars, computed
  *without* a single-partition sort: a two-pass bucket-offset global index
  (per-bucket counts → cumulative offsets on the driver → broadcast join →
  dense index).  Aggregation uses ``min_by``/``max_by`` keyed on the order
  column, deterministic under any parallelism.
- :func:`resample_by_time` — idiomatic wall-clock bars: a pure arithmetic
  bucket key, embarrassingly shuffle-parallel, the form you actually run at
  100 TB.

The two agree exactly iff the input is gap-free and duplicate-free.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.functions import group_columns

#: Unkeyed row-count resample switches from one global-window sort to the
#: two-pass bucket-offset index past this Catalyst size estimate.
#: Measured (SCALE.md §4.8): at reference month scale (2.7M rows) one
#: in-memory sort beats the bucket index ~3.5x; the bucket path wins only
#: once a single task can't hold/sort the data.  1.5 GB approximates the
#: 50 M-row crossover at ~30 B/row scan size.
_SORT_THRESHOLD_BYTES = 1_500_000_000

# Aggregation spec shared by both resamplers: (output_name, agg builder).
# ``min_by(open, t)`` / ``max_by(close, t)`` replace the reference's
# non-deterministic first/last (process_data.py:51-55).


def _ohlcv_aggs(
    time_col: str,
    value_cols: dict[str, str],
    tie_break: "Sequence[str]" = (),
) -> list:
    o, h, lo, c = (
        value_cols["open"],
        value_cols["high"],
        value_cols["low"],
        value_cols["close"],
    )
    # min_by/max_by on a tied ordering key are engine/run
    # NONDETERMINISTIC; ``tie_break`` columns (typically a unique row
    # id) extend the ordering to a total order via struct comparison —
    # lexicographic in both Spark and the SQL oracles' MIN/MAX(ROW)
    ordering = (
        F.struct(time_col, *tie_break) if tie_break else F.col(time_col)
    )
    aggs = [
        F.min(time_col).alias("open_time"),
        F.min_by(o, ordering).alias("open"),
        F.max(h).alias("high"),
        F.min(lo).alias("low"),
        F.max_by(c, ordering).alias("close"),
    ]
    if "trades" in value_cols:
        aggs.append(F.sum(value_cols["trades"]).alias("number_of_trades"))
    if "count" in value_cols:
        aggs.append(F.count(F.lit(1)).alias("n_rows"))
    return aggs


def auto_bucket_expr(
    df: DataFrame, order_col: str, num_buckets: int = 512
) -> F.Column:
    """Coarse bucket key, monotone in ``order_col`` — the shared
    first stage of every no-global-sort index (the unkeyed dense index
    below, and the keyed chunk index in ``operators/windows.py``).

    - timestamp → fixed one-day buckets: monotone with NO min/max
      pre-pass (one whole action saved).  Day buckets are balanced for
      any steady time series; a pathological burst day is still bounded
      by seconds-per-day × event rate.  TIMESTAMP_NTZ needs a cast
      (``unix_micros`` rejects it); the session-TZ shift is a constant
      offset, so monotonicity — all bucketing needs — is preserved.
    - date → days-since-epoch: monotone, no pre-pass (day-granular
      already, so each bucket holds one day's rows).
    - numeric → range-balanced via one min/max pass over the FINITE
      values, fractional constant width ``(hi − lo) / num_buckets``
      with an epsilon floor (an integer width would collapse any
      column whose whole range spans under ~2 units — probabilities,
      rates, normalized scores — into ONE bucket, silently handing the
      counts scale paths a single full-group task).  NaN / ±Infinity
      map to fixed sentinel buckets matching Spark's sort order
      (−Inf first, +Inf after every finite, NaN last), so a stray
      non-finite value can neither crash the driver-side min/max nor
      break monotonicity.  An empty or all-null column yields
      ``lit(None)`` (callers pin nulls to their nulls-first sentinel
      bucket).
    - anything else → TypeError; pass an explicit monotone expression.
    """
    dtype = dict(df.dtypes)[order_col]
    if dtype.startswith("timestamp"):
        return F.floor(
            F.unix_micros(F.col(order_col).cast("timestamp"))
            / F.lit(86_400_000_000)
        )
    if dtype == "date":
        return F.datediff(
            F.col(order_col), F.lit("1970-01-01").cast("date")
        )
    if dtype in (
        "tinyint", "smallint", "int", "bigint", "float", "double",
    ) or dtype.startswith("decimal"):
        import math

        numeric = F.col(order_col)
        is_float = dtype in ("float", "double")
        finite = numeric
        if is_float:
            # min/max propagate NaN (Spark treats NaN as the largest
            # double), and ±Inf would make the span infinite — exclude
            # them from the range pass and route them to sentinels.
            finite = F.when(
                ~F.isnan(numeric)
                & (numeric != F.lit(float("inf")))
                & (numeric != F.lit(float("-inf"))),
                numeric,
            )
        lo_hi = df.select(
            F.min(finite).alias("lo"), F.max(finite).alias("hi")
        ).first()
        lo, hi = lo_hi["lo"], lo_hi["hi"]
        # sentinels sized so floor((v-lo)/width) of any finite v (≤
        # ~num_buckets) can never collide with them
        _POS = 1 << 60
        if lo is None or (
            is_float
            and not (math.isfinite(float(lo)) and math.isfinite(float(hi)))
        ):
            base = F.lit(None).cast("long")
        else:
            span = float(hi) - float(lo)
            width = max(span / num_buckets, 1e-12)
            base = F.floor((numeric - F.lit(float(lo))) / F.lit(width))
        if not is_float:
            return base
        return (
            F.when(F.isnan(numeric), F.lit(_POS + 1))
            .when(numeric == F.lit(float("inf")), F.lit(_POS))
            .when(numeric == F.lit(float("-inf")), F.lit(-_POS))
            .otherwise(base)
        )
    raise TypeError(
        f"auto-bucketing needs a timestamp, date, or numeric order "
        f"column; {order_col!r} is {dtype}. Pass bucket=<monotone "
        f"expression> explicitly."
    )


def with_global_index(
    df: DataFrame,
    order_col: str,
    bucket: F.Column | None = None,
    num_buckets: int = 512,
    index_col: str = "_idx",
    tie_break: Sequence[str] = (),
) -> DataFrame:
    return global_index_with_total(
        df, order_col, bucket=bucket, num_buckets=num_buckets,
        index_col=index_col, tie_break=tie_break,
    )[0]


def global_index_with_total(
    df: DataFrame,
    order_col: str,
    bucket: F.Column | None = None,
    num_buckets: int = 512,
    index_col: str = "_idx",
    tie_break: Sequence[str] = (),
) -> tuple[DataFrame, int]:
    """Dense 0-based global index by ``order_col`` — no global sort —
    plus the total row count (free: it is the sum of the per-bucket
    counts the offset pass already collects, so callers needing ``n``
    — e.g. :func:`...ml.features.positional_split` — pay zero extra
    jobs).  :func:`with_global_index` is the df-only wrapper.

    Strategy (SURVEY.md §4.3 "row-count bucketing"):

    1. Assign each row a coarse *bucket* derived arithmetically from the
       order column (monotone in it) — range-balanced for time-series data.
    2. One small aggregation job: per-bucket row counts → cumulative
       offsets, collected to the driver (#buckets rows, tiny).
    3. Broadcast-join the offsets back; dense index =
       ``offset + row_number() over (partition by bucket order by order_col) - 1``.

    Every stage shuffles at most by ``bucket`` — parallel across buckets.
    Correctness does not depend on physical partitioning (the bucket key is
    a pure function of the data), so no caching is required between the two
    passes.

    ``order_col`` values must be unique within a bucket for a deterministic
    index (the kline contract: unique ``open_time``; dedup first otherwise).
    NULL order values index FIRST (a dedicated sentinel bucket — the same
    nulls-first placement an ascending ``Window.orderBy`` gives them);
    their relative order is undefined, like any tie.  Auto-bucketing
    supports timestamp, date, and numeric order columns; for anything
    else (strings) pass an explicit monotone ``bucket`` expression.
    """
    _NULL_BUCKET = -(1 << 62)  # sorts before every derived bucket
    if bucket is None:
        bucket = auto_bucket_expr(df, order_col, num_buckets)
    # No persist between the two passes: the count/offset pass needs ONLY
    # the bucket key (a pure function of ``order_col``), so Catalyst
    # prunes its recompute down to a single-column scan + partial-agg —
    # far cheaper at scale than pinning the full-width rows in the block
    # manager (and it leaves no cached blocks behind for the caller to
    # clean up).  The main pass re-reads the source with full pushdown.
    # A null order value (or a caller-supplied bucket expression that
    # nulls out) would reach the driver offset loop as None — pin such
    # rows to the nulls-first sentinel bucket instead.
    dfb = df.withColumn(
        "_bucket",
        F.coalesce(bucket.cast("long"), F.lit(_NULL_BUCKET)),
    )

    counts = (
        dfb.groupBy("_bucket").count().orderBy("_bucket").collect()
    )
    offsets, running = {}, 0
    for row in counts:
        offsets[row["_bucket"]] = running
        running += row["count"]
    spark = df.sparkSession
    offsets_df = spark.createDataFrame(
        [(int(b), int(o)) for b, o in offsets.items()], "_bucket long, _offset long"
    )

    # tie_break extends a tied order column to a total order (unique
    # row ids) - bucket assignment stays on order_col alone, so the
    # bucket key is unchanged and only the within-bucket rank is pinned
    w = Window.partitionBy("_bucket").orderBy(order_col, *tie_break)
    indexed = (
        dfb.join(F.broadcast(offsets_df), "_bucket")
        .withColumn(
            index_col, F.col("_offset") + F.row_number().over(w) - F.lit(1)
        )
        .drop("_bucket", "_offset")
    )
    return indexed, running


def resample_by_count(
    n: int = 3600,
    time_col: str = "open_time",
    value_cols: dict[str, str] | None = None,
    sort_output: bool = True,
    partition_by: Sequence[str] = (),
    tie_break: Sequence[str] = (),
) -> Callable[[DataFrame], DataFrame]:
    """Reference-faithful row-count resample: every ``n`` consecutive rows
    (by ``time_col``) → one OHLCV bar.

    Parity: ``/root/reference/components/process_data.py:44-59`` (W1+P2+A1),
    minus anti-pattern §4.2-2 — deterministic ``min_by``/``max_by`` aggs
    in every mode.

    ``partition_by`` resamples each key's series independently (e.g. one
    OHLCV stream per symbol): the dense index is then just a per-key
    ``row_number`` window — parallel across keys.

    Unkeyed, the plan is one global-window sort (the reference's plan
    shape; fastest while a single task can sort the series — measured
    3.5× faster at month scale) until Catalyst's size estimate passes
    ``_SORT_THRESHOLD_BYTES``, then the two-pass bucket-offset index
    (parallel everywhere; the only plan beyond single-task scale).  The
    gate (``windows._scale_gate``) reads plan statistics derived from
    file sizes — zero extra actions; the previous ``df.count()`` gate
    cost a full scan before the real job, which at 100 TB is an hour of
    cluster time spent deciding how to spend the next hour.
    """
    vc = value_cols or {
        "open": "open",
        "high": "high",
        "low": "low",
        "close": "close",
        "trades": "number_of_trades",
    }

    def _transform(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.operators.windows import (
            _scale_gate,
        )

        keys = list(partition_by)
        if keys:
            w = Window.partitionBy(*keys).orderBy(time_col, *tie_break)
            indexed = df.withColumn(
                "_idx", F.row_number().over(w) - F.lit(1)
            )
        elif _scale_gate(df, time_col, threshold=_SORT_THRESHOLD_BYTES):
            indexed = with_global_index(df, time_col, tie_break=tie_break)
        else:
            w = Window.orderBy(time_col, *tie_break)
            indexed = df.withColumn(
                "_idx", F.row_number().over(w) - F.lit(1)
            )
        out = (
            indexed.withColumn("group_id", F.floor(F.col("_idx") / F.lit(n)))
            .groupBy(*keys, "group_id")
            .agg(*_ohlcv_aggs(time_col, vc, tie_break))
            .drop("group_id")
        )
        if not sort_output:
            return out
        return out.orderBy(*keys, "open_time")

    return _transform


def resample_by_time(
    interval: str = "1 hour",
    time_col: str = "event_time",
    value_cols: dict[str, str] | None = None,
    sort_output: bool = True,
    tie_break: Sequence[str] = (),
) -> Callable[[DataFrame], DataFrame]:
    """Wall-clock resample: tumbling ``interval`` windows over a timestamp.

    The scale path — the bucket key is pure arithmetic on the timestamp, so
    the only shuffle is the aggregation exchange itself, AQE-coalesced.
    Emits ``window_start`` plus OHLCV keyed like the reference output.
    """
    vc = value_cols or {
        "open": "open",
        "high": "high",
        "low": "low",
        "close": "close",
        "trades": "number_of_trades",
    }

    def _transform(df: DataFrame) -> DataFrame:
        out = (
            df.groupBy(F.window(time_col, interval).alias("w"))
            .agg(*_ohlcv_aggs(time_col, vc, tie_break))
            .withColumn("window_start", F.col("w.start"))
            .drop("w")
        )
        cols = ["window_start"] + [c for c in out.columns if c != "window_start"]
        out = out.select(*cols)
        return out.orderBy("window_start") if sort_output else out

    return _transform


def m4_downsample(
    time_col: str = "ts",
    value_col: str = "value",
    n_buckets: int = 64,
) -> Callable[[DataFrame], DataFrame]:
    """M4 time-series downsampling (Jugel et al., VLDB'14): per time
    bucket keep the first, last, minimum and maximum points — the
    smallest point set that renders the EXACT same line at a given
    pixel width, and the standard downsample in time-series stores.

    One aggregation pass: the (lo, hi) time range attaches as an
    in-plan 1-row broadcast (no driver action), the bucket id is pure
    NON-NEGATIVE integer arithmetic ``(t−lo)·n DIV (span+1)`` (exact
    in any engine, always lands in [0, n)), and each extreme is a
    ``min``/``max`` over a 2-field struct whose field order IS the
    deterministic tie-break (first/last: time then value; min/max:
    value then time) — the same lexicographic struct comparison SQL
    engines implement, so an oracle replays point selection exactly.
    Emitted times are epoch micros (longs).
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.functions import attach_scalar

        s = df.select(
            F.unix_micros(F.col(time_col)).alias("_us"),
            F.col(value_col).alias("_v"),
        )
        stats = s.agg(
            F.min("_us").alias("_lo"), F.max("_us").alias("_hi")
        )
        j = attach_scalar(s, stats, F.col("_us"), F.col("_lo"))
        j = j.withColumn(
            "bucket",
            F.expr(
                f"((_us - _lo) * {int(n_buckets)}) DIV (_hi - _lo + 1)"
            ),
        )
        ft = F.struct(F.col("_us").alias("t"), F.col("_v").alias("v"))
        vt = F.struct(F.col("_v").alias("v"), F.col("_us").alias("t"))
        agg = j.groupBy("bucket").agg(
            F.min(ft).alias("_f"),
            F.max(ft).alias("_l"),
            F.min(vt).alias("_mn"),
            F.max(vt).alias("_mx"),
        )
        return agg.select(
            "bucket",
            F.col("_f.t").alias("t_first"),
            F.col("_f.v").alias("v_first"),
            F.col("_l.t").alias("t_last"),
            F.col("_l.v").alias("v_last"),
            F.col("_mn.v").alias("v_min"),
            F.col("_mn.t").alias("t_at_min"),
            F.col("_mx.v").alias("v_max"),
            F.col("_mx.t").alias("t_at_max"),
        )

    return _t


# ---------------------------------------------------------------------------
# Incremental rollup maintenance (mergeable bar state)
# ---------------------------------------------------------------------------

#: The reference's pipeline re-aggregates the WHOLE kline history every
#: daily run (airflow/dags/new6.py schedules a full process_data pass);
#: at 100 TB the correct shape is incremental view maintenance: keep the
#: rollup's per-bucket state MERGEABLE and fold each day's delta into it
#: without touching settled buckets.  Every field below is a semigroup:
#: open/close are lexicographic struct min/max over (ts, value) —
#: deterministic under ties AND under arbitrary batch splits — and
#: high/low/sum/count merge by max/min/sum.  merge(agg(A), agg(B)) ==
#: agg(A ∪ B) exactly (property-tested), so batches may arrive late,
#: out of order, or repeatedly re-split.


def bar_state(
    time_col: str = "ts",
    value_col: str = "value",
    interval: str = "1 hour",
) -> Callable[[DataFrame], DataFrame]:
    """Aggregate raw ticks into mergeable per-bucket bar state:
    ``(bucket_start, o (t,v), high, low, c (t,v), sum_value, n_rows)``.
    One map-side-combined aggregation; the bucket key is pure timestamp
    arithmetic so the only shuffle is the agg exchange.  ``sum_value``
    accumulates in decimal(38,6) so merge order can never change the
    float result (the repo's float-parity idiom)."""

    if interval not in _TRUNC_UNIT:
        raise ValueError(
            f"interval must be one of {sorted(_TRUNC_UNIT)} — the state"
            " is keyed by date_trunc so merged batches can never"
            " disagree on bucket boundaries"
        )

    def _t(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(
                F.date_trunc(
                    _TRUNC_UNIT[interval], F.col(time_col)
                ).alias("bucket_start")
            )
            .agg(
                F.min(
                    F.struct(
                        F.col(time_col).alias("t"),
                        F.col(value_col).alias("v"),
                    )
                ).alias("o"),
                F.max(F.col(value_col)).alias("high"),
                F.min(F.col(value_col)).alias("low"),
                F.max(
                    F.struct(
                        F.col(time_col).alias("t"),
                        F.col(value_col).alias("v"),
                    )
                ).alias("c"),
                F.sum(
                    F.col(value_col).cast("decimal(38,6)")
                ).alias("sum_value"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )

    return _t


_TRUNC_UNIT = {
    "1 hour": "hour",
    "1 day": "day",
    "1 minute": "minute",
    "1 week": "week",
}


def merge_bar_states(*states: DataFrame) -> DataFrame:
    """Fold any number of bar-state tables into one — union plus ONE
    bucket-keyed re-aggregation over bar-scale (not tick-scale) rows.
    Buckets untouched by a delta pass through unchanged; the exchange
    carries |buckets| rows per input, never raw data."""
    it = iter(states)
    u = next(it)
    for s in it:
        u = u.unionByName(s)
    return u.groupBy("bucket_start").agg(
        F.min("o").alias("o"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max("c").alias("c"),
        F.sum("sum_value").alias("sum_value"),
        F.sum("n_rows").alias("n_rows"),
    )


def finalize_bars(state: DataFrame) -> DataFrame:
    """Present mergeable state as the OHLCV bar table."""
    return state.select(
        "bucket_start",
        F.col("o.t").alias("open_ts"),
        F.col("o.v").alias("open"),
        "high",
        "low",
        F.col("c.t").alias("close_ts"),
        F.col("c.v").alias("close"),
        F.col("sum_value").cast("double").alias("sum_value"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


#: N(0,1) quantile breakpoints for SAX alphabets (Lin et al., DMKD'07
#: table) — equiprobable regions under the Gaussian assumption of
#: z-normalized series.
_SAX_BREAKPOINTS = {
    3: [-0.4307272992954576, 0.4307272992954576],
    4: [-0.6744897501960817, 0.0, 0.6744897501960817],
    5: [
        -0.8416212335729143,
        -0.2533471031357997,
        0.2533471031357997,
        0.8416212335729143,
    ],
}


def sax_symbolize(
    value_col: str,
    chunk_size: int,
    alphabet: int = 4,
    partition_by: str | None = None,
    order_by: Sequence[str] = ("ts",),
    out: str = "sax",
) -> Callable[[DataFrame], DataFrame]:
    """Symbolic Aggregate approXimation of each series (Lin/Keogh SAX):
    z-normalize, Piecewise-Aggregate over fixed ``chunk_size``-row
    chunks, map each chunk mean to a letter via the Gaussian
    equiprobable breakpoints.  The resulting short string per series is
    the standard index key for motif discovery / similarity pruning on
    time series — two series with different SAX words are guaranteed
    farther apart than the breakpoint resolution (the SAX lower-bound
    lemma), so downstream matching can prune on a GROUP BY of this
    column instead of comparing raw series.

    Plan: per-series mean/σ as unordered keyed windows (exact-decimal
    sums), chunk ids from a keyed row_number (no global sort), PAA as
    one (series, chunk) aggregation, word assembly as an ordered-struct
    array join — two keyed exchanges, parallel across series.
    Constant series (σ = 0) symbolize to the middle letter rather than
    NaN.  Breakpoint comparisons happen on identically-derived doubles,
    so the word is bit-stable cross-engine.

    Returns one row per series: ``partition_by…, n_chunks, sax``.
    """
    if alphabet not in _SAX_BREAKPOINTS:
        raise ValueError(f"alphabet must be one of {set(_SAX_BREAKPOINTS)}")
    bps = _SAX_BREAKPOINTS[alphabet]

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.functions import DEC

        wg = (
            Window.partitionBy(partition_by)
            if partition_by
            else Window.partitionBy()
        )
        wo = wg.orderBy(*[F.col(c) for c in order_by])
        n = F.count(value_col).over(wg).cast("double")
        sx = F.sum(F.col(value_col).cast(DEC)).over(wg).cast("double")
        sxx = (
            F.sum((F.col(value_col) * F.col(value_col)).cast(DEC))
            .over(wg)
            .cast("double")
        )
        mean = sx / n
        # n=1 series: the sample-variance denominator is 0 and ANSI
        # mode faults the division even though the z guard below would
        # discard it — fence it inside the CASE (zipf-hot testdata DOES
        # produce single-event users at 10×).
        var = F.when(
            n > 1, (sxx - sx * sx / n) / (n - F.lit(1.0))
        ).otherwise(F.lit(0.0))
        std = F.sqrt(var)
        z = F.when(std > 0, (F.col(value_col) - mean) / std).otherwise(
            F.lit(0.0)
        )
        chunk = F.floor((F.row_number().over(wo) - 1) / F.lit(chunk_size))
        gcols = [partition_by] if partition_by else []
        paa = (
            df.withColumn("_z", z)
            .withColumn("_chunk", chunk)
            .groupBy(*gcols, "_chunk")
            .agg(
                (
                    F.sum(F.col("_z").cast(DEC)).cast("double")
                    / F.count("_z")
                ).alias("_paa")
            )
        )
        sym = F.lit(0)
        for b in bps:
            sym = sym + F.when(F.col("_paa") > F.lit(b), 1).otherwise(0)
        letter = F.char(F.lit(97) + sym)  # 'a' + bucket
        return (
            paa.withColumn("_sym", letter)
            .groupBy(*gcols)
            .agg(
                F.count("_sym").alias("n_chunks"),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("_chunk").alias("c"),
                                    F.col("_sym").alias("s"),
                                )
                            )
                        ),
                        lambda p: p.getField("s"),
                    ),
                    "",
                ).alias(out),
            )
        )

    return _t


def bar_volatility(
    value_col: str,
    time_col: str = "ts",
    group_by: Sequence[str] | str | None = None,
    interval: str = "day",
    tie_cols: Sequence[str] = (),
) -> Callable[[DataFrame], DataFrame]:
    """Range-based volatility estimators per (group, bar): Parkinson
    (1980), Garman–Klass (1980) and Rogers–Satchell (1991) daily
    variances from the bar's OHLC — the standard efficient
    alternatives to close-to-close realized variance (5–7× lower
    estimator variance from the same data, and RS is drift-robust):

        pk = ln(h/l)² / (4·ln 2)
        gk = 0.5·ln(h/l)² − (2·ln 2 − 1)·ln(c/o)²
        rs = ln(h/c)·ln(h/o) + ln(l/c)·ln(l/o)

    ONE grouped agg builds the bars (``min_by``/``max_by`` on
    ``struct(time, *tie_cols)`` for open/close — the ca35287 tie-safe
    bar discipline, q22/q23's exact shape), then a pure projection;
    no window, no second pass.  Only positive values enter (logs);
    bars degenerate to zero range when a (group, bar) has one row.
    The ln() calls run on identical IEEE ratio doubles in both
    engines; 6 dp outputs.
    Returns ``group_by…, bar, n_rows, open, high, low, close, pk,
    gk, rs``.
    """
    gcols = group_columns(group_by)

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(value_col).isNotNull()
            & (F.col(value_col) > 0)
            & F.col(time_col).isNotNull()
        )
        ordk = F.struct(
            F.col(time_col), *[F.col(c) for c in tie_cols]
        )
        v = F.col(value_col).cast("double")
        bars = d.groupBy(
            *gcols,
            F.date_trunc(interval, F.col(time_col)).alias("bar"),
        ).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min_by(v, ordk).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, ordk).alias("close"),
        )
        hl = F.log(F.col("high") / F.col("low"))
        co = F.log(F.col("close") / F.col("open"))
        hc = F.log(F.col("high") / F.col("close"))
        ho = F.log(F.col("high") / F.col("open"))
        lc = F.log(F.col("low") / F.col("close"))
        lo = F.log(F.col("low") / F.col("open"))
        import math as _math

        return bars.select(
            *gcols,
            "bar",
            "n_rows",
            "open",
            "high",
            "low",
            "close",
            F.round(hl * hl / F.lit(4.0 * _math.log(2.0)), 6).alias(
                "pk"
            ),
            F.round(
                F.lit(0.5) * hl * hl
                - F.lit(2.0 * _math.log(2.0) - 1.0) * co * co,
                6,
            ).alias("gk"),
            F.round(hc * ho + lc * lo, 6).alias("rs"),
        )

    return _t

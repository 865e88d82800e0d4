"""Time-series window analytics (SURVEY.md §2A W2-W5, §2B window funcs).

Parity targets: the reference's notebook analytics
(``/root/reference/notebooks/explore_datasets.ipynb`` cells 14-16):
rolling MA/σ bands, pct-change returns, crossover signal, shifted-signal
strategy, cumulative-product equity curves — re-expressed as Spark window
functions.  All are per-key windows when ``partition_by`` is given, so they
parallelize across keys (symbols / users) at scale; a ``partition_by=None``
global series matches the reference's single-series notebook exactly.

Unkeyed scale path (round 7): an unkeyed ``Window.orderBy`` serializes
the whole series onto one task.  For the BOUNDED trailing frames here
(``pct_change`` lag-1, ``rolling_mean_std`` W rows) an exact parallel
decomposition exists: dense global index (the two-pass bucket-offset
pass from ``operators/resample.py`` — no global sort), fixed-size
chunks, the last ``halo`` rows of each chunk duplicated into the next
chunk as read-only context, per-chunk windows (parallel across chunks),
halo outputs dropped.  Every output row's frame then contains exactly
the same rows in the same order as the single-window plan, so results
are BIT-IDENTICAL — which is why the size gate (:func:`_scale_gate`)
can swap plans on Catalyst's size estimate without changing any oracle
hash.
``fill_forward``'s unbounded carry uses the bucket-level carry-in
decomposition instead (same technique as the unkeyed as-of join in
``operators/asof.py``).  ``cumulative_product`` has NO bit-identical
parallel form (re-associating the log-sum changes IEEE rounding), so it
keeps the single-series window — see SCALE.md §8 for the measured
ceiling and the keyed escape hatch.  ``cusum``, ``interpolate_linear``
and ``seasonal_decompose`` likewise run only their plain keyed windows:
SCALE.md records chunked rewrites of each that measured slower or no
faster.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.functions import join_groups

#: Unkeyed series larger than this (Catalyst plan-stats estimate, no
#: scan) switch to the chunked/bucketed parallel plan.  NOT resample's
#: 1.5 GB sort threshold: a window op's single-task cost is the sort
#: PLUS an O(n·frame) window evaluation, so the crossover sits far
#: lower.  Measured (local[32], rolling W=30): 1M rows / 13 MB plan —
#: window 2.4 s vs chunked 3.0 s; 10M rows / 134 MB — window 41.3 s vs
#: chunked 11.7 s (3.5×).  32 MB ≈ the ~2M-row crossover.
_CHUNK_THRESHOLD_BYTES = 32_000_000
_CHUNK_ROWS = 1 << 20


def _window(partition_by: Sequence[str] | None, order_col: str) -> WindowSpec:
    w = Window.orderBy(order_col)
    if partition_by:
        w = Window.partitionBy(*partition_by).orderBy(order_col)
    return w


def _plan_size(df: DataFrame) -> int:
    """Catalyst's ``sizeInBytes`` estimate — plan metadata derived from
    file sizes, no job and no scan — or 0 when the size is unknown.  A
    relation without statistics (a DataFrame built from Python rows, an
    RDD) reports ``spark.sql.defaultSizeInBytes`` = Long.MaxValue.  A
    projection above it rescales that figure, wider or narrower, so the
    root estimate cannot tell it apart from a measured size: the size
    is unknown when any leaf of the optimized plan reports 2^62 or more
    (or the root does), and then it passes no size gate."""
    plan = df._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    sizes = [
        int(leaves.apply(i).stats().sizeInBytes())
        for i in range(leaves.size())
    ]
    size = int(plan.stats().sizeInBytes())
    return 0 if max(sizes + [size]) >= 1 << 62 else size


_NUMERIC_TYPES = ("tinyint", "smallint", "int", "bigint", "float", "double")


def _scale_gate(
    df: DataFrame,
    *cols: str,
    numeric_only: bool = False,
    threshold: int | None = None,
) -> bool:
    """The one size gate every scale plan sits behind: ``True`` when each
    of ``cols`` has a type ``resample.auto_bucket_expr`` can bucket and
    Catalyst's size estimate is above ``threshold`` (default
    ``_CHUNK_THRESHOLD_BYTES``, read per call).  The chunked/indexed
    plans bucket timestamps, dates and numerics; the rank and quantile
    plans (``numeric_only``) range-bucket values, so numerics only.
    Anything else keeps the plain plan rather than erroring."""
    dtypes = dict(df.dtypes)
    for c in cols:
        t = dtypes[c]
        temporal = t.startswith("timestamp") or t == "date"
        if not (
            t in _NUMERIC_TYPES
            or t.startswith("decimal")
            or (temporal and not numeric_only)
        ):
            return False
    if threshold is None:
        threshold = _CHUNK_THRESHOLD_BYTES
    return _plan_size(df) > threshold


def _chunked_trailing(
    df: DataFrame,
    order_col: str,
    halo: int,
    compute: Callable[[DataFrame, WindowSpec], DataFrame],
    chunk_rows: int | None = None,
) -> DataFrame:
    """Exact unkeyed trailing-frame windows without a single-partition
    sort.  ``compute(df, w)`` must add columns using window specs
    derived from ``w`` with frames reaching at most ``halo`` rows back.
    """
    from btc_usdt_etl_pipeline_spark.operators.resample import (
        with_global_index,
    )

    # Late-bound module global so tests can shrink chunks to force
    # multi-chunk coverage on small inputs.
    chunk_rows = max(chunk_rows or _CHUNK_ROWS, 4 * halo, 1)
    indexed = with_global_index(df, order_col, index_col="_g_idx")
    u = _explode_halo(indexed, halo, chunk_rows)
    w = Window.partitionBy("_chunk").orderBy("_g_idx")
    out = compute(u, w)
    return out.filter(~F.col("_halo")).drop("_chunk", "_halo", "_g_idx")


def _explode_halo(
    indexed: DataFrame,
    halo: int,
    chunk_rows: int,
) -> DataFrame:
    """Chunk assignment + halo duplication in ONE generator pass: each
    row lands in its own chunk, and the last ``halo`` rows of a chunk
    additionally land in the NEXT chunk, flagged ``_halo``.  An explode
    beats the self-union formulation decisively: the union's branches
    each re-evaluate the ENTIRE upstream (source scan, the index's
    count/offset join, any pre-joins the caller stacked below) —
    measured 144 s → 62 s on the 100× ACF probe — while the explode
    evaluates it once and merely emits ``1 + halo/chunk_rows`` rows per
    input row."""
    chunk = F.floor(F.col("_g_idx") / F.lit(chunk_rows))
    pos = F.col("_g_idx") % chunk_rows
    in_tail = pos >= F.lit(chunk_rows - halo)
    targets = F.when(
        in_tail, F.array(chunk, chunk + F.lit(1))
    ).otherwise(F.array(chunk))
    return indexed.withColumn("_chunk", F.explode(targets)).withColumn(
        "_halo", F.col("_chunk") != chunk
    )


#: Keyed chunking kicks in (past the size gate) only when the largest
#: single key exceeds this many rows — below it, a key's ordered window
#: is one healthy task and the index/halo machinery is pure overhead.
#: Measured crossover (local[32], 3M-row events, 762k-row hot key):
#: the 120-lag MACD stack runs 43.5 s plain vs 29.0 s chunked, while
#: 5-lag ACF is neutral (11.9 vs 11.3 s) — so 512k chunks the shapes
#: where per-row frame cost is high without penalizing cheap windows.
_KEYED_HOT_KEY_ROWS = 1 << 19

#: Higher switchover for ops whose per-row window work is CHEAP (a
#: row_number index feeding one data-scale agg): the single-task
#: ordered window stays competitive far longer than for the many-lag
#: stacks, so the index/chunk machinery must not engage until the hot
#: key is big enough to pay for it.  Measured (r14 probe ladder,
#: SCALE.md §8.16 ladder table — warm session, best-of-2, local[32],
#: zipf events): hurst_aggvar — 2.5M-row hot key: 18.8 s window vs
#: 16.9 s auto (below the gate both run the SAME plain plan; the
#: delta is run noise); 7.6M-row hot key: window 51.3 s vs chunked
#: 17.9 s (chunked 2.9×).  4M keeps the plain plan through the even
#: regime and flips before the single-task sort's super-linear growth
#: (51.3 s at 7.6M vs ~18 s at 2.5M is 2.9× the time on 3× the rows
#: and worsening — chunked grows linearly by construction).
_KEYED_HOT_KEY_ROWS_CHEAP = 1 << 22


def _keyed_index(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    index_col: str = "_g_idx",
) -> DataFrame:
    """Dense 0-based PER-KEY index by ``order_by`` without putting any
    key's full series on one task — the keyed twin of
    ``resample.global_index_with_total`` (same row-count-bucketing
    strategy, SURVEY.md §4.3), except the offsets stay DISTRIBUTED:

    1. coarse bucket, monotone in ``order_by[0]``
       (``resample.auto_bucket_expr`` — day buckets for timestamps);
    2. per-(key, bucket) counts — one partial-aggregated shuffle at
       (#keys × #active-buckets) output scale, metadata-sized;
    3. per-key exclusive prefix sum over BUCKET rows (a window over the
       tiny counts table, parallel across keys);
    4. join the offsets back on (key, bucket) and add a within-bucket
       ``row_number`` — parallel across (key, bucket) pairs, so a
       zipf-hot key's series splits across its time buckets instead of
       landing on one task.

    ``order_by`` must be unique within a key for a deterministic index
    (the (ts, event_id) contract every series operator here already
    assumes).  NULL bucket values (null order values / all-null numeric
    derivation) pin to a nulls-first sentinel, matching ascending
    ``Window.orderBy`` placement.
    """
    from btc_usdt_etl_pipeline_spark.operators.resample import (
        auto_bucket_expr,
    )

    _NULL_BUCKET = -(1 << 62)
    keys = list(keys)
    bucket = F.coalesce(
        auto_bucket_expr(df, order_by[0]).cast("long"),
        F.lit(_NULL_BUCKET),
    )
    dfb = df.withColumn("_kc_bucket", bucket)
    counts = dfb.groupBy(*keys, "_kc_bucket").agg(
        F.count(F.lit(1)).alias("_kc_n")
    )
    wk = Window.partitionBy(*keys).orderBy("_kc_bucket")
    offsets = counts.withColumn(
        "_kc_off",
        F.coalesce(
            F.sum("_kc_n").over(
                wk.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select(*keys, "_kc_bucket", "_kc_off")
    wb = Window.partitionBy(*keys, "_kc_bucket").orderBy(
        *[F.col(c) for c in order_by]
    )
    from btc_usdt_etl_pipeline_spark.functions import null_safe_join

    # null_safe_join, not join(on=cols): a plain equi-join drops rows
    # whose PARTITION KEY is NULL, but the window plan keeps NULL keys
    # as a real group — bit-identity requires the chunked plan to, too.
    return (
        null_safe_join(dfb, offsets, [*keys, "_kc_bucket"])
        .withColumn(
            index_col,
            F.col("_kc_off") + F.row_number().over(wb) - F.lit(1),
        )
        .drop("_kc_bucket", "_kc_off")
    )


def _bucketed_rank(
    df: DataFrame,
    gcols: Sequence[str],
    value_col: str,
    rank_col: str = "_mrk",
    cnt_col: str = "_cnt",
    n_col: str = "_n",
    tiebreak: str | None = None,
    row_col: str = "_rn",
) -> DataFrame:
    """Per-row full-group MIN-rank (+ tie count + group size) WITHOUT
    sorting any group's full series on one task — closing the last
    whole-class keyed scale ceiling (ordered rank windows:
    ``rank().over(partitionBy(g).orderBy(v))`` serializes a zipf-hot
    group onto one straggler task at 100 TB).  The q199 two-level
    decomposition applied to RANK:

    1. coarse range bucket over the value (``auto_bucket_expr`` — one
       scan-only min/max pre-pass for numerics).  The bucket is a
       FUNCTION OF THE VALUE, so a tie block can never straddle a
       bucket boundary — every cross-bucket comparison is strict;
    2. per-(group, bucket) counts → per-group EXCLUSIVE prefix sum
       (= rows in strictly-smaller buckets) + group total ``n_col``,
       one tiny window over the METADATA-scale bucket table;
    3. broadcast the offsets back (null-safe — NULL groups are real
       groups) and rank WITHIN each (group, bucket) ordered by value:
       ``min_rank = offset + rank()``, with the tie count from a
       (group, bucket, value) partition — parallel across buckets, so
       a hot group splits across its value range instead of one task.

    ONE row-scale shuffle total (the within-bucket window); the offset
    join is a broadcast of a ≤ #groups × n_buckets table.  The outputs
    are integers ≤ group size, exact in double, so the textbook
    tie-averaged rank ``min_rank + (cnt − 1)/2`` and
    ``percent_rank = (min_rank − 1)/(n − 1)`` are reproducible
    BIT-FOR-BIT against the full-group window plan — the size gate
    (:func:`_scale_gate`) swaps plans without moving oracle hashes.
    Residual skew: a single massive tie VALUE shares one bucket by
    construction (rank within it is trivial, but the task holds the
    block) — the q199 tradeoff.
    NULL values are not special-cased: callers filter them first (all
    current callers do).
    """
    from btc_usdt_etl_pipeline_spark.functions import null_safe_join
    from btc_usdt_etl_pipeline_spark.operators.resample import (
        auto_bucket_expr,
    )

    _NULL_BUCKET = -(1 << 62)
    gcols = list(gcols)
    bucket = F.coalesce(
        auto_bucket_expr(df, value_col).cast("long"),
        F.lit(_NULL_BUCKET),
    )
    b = df.withColumn("_rb", bucket)
    bsum = b.groupBy(*gcols, "_rb").agg(
        F.count(F.lit(1)).alias("_bn")
    )
    wg = Window.partitionBy(*gcols)
    off = (
        bsum.withColumn(
            "_off",
            F.coalesce(
                F.sum("_bn").over(
                    wg.orderBy("_rb").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .withColumn(n_col, F.sum("_bn").over(wg))
        .select(*gcols, "_rb", "_off", n_col)
    )
    wb = Window.partitionBy(*gcols, "_rb").orderBy(value_col)
    wv = Window.partitionBy(*gcols, "_rb", value_col)
    out = (
        null_safe_join(b, F.broadcast(off), [*gcols, "_rb"])
        .withColumn(rank_col, F.col("_off") + F.rank().over(wb))
        .withColumn(cnt_col, F.count(F.lit(1)).over(wv))
    )
    if tiebreak is not None:
        # full-group row_number = min_rank + rank within the tie block
        # (ties cannot straddle a bucket, and the tie-block window's
        # partition keys EXTEND the (group, bucket) clustering, so it
        # rides the same shuffle)
        out = out.withColumn(
            row_col,
            F.col(rank_col) + F.rank().over(wv.orderBy(tiebreak)) - 1,
        )
    return out.drop("_rb", "_off")


def _keyed_chunked_trailing(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    halo: int,
    compute: Callable[[DataFrame, WindowSpec], DataFrame],
    chunk_rows: int | None = None,
) -> DataFrame:
    """Exact KEYED trailing-frame windows with no single-task-per-key
    ceiling — the keyed twin of :func:`_chunked_trailing`: per-key
    dense index (no per-key sort task), fixed-size chunks WITHIN each
    key, the last ``halo`` rows of every chunk duplicated into the next
    chunk as read-only context, per-(key, chunk) windows, halo outputs
    dropped.  Every output row's frame then holds exactly the same rows
    in the same order as the plain ``partitionBy(keys)`` window, so
    results are BIT-IDENTICAL — :func:`_keyed_plan` can swap plans on a
    per-key count estimate without changing any oracle hash.

    ``compute(df, w)`` must add columns using specs derived from ``w``
    whose frames reach at most ``halo`` rows back; for STACKED windows
    (a second window over a column the first one derived — MACD's
    signal line) pass the SUM of the stage depths: a halo row at
    relative offset −h has ``halo − h`` predecessors in its chunk, so
    any derived value that later stages read within their own reach is
    already exact.
    """
    chunk_rows = max(chunk_rows or _CHUNK_ROWS, 4 * halo, 1)
    indexed = _keyed_index(df, keys, order_by, index_col="_g_idx")
    u = _explode_halo(indexed, halo, chunk_rows)
    w = Window.partitionBy(*keys, "_chunk").orderBy("_g_idx")
    out = compute(u, w).filter(~F.col("_halo"))
    return out.drop("_chunk", "_halo", "_g_idx")


def _keyed_plan(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    halo: int,
    hot_rows: int,
) -> int | None:
    """Decide the KEYED plan → the chunk size of the chunked plan, or
    ``None`` for the plain window.  First gates on the same Catalyst
    size estimate as the unkeyed path (:func:`_scale_gate` — free, no
    job, so small inputs never pay a pre-pass), then runs the per-key
    count estimate (a metadata-scale partial-aggregated job over the
    key columns only) and goes chunked iff some single key's series
    exceeds ``hot_rows`` (``_KEYED_HOT_KEY_ROWS``; cheap-per-row ops
    pass ``_KEYED_HOT_KEY_ROWS_CHEAP`` — see its measured crossover
    note) — the zipf-hot-key shape where one ordered window task
    dominates.

    The chunk size splits the HOT key into ~2× the cluster's core count
    of chunks (floored at ``4·halo`` so halo duplication stays a small
    fraction): a fixed 1M chunk leaves a 2.5M-row hot key as 3 serial
    tasks, which matters precisely when the per-row window cost is high
    (many frames — the 120-lag MACD stack)."""
    if not _scale_gate(df, order_col):
        return None
    # The count is named apart from every key: an ungrouped caller's
    # stand-in key is itself "_n".
    n = "_n"
    while n in keys:
        n = "_" + n
    hot = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias(n))
        .agg(F.max(n).alias("_mx"))
        .first()
    )
    mx = (hot["_mx"] or 0) if hot is not None else 0
    if mx <= hot_rows:
        return None
    cores = df.sparkSession.sparkContext.defaultParallelism or 32
    return max(4 * halo, min(_CHUNK_ROWS, -(-mx // (2 * cores))))


def pct_change(
    col: str,
    order_col: str,
    partition_by: Sequence[str] | None = None,
    out: str = "return",
) -> Callable[[DataFrame], DataFrame]:
    """1-step fractional return: ``x/lag(x) - 1`` (notebook cell 15 W3).

    Past the size gate (:func:`_scale_gate`) an unkeyed series takes the
    halo-chunked parallel plan and a keyed one with a hot key the
    per-key chunked plan (:func:`_keyed_plan`); both are bit-identical
    to the single window.
    """

    def _ret(prev: Column) -> Column:
        return (F.col(col) - prev) / prev

    def _compute(u: DataFrame, w: WindowSpec) -> DataFrame:
        return u.withColumn(out, _ret(F.lag(col, 1).over(w)))

    def _t(df: DataFrame) -> DataFrame:
        if not partition_by and _scale_gate(df, order_col):
            return _chunked_trailing(df, order_col, halo=1, compute=_compute)
        if partition_by:
            cr = _keyed_plan(
                df, partition_by, order_col, halo=1,
                hot_rows=_KEYED_HOT_KEY_ROWS,
            )
            if cr is not None:
                return _keyed_chunked_trailing(
                    df, partition_by, (order_col,), halo=1,
                    compute=_compute, chunk_rows=cr,
                )
        return _compute(df, _window(partition_by, order_col))

    return _t


def keyed_lags(
    lags: Sequence[tuple[str, int, str]],
    order_by: Sequence[str],
    partition_by: Sequence[str],
) -> Callable[[DataFrame], DataFrame]:
    """Bounded multi-lag feature columns per key series —
    ``lags = [(src_col, offset, out_col), ...]`` adds every
    ``out_col = lag(src_col, offset)`` over ONE shared keyed ordered
    window, with the chunked-halo scale path (halo = max offset)
    swapped in by :func:`_keyed_plan` past the size gate when a single
    key's series exceeds the hot-key threshold.  This is the one-call
    route for the entry composites that stack a few fixed lags on a
    zipf-hot key (MASE's seasonal-24 + naive-1 pair, lag-k
    autocorrelation pairs):
    a plain ``Window.partitionBy(k).orderBy(...)`` serializes the hot
    key's whole series onto one sort task at 100 TB, while the chunked
    plan splits it into ~2×cores chunks with ``halo`` duplicated
    context rows and stays BIT-IDENTICAL (every output row's frame
    holds exactly the same rows in the same order).

    Stacked/derived lags (a lag OF a lagged expression) are expressible
    as deeper direct lags of the source — ``lag(ret, 1)`` where
    ``ret = f(v, lag(v, 1))`` equals ``f(lag(v, 1), lag(v, 2))``
    evaluated on identical doubles, so callers should flatten to direct
    lags and keep halo = the deepest source offset.
    """
    if not partition_by:
        raise ValueError("keyed_lags needs partition keys; use a plain "
                         "window (or _chunked_trailing) for global lags")
    lags = [(c, int(k), o) for c, k, o in lags]
    if any(k < 1 for _, k, _ in lags):
        raise ValueError("lag offsets must be >= 1")
    halo = max(k for _, k, _ in lags)

    def _compute(u: DataFrame, w: WindowSpec) -> DataFrame:
        return u.select(
            "*", *[F.lag(c, k).over(w).alias(o) for c, k, o in lags]
        )

    def _t(df: DataFrame) -> DataFrame:
        cr = _keyed_plan(
            df, partition_by, order_by[0], halo=halo,
            hot_rows=_KEYED_HOT_KEY_ROWS,
        )
        if cr is not None:
            return _keyed_chunked_trailing(
                df, partition_by, order_by, halo=halo,
                compute=_compute, chunk_rows=cr,
            )
        return _compute(df, _window_multi(partition_by, order_by))

    return _t


def _window_multi(
    partition_by: Sequence[str], order_by: Sequence[str]
) -> WindowSpec:
    return Window.partitionBy(*partition_by).orderBy(
        *[F.col(c) for c in order_by]
    )


def rolling_mean_std(
    col: str,
    order_col: str,
    window_rows: int,
    partition_by: Sequence[str] | None = None,
    prefix: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Rolling mean + sample std over the trailing ``window_rows`` rows
    (notebook cell 14 W2: MA30 ± 2σ volatility bands).

    Scale paths gated as in :func:`pct_change`: the chunked plans carry
    ``window_rows - 1`` halo rows per chunk boundary and are
    bit-identical to the single-window plan.
    """
    p = prefix or f"{col}_{window_rows}"

    def _add(u: DataFrame, w: WindowSpec) -> DataFrame:
        f = w.rowsBetween(-(window_rows - 1), 0)
        return u.withColumn(f"{p}_mean", F.avg(col).over(f)).withColumn(
            f"{p}_std", F.stddev(col).over(f)
        )

    def _t(df: DataFrame) -> DataFrame:
        if not partition_by and _scale_gate(df, order_col):
            return _chunked_trailing(
                df, order_col, halo=window_rows - 1, compute=_add
            )
        if partition_by:
            cr = _keyed_plan(
                df, partition_by, order_col, halo=window_rows - 1,
                hot_rows=_KEYED_HOT_KEY_ROWS,
            )
            if cr is not None:
                return _keyed_chunked_trailing(
                    df,
                    partition_by,
                    (order_col,),
                    halo=window_rows - 1,
                    compute=_add,
                    chunk_rows=cr,
                )
        return _add(df, _window(partition_by, order_col))

    return _t


def cumulative_product(
    col: str,
    order_col: str,
    partition_by: Sequence[str] | None = None,
    out: str = "cumprod",
) -> Callable[[DataFrame], DataFrame]:
    """Running product of ``1 + col`` — equity curve (notebook cell 16 W5).

    Spark has no ``product`` window aggregate; use the standard
    exp-sum-log identity (valid for returns > -1).

    One plain window.  For an UNKEYED series that is one sort task —
    the honest W5 ceiling: a bit-identical parallel form of a float
    running sum does not exist, because float addition is not
    associative.  Giant series should pass ``partition_by``, which
    makes the window parallel across keys (SCALE.md §8).
    """

    def _t(df: DataFrame) -> DataFrame:
        w = _window(partition_by, order_col).rowsBetween(
            Window.unboundedPreceding, 0
        )
        return df.withColumn(out, F.exp(F.sum(F.log1p(F.col(col))).over(w)))

    return _t


def crossover_signal(
    fast_col: str,
    slow_col: str,
    order_col: str,
    partition_by: Sequence[str] | None = None,
    out: str = "signal",
) -> Callable[[DataFrame], DataFrame]:
    """``(fast > slow)::int`` moving-average crossover, applied with a
    1-step shift (trade on yesterday's signal — notebook cell 16 F3+W4).

    Scale path (r14): the shift is one lag-1 tap, so past the size /
    hot-key gates it routes through the shared chunked-halo machinery
    (:func:`_chunked_trailing` unkeyed / :func:`keyed_lags` keyed —
    halo = 1, BIT-IDENTICAL), closing the last W4-family
    single-sort-task ceiling.
    """

    def _t(df: DataFrame) -> DataFrame:
        sig = F.when(F.col(fast_col) > F.col(slow_col), 1).otherwise(0)
        d = df.withColumn(out, sig)
        shifted = f"{out}_shifted"
        if not partition_by and _scale_gate(d, order_col):
            return _chunked_trailing(
                d,
                order_col,
                halo=1,
                compute=lambda u, w: u.withColumn(
                    shifted, F.lag(out, 1).over(w)
                ),
            )
        if partition_by:
            return d.transform(
                keyed_lags(
                    [(out, 1, shifted)],
                    order_by=(order_col,),
                    partition_by=list(partition_by),
                )
            )
        return d.withColumn(
            shifted, F.lag(out, 1).over(_window(None, order_col))
        )

    return _t


def correlation_matrix(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pairwise Pearson correlation (notebook cell 15 A2) as a long-form
    DataFrame ``(col_a, col_b, corr)`` — one aggregation pass computes all
    pairs via sum/sum-of-squares/cross-products (no per-pair jobs)."""
    # Exact decimal sums (see functions.__doc__): the correlation matrix is
    # reproducible bit-for-bit regardless of shuffle order.
    dec = "decimal(38,6)"
    aggs: list[Column] = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).cast(dec)).cast("double").alias(f"_s_{c}"))
        aggs.append(
            F.sum((F.col(c) * F.col(c)).cast(dec)).cast("double").alias(f"_ss_{c}")
        )
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            aggs.append(
                F.sum((F.col(a) * F.col(b)).cast(dec))
                .cast("double")
                .alias(f"_sp_{a}_{b}")
            )
    stats = df.agg(*aggs)

    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            n = F.col("_n")
            cov = F.col(f"_sp_{a}_{b}") - F.col(f"_s_{a}") * F.col(f"_s_{b}") / n
            va = F.col(f"_ss_{a}") - F.col(f"_s_{a}") * F.col(f"_s_{a}") / n
            vb = F.col(f"_ss_{b}") - F.col(f"_s_{b}") * F.col(f"_s_{b}") / n
            pairs.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    (cov / F.sqrt(va * vb)).alias("corr"),
                )
            )
    return stats.select(F.explode(F.array(*pairs)).alias("p")).select("p.*")


def fill_forward(
    value_cols: Sequence[str],
    order_cols: Sequence[str],
    partition_by: Sequence[str] | None = None,
) -> "Callable[[DataFrame], DataFrame]":
    """Last-observation-carried-forward gap filling: each null takes the
    most recent non-null value in its key's series.  ``order_cols``
    should be a total order (append a unique tiebreaker) or fills at
    tied timestamps are nondeterministic.

    One window per partition key (shuffle keyed by ``partition_by`` —
    parallel across keys).  ``last`` with ``ignorenulls`` over an
    unbounded-preceding frame is incremental state in the window exec —
    no per-row rescans.

    Unkeyed scale path (past the size gate, :func:`_scale_gate`): the
    unbounded carry decomposes as in the unkeyed as-of join (``operators/asof.py``) —
    bucket by a coarse key monotone in ``order_cols[0]`` (ties on the
    first order column always share a bucket, so cross-bucket order is
    total even when later tie-breakers reorder within it), one
    aggregation takes each bucket's LAST non-null per column
    (``max_by`` keyed on the full order tuple — null-valued rows carry
    a null ordering key, which ``max_by`` ignores), a bucket-level
    carry window over #buckets rows (metadata scale) computes each
    bucket's carry-in, broadcast back, and the per-row LOCF window is
    then partitioned by bucket — parallel across buckets, falling back
    to the carry-in when a bucket has no prior non-null.  Output is
    IDENTICAL to the single-window plan (values are carried, not
    recomputed — no float reassociation), so the gate is hash-safe.
    """

    def _bucketed(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.operators.asof import _bucket_col

        d = df.withColumn("_ff_b", _bucket_col(df, order_cols[0]))
        ord_key = F.struct(*[F.col(o) for o in order_cols])
        lasts = d.groupBy("_ff_b").agg(
            *[
                F.max_by(
                    F.col(c),
                    F.when(F.col(c).isNotNull(), ord_key),
                ).alias(f"_ff_last_{c}")
                for c in value_cols
            ]
        )
        wb = Window.orderBy("_ff_b").rowsBetween(
            Window.unboundedPreceding, -1
        )
        carry = lasts.select(
            "_ff_b",
            *[
                F.last(f"_ff_last_{c}", ignorenulls=True)
                .over(wb)
                .alias(f"_ff_carry_{c}")
                for c in value_cols
            ],
        )
        ww = (
            Window.partitionBy("_ff_b")
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        out = d.join(F.broadcast(carry), "_ff_b")
        for c in value_cols:
            out = out.withColumn(
                c,
                F.coalesce(
                    F.last(F.col(c), ignorenulls=True).over(ww),
                    F.col(f"_ff_carry_{c}"),
                ),
            )
        return out.drop(
            "_ff_b", *[f"_ff_carry_{c}" for c in value_cols]
        )

    def _t(df: DataFrame) -> DataFrame:
        if not partition_by and _scale_gate(df, order_cols[0]):
            return _bucketed(df)
        w = (
            Window.partitionBy(*partition_by)
            if partition_by
            else Window.partitionBy()
        )
        w = w.orderBy(*order_cols).rowsBetween(
            Window.unboundedPreceding, 0
        )
        out = df
        for c in value_cols:
            out = out.withColumn(
                c, F.last(F.col(c), ignorenulls=True).over(w)
            )
        return out

    return _t


def interpolate_linear(
    value_col: str,
    time_col: str,
    partition_by: Sequence[str] | None = None,
    order_by: Sequence[str] | None = None,
    out: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Linear interpolation of interior nulls per series — the
    gap-fill that respects the TIME AXIS where :func:`fill_forward`
    draws steps:

        y = y_prev + (y_next − y_prev) · (t − t_prev)/(t_next − t_prev)

    anchored at the nearest non-null observations on each side.
    Leading/trailing nulls (only one anchor exists) stay null —
    interpolation needs both ends; compose with ``fill_forward`` for
    a carried tail, explicitly, rather than extrapolating silently.

    Plan: TWO ordered window passes per key — each carries (value,
    time) as one struct so anchor value and anchor time can never come
    from different rows.  BOTH passes are ``last ignorenulls`` over an
    UNBOUNDED-PRECEDING frame (the backward pass simply orders
    DESCENDING): Spark's window exec evaluates a growing frame
    incrementally in O(n), whereas the tempting ``first(...) over
    (current row .. unbounded following)`` formulation re-scans the
    remaining partition for EVERY row — O(n²) per key, measured as a
    hang (>580 s) on the 10× zipf corpus vs 17 s for this shape.
    Then a pure projection; no joins, no iteration; parallel across
    keys.  ``time_col`` must be numeric or timestamp (cast timestamps
    up front); a zero time gap (duplicate anchor timestamps) falls
    back to the previous anchor's value rather than dividing by zero.

    Determinism: identical expression → identical IEEE doubles on any
    engine; no rounding contract needed (the oracle replays the same
    arithmetic; pins at 6 dp only at the comparison layer).

    Scale: the plain window is the only plan.  A chunked anchor-carry
    rewrite measured slower at every rung of the r14 probe ladder
    (SCALE.md §8.16 — 7.6M-row hot key: 73.8 s → 107.1 s); an anchor
    carry is one incremental ``last ignorenulls`` per direction, too
    cheap per row to fund an index and a chunk-offset join.
    """
    ocols = list(order_by) if order_by else [time_col]
    dst = out or value_col

    def _t(df: DataFrame) -> DataFrame:
        keys = list(partition_by or [])
        t = F.col(time_col).cast("double")
        anchor = F.when(
            F.col(value_col).isNotNull(),
            F.struct(F.col(value_col).alias("v"), t.alias("t")),
        )

        def _interp(prev: Column, nxt: Column) -> Column:
            gap = nxt["t"] - prev["t"]
            return F.when(
                F.col(value_col).isNotNull(), F.col(value_col)
            ).otherwise(
                F.when(
                    prev.isNotNull() & nxt.isNotNull(),
                    F.when(
                        gap != 0,
                        prev["v"]
                        + (nxt["v"] - prev["v"]) * (t - prev["t"]) / gap,
                    ).otherwise(prev["v"]),
                )
            )

        wbase = Window.partitionBy(*keys)
        wfwd = wbase.orderBy(*[F.col(c) for c in ocols]).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        wbwd = wbase.orderBy(
            *[F.col(c).desc() for c in ocols]
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        prev = F.last(anchor, ignorenulls=True).over(wfwd)
        nxt = F.last(anchor, ignorenulls=True).over(wbwd)
        return df.withColumn(dst, _interp(prev, nxt))

    return _t


def cusum(
    value_col: str,
    target: float,
    slack: float = 0.0,
    threshold: float | None = None,
    partition_by: str | None = None,
    order_by: Sequence[str] = ("ts",),
    out: str = "cusum",
) -> Callable[[DataFrame], DataFrame]:
    """One-sided CUSUM changepoint statistic (Page 1954):

        S_t = max(0, S_{t-1} + (x_t − target − slack))

    The recursion looks inherently sequential, but it has the exact
    closed form  S_t = RS_t − min(0, min_{j≤t} RS_j)  where RS is the
    running sum of the deviations d_i = x_i − target − slack — so the
    whole statistic is TWO stacked keyed windows (cumulative sum, then
    running min of that sum), fully parallel and incremental, no
    grouped-map recursion.  The cumulative sum runs through the exact
    decimal idiom, making S_t order-insensitive and replayable
    bit-for-bit by a SQL oracle.

    Scale: the plain window is the only plan, and building it runs no
    Spark job.  A chunked prefix-scan rewrite measured a wash at both
    rungs of the r14 probe ladder (SCALE.md §8.16 — 2.5M-row hot key:
    13.0 vs 14.0 s; 7.6M: 53.6 vs 54.3 s).

    ``threshold`` adds an ``alarm`` boolean (S_t > h) — the standard
    drift detector; reset-after-alarm variants re-run from the alarm
    point (operationally a filter + recompute, still no recursion).
    """

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.functions import DEC

        dev = (
            F.col(value_col).cast("double")
            - F.lit(float(target))
            - F.lit(float(slack))
        ).cast(DEC)

        order = [F.col(c) for c in order_by]
        wb = (
            Window.partitionBy(partition_by)
            if partition_by
            else Window.partitionBy()
        )
        w = wb.orderBy(*order).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        rs = F.sum(dev).over(w).cast("double")
        out_df = df.withColumn("_rs", rs).withColumn(
            out,
            F.col("_rs")
            - F.least(
                F.lit(0.0),
                F.min("_rs").over(
                    wb.orderBy(*order).rowsBetween(
                        Window.unboundedPreceding, Window.currentRow
                    )
                ),
            ),
        )
        if threshold is not None:
            out_df = out_df.withColumn(
                "alarm", F.col(out) > F.lit(float(threshold))
            )
        return out_df.drop("_rs")

    return _t


def truncated_ema(
    col: str, w: WindowSpec, alpha: float, taps: int
) -> Column:
    """Truncated-EWMA column: the infinite EMA recursion
    ``y_t = α·x_t + (1−α)·y_{t−1}`` unrolled into a bounded chain of
    ``taps`` lags with geometric weights and an adaptive head
    normalizer (missing lags contribute to neither numerator nor
    denominator, so the series head is the exact finite-history EMA).
    Declarative and frame-bounded — which is what makes the chunked
    parallel plan below possible; the exact recursive form stays the
    grouped-map surface's job (q57)."""
    num: Column = F.col(col)
    den: Column = F.lit(1.0)
    wgt = 1.0
    for i in range(1, taps):
        wgt *= 1.0 - alpha
        lagc = F.lag(col, i).over(w)
        num = num + F.when(lagc.isNull(), 0.0).otherwise(F.lit(wgt) * lagc)
        den = den + F.when(lagc.isNull(), 0.0).otherwise(F.lit(wgt))
    return num / den


def macd_signal(
    value_col: str,
    order_by: Sequence[str] = ("ts",),
    partition_by: str | None = None,
    fast_alpha: float = 2.0 / 13.0,
    fast_taps: int = 36,
    slow_alpha: float = 2.0 / 27.0,
    slow_taps: int = 60,
    signal_alpha: float = 2.0 / 10.0,
    signal_taps: int = 27,
) -> Callable[[DataFrame], DataFrame]:
    """MACD(fast, slow, signal) per series in the truncated-EWMA idiom:
    adds ``macd`` / ``signal`` / ``histogram`` columns.  Default taps
    (36/60/27 for the classic 12-26-9 spans) leave <1.3% geometric tail
    mass.

    Scale path: the stack is two bounded-lag window levels — fast/slow
    EMAs over the raw series, the signal EMA over the derived ``macd``
    column — so the chunked-halo decomposition applies with halo =
    ``(slow_taps−1) + (signal_taps−1)``: a halo row at offset −h inside
    a chunk has ``halo−h`` predecessors, which covers the signal EMA's
    reach of ``signal_taps−1`` rows whose own macd values each need
    ``slow_taps−1`` more.  Past the size gate :func:`_keyed_plan` swaps
    to the chunked plan on the per-key count estimate when a single
    key's series
    exceeds the hot-key threshold (the zipf shape where one ordered
    window task dominates) — BIT-IDENTICAL output, since every output
    row's frames hold exactly the same rows in the same order.
    """
    halo = (slow_taps - 1) + (signal_taps - 1)

    def _compute(u: DataFrame, w: WindowSpec) -> DataFrame:
        m = u.withColumn(
            "macd",
            truncated_ema(value_col, w, fast_alpha, fast_taps)
            - truncated_ema(value_col, w, slow_alpha, slow_taps),
        )
        return m.withColumn(
            "signal", truncated_ema("macd", w, signal_alpha, signal_taps)
        ).withColumn("histogram", F.col("macd") - F.col("signal"))

    def _t(df: DataFrame) -> DataFrame:
        keys = [partition_by] if partition_by else []
        if keys:
            cr = _keyed_plan(
                df, keys, order_by[0], halo=halo,
                hot_rows=_KEYED_HOT_KEY_ROWS,
            )
            if cr is not None:
                return _keyed_chunked_trailing(
                    df, keys, order_by, halo=halo, compute=_compute,
                    chunk_rows=cr,
                )
        w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order_by])
        return _compute(df, w)

    return _t


def acf(
    value_col: str,
    max_lag: int,
    partition_by: str | None = None,
    order_by: Sequence[str] = ("ts",),
    out: str = "acf",
) -> Callable[[DataFrame], DataFrame]:
    """Autocorrelation function r_1..r_max_lag per series:

        r_k = Σ_{t>k} (x_t − x̄)(x_{t−k} − x̄)  /  Σ_t (x_t − x̄)²

    (the standard biased estimator — one shared denominator, so the
    sequence is a valid autocovariance and r_0 ≡ 1).  One ordered
    window pass computes all K lags at once; one aggregation reduces
    each series to K numerators + 1 denominator; the per-series rows
    are then unpivoted to long form via an inline array explode —
    three narrow exchanges total, parallel across series, never
    across-lag repeated scans.

    Determinism: x̄ uses the exact-decimal mean; deviation products are
    rounded to 6 dp by the decimal cast before the order-free sums, and
    the final division is a single IEEE op — bit-stable cross-engine
    (no transcendentals anywhere).

    Returns ``(partition_by…, lag, acf)``, lag ∈ 1..max_lag.

    Scale path (keyed): past the size gate :func:`_keyed_plan` swaps
    BOTH hot-key shapes when the per-key count estimate finds a series
    over the hot-key
    threshold — the unordered per-key mean window becomes a groupBy +
    equi-join (identical value: the decimal sum is order-free), and the
    ordered lag-product pass runs under the chunked-halo decomposition
    with halo = ``max_lag`` — bit-identical, parallel within the hot
    key.  The final per-series reduction was already a plain
    aggregation (partial-combined, never single-task).
    """

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.functions import DEC

        gcols = [partition_by] if partition_by else []
        cr = (
            _keyed_plan(
                df, gcols, order_by[0], halo=max_lag,
                hot_rows=_KEYED_HOT_KEY_ROWS,
            )
            if gcols
            else None
        )

        def _lag_prods(u: DataFrame, w: WindowSpec) -> DataFrame:
            for k in range(1, max_lag + 1):
                u = u.withColumn(
                    f"_p{k}",
                    (F.col("_dev") * F.lag("_dev", k).over(w)).cast(DEC),
                )
            return u

        if cr is not None:
            means = df.groupBy(*gcols).agg(
                (
                    F.sum(F.col(value_col).cast(DEC)).cast("double")
                    / F.count(value_col)
                ).alias("_xbar")
            )
            from btc_usdt_etl_pipeline_spark.functions import (
                null_safe_join,
            )

            d = null_safe_join(df, means, gcols).withColumn(
                "_dev", F.col(value_col) - F.col("_xbar")
            )
            staged = _keyed_chunked_trailing(
                d, gcols, order_by, halo=max_lag, compute=_lag_prods,
                chunk_rows=cr,
            ).select(
                *gcols,
                (F.col("_dev") * F.col("_dev")).cast(DEC).alias("_d2"),
                *[F.col(f"_p{k}") for k in range(1, max_lag + 1)],
            )
        else:
            wg = (
                Window.partitionBy(partition_by)
                if partition_by
                else Window.partitionBy()
            )
            wo = wg.orderBy(*[F.col(c) for c in order_by])
            xbar = (
                F.sum(F.col(value_col).cast(DEC)).over(wg).cast("double")
                / F.count(value_col).over(wg)
            )
            d = df.withColumn("_dev", F.col(value_col) - xbar)
            lag_prods = [
                (F.col("_dev") * F.lag("_dev", k).over(wo))
                .cast(DEC)
                .alias(f"_p{k}")
                for k in range(1, max_lag + 1)
            ]
            staged = d.select(
                *gcols,
                (F.col("_dev") * F.col("_dev")).cast(DEC).alias("_d2"),
                *lag_prods,
            )
        agg = staged.groupBy(*gcols).agg(
            F.sum("_d2").cast("double").alias("_den"),
            *[
                F.sum(f"_p{k}").cast("double").alias(f"_n{k}")
                for k in range(1, max_lag + 1)
            ],
        )
        # A constant (or single-row) series has Σdev² = 0: ACF is
        # undefined there and ANSI mode faults the division — emit
        # NULL instead (zipf-hot testdata produces such users).
        pairs = F.array(
            *[
                F.struct(
                    F.lit(k).alias("lag"),
                    F.when(
                        F.col("_den") != 0,
                        F.col(f"_n{k}") / F.col("_den"),
                    ).alias(out),
                )
                for k in range(1, max_lag + 1)
            ]
        )
        return agg.select(
            *gcols, F.explode(pairs).alias("_e")
        ).select(*gcols, "_e.lag", f"_e.{out}")

    return _t


def spearman_corr(
    x_col: str,
    y_col: str,
    group_by: str | None = None,
    out: str = "spearman",
) -> Callable[[DataFrame], DataFrame]:
    """Spearman rank correlation per group — Pearson on AVERAGE ranks,
    the monotone-relationship detector that is outlier-robust where
    raw Pearson (q25's correlation_matrix) is not.

    Tie handling is the textbook average rank: ``min_rank +
    (n_equal − 1)/2``.  Two plans, BIT-IDENTICAL by construction:

    - window — one ordered rank window plus one value-keyed count
      window per column, both partitioned by the group.  Parallel
      across groups, but a hot group's full series sorts on ONE task —
      the r8-measured 100× ceiling (42.8 s, one straggler at 100 TB).
    - counts — :func:`_bucketed_rank` per column: range-bucketed
      offsets + within-(group, bucket) rank, ONE row-scale shuffle per
      column and no join-back.  Every stage splits a hot group across
      its value range.

    The counts plan runs for numeric x/y past the same size gate as the
    chunked window family (:func:`_scale_gate`) — small inputs (every
    oracle run) keep the window plan; the swap cannot move an oracle
    hash because both plans emit exact half-integer ranks and
    identical-op-order double moments.

    Ranks are exact half-integers, so the Pearson moments run through
    the exact-decimal idiom losslessly and the only transcendental is
    the final IEEE-exact sqrt — 6 dp pinned output, same contract as
    :func:`cross_correlation`.

    Rows with a null in either column are dropped first (pairwise
    deletion would break the rank space).  Constant columns (zero rank
    variance) emit NULL.  Returns ``group_by…, n, out``.
    """
    gcols = [group_by] if group_by else []

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.functions import DEC

        d = df.where(
            F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
        )
        if _scale_gate(df, x_col, y_col, numeric_only=True):
            base = d.select(*gcols, x_col, y_col)

            # same double ops as the window plan: rank→double,
            # (cnt−1)→double, /2.0 — exact half-integers either way
            def avg_of(rk: str, ct: str) -> Column:
                return (
                    F.col(rk).cast("double")
                    + (F.col(ct) - F.lit(1)).cast("double")
                    / F.lit(2.0)
                )

            rx = _bucketed_rank(
                base, gcols, x_col, rank_col="_mx", cnt_col="_cx",
                n_col="_nx",
            ).select(
                *gcols, y_col, avg_of("_mx", "_cx").alias("_rx")
            )
            r = _bucketed_rank(
                rx, gcols, y_col, rank_col="_my", cnt_col="_cy",
                n_col="_ny",
            ).select(
                *gcols, "_rx", avg_of("_my", "_cy").alias("_ry")
            )
        else:

            def avg_rank(c: str) -> Column:
                wo = Window.partitionBy(*gcols).orderBy(F.col(c))
                wv = Window.partitionBy(*gcols, c)
                return (
                    F.rank().over(wo).cast("double")
                    + (F.count(F.lit(1)).over(wv) - F.lit(1)).cast(
                        "double"
                    )
                    / F.lit(2.0)
                )

            r = d.select(
                *gcols,
                avg_rank(x_col).alias("_rx"),
                avg_rank(y_col).alias("_ry"),
            )
        agg = r.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_rx").cast(DEC)).cast("double").alias("_sx"),
            F.sum(F.col("_ry").cast(DEC)).cast("double").alias("_sy"),
            F.sum((F.col("_rx") * F.col("_rx")).cast(DEC))
            .cast("double")
            .alias("_sxx"),
            F.sum((F.col("_ry") * F.col("_ry")).cast(DEC))
            .cast("double")
            .alias("_syy"),
            F.sum((F.col("_rx") * F.col("_ry")).cast(DEC))
            .cast("double")
            .alias("_sxy"),
        )
        n = F.col("n").cast("double")
        vx = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
        vy = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
        cov = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
        rho = F.when(
            (vx > 0) & (vy > 0), F.round(cov / F.sqrt(vx * vy), 6)
        )
        return agg.select(*gcols, "n", rho.alias(out))

    return _t


def group_ranks(
    value_col: str,
    group_by: str | None = None,
    tiebreak: str | None = None,
    n_tiles: int | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """The full ordered-rank feature family per group — ``min_rank``,
    ``avg_rank``, ``pct_rank``, ``cume_dist`` (+ ``row_num`` and
    ``ntile`` when ``tiebreak``, a unique order-completing column, is
    given) — with a scale path that never sorts a full group on one
    task.  This productizes :func:`_bucketed_rank` for the q85/q96/q118
    rank-window family the way the size gate productized the
    chunked-halo plans for MACD/ACF.

    Two BIT-IDENTICAL plans:

    - window — the classic single keyed window
      (``rank/percent_rank/cume_dist/row_number/ntile .over(w)``): one
      shuffle on the group, but a zipf-hot group's ordered sort is ONE
      task — the 100 TB straggler.
    - counts — ONE row-scale shuffle on (group, range-bucket):
      every statistic is rank arithmetic over ``_bucketed_rank``'s
      outputs, evaluated with the same integer operands and double
      divisions as Spark's window functions —
      ``pct_rank = (min_rank−1)/(n−1)`` (0.0 for n=1),
      ``cume_dist = (min_rank+cnt−1)/n``,
      ``row_num = min_rank + rank-within-ties(tiebreak) − 1`` (ties
      cannot straddle a bucket, so the tie-local window rides the same
      shuffle), and ``ntile`` by Spark's exact distribution rule
      (first ``n mod b`` tiles take one extra row) as closed-form
      integer arithmetic on ``row_num``.

    The counts plan runs past the Catalyst size gate
    (:func:`_scale_gate`; oracle-scale inputs keep the window plan, so
    hashes never move) and needs a numeric value column for range
    bucketing.  NULL ``value_col`` rows are
    dropped (rank space contract); NULL groups are real groups.
    Output ranks are BIGINT on both plans.
    """
    if n_tiles is not None and (n_tiles < 1 or tiebreak is None):
        raise ValueError(
            "n_tiles needs a tiebreak column (ntile is row-order "
            "dependent) and must be >= 1"
        )
    gcols = [group_by] if group_by else []

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(F.col(value_col).isNotNull())
        if _scale_gate(df, value_col, numeric_only=True):
            r = _bucketed_rank(
                d, gcols, value_col, rank_col="_mrk", cnt_col="_ct",
                n_col="_gn", tiebreak=tiebreak, row_col="_rw",
            )
            if tiebreak is not None:
                r = r.withColumn(
                    "row_num", F.col("_rw").cast("bigint")
                ).drop("_rw")
            out = (
                r.withColumn("min_rank", F.col("_mrk").cast("bigint"))
                .withColumn(
                    "avg_rank",
                    F.col("_mrk").cast("double")
                    + (F.col("_ct") - F.lit(1)).cast("double")
                    / F.lit(2.0),
                )
                .withColumn(
                    "pct_rank",
                    F.when(
                        F.col("_gn") > 1,
                        (F.col("_mrk") - F.lit(1)).cast("double")
                        / (F.col("_gn") - F.lit(1)).cast("double"),
                    ).otherwise(F.lit(0.0)),
                )
                .withColumn(
                    "cume_dist",
                    (F.col("_mrk") + F.col("_ct") - F.lit(1))
                    .cast("double")
                    / F.col("_gn").cast("double"),
                )
            )
            if n_tiles is not None:
                # Spark's NTile distribution: q = n div b, r = n mod b;
                # the first r tiles hold q+1 rows
                n, b = F.col("_gn"), F.lit(n_tiles)
                q = (n / b).cast("bigint")
                rem = n % b
                boundary = rem * (q + 1)
                rn1 = F.col("row_num") - F.lit(1)
                out = out.withColumn(
                    "ntile",
                    F.when(
                        F.col("row_num") <= boundary,
                        (rn1 / (q + 1)).cast("bigint") + 1,
                    )
                    .otherwise(
                        rem + ((rn1 - boundary) / q).cast("bigint") + 1
                    )
                    .cast("bigint"),
                )
            # same column order as the window plan
            extra = ["min_rank", "avg_rank", "pct_rank", "cume_dist"]
            if tiebreak is not None:
                extra.append("row_num")
            if n_tiles is not None:
                extra.append("ntile")
            return out.select(*d.columns, *extra)

        wg = Window.partitionBy(*gcols)
        w = wg.orderBy(value_col)
        out = (
            d.withColumn("min_rank", F.rank().over(w).cast("bigint"))
            .withColumn(
                "avg_rank",
                F.rank().over(w).cast("double")
                + (
                    F.count(F.lit(1)).over(
                        Window.partitionBy(*gcols, value_col)
                    )
                    - F.lit(1)
                ).cast("double")
                / F.lit(2.0),
            )
            .withColumn("pct_rank", F.percent_rank().over(w))
            .withColumn("cume_dist", F.cume_dist().over(w))
        )
        if tiebreak is not None:
            wt = wg.orderBy(value_col, tiebreak)
            out = out.withColumn(
                "row_num", F.row_number().over(wt).cast("bigint")
            )
            if n_tiles is not None:
                out = out.withColumn(
                    "ntile", F.ntile(n_tiles).over(wt).cast("bigint")
                )
        return out

    return _t


def cross_correlation(
    x_col: str,
    y_col: str,
    max_lag: int,
    partition_by: str | None = None,
    order_by: Sequence[str] = ("ts",),
    out: str = "ccf",
) -> Callable[[DataFrame], DataFrame]:
    """Cross-correlation function between two aligned series per key —
    the lead-lag detector (does x anticipate y?):

        r_k = Σ_t (x_{t−k} − x̄)(y_t − ȳ)
              / sqrt( Σ(x−x̄)² · Σ(y−ȳ)² ),   k ∈ −max_lag..max_lag

    Positive k means x LEADS y by k steps (x's past correlates with
    y's present); negative k is evaluated as lagging y instead of x,
    so the full ±K sweep costs ONE ordered window pass that lags both
    columns.  The denominators are the full-series deviation masses
    (one shared normalization, so r is comparable across lags — the
    same estimator choice as :func:`acf` and the signal-processing
    convention for CCF).

    Plan: exactly the ACF shape — per-key means, one ordered window
    producing all 2K+1 lag products, one aggregation to 2K+1
    numerators + 2 denominators per key, inline array unpivot.  Three
    narrow exchanges, parallel across series.  Determinism: decimal-
    exact means and order-free decimal product sums; ``sqrt(da·db)``
    is one transcendental evaluated on 6-dp-quantized integers of the
    same magnitude on both engines — the final division is rounded to
    6 dp for the cross-engine contract (same recipe as the bigram-LM
    family).

    Constant series (zero deviation mass on either side) emit NULL —
    the ANSI fence this module applies everywhere.

    Returns ``(partition_by…, lag, out)``, lag ∈ −max_lag..max_lag.

    Scale path (keyed): identical to :func:`acf` — past the size gate
    :func:`_keyed_plan` swaps the per-key mean windows for a groupBy +
    equi-join and the lag products for the chunked-halo plan (halo =
    ``max_lag``) when the per-key count estimate finds a hot key.
    Bit-identical.
    """

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.functions import DEC

        gcols = [partition_by] if partition_by else []
        cr = (
            _keyed_plan(
                df, gcols, order_by[0], halo=max_lag,
                hot_rows=_KEYED_HOT_KEY_ROWS,
            )
            if gcols
            else None
        )

        def _prods(u: DataFrame, w: WindowSpec) -> DataFrame:
            for k in range(1, max_lag + 1):
                u = u.withColumn(
                    f"_pp{k}",
                    (F.lag("_dx", k).over(w) * F.col("_dy")).cast(DEC),
                ).withColumn(
                    f"_pn{k}",
                    (F.col("_dx") * F.lag("_dy", k).over(w)).cast(DEC),
                )
            return u

        base_cols = [
            (F.col("_dx") * F.col("_dx")).cast(DEC).alias("_dx2"),
            (F.col("_dy") * F.col("_dy")).cast(DEC).alias("_dy2"),
            (F.col("_dx") * F.col("_dy")).cast(DEC).alias("_p0"),
        ]
        prod_names = [
            n
            for k in range(1, max_lag + 1)
            for n in (f"_pp{k}", f"_pn{k}")
        ]
        if cr is not None:
            means = df.groupBy(*gcols).agg(
                (
                    F.sum(F.col(x_col).cast(DEC)).cast("double")
                    / F.count(x_col)
                ).alias("_xb"),
                (
                    F.sum(F.col(y_col).cast(DEC)).cast("double")
                    / F.count(y_col)
                ).alias("_yb"),
            )
            from btc_usdt_etl_pipeline_spark.functions import (
                null_safe_join,
            )

            d = (
                null_safe_join(df, means, gcols)
                .withColumn("_dx", F.col(x_col) - F.col("_xb"))
                .withColumn("_dy", F.col(y_col) - F.col("_yb"))
            )
            staged = _keyed_chunked_trailing(
                d, gcols, order_by, halo=max_lag, compute=_prods,
                chunk_rows=cr,
            ).select(
                *gcols, *base_cols, *[F.col(n) for n in prod_names]
            )
        else:
            wg = (
                Window.partitionBy(partition_by)
                if partition_by
                else Window.partitionBy()
            )
            wo = wg.orderBy(*[F.col(c) for c in order_by])
            xbar = (
                F.sum(F.col(x_col).cast(DEC)).over(wg).cast("double")
                / F.count(x_col).over(wg)
            )
            ybar = (
                F.sum(F.col(y_col).cast(DEC)).over(wg).cast("double")
                / F.count(y_col).over(wg)
            )
            d = df.withColumn("_dx", F.col(x_col) - xbar).withColumn(
                "_dy", F.col(y_col) - ybar
            )
            prods = []
            for k in range(1, max_lag + 1):
                prods.append(
                    (F.lag("_dx", k).over(wo) * F.col("_dy"))
                    .cast(DEC)
                    .alias(f"_pp{k}")
                )
                prods.append(
                    (F.col("_dx") * F.lag("_dy", k).over(wo))
                    .cast(DEC)
                    .alias(f"_pn{k}")
                )
            staged = d.select(*gcols, *base_cols, *prods)
        aggs = [
            F.sum("_dx2").cast("double").alias("_da"),
            F.sum("_dy2").cast("double").alias("_db"),
            F.sum("_p0").cast("double").alias("_n0"),
        ]
        for k in range(1, max_lag + 1):
            aggs.append(F.sum(f"_pp{k}").cast("double").alias(f"_np{k}"))
            aggs.append(F.sum(f"_pn{k}").cast("double").alias(f"_nn{k}"))
        agg = staged.groupBy(*gcols).agg(*aggs)
        den = F.sqrt(F.col("_da") * F.col("_db"))

        def _r(num: Column) -> Column:
            return F.when(
                (F.col("_da") != 0) & (F.col("_db") != 0),
                F.round(num / den, 6),
            )

        entries = []
        for k in range(max_lag, 0, -1):
            entries.append(
                F.struct(
                    F.lit(-k).alias("lag"), _r(F.col(f"_nn{k}")).alias(out)
                )
            )
        entries.append(
            F.struct(F.lit(0).alias("lag"), _r(F.col("_n0")).alias(out))
        )
        for k in range(1, max_lag + 1):
            entries.append(
                F.struct(
                    F.lit(k).alias("lag"), _r(F.col(f"_np{k}")).alias(out)
                )
            )
        return agg.select(
            *gcols, F.explode(F.array(*entries)).alias("_e")
        ).select(*gcols, "_e.lag", f"_e.{out}")

    return _t


def seasonal_decompose(
    value_col: str,
    period: int,
    trend_halfwidth: int | None = None,
    partition_by: str | None = None,
    order_by: Sequence[str] = ("ts",),
) -> Callable[[DataFrame], DataFrame]:
    """Additive seasonal decomposition (STL-lite):

        x_t = trend_t + seasonal_{t mod period} + resid_t

    * trend — centered moving average over ±halfwidth rows (count-aware
      at the series edges: the shrunken frame's own mean, so no null
      margins and every row decomposes);
    * seasonal — per-phase mean of the detrended series (phase = dense
      position mod period), itself centered by subtracting the mean of
      the phase means so the seasonal component sums to ~0 over one
      period (the standard identifiability constraint);
    * resid — what's left.

    Everything is two keyed window families (ordered: the trend frame +
    row position; unordered: per-(key, phase) and per-key means) — no
    joins, no iteration; parallel across series.  Exact-decimal sums
    make every component order-insensitive; the arithmetic is
    add/subtract/divide only, so outputs are bit-stable cross-engine.

    Returns the input plus ``phase, trend, seasonal, resid``.

    Scale: the plain window is the only plan.  A chunked rewrite of
    the centered ±h trend frame measured 77.5 s against 38.7 s for
    this plan at the 100× corpus (SCALE.md §8.12 — 2.5M-row hot key): a
    ±12-row frame is too cheap per row to pay for the index/explode
    machinery, the opposite verdict from the 120-lag MACD stack.  The
    per-(key, phase) mean windows split a hot key ``period``-ways by
    construction and the grand mean is frameless, so neither is a
    chunking candidate either.
    """
    h = trend_halfwidth if trend_halfwidth is not None else period // 2

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.functions import DEC

        wg = (
            Window.partitionBy(partition_by)
            if partition_by
            else Window.partitionBy()
        )
        wo = wg.orderBy(*[F.col(c) for c in order_by])
        frame = wo.rowsBetween(-h, h)
        trend = (
            F.sum(F.col(value_col).cast(DEC)).over(frame).cast("double")
            / F.count(value_col).over(frame)
        )
        phase = F.pmod(
            F.row_number().over(wo) - 1, F.lit(period)
        ).cast("int")
        d = df.withColumn("trend", trend).withColumn("phase", phase)
        d = d.withColumn("_detr", F.col(value_col) - F.col("trend"))
        wp = (
            Window.partitionBy(partition_by, "phase")
            if partition_by
            else Window.partitionBy("phase")
        )
        phase_mean = (
            F.sum(F.col("_detr").cast(DEC)).over(wp).cast("double")
            / F.count("_detr").over(wp)
        )
        d = d.withColumn("_pm", phase_mean)
        # Center: subtract the mean of the DISTINCT phase means (each
        # phase weighted once, not by its row count) — sum each phase's
        # mean only at its first row position.  The order-free sum here
        # casts at scale 12, not the usual 6: a phase mean is
        # (6-dp-exact sum) / (small count), which for even counts lands
        # EXACTLY on a 6-dp rounding tie (odd last digit / 2 → …5 at
        # digit 7) where Spark's and DuckDB's double→decimal tie-breaks
        # disagree; at 12 dp a terminating quotient is represented
        # exactly (≤ 7-8 digits) and a repeating one never ties.
        wpo = wp.orderBy(*[F.col(c) for c in order_by])
        first_in_phase = F.row_number().over(wpo) == 1
        # Divide by the OBSERVED phase count, not the constant period:
        # a series shorter than `period` realizes fewer phases, and
        # /period would underestimate the grand mean, mis-centering
        # seasonal and resid for short series.  For series >= period
        # rows the two are identical.
        # The grand mean stays a WINDOW: it is frameless
        # (one accumulate pass per key, cheap even on a hot key), and a
        # groupBy+join formulation measured no better (74.3 vs 77.5 s
        # at 100×) while re-evaluating the entire upstream pipeline in
        # the join's aggregate branch — the consume-a-subtree-twice
        # trap again.
        n_phases = F.sum(
            F.when(first_in_phase, F.lit(1)).otherwise(F.lit(0))
        ).over(wg)
        grand = (
            F.sum(
                F.when(first_in_phase, F.col("_pm"))
                .otherwise(F.lit(0.0))
                .cast("decimal(38,12)")
            )
            .over(wg)
            .cast("double")
            / n_phases.cast("double")
        )
        return (
            d.withColumn("seasonal", F.col("_pm") - grand)
            .withColumn(
                "resid",
                F.col(value_col) - F.col("trend") - F.col("seasonal"),
            )
            .drop("_detr", "_pm")
        )

    return _t


def theil_sen(
    value_col: str,
    time_col: str,
    id_col: str,
    partition_by: str | None = None,
    time_scale: float = 1.0,
    max_points: int = 2000,
    out: str = "sen_slope",
) -> Callable[[DataFrame], DataFrame]:
    """Theil–Sen robust trend per series: the median of all pairwise
    slopes (per ``time_scale`` units of ``time_col``), insensitive to
    outliers where OLS is not.

    The pair join is per-KEY quadratic — fine for bounded series,
    fatal for a zipf-hot key (a 100k-event user is 10^10 pairs; the
    un-fenced q182 probe OOM-killed the 10× JVM).  ``max_points``
    fences it the way the dedup family caps band buckets: series
    longer than the cap are first reduced to a deterministic
    ``max_points``-row subsample (portable-hash order over ``id_col``
    — uniform, append-stable, oracle-replayable), bounding pair mass
    at max_points² per key while remaining a valid Theil–Sen
    estimator on a uniform subsample of the series.  Same-time pairs
    are excluded (undefined slope).

    Returns one row per series: ``partition_by…, sen_slope, n_pairs``.
    """

    def _t(df: DataFrame) -> DataFrame:
        gcols = [partition_by] if partition_by else []
        wk = (
            Window.partitionBy(partition_by)
            if partition_by
            else Window.partitionBy()
        )
        pick = F.row_number().over(
            wk.orderBy(
                F.md5(F.col("_id").cast("string")), F.col("_id")
            )
        )
        base = (
            df.select(
                *gcols,
                F.col(id_col).alias("_id"),
                F.col(time_col).cast("double").alias("_t"),
                F.col(value_col).cast("double").alias("_v"),
            )
            .withColumn("_pick", pick)
            .where(F.col("_pick") <= max_points)
            .drop("_pick", "_id")
        )
        a = base.select(
            *gcols, F.col("_t").alias("_t1"), F.col("_v").alias("_v1")
        )
        b = base.select(
            *gcols, F.col("_t").alias("_t2"), F.col("_v").alias("_v2")
        )
        pairs = join_groups(a, b, gcols).where(F.col("_t2") > F.col("_t1"))
        slope = (F.col("_v2") - F.col("_v1")) / (
            (F.col("_t2") - F.col("_t1")) / F.lit(float(time_scale))
        )
        return (
            pairs.select(*gcols, slope.alias("_s"))
            .groupBy(*gcols)
            .agg(
                F.round(F.percentile("_s", F.lit(0.5)), 6).alias(out),
                F.count(F.lit(1)).alias("n_pairs"),
            )
        )

    return _t


def ljung_box(
    value_col: str,
    max_lag: int,
    partition_by: str | None = None,
    order_by: Sequence[str] = ("ts",),
) -> Callable[[DataFrame], DataFrame]:
    """Ljung–Box portmanteau test per series — "is this series white
    noise through lag K?", the one-number companion to the :func:`acf`
    plot (and the serial-correlation gate fitted-model residuals are
    judged by, next to Durbin–Watson's lag-1 view):

        Q = n·(n+2) · Σ_{k=1..K} r_k² / (n − k),   df = K

    Composes :func:`acf` (same estimator, same scale paths — the
    keyed chunked-halo route past the hot-key gate) with a per-series
    non-null count, then ONE K-row-per-series rollup: the r_k²/(n−k)
    terms are DECIMAL(38,12)-cast before the order-free sum and the
    n(n+2) product is applied after — one final IEEE multiply, 6 dp.
    Series with n ≤ max_lag emit NULL q (the statistic's domain).
    Returns ``partition_by…, n, df, q``.
    """
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        r = df.transform(
            acf(
                value_col,
                max_lag,
                partition_by=partition_by,
                order_by=order_by,
            )
        )
        cnt = (
            df.where(F.col(value_col).isNotNull())
            .groupBy(*gcols)
            .agg(F.count(value_col).alias("_lbn"))
        )
        joined = join_groups(
            r, cnt, gcols, probes=(F.col("lag"), F.col("_lbn"))
        )
        nn = F.col("_lbn").cast("double")
        term = (
            F.col("acf") * F.col("acf")
            / (nn - F.col("lag").cast("double"))
        ).cast("decimal(38,12)")
        agg = joined.groupBy(*gcols).agg(
            F.max("_lbn").alias("n"),
            F.sum(term).cast("double").alias("_s"),
        )
        n2 = F.col("n").cast("double")
        return agg.select(
            *gcols,
            "n",
            F.lit(int(max_lag)).alias("df"),
            F.when(
                F.col("n") > max_lag,
                F.round(n2 * (n2 + F.lit(2.0)) * F.col("_s"), 6),
            ).alias("q"),
        )

    return _t


def durbin_levinson_schedule(
    max_lag: int,
) -> list[list[tuple[str, str]]]:
    """Durbin–Levinson recursion over wide ACF columns ``r_1..r_K`` as
    staged (column, SQL-expr) steps — ONE generator rendered into BOTH
    engines (the markov_schedule / bt_schedule idiom), so the partial
    autocorrelations are structurally bit-identical:

        φ_{1,1} = r_1
        φ_{k,k} = (r_k − Σ_j φ_{k−1,j}·r_{k−j})
                  / (1 − Σ_j φ_{k−1,j}·r_j)
        φ_{k,j} = φ_{k−1,j} − φ_{k,k}·φ_{k−1,k−j}

    Division guarded with a neutral CASE (NULL on a singular step —
    constant series); term order is generation order, fixed both
    sides.  Stage k only references stage k−1 columns, so each stage
    is one chained select / one MATERIALIZED CTE.
    """
    zero = "CAST(0 AS DOUBLE)"
    one = "CAST(1.0 AS DOUBLE)"
    stages: list[list[tuple[str, str]]] = [[("p_1_1", "r_1")]]
    for k in range(2, max_lag + 1):
        num = " + ".join(
            f"p_{k-1}_{j} * r_{k-j}" for j in range(1, k)
        )
        den = " + ".join(f"p_{k-1}_{j} * r_{j}" for j in range(1, k))
        stage = [
            (f"pn_{k}", f"(r_{k} - ({num}))"),
            (f"pd_{k}", f"({one} - ({den}))"),
        ]
        stages.append(stage)
        stage2 = [
            (
                f"p_{k}_{k}",
                f"(CASE WHEN pd_{k} <> {zero} "
                f"THEN pn_{k} / pd_{k} END)",
            )
        ]
        stages.append(stage2)
        stages.append(
            [
                (f"p_{k}_{j}", f"(p_{k-1}_{j} - p_{k}_{k} * p_{k-1}_{k-j})")
                for j in range(1, k)
            ]
        )
    return [s for s in stages if s]


def pacf(
    value_col: str,
    max_lag: int,
    partition_by: str | None = None,
    order_by: Sequence[str] = ("ts",),
) -> Callable[[DataFrame], DataFrame]:
    """Partial autocorrelation function φ_{k,k}, k = 1..max_lag, per
    series — the AR-order picker next to :func:`acf` (ACF tails off /
    PACF cuts at p ⇒ AR(p); the other half of the Box–Jenkins
    identification pair) and the natural companion to
    :func:`ljung_box`'s white-noise gate.

    Data-scale work is exactly :func:`acf`'s (one ordered window pass,
    one aggregation — same keyed chunked-halo scale path); the
    Durbin–Levinson recursion then runs on the K-value-per-series
    METADATA table as generated chained selects
    (:func:`durbin_levinson_schedule` — the q242/q257 idiom, identical
    expression trees in the SQL oracle's MATERIALIZED CTEs).  Returns
    ``partition_by…, lag, pacf`` (6 dp; NULL through singular steps or
    short series, matching the SQL).
    """
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        long = df.transform(
            acf(
                value_col,
                max_lag,
                partition_by=partition_by,
                order_by=order_by,
            )
        )
        wide = long.groupBy(*gcols).agg(
            *[
                F.max(
                    F.when(F.col("lag") == k, F.col("acf"))
                ).alias(f"r_{k}")
                for k in range(1, max_lag + 1)
            ]
        )
        for stage in durbin_levinson_schedule(max_lag):
            wide = wide.select(
                "*", *[F.expr(e).alias(c) for c, e in stage]
            )
        pairs = F.array(
            *[
                F.struct(
                    F.lit(k).alias("lag"),
                    F.round(F.col(f"p_{k}_{k}"), 6).alias("pacf"),
                )
                for k in range(1, max_lag + 1)
            ]
        )
        return wide.select(*gcols, F.explode(pairs).alias("_e")).select(
            *gcols, F.col("_e.lag").alias("lag"),
            F.col("_e.pacf").alias("pacf"),
        )

    return _t


def kpss_level(
    value_col: str,
    bartlett_lags: int = 5,
    partition_by: str | None = None,
    order_by: Sequence[str] = ("ts",),
) -> Callable[[DataFrame], DataFrame]:
    """KPSS level-stationarity test per series (Kwiatkowski et al.
    1992) — the null here is STATIONARY, the mirror image of unit-root
    tests, which is what makes it the standard pre-flight before
    trusting any mean/trend statistic on a metric series:

        e_t = x_t − x̄,   S_t = Σ_{i≤t} e_i
        η   = n⁻² Σ_t S_t²
        ω²  = γ₀ + 2 Σ_{l=1..L} (1 − l/(L+1)) γ_l   (Bartlett)
        KPSS = η / ω²,     γ_l = n⁻¹ Σ_{t>l} e_t e_{t−l}

    Large KPSS (≳ 0.463 at 5%) rejects stationarity.  ONE ordered
    window pass carries the cumulative S_t AND the L lag products
    (the acf shape), one aggregation reduces each series to L+3
    moments, then a scalar tree — no joins, no iteration.

    Determinism: x̄ is the exact-decimal mean; EVERY e-involving term
    (cumsum terms, e², lag products, S_t²) is DECIMAL(38,12)-cast —
    e is a raw value difference, and (38,6) casts of raw differences
    land on rounding midpoints that diverge engines (the q286/q79
    lesson, re-measured here: 1.4e-7 relative on η at (38,6)); the
    ordered cumsum itself must be decimal anyway (ordered SUM(double)
    associates differently — the q53 lesson).  ``order_by``
    must include a unique tie-breaker.  Returns
    ``partition_by…, n, eta, omega2, kpss`` (6 dp; NULL when ω² ≤ 0
    or n ≤ L).

    Scale path (r14): past the size and hot-key gates
    (:func:`_keyed_plan`) it swaps in the chunked plan — the group mean
    moves from the full-frame keyed window (which buffers a hot key's
    whole series on one task) to a partial-aggregated groupBy +
    null-safe join-back (the exact same decimal-sum/count quotient),
    the cumulative S_t runs through
    the SYNTHETIC-OFFSET-ROW prefix-scan idiom (each chunk c > 0 gets
    one flagged extra row carrying the exact decimal sum of every
    earlier chunk, sorted before its real rows, so cross-chunk carries
    accumulate inside one decimal sum aggregate — a decimal(38,6)
    binary add would round to scale 5 under Spark's precision-loss
    rule), and the L lag products ride the
    chunked-halo context rows (``_explode_halo``, halo = L; the
    synthetic offset row sorts before the halo band, so the deepest
    real-row lag lands exactly on the first halo copy).  BIT-IDENTICAL
    by construction; unkeyed input partitions on a constant column.
    """
    if bartlett_lags < 0:
        raise ValueError("bartlett_lags must be >= 0")
    gcols = [partition_by] if partition_by else []
    L = int(bartlett_lags)

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(F.col(value_col).isNotNull()).select(
            *gcols,
            *order_by,
            F.col(value_col).cast("double").alias("_x"),
        )
        d0 = d
        pkeys = gcols
        if not pkeys:
            d0 = d.withColumn("_kp_pk", F.lit(1))
            pkeys = ["_kp_pk"]
        cr = _keyed_plan(
            d0, pkeys, order_by[0], halo=max(L, 1),
            hot_rows=_KEYED_HOT_KEY_ROWS,
        )
        dec12 = "decimal(38,12)"
        if cr is not None:
            from btc_usdt_etl_pipeline_spark.functions import (
                null_safe_join,
            )

            means = d0.groupBy(*pkeys).agg(
                F.sum(F.col("_x").cast("decimal(38,6)")).alias(
                    "_kp_s"
                ),
                F.count("_x").alias("_kp_c"),
            )
            dm = null_safe_join(d0, means, pkeys).withColumn(
                "_e",
                F.col("_x")
                - F.col("_kp_s").cast("double") / F.col("_kp_c"),
            ).drop("_kp_s", "_kp_c")
            indexed = _keyed_index(
                dm, pkeys, list(order_by), index_col="_g_idx"
            )
            u = _explode_halo(indexed, L, cr).withColumn(
                "_kp_t",
                F.when(
                    ~F.col("_halo"), F.col("_e").cast(dec12)
                ),
            )
            parts = indexed.withColumn(
                "_chunk", F.floor(F.col("_g_idx") / F.lit(cr))
            ).groupBy(*pkeys, "_chunk").agg(
                F.sum(F.col("_e").cast(dec12)).alias("_kp_sum")
            )
            wk = Window.partitionBy(*pkeys).orderBy(
                "_chunk"
            ).rowsBetween(Window.unboundedPreceding, -1)
            offs = parts.select(
                *pkeys,
                "_chunk",
                F.sum("_kp_sum").over(wk).alias("_kp_off"),
            )
            syn = offs.where(F.col("_kp_off").isNotNull()).select(
                *pkeys,
                "_chunk",
                (
                    F.col("_chunk") * F.lit(cr) - F.lit(L + 1)
                ).alias("_g_idx"),
                F.lit(True).alias("_halo"),
                F.col("_kp_off").alias("_kp_t"),
            )
            u = u.unionByName(syn, allowMissingColumns=True)
            wl = Window.partitionBy(*pkeys, "_chunk").orderBy(
                "_g_idx"
            )
            wo = wl.rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            st = F.sum("_kp_t").over(wo).cast("double")
            staged = u.select(
                *gcols,
                "_e",
                "_halo",
                st.alias("_s"),
                *[
                    (F.col("_e") * F.lag("_e", l).over(wl)).alias(
                        f"_p{l}"
                    )
                    for l in range(1, L + 1)
                ],
            ).where(~F.col("_halo")).drop("_halo")
        else:
            wg = Window.partitionBy(*gcols)
            mean = (
                F.sum(F.col("_x").cast("decimal(38,6)")).over(wg).cast(
                    "double"
                )
                / F.count("_x").over(wg)
            )
            dm = d.select(
                *gcols, *order_by, (F.col("_x") - mean).alias("_e")
            )
            wo = wg.orderBy(*order_by).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            wl = wg.orderBy(*order_by)
            st = F.sum(F.col("_e").cast("decimal(38,12)")).over(
                wo
            ).cast("double")
            staged = dm.select(
                *gcols,
                "_e",
                st.alias("_s"),
                *[
                    (F.col("_e") * F.lag("_e", l).over(wl)).alias(
                        f"_p{l}"
                    )
                    for l in range(1, L + 1)
                ],
            )
        agg = staged.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("_s") * F.col("_s")).cast(dec12))
            .cast("double")
            .alias("_ss"),
            F.sum((F.col("_e") * F.col("_e")).cast(dec12))
            .cast("double")
            .alias("_g0"),
            *[
                F.sum(F.col(f"_p{l}").cast(dec12))
                .cast("double")
                .alias(f"_g{l}")
                for l in range(1, L + 1)
            ],
        )
        nn = F.col("n").cast("double")
        omega2 = F.col("_g0") / nn
        for l in range(1, L + 1):
            omega2 = omega2 + F.lit(2.0) * (
                F.lit(1.0) - F.lit(float(l)) / F.lit(float(L + 1))
            ) * (F.coalesce(F.col(f"_g{l}"), F.lit(0.0)) / nn)
        eta = F.col("_ss") / (nn * nn)
        ok = (F.col("n") > L) & (omega2 > 0)
        return agg.select(
            *gcols,
            "n",
            F.round(eta, 6).alias("eta"),
            F.when(ok, F.round(omega2, 6)).alias("omega2"),
            F.when(ok, F.round(eta / omega2, 6)).alias("kpss"),
        )

    return _t


def arch_lm(
    value_col: str,
    partition_by: str | None = None,
    order_by: Sequence[str] = ("ts",),
) -> Callable[[DataFrame], DataFrame]:
    """Engle's ARCH LM test (lag 1) per series — "does this series
    show conditional heteroscedasticity?", the volatility-clustering
    gate a returns/measurement series passes before constant-variance
    models are trusted.  The time-domain sibling of
    :func:`~btc_usdt_etl_pipeline_spark.operators.stats.breusch_pagan`
    (same LM = n·R² construction), but the auxiliary regressor is the
    series' OWN lagged squared deviation:

        e_t = x_t − x̄,   g_t = e_t²,
        aux-fit g_t ~ g_{t-1},   LM = n'·R²_aux,   df = 1

    One group-mean agg (decimal sum / count, broadcast-joined back),
    one keyed lag tap ordered by ``order_by`` (pass a tie-breaking
    tuple, e.g. ``("ts", "event_id")`` — the ca35287 discipline), one
    decimal-moment agg; R² via the same closed form as Breusch–Pagan.
    The lag tap routes through :func:`keyed_lags` (halo = 1), so past
    the size gate it swaps in the chunked-halo plan when one key's
    series exceeds the hot-key threshold — a zipf-hot key no longer
    serializes its whole series onto one sort task (the r13 SCALE.md
    27.2 s/100× floor), and the chunked plan is BIT-IDENTICAL (the
    ``durbin_watson`` routing; ungrouped input partitions on the
    constant ``_mu`` column, the same single-logical-group trick).
    Per-row g doubles are identical across engines (one IEEE subtract
    + multiply on an exact-decimal mean); all moment sums
    DECIMAL(38,6)-term-cast; outputs 6 dp.  Degenerate series
    (n' ≤ 2, constant g, constant lagged g) emit NULL lm.
    Returns ``partition_by…, n_pairs, r2_aux, lm``.
    """
    gcols = [partition_by] if partition_by else []
    ocols = list(order_by)

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(value_col).isNotNull()
            & F.col(ocols[0]).isNotNull()
        ).select(
            *gcols,
            *ocols,
            F.col(value_col).cast("double").alias("_x"),
        )
        mean = d.groupBy(*gcols).agg(
            (
                F.sum(F.col("_x").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("_mu")
        )
        joined = join_groups(
            d, mean, gcols, probes=(F.col("_x"), F.col("_mu"))
        )
        e = F.col("_x") - F.col("_mu")
        staged = joined.select(
            *gcols, *ocols, "_mu", (e * e).alias("_g")
        ).transform(
            keyed_lags(
                [("_g", 1, "_gl")],
                order_by=ocols,
                partition_by=list(gcols) or ["_mu"],
            )
        )
        pairs = staged.where(F.col("_gl").isNotNull())

        def m(expr, name):
            return (
                F.sum(expr.cast("decimal(38,6)"))
                .cast("double")
                .alias(name)
            )

        g, gl = F.col("_g"), F.col("_gl")
        aux = pairs.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("n_pairs"),
            m(gl, "_sx"),
            m(g, "_sg"),
            m(gl * gl, "_sxx"),
            m(gl * g, "_sxg"),
            m(g * g, "_sgg"),
        )
        nn = F.col("n_pairs").cast("double")
        num = nn * F.col("_sxg") - F.col("_sx") * F.col("_sg")
        dx = nn * F.col("_sxx") - F.col("_sx") * F.col("_sx")
        dg = nn * F.col("_sgg") - F.col("_sg") * F.col("_sg")
        r2 = F.when((dx > 0) & (dg > 0), num * num / (dx * dg))
        return aux.select(
            *gcols,
            "n_pairs",
            F.round(r2, 6).alias("r2_aux"),
            F.when(
                F.col("n_pairs") > 2, F.round(nn * r2, 6)
            ).alias("lm"),
        )

    return _t


def hurst_aggvar(
    value_col: str,
    block_sizes: Sequence[int] = (2, 4, 8),
    partition_by: str | None = None,
    order_by: Sequence[str] = ("ts",),
) -> Callable[[DataFrame], DataFrame]:
    """Hurst exponent per series via the aggregated-variance method
    (Beran 1994; the long-range-dependence triage a series gets next
    to :func:`acf`'s short-lag view): for block sizes m ∈ block_sizes,
    variance of the means of consecutive non-overlapping full blocks
    scales as Var(X̄_m) ∝ m^(2H−2); the log-log OLS slope over
    geometrically spaced sizes reduces to the endpoint ratio (equally
    spaced x drops interior points from the slope — the middle
    variances are still computed and emitted), so

        H = 1 + ln(v_m3 / v_m1) / (2 · ln(m3 / m1)).

    One dense per-series index (``order_by`` must include a unique
    tie-breaker) — computed as a plain ``row_number`` window below the
    size and hot-key gates (:func:`_keyed_plan` keyed,
    :func:`_scale_gate` unkeyed) and switched to the two-pass
    bucket-offset index (:func:`_keyed_index` keyed /
    ``with_global_index`` unkeyed — the resample §4.3 idiom, integer
    positions, BIT-IDENTICAL) past them, so a zipf-hot key's series
    never rides one sort task (the r13 SCALE.md 41.2 s/100× floor) —
    then ONE data-scale agg to m1-blocks, then a
    HIERARCHICAL reduction: m2/m3 block sums are exact decimal adds of
    their m1-children (m2 % m1 == m3 % m2 == 0 enforced), so the whole
    ladder is a single pass plus metadata-scale rollups — no triple
    scan, no per-size shuffle of raw rows.  Ragged tails drop: a block
    contributes only with ALL m rows (children propagate the rule).
    Block means are one IEEE divide on exact decimal sums; variance
    moments DECIMAL(38,12); H's single ln() runs on an identical IEEE
    ratio in both engines, 6 dp output.  Degenerate series: one with
    ZERO full blocks at any size is DROPPED from the output entirely
    (the per-level stats inner-join has no row for it; ungrouped, an
    empty stats frame empties the whole output); a series with at
    least one full block at every size but fewer than 2 at some size
    emits its row with NULL hurst.
    Returns ``partition_by…, n, v_m1, v_m2, v_m3, hurst``.
    """
    ms = [int(m) for m in block_sizes]
    if len(ms) != 3 or sorted(ms) != ms or ms[0] < 2:
        raise ValueError("block_sizes must be 3 ascending ints >= 2")
    if ms[1] % ms[0] or ms[2] % ms[1]:
        raise ValueError("each block size must divide the next")
    if ms[1] * ms[1] != ms[0] * ms[2]:
        raise ValueError(
            "block sizes must be geometrically spaced "
            "(m2/m1 == m3/m2) for the endpoint-slope reduction"
        )
    gcols = [partition_by] if partition_by else []
    ocols = list(order_by)

    def _t(df: DataFrame) -> DataFrame:
        d0 = df.where(
            F.col(value_col).isNotNull()
            & F.col(ocols[0]).isNotNull()
        ).select(
            *gcols,
            *ocols,
            F.col(value_col).cast("double").alias("_x"),
        )
        if gcols and _keyed_plan(
            d0, gcols, ocols[0], halo=1,
            hot_rows=_KEYED_HOT_KEY_ROWS_CHEAP,
        ) is not None:
            d = _keyed_index(d0, gcols, ocols, index_col="_rn")
        elif not gcols and _scale_gate(d0, ocols[0]):
            from btc_usdt_etl_pipeline_spark.operators.resample import (
                with_global_index,
            )

            d = with_global_index(
                d0, ocols[0], tie_break=ocols[1:], index_col="_rn"
            )
        else:
            d = d0.withColumn(
                "_rn",
                F.row_number().over(_window_multi(gcols, ocols))
                - F.lit(1),
            )
        # level 1: the only data-scale agg — exact decimal block sums
        lvl = d.groupBy(
            *gcols, (F.col("_rn") / ms[0]).cast("long").alias("_b")
        ).agg(
            F.sum(F.col("_x").cast("decimal(38,6)")).alias("_s"),
            F.count(F.lit(1)).alias("_c"),
        ).where(F.col("_c") == ms[0])
        stats = []
        for i, m in enumerate(ms):
            if i > 0:  # fold children into the next block size
                k = ms[i] // ms[i - 1]
                lvl = lvl.groupBy(
                    *gcols,
                    (F.col("_b") / k).cast("long").alias("_b"),
                ).agg(
                    F.sum("_s").alias("_s"),
                    F.count(F.lit(1)).alias("_c"),
                ).where(F.col("_c") == k)
            mean = F.col("_s").cast("double") / F.lit(float(m))
            st = lvl.select(*gcols, mean.alias("_mu")).groupBy(
                *gcols
            ).agg(
                F.count(F.lit(1)).alias(f"_k{i}"),
                F.sum(F.col("_mu").cast("decimal(38,12)"))
                .cast("double")
                .alias(f"_sm{i}"),
                F.sum(
                    (F.col("_mu") * F.col("_mu")).cast("decimal(38,12)")
                )
                .cast("double")
                .alias(f"_sq{i}"),
            )
            stats.append(st)
        n_rows = d.groupBy(*gcols).agg(F.count(F.lit(1)).alias("n"))
        out = n_rows
        for st in stats:
            out = join_groups(out, F.broadcast(st), gcols)
        vs = []
        for i in range(3):
            kk = F.col(f"_k{i}").cast("double")
            var = F.when(
                F.col(f"_k{i}") >= 2,
                (
                    F.col(f"_sq{i}")
                    - F.col(f"_sm{i}") * F.col(f"_sm{i}") / kk
                )
                / (kk - F.lit(1.0)),
            )
            vs.append(var)
        import math as _math

        h = F.lit(1.0) + F.log(vs[2] / vs[0]) / F.lit(
            2.0 * _math.log(ms[2] / ms[0])
        )
        ok = vs[0].isNotNull() & vs[2].isNotNull() & (vs[0] > 0) & (
            vs[2] > 0
        )
        return out.select(
            *gcols,
            "n",
            *[
                F.round(vs[i], 6).alias(f"v_m{ms[i]}")
                for i in range(3)
            ],
            F.when(ok, F.round(h, 6)).alias("hurst"),
        )

    return _t


def variance_ratio(
    value_col: str,
    q: int = 4,
    partition_by: str | None = None,
    order_by: Sequence[str] = ("ts",),
) -> Callable[[DataFrame], DataFrame]:
    """Lo–MacKinlay variance-ratio test per series — "is this a
    random walk?", the q-period companion to :func:`hurst_aggvar`'s
    long-range view and q300's KPSS: under the random-walk null the
    variance of q-period differences is q× the one-period variance,

        VR(q) = σ²(q) / σ²(1)          (plain overlapping estimator,
                                        no small-sample bias term)
        σ²(1) = Σ(d_t − μ̂)² / (n₁−1),      d_t = x_t − x_{t−1},
                                            n₁ = #one-period diffs
        σ²(q) = Σ(d_t(q) − qμ̂)² / (q·n_q), d_t(q) = x_t − x_{t−q},
                                            n_q = #q-period diffs
        z = (VR−1) / sqrt(2(2q−1)(q−1)/(3q·n₁))   (homoscedastic)

    VR < 1 ⇒ mean reversion, VR > 1 ⇒ momentum.  ONE keyed ordered
    pass carries BOTH lag taps (lag 1 and lag q — the q185 one-pass
    idiom) via :func:`keyed_lags` (halo = q), so past the size gate it
    swaps in the chunked-halo plan when one key's series exceeds the
    hot-key threshold — BIT-IDENTICAL, clearing the r13 zipf-hot-key
    single-sort-task floor (SCALE.md 39.4 s/100×); ungrouped input
    partitions on a constant column (the ``durbin_watson`` trick) —
    then one decimal-moment agg and a scalar tree.
    μ̂ enters both numerators as the same exact-decimal-sum/count
    double; deviation terms are (38,12)-cast before the order-free
    sums.  Pass a tie-breaking ``order_by`` tuple.  Series with
    n ≤ q (or zero σ²(1)) emit NULL vr/z.
    Returns ``partition_by…, n, vr, z``.
    """
    if q < 2:
        raise ValueError("q must be >= 2")
    gcols = [partition_by] if partition_by else []
    ocols = list(order_by)

    def _t(df: DataFrame) -> DataFrame:
        d0 = df.where(
            F.col(value_col).isNotNull()
            & F.col(ocols[0]).isNotNull()
        ).select(
            *gcols,
            *ocols,
            F.col(value_col).cast("double").alias("_x"),
        )
        if not gcols:
            d0 = d0.withColumn("_pk", F.lit(1))
        d = d0.transform(
            keyed_lags(
                [("_x", 1, "_x1"), ("_x", int(q), "_xq")],
                order_by=ocols,
                partition_by=list(gcols) or ["_pk"],
            )
        ).select(*gcols, "_x", "_x1", "_xq")
        dec12 = "decimal(38,12)"
        # n and mu over the ONE-period diffs (n = count of rows with a
        # lag-1 predecessor + 1 = series length; mu = (x_n - x_0)/(n-1)
        # algebraically, but computed as the literal diff mean so both
        # engines share the tree)
        d1 = F.col("_x") - F.col("_x1")
        dq = F.col("_x") - F.col("_xq")
        agg = d.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("n"),
            F.count("_x1").alias("_n1"),
            F.sum(F.when(F.col("_x1").isNotNull(), d1).cast(dec12))
            .cast("double")
            .alias("_sd"),
            F.sum(
                F.when(F.col("_x1").isNotNull(), d1 * d1).cast(dec12)
            )
            .cast("double")
            .alias("_sdd"),
            F.count("_xq").alias("_nq"),
            F.sum(F.when(F.col("_xq").isNotNull(), dq).cast(dec12))
            .cast("double")
            .alias("_sq"),
            F.sum(
                F.when(F.col("_xq").isNotNull(), dq * dq).cast(dec12)
            )
            .cast("double")
            .alias("_sqq"),
        )
        n1 = F.col("_n1").cast("double")
        nq = F.col("_nq").cast("double")
        mu = F.col("_sd") / n1
        var1 = (
            F.col("_sdd")
            - F.lit(2.0) * mu * F.col("_sd")
            + n1 * mu * mu
        ) / (n1 - F.lit(1.0))
        qd = F.lit(float(q))
        mden = qd * nq
        varq = (
            F.col("_sqq")
            - F.lit(2.0) * qd * mu * F.col("_sq")
            + nq * qd * qd * mu * mu
        ) / mden
        vr = varq / var1
        zden = (
            F.lit(2.0 * (2 * q - 1) * (q - 1)) / F.lit(3.0 * q)
        ) / n1
        ok = (
            (F.col("_nq") > 1)
            & (F.col("_n1") > 1)
            & (var1 > 0)
            & (mden > 0)
        )
        return agg.select(
            *gcols,
            "n",
            F.when(ok, F.round(vr, 6)).alias("vr"),
            F.when(
                ok, F.round((vr - F.lit(1.0)) / F.sqrt(zden), 6)
            ).alias("z"),
        )

    return _t

"""Relational operator library (SURVEY.md §2B: joins, top-k, set ops).

The reference has zero joins (single-table pipeline, SURVEY.md §2A); these
are the declared extensions, each a thin composition over native DataFrame
ops so Catalyst keeps full optimization freedom (join selection, AQE,
pushdown).  Helpers exist to encode the *scale-correct idiom* once:
broadcast the dim side, top-k per group without a global sort, etc.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.functions import group_columns


def broadcast_join(
    dim: DataFrame, on: str | Sequence[str] | Column, how: str = "inner"
) -> Callable[[DataFrame], DataFrame]:
    """Join against a small dimension table with an explicit broadcast hint.

    At 100 TB the fact side never shuffles for a dim join — the dim table
    ships to every executor.  AQE would usually pick this anyway below the
    threshold; the hint makes it deterministic for known-small dims
    (region/nation/part/supplier)."""

    def _t(fact: DataFrame) -> DataFrame:
        return fact.join(F.broadcast(dim), on, how)

    return _t


def semi_join(
    other: DataFrame, on: str | Sequence[str] | Column
) -> Callable[[DataFrame], DataFrame]:
    """EXISTS-style filter: keep left rows with a match (no row explosion)."""

    def _t(df: DataFrame) -> DataFrame:
        return df.join(other, on, "left_semi")

    return _t


def anti_join(
    other: DataFrame, on: str | Sequence[str] | Column
) -> Callable[[DataFrame], DataFrame]:
    """NOT EXISTS-style filter: keep left rows without a match."""

    def _t(df: DataFrame) -> DataFrame:
        return df.join(other, on, "left_anti")

    return _t


def top_k_per_group(
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    k: int,
    rank_col: str = "rnk",
    keep_rank: bool = True,
) -> Callable[[DataFrame], DataFrame]:
    """Top-k rows per key via ``row_number`` — shuffles once by the group
    key; no global sort.  Deterministic iff ``order_by`` is a total order
    within each group (append a unique tiebreaker column)."""

    def _t(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(*partition_by).orderBy(*order_by)
        out = df.withColumn(rank_col, F.row_number().over(w)).filter(
            F.col(rank_col) <= k
        )
        return out if keep_rank else out.drop(rank_col)

    return _t


def salted_agg(
    key_cols: "Sequence[str]",
    salt_buckets: int = 16,
    sum_cols: "Sequence[str]" = (),
    count_alias: str = "n",
) -> "Callable[[DataFrame], DataFrame]":
    """Two-level aggregation for skewed group keys: partial-aggregate on
    ``(key, salt)`` — spreading one hot key over ``salt_buckets``
    reducers — then finalize on ``key``.

    Decimal partial sums keep the result bit-identical to a direct
    groupBy (decimal addition is associative), so the salted plan is a
    drop-in for any additive aggregate when AQE's skew handling isn't
    enough (e.g. a single key holding >1 executor's worth of rows).
    """
    from btc_usdt_etl_pipeline_spark.functions import DEC as DECIMAL_SUM_TYPE

    def _t(df: DataFrame) -> DataFrame:
        salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), salt_buckets)
        partial = (
            df.withColumn("_salt", salt)
            .groupBy(*key_cols, "_salt")
            .agg(
                F.count(F.lit(1)).alias("_pn"),
                *[
                    F.sum(F.col(c).cast(DECIMAL_SUM_TYPE)).alias(f"_ps_{c}")
                    for c in sum_cols
                ],
            )
        )
        return partial.groupBy(*key_cols).agg(
            F.sum("_pn").alias(count_alias),
            *[
                F.sum(f"_ps_{c}").cast("double").alias(f"sum_{c}")
                for c in sum_cols
            ],
        )

    return _t


def global_top_k(
    order_by: Sequence[Column | str], k: int
) -> Callable[[DataFrame], DataFrame]:
    """Global ORDER BY ... LIMIT k.  Spark plans this as TakeOrderedAndProject
    (per-partition top-k + driver merge) — no full sort, safe at any scale."""

    def _t(df: DataFrame) -> DataFrame:
        return df.orderBy(*order_by).limit(k)

    return _t


def range_join(
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: int,
    how: str = "inner",
) -> Callable[[DataFrame], DataFrame]:
    """Point-in-interval join WITHOUT a nested-loop plan.

    Spark turns a bare ``p BETWEEN lo AND hi`` join condition into
    BroadcastNestedLoopJoin (or worse, a cartesian product) — quadratic
    work the moment the interval side outgrows broadcast.  The scale
    idiom is bucketing: chop the number line into fixed ``bucket_width``
    cells, explode each interval onto every cell it covers, and
    equi-join on the point's single cell, refining with the exact
    BETWEEN predicate.  Each (point, interval) pair meets in exactly one
    bucket — the point's — so no post-join dedup is needed.

    Shuffle is keyed by bucket (hash join); cost is
    Σ points(bucket)·intervals_covering(bucket).  Pick ``bucket_width``
    near the TYPICAL interval length: much smaller multiplies the
    interval explode fan-out (≈ len/width cells per interval), much
    larger piles unrelated points and intervals into the same cell.
    Columns must be numeric/epoch (cast timestamps first).  Intervals
    are treated as closed on both ends, mirroring SQL BETWEEN.
    """
    if how != "inner":
        raise ValueError("only how='inner' is implemented")

    def _t(points: DataFrame) -> DataFrame:
        w = F.lit(bucket_width)
        pb = points.withColumn(
            "_rb", F.floor(F.col(point_col) / w).cast("long")
        )
        ib = intervals.withColumn(
            "_rb",
            F.explode(
                F.sequence(
                    F.floor(F.col(lo_col) / w).cast("long"),
                    F.floor(F.col(hi_col) / w).cast("long"),
                )
            ),
        )
        return (
            pb.join(ib, "_rb")
            .filter(
                (F.col(point_col) >= F.col(lo_col))
                & (F.col(point_col) <= F.col(hi_col))
            )
            .drop("_rb")
        )

    return _t


def salted_join(
    right: DataFrame,
    on: Sequence[str],
    salt_buckets: int = 16,
    salt_source: Column | str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Skew-safe inner equi-join: salt the big (left) side, replicate the
    small (right) side ``salt_buckets``×, join on ``(keys..., salt)``.

    The sort-merge/shuffle-hash alternative sends every row of a hot key
    to ONE reducer; salting spreads it over ``salt_buckets`` reducers at
    the cost of replicating the right side — the standard move when one
    key holds more rows than an executor can hold and the right side is
    too big to broadcast outright but small enough to replicate.
    (AQE's skew-join split handles moderate skew automatically; explicit
    salting is for the pathological single-key case AQE can't split —
    e.g. a hot key inside one unsplittable shuffle block.)

    ``salt_source``: column whose hash spreads the left rows (default: a
    per-row id via ``monotonically_increasing_id`` — uniform but plan-
    internal).  Result equals the plain inner join row-for-row.
    """

    def _t(left: DataFrame) -> DataFrame:
        src = (
            F.monotonically_increasing_id()
            if salt_source is None
            else (
                F.col(salt_source)
                if isinstance(salt_source, str)
                else salt_source
            )
        )
        lhs = left.withColumn(
            "_salt", F.pmod(F.xxhash64(src), F.lit(salt_buckets))
        )
        rhs = right.withColumn(
            "_salt",
            F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
        ).withColumn("_salt", F.col("_salt").cast("long"))
        return lhs.join(rhs, [*on, "_salt"]).drop("_salt")

    return _t


def scd2(
    key_col: str,
    attr_cols: Sequence[str],
    time_col: str = "ts",
    order_tiebreak: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Slowly-Changing-Dimension Type 2 build from a changelog: one
    versioned row per (key, attribute-state) RUN, with
    ``valid_from`` / ``valid_to`` interval columns and ``is_current``
    — the standard warehouse dimension-history shape (the interval
    complement of latest-snapshot changelog compaction).

    Consecutive changelog rows whose tracked attributes are unchanged
    COLLAPSE into one version (only real changes open a new interval);
    ``valid_to`` is the next version's ``valid_from`` (half-open
    intervals), null on the current version.

    Plan: two windows, both keyed by ``key_col`` (no unkeyed window,
    no self-join): lag over the attribute struct marks run starts,
    lead over the surviving rows closes the intervals.  At 100 TB this
    is two key-partitioned sort passes — the same shape AS-OF joins
    already use.  ``order_tiebreak`` breaks equal-timestamp changelog
    rows deterministically (defaults to the attribute struct itself).
    """
    if not attr_cols:
        raise ValueError("attr_cols must be non-empty")

    def _t(df: DataFrame) -> DataFrame:
        attrs = F.struct(*[F.col(c) for c in attr_cols])
        order = [F.col(time_col)]
        order.append(
            F.col(order_tiebreak) if order_tiebreak else attrs
        )
        w = Window.partitionBy(key_col).orderBy(*order)
        # null-safe change test (IS DISTINCT FROM): a null attribute
        # value must open/close versions like any other value, and the
        # run's first row (lag = null struct) must always mark
        marked = df.withColumn(
            "_chg", ~F.lag(attrs).over(w).eqNullSafe(attrs)
        ).filter(F.col("_chg"))
        w2 = Window.partitionBy(key_col).orderBy(time_col, *(
            [F.col(order_tiebreak)] if order_tiebreak else [attrs]
        ))
        return (
            marked.withColumn("valid_from", F.col(time_col))
            .withColumn("valid_to", F.lead(time_col).over(w2))
            .withColumn("is_current", F.col("valid_to").isNull())
            .select(
                key_col, *attr_cols, "valid_from", "valid_to",
                "is_current",
            )
        )

    return _t


def cdc_merge(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    version_cols: Sequence[str],
    op_col: str = "op",
    delete_op: str = "delete",
) -> DataFrame:
    """Changelog (CDC) merge: apply a stream of upserts/deletes to a
    snapshot, latest-wins per key — the MERGE INTO / Delta-upsert
    compaction every incremental pipeline runs on its bronze→silver
    hop, as a pure DataFrame plan.

    ``changes`` carries the snapshot's data columns plus ``op_col``
    (any value other than ``delete_op`` is an upsert) and is totally
    ordered per key by the ``version_cols`` tuple (commit ts +
    a sequence tiebreaker; ties are caller error, like SCD2).  Keys
    whose LATEST change is a delete drop out of the merged snapshot;
    keys untouched by the changelog pass through.

    Plan: one ``row_number`` window over the snapshot ∪ changes union,
    keyed by ``key_cols`` — a single hash-shuffle by key, parallel
    across keys, no join (the snapshot row sorts below every change
    via a source rank, so "latest change else snapshot" is one rank=1
    filter).  At 100 TB this is the same exchange a latest-snapshot
    groupBy would pay; nothing is driver-side and no side is
    materialized twice.
    """
    keys = list(key_cols)
    data_cols = [c for c in snapshot.columns if c not in keys]
    s = snapshot.select(
        *keys,
        *data_cols,
        F.lit(0).alias("_src"),
        F.lit(None).cast("string").alias("_op"),
        *[
            F.lit(None).cast(dict(changes.dtypes)[v]).alias(f"_v_{v}")
            for v in version_cols
        ],
    )
    c = changes.select(
        *keys,
        *data_cols,
        F.lit(1).alias("_src"),
        F.col(op_col).alias("_op"),
        *[F.col(v).alias(f"_v_{v}") for v in version_cols],
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col("_src").desc(),
        *[F.col(f"_v_{v}").desc() for v in version_cols],
    )
    return (
        s.unionByName(c)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .filter(
            F.col("_op").isNull() | (F.col("_op") != F.lit(delete_op))
        )
        .select(*keys, *data_cols)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Keyed diff between two snapshot versions — the regression report
    every scheduled pipeline wants between runs: how many keys were
    added / removed / changed / unchanged, and per compared column, how
    many surviving keys changed it.

    Null-safe comparison (``eqNullSafe``) so null↔value transitions
    count as changes.  Plan: ONE full-outer join keyed by ``key_cols``
    plus one aggregation — the whole report is a single pass, no
    per-column jobs.  Returns long-form ``(metric, n)`` rows:
    ``n_added``, ``n_removed``, ``n_changed``, ``n_unchanged``, then
    ``changed:<col>`` per compared column.
    """
    keys = list(key_cols)
    cols = list(
        compare_cols
        if compare_cols is not None
        else [c for c in old.columns if c not in keys]
    )
    o = old.select(
        *keys,
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"_o_{c}") for c in cols],
    )
    n = new.select(
        *keys,
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"_n_{c}") for c in cols],
    )
    j = o.join(n, keys, "full_outer")
    both = F.col("_in_old").isNotNull() & F.col("_in_new").isNotNull()
    col_changed = {
        c: both & ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
        for c in cols
    }
    any_changed = None
    for c in cols:
        any_changed = (
            col_changed[c]
            if any_changed is None
            else (any_changed | col_changed[c])
        )
    cnt = lambda cond: F.sum(  # noqa: E731
        F.when(cond, 1).otherwise(0)
    ).cast("long")
    agg = j.agg(
        cnt(F.col("_in_old").isNull()).alias("n_added"),
        cnt(F.col("_in_new").isNull()).alias("n_removed"),
        cnt(both & any_changed).alias("n_changed"),
        cnt(both & ~any_changed).alias("n_unchanged"),
        *[
            cnt(col_changed[c]).alias(f"changed:{c}")
            for c in cols
        ],
    )
    metrics = ["n_added", "n_removed", "n_changed", "n_unchanged"] + [
        f"changed:{c}" for c in cols
    ]
    pairs = F.array(
        *[
            F.struct(
                F.lit(m).alias("metric"), F.col(f"`{m}`").alias("n")
            )
            for m in metrics
        ]
    )
    return agg.select(F.explode(pairs).alias("_p")).select("_p.*")


def skyline_2d(
    x_col: str,
    y_col: str,
    minimize_x: bool = True,
    maximize_y: bool = True,
    num_buckets: int = 512,
) -> Callable[[DataFrame], DataFrame]:
    """2-D skyline (Pareto front): rows no other row dominates.

    A row is dominated iff some other row is at-least-as-good on both
    axes and strictly better on at least one (default: smaller-or-equal
    x, larger-or-equal y).  The classic formulation is a quadratic
    NOT-EXISTS self-join; in 2-D it collapses to a SORT + RUNNING MAX:
    a row survives iff its y equals the best y at its exact x AND
    strictly exceeds the best y over all strictly-better x.  Equal
    (x, y) duplicates survive together (neither strictly beats the
    other).  Rows with a null coordinate are incomparable and dropped.

    The running max is computed WITHOUT a global sort, by the same
    two-level decomposition the global indexer uses: quantize x into
    ``num_buckets`` range buckets (in-plan min/max bounds, broadcast
    attach), take per-bucket y maxima (metadata-sized: collected,
    prefix-maxed on the driver, broadcast back), and run the
    within-bucket max as a bucket-KEYED window.  Plan: two keyed
    shuffles (bucket agg + bucket window), one broadcast join, no
    Exchange SinglePartition — survives any x distribution except
    extreme single-value skew, where every row shares one bucket and
    the keyed window serializes (then: raise num_buckets or pre-hash
    the constant dimension away; a constant x makes the skyline
    trivial anyway).
    """

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.functions import attach_scalar

        x = F.col(x_col) if minimize_x else -F.col(x_col)
        y = F.col(y_col) if maximize_y else -F.col(y_col)
        base = df.where(
            F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
        )
        pts = base.select(
            F.struct(*[F.col(c) for c in base.columns]).alias("_row"),
            x.cast("double").alias("_x"),
            y.cast("double").alias("_y"),
        )
        bounds = pts.agg(
            F.min("_x").alias("_lo"), F.max("_x").alias("_hi")
        )
        withb = attach_scalar(
            pts, bounds, F.col("_x"), F.col("_lo")
        )
        span = F.col("_hi") - F.col("_lo")
        bkt = F.when(span > 0, F.least(
            F.floor(
                (F.col("_x") - F.col("_lo")) / span * num_buckets
            ).cast("long"),
            F.lit(num_buckets - 1),
        )).otherwise(F.lit(0).cast("long"))
        pb = withb.withColumn("_b", bkt).drop("_lo", "_hi")

        # Per-(bucket, x) best y; per-bucket best y (metadata-sized).
        gx = pb.groupBy("_b", "_x").agg(F.max("_y").alias("_gy"))
        bmax_rows = (
            gx.groupBy("_b").agg(F.max("_gy").alias("_by")).collect()
        )
        by = {int(r["_b"]): r["_by"] for r in bmax_rows}
        prefix: dict[int, float] = {}
        best = None
        for b in sorted(by):
            prefix[b] = best
            best = by[b] if best is None else max(best, by[b])
        spark = df.sparkSession
        pre_df = spark.createDataFrame(
            [(b, p) for b, p in prefix.items()],
            "_b long, _pre double",
        )

        w = (
            Window.partitionBy("_b")
            .orderBy("_x")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        gx2 = (
            gx.withColumn("_inb", F.max("_gy").over(w))
            .join(F.broadcast(pre_df), "_b", "left")
            .withColumn(
                "_best_before",
                F.greatest(
                    F.coalesce(F.col("_inb"), F.lit(float("-inf"))),
                    F.coalesce(F.col("_pre"), F.lit(float("-inf"))),
                ),
            )
            .where(F.col("_gy") > F.col("_best_before"))
            .select(
                F.col("_b").alias("_sb"),
                F.col("_x").alias("_sx"),
                F.col("_gy").alias("_sy"),
            )
        )
        out = pb.join(
            gx2,
            (F.col("_b") == F.col("_sb"))
            & (F.col("_x") == F.col("_sx"))
            & (F.col("_y") == F.col("_sy")),
            "inner",
        ).select("_row.*")
        return out

    return _t


def segment_overlap(
    segment_col: str,
    member_col: str,
    min_members: int = 1,
) -> Callable[[DataFrame], DataFrame]:
    """Pairwise set-similarity matrix between segments (audience
    overlap, cohort containment, label co-occurrence): for every pair
    of segments A < B over their member sets,

        jaccard = |A∩B| / |A∪B|,   overlap = |A∩B| / min(|A|,|B|)

    (the overlap coefficient catches containment that Jaccard dilutes
    — a small segment fully inside a big one scores 1.0 overlap but
    tiny Jaccard).

    Plan: collapse to DISTINCT (segment, member) first (the one
    data-scale shuffle), then a member-keyed self-join produces each
    co-membership exactly once (``A < B``), one pair-level count, and
    a broadcast attach of the segment sizes — intersection work is
    Σ_member degree², bounded by the SEGMENT count per member (tiny:
    a member belongs to few segments), never corpus-quadratic.
    Segments with fewer than ``min_members`` members are dropped
    BEFORE pairing (noise fence; sizes and denominators come from the
    same fenced population — the q195 lesson).

    All-integer counts + single IEEE divisions: bit-stable, no
    rounding contract.  Returns ``seg_a, seg_b, n_a, n_b, n_common,
    jaccard, overlap`` for pairs with ``n_common > 0``.
    """

    def _t(df: DataFrame) -> DataFrame:
        m = df.select(
            F.col(segment_col).alias("_seg"),
            F.col(member_col).alias("_mem"),
        ).distinct()
        sizes = m.groupBy("_seg").agg(F.count(F.lit(1)).alias("_n"))
        keep = sizes.filter(F.col("_n") >= min_members)
        fenced = m.join(
            F.broadcast(keep.select("_seg")), "_seg"
        )
        a = fenced.select(F.col("_mem"), F.col("_seg").alias("seg_a"))
        b = fenced.select(F.col("_mem"), F.col("_seg").alias("seg_b"))
        pairs = (
            a.join(b, "_mem")
            .where(F.col("seg_a") < F.col("seg_b"))
            .groupBy("seg_a", "seg_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        out = (
            pairs.join(
                F.broadcast(
                    keep.select(
                        F.col("_seg").alias("seg_a"),
                        F.col("_n").alias("n_a"),
                    )
                ),
                "seg_a",
            )
            .join(
                F.broadcast(
                    keep.select(
                        F.col("_seg").alias("seg_b"),
                        F.col("_n").alias("n_b"),
                    )
                ),
                "seg_b",
            )
        )
        union = F.col("n_a") + F.col("n_b") - F.col("n_common")
        return out.select(
            "seg_a", "seg_b", "n_a", "n_b", "n_common",
            (F.col("n_common").cast("double") / union.cast("double"))
            .alias("jaccard"),
            (
                F.col("n_common").cast("double")
                / F.least("n_a", "n_b").cast("double")
            ).alias("overlap"),
        )

    return _t


def weighted_median(
    value_col: str,
    weight_col: str,
    group_by: Sequence[str] | str | None = None,
    out: str = "weighted_median",
    num_buckets: int = 512,
) -> Callable[[DataFrame], DataFrame]:
    """Exact weighted median — :func:`weighted_quantile` at q = 1/2;
    see there for plan and scale notes."""
    return weighted_quantile(
        value_col, weight_col, 1, 2, group_by=group_by, out=out,
        num_buckets=num_buckets,
    )


def weighted_quantile(
    value_col: str,
    weight_col: str,
    q_num: int,
    q_den: int,
    group_by: Sequence[str] | str | None = None,
    out: str = "weighted_quantile",
    num_buckets: int = 512,
) -> Callable[[DataFrame], DataFrame]:
    """Exact weighted quantile per group: the smallest value whose
    cumulative weight reaches ``q_num/q_den`` of the total weight —
    the lower weighted quantile (q = 1/2 is the weighted median behind
    volume-weighted "typical price"; q = 9/10 a duration-weighted P90
    latency; size-weighted storage percentiles...).  An unweighted
    percentile over such data answers a different, usually wrong,
    question.

    The quantile enters as an exact RATIONAL (q_num/q_den), never a
    float: the readout compare is ``q_den·cum ≥ q_num·total`` in pure
    decimal arithmetic, so no float boundary can flip the chosen value
    cross-engine — the same exactness contract as the median's
    ``2·cum ≥ total`` special case.

    Plan: collapse to per-(group, value) weight sums first (the one
    data-scale shuffle — ties merge, so the ordered walk runs over
    DISTINCT values), then one ordered keyed window for the cumulative
    weight and one conditional aggregation for the readout.  Weight
    sums run through the exact-decimal idiom, and the half-total
    threshold is decimal arithmetic too, so the ≥ comparison is exact
    — no float boundary can flip the chosen value cross-engine.

    Scale path: the plain walk's parallelism is the GROUP count — for
    few-group / high-cardinality data (3 return flags × near-unique
    prices) the per-group ordered walk is a handful of giant tasks.
    The bucketed plan pre-buckets the value domain
    (zone-map style): per-(group, bucket) weight sums (metadata-scale),
    a bucket-level cumulative walk to locate each group's half-total
    bucket, then the detailed ordered walk over ONLY that bucket's
    distinct values with the preceding buckets' weight as an exact
    decimal carry-in — identical result (decimal sums are order-free
    and the bucket partition of the walk is exact), ~num_buckets× less
    data under any single ordered task.  It runs for numeric values
    past the Catalyst size gate (``windows._scale_gate``); smaller
    inputs walk, and so do non-numeric values (no ordered bucket
    function exists).

    Returns one row per group: ``group_by…, total_weight, out``.
    """
    if not (isinstance(q_num, int) and isinstance(q_den, int)):
        raise TypeError("q_num/q_den must be ints (exact rational)")
    if not (0 < q_num <= q_den):
        raise ValueError("need 0 < q_num <= q_den")
    gcols = group_columns(group_by)

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.functions import DEC
        from btc_usdt_etl_pipeline_spark.operators.windows import (
            _scale_gate,
        )

        per_v = (
            df.where(
                F.col(value_col).isNotNull()
                & F.col(weight_col).isNotNull()
            )
            .groupBy(*gcols, F.col(value_col).alias("_v"))
            .agg(F.sum(F.col(weight_col).cast(DEC)).alias("_w"))
        )
        if not _scale_gate(df, value_col, numeric_only=True):
            wg = Window.partitionBy(*gcols)
            wo = wg.orderBy("_v").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            cum = per_v.withColumn(
                "_cw", F.sum("_w").over(wo)
            ).withColumn("_tw", F.sum("_w").over(wg))
            # exact decimal compare: q_den·cum ≥ q_num·total
            hit = F.when(
                F.col("_cw") * F.lit(q_den)
                >= F.col("_tw") * F.lit(q_num),
                F.col("_v"),
            )
            return cum.groupBy(*gcols).agg(
                F.max("_tw").cast("double").alias("total_weight"),
                F.min(hit).alias(out),
            )

        # --- bucketed scale path (r9 redesign: NO collapse, NO cache)
        # ---
        # The r8 design collapsed to per-(group, value) sums first and
        # fed that table to three passes, which forced materializing a
        # near-row-scale shuffle output (27M rows at 100× lineitem) —
        # measured: eager localCheckpoint 234 s, persist cache-fill
        # 68 s, and persist leaked across calls (the r9 advisor item).
        # None of it is necessary, because decimal sums are order-free:
        #   1. lo/hi — min/max on the RAW filtered rows: a scan-only
        #      aggregation, no shuffle (same extremes as the collapsed
        #      values by definition);
        #   2. bucket sums — aggregate RAW rows straight to
        #      (group, bucket): map-side partials, metadata-scale
        #      output, bit-equal to summing the collapsed sums;
        #   3. detail walk — broadcast the half-bucket row back, filter
        #      RAW rows to that bucket FIRST (~1/num_buckets of the
        #      data), and only then collapse to per-(group, value) sums
        #      for the ordered cumulative readout.
        # Three cheap scans instead of one expensive materialization;
        # nothing persists, so nothing can leak.
        src = df.where(
            F.col(value_col).isNotNull() & F.col(weight_col).isNotNull()
        ).select(
            *gcols,
            F.col(value_col).alias("_v"),
            F.col(weight_col).cast(DEC).alias("_wr"),
        )
        lo_hi = src.agg(
            F.min("_v").alias("lo"), F.max("_v").alias("hi")
        ).first()
        lo, hi = lo_hi["lo"], lo_hi["hi"]
        if lo is None:  # no surviving rows: same shape as the plain
            # walk on empty input (grouped → 0 rows; global → 1 null row)
            return per_v.groupBy(*gcols).agg(
                F.max("_w").cast("double").alias("total_weight"),
                F.min("_v").alias(out),
            )
        span = float(hi) - float(lo)
        width = max(span / num_buckets, 1e-12)
        bexpr = F.least(
            F.lit(num_buckets - 1),
            F.floor((F.col("_v") - F.lit(float(lo))) / F.lit(width)),
        ).cast("long")
        pb = src.withColumn("_b", bexpr)
        bsum = pb.groupBy(*gcols, "_b").agg(F.sum("_wr").alias("_bw"))
        wgb = Window.partitionBy(*gcols)
        bcum = bsum.withColumn(
            "_bcw",
            F.sum("_bw").over(
                wgb.orderBy("_b").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        ).withColumn("_btw", F.sum("_bw").over(wgb))
        # the q-total bucket: smallest bucket whose end-of-bucket
        # cumulative reaches q·T — the hit value cannot lie later
        # (this bucket already reaches q·T) nor earlier (the previous
        # bucket's end-cum is < q·T).  Carry-in = cum minus own weight.
        half = (
            bcum.filter(
                F.col("_bcw") * F.lit(q_den)
                >= F.col("_btw") * F.lit(q_num)
            )
            .groupBy(*gcols)
            .agg(
                F.min_by(
                    F.struct(
                        F.col("_b").alias("_hb"),
                        (F.col("_bcw") - F.col("_bw")).alias("_carry"),
                        F.col("_btw").alias("_tw"),
                    ),
                    F.col("_b"),
                ).alias("_h")
            )
            .select(*gcols, "_h._hb", "_h._carry", "_h._tw")
        )
        # detail walk over ONLY the half bucket: broadcast the
        # group-scale half row, filter the RAW rows down to
        # ~1/num_buckets of the data, and only then collapse to
        # per-(group, value) sums for the ordered readout.
        # Empty gcols would make this join a cartesian of a 1-row side;
        # pin a constant key so it stays an equi-join in the plan audit.
        if gcols:
            # null-safe: groupBy keeps a NULL group, a plain equi-join
            # would drop it — the walk path emits it, so bucketed must.
            from btc_usdt_etl_pipeline_spark.functions import (
                null_safe_join,
            )

            detail = null_safe_join(pb, F.broadcast(half), gcols)
        else:
            detail = pb.withColumn("_one", F.lit(1)).join(
                F.broadcast(half.withColumn("_one", F.lit(1))), "_one"
            ).drop("_one")
        detail = (
            detail.filter(F.col("_b") == F.col("_hb"))
            .groupBy(*gcols, "_v", "_carry", "_tw")
            .agg(F.sum("_wr").alias("_w"))
        )
        wo2 = wgb.orderBy("_v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum2 = detail.withColumn(
            "_cw", F.col("_carry") + F.sum("_w").over(wo2)
        )
        hit = F.when(
            F.col("_cw") * F.lit(q_den) >= F.col("_tw") * F.lit(q_num),
            F.col("_v"),
        )
        return cum2.groupBy(*gcols).agg(
            F.max("_tw").cast("double").alias("total_weight"),
            F.min(hit).alias(out),
        )

    return _t

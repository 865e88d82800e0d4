"""Golden + property tests for the resample operators (SURVEY.md §5.2-2/3).

Semantics under test (reference parity, process_data.py:44-59): every n
consecutive rows ordered by open_time → one bar; open/close are the first/
last rows *by time* in the bucket; trades sum is preserved globally.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.operators.resample import (
    resample_by_count,
    resample_by_time,
    with_global_index,
)
from tests.conftest import make_klines, plain_and_scaled


def test_gap_free_golden(spark):
    df = make_klines(spark, 10)
    bars = df.transform(resample_by_count(4)).collect()
    assert len(bars) == 3  # ceil(10/4)
    b0 = bars[0]
    src = sorted(df.collect(), key=lambda r: r.open_time)[:4]
    assert b0.open_time == src[0].open_time
    assert b0.open == src[0].open
    assert b0.close == src[3].close
    assert b0.high == max(r.high for r in src)
    assert b0.low == min(r.low for r in src)
    assert b0.number_of_trades == sum(r.number_of_trades for r in src)


def test_ragged_tail(spark):
    # 10 rows, n=3 → final bar holds exactly one row (10 = 3*3 + 1)
    df = make_klines(spark, 10)
    bars = df.transform(resample_by_count(3)).collect()
    assert len(bars) == 4
    last = bars[-1]
    tail = max(df.collect(), key=lambda r: r.open_time)
    assert last.open_time == tail.open_time
    assert last.open == tail.open
    assert last.close == tail.close
    assert last.high == tail.high and last.low == tail.low
    assert last.number_of_trades == tail.number_of_trades


def test_gappy_buckets_are_row_count_not_wall_clock(spark):
    # Remove a block of seconds: row-count bars keep exactly n rows per
    # bar regardless of the time gap (the load-bearing semantics note).
    df = make_klines(spark, 20).filter(
        ~F.col("open_time").between(
            1_700_000_000_000 + 5_000, 1_700_000_000_000 + 9_000
        )
    )  # drops 5 rows → 15 remain
    n_in = df.count()
    assert n_in == 15
    vc = {"open": "open", "high": "high", "low": "low", "close": "close",
          "count": "n"}
    bars = df.transform(resample_by_count(4, value_cols=vc)).collect()
    assert len(bars) == math.ceil(15 / 4)
    assert [b.n_rows for b in bars] == [4, 4, 4, 3]


def test_invariants_random_order_input(spark, scale_paths):
    # Shuffled input partitions must not change the result (determinism
    # fix vs the reference's order-dependent first/last), and the sort
    # and bucket plans must agree exactly.
    df = make_klines(spark, 101).repartition(7)
    plans = plain_and_scaled(
        scale_paths, lambda: df.transform(resample_by_count(25)), "_offset"
    )
    by_plan = {}
    for plan, out in zip(("sort", "bucket"), plans):
        rows = out.collect()
        by_plan[plan] = rows
        assert len(rows) == math.ceil(101 / 25)
        assert [r.open_time for r in rows] == sorted(
            r.open_time for r in rows
        )
        total = df.agg(F.sum("number_of_trades")).first()[0]
        assert sum(r.number_of_trades for r in rows) == total
        glob_hi = df.agg(F.max("high")).first()[0]
        assert max(r.high for r in rows) == glob_hi
    assert by_plan["sort"] == by_plan["bucket"]


def test_count_equals_time_when_gap_free(spark):
    # 7200 one-second rows: 3600-row bars == 1-hour bars exactly.
    df = make_klines(spark, 7200, start_ms=1_700_002_800_000).withColumn(
        "event_time", F.timestamp_millis("open_time")
    )
    by_count = df.transform(resample_by_count(3600)).collect()
    by_time = df.transform(resample_by_time("1 hour")).collect()
    assert len(by_count) == len(by_time) == 2
    for c, t in zip(by_count, by_time):
        assert (c.open, c.high, c.low, c.close) == (
            t.open, t.high, t.low, t.close
        )


def test_empty_input(spark):
    df = make_klines(spark, 5).filter(F.col("open_time") < 0)
    assert df.transform(resample_by_count(10)).count() == 0


def test_global_index_dense_and_ordered(spark):
    df = make_klines(spark, 500, step_ms=137).repartition(13)
    idx = with_global_index(df, "open_time")
    rows = idx.orderBy("open_time").select("_idx").collect()
    assert [r._idx for r in rows] == list(range(500))


def test_global_index_null_order_values_and_dtype_guard(spark):
    """Review finding (r6): a null order value must index FIRST (the
    nulls-first placement of an ascending orderBy) instead of crashing
    the driver offset loop with int(None); unsupported order dtypes
    raise a clear TypeError pointing at the bucket= escape hatch."""
    import pytest

    from btc_usdt_etl_pipeline_spark.ml.features import positional_split
    from btc_usdt_etl_pipeline_spark.operators.resample import (
        global_index_with_total,
    )

    df = spark.createDataFrame(
        [(None,), (30,), (10,), (None,), (20,)], "t int"
    )
    indexed, n = global_index_with_total(df, "t")
    assert n == 5
    rows = sorted(indexed.collect(), key=lambda r: r["_idx"])
    assert [r["t"] for r in rows[2:]] == [10, 20, 30]  # nulls first
    assert sorted(r["_idx"] for r in rows) == [0, 1, 2, 3, 4]

    # positional_split over data containing nulls labels every row
    out = df.transform(positional_split("t", train=0.6, val=0.2))
    assert out.filter("split is null").count() == 0
    assert out.count() == 5

    # entirely-null numeric order column: all rows share the sentinel
    # bucket and still get dense indices (not the old null-index path)
    alln = spark.createDataFrame([(None,), (None,), (None,)], "t int")
    idx2, n2 = global_index_with_total(alln, "t")
    assert n2 == 3
    assert sorted(r["_idx"] for r in idx2.collect()) == [0, 1, 2]

    sdf = spark.createDataFrame([("a",), ("b",)], "s string")
    with pytest.raises(TypeError, match="bucket"):
        global_index_with_total(sdf, "s")


def test_m4_downsample_python_reference(spark):
    """M4 against a direct Python computation: per bucket the
    first/last/min/max points with (time, value) / (value, time)
    lexicographic tie-breaks, bucket ids always in [0, n)."""
    import datetime as dt

    from btc_usdt_etl_pipeline_spark.operators.resample import (
        m4_downsample,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (base + dt.timedelta(seconds=i), float((i * 7) % 13) - 6.0)
        for i in range(100)
    ]
    # duplicate-extreme bucket: two rows share the min value -> the
    # earlier timestamp must win via the (v, t) struct tie-break
    rows.append((base + dt.timedelta(seconds=100), -6.0))
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    n = 8
    got = {
        r["bucket"]: r
        for r in df.transform(m4_downsample("ts", "value", n)).collect()
    }

    us = [(int(t.timestamp() * 1_000_000), v) for t, v in rows]
    lo = min(u for u, _ in us)
    hi = max(u for u, _ in us)
    buckets: dict[int, list[tuple[int, float]]] = {}
    for u, v in us:
        buckets.setdefault((u - lo) * n // (hi - lo + 1), []).append(
            (u, v)
        )
    assert set(got) == set(buckets)
    for b, pts in buckets.items():
        r = got[b]
        assert 0 <= b < n
        tf, vf = min(pts)
        tl, vl = max(pts)
        vmn, tmn = min((v, u) for u, v in pts)
        vmx, tmx = max((v, u) for u, v in pts)
        assert (r["t_first"], r["v_first"]) == (tf, vf)
        assert (r["t_last"], r["v_last"]) == (tl, vl)
        assert (r["v_min"], r["t_at_min"]) == (vmn, tmn)
        assert (r["v_max"], r["t_at_max"]) == (vmx, tmx)


def test_bar_state_merge_equals_full_recompute(spark):
    """merge(agg(A), agg(B)) == agg(A ∪ B) for ANY split, any merge
    arity, and repeated folds — the contract that makes the rollup
    incrementally maintainable.  Includes duplicate timestamps (struct
    tie-break) and an empty delta (identity)."""
    import datetime as dt

    from btc_usdt_etl_pipeline_spark.operators.resample import (
        bar_state,
        finalize_bars,
        merge_bar_states,
    )

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    for i in range(500):
        # duplicate ts every 5th row: tie-break must stay deterministic
        t = base + dt.timedelta(minutes=(i - i % 5) * 7 % (60 * 24))
        rows.append((i, t, float((i * 37) % 100) / 3.0))
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")

    full = sorted(
        map(tuple, finalize_bars(
            df.transform(bar_state("ts", "value", "1 hour"))
        ).collect())
    )

    for mod in (2, 3, 7):
        parts = [
            df.filter(F.col("event_id") % mod == k).transform(
                bar_state("ts", "value", "1 hour")
            )
            for k in range(mod)
        ]
        merged = sorted(
            map(tuple, finalize_bars(merge_bar_states(*parts)).collect())
        )
        assert merged == full, f"split mod {mod} diverged"

    # empty delta is the identity; re-merging a merge is idempotent-safe
    empty = spark.createDataFrame(
        [], "event_id long, ts timestamp, value double"
    ).transform(bar_state("ts", "value", "1 hour"))
    st = df.transform(bar_state("ts", "value", "1 hour"))
    again = sorted(
        map(tuple, finalize_bars(
            merge_bar_states(merge_bar_states(st, empty), empty)
        ).collect())
    )
    assert again == full


def test_resample_tie_break_deterministic(spark, scale_paths):
    """Duplicate timestamps: with tie_break the open/close picks and
    the row-count grouping are pinned to the (t, id) total order —
    identical across partitionings and equal to a python reference.
    Exercises both resamplers and both row-count plans."""
    import datetime as dt

    from btc_usdt_etl_pipeline_spark.operators.resample import (
        resample_by_count,
        resample_by_time,
    )

    base = dt.datetime(2024, 3, 1)
    # every timestamp duplicated 3x with distinct ids and values
    rows = [
        (i, base + dt.timedelta(hours=(i // 3) % 40), float(i * 7 % 101))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "rid long, t timestamp, v double")
    vc = {"open": "v", "high": "v", "low": "v", "close": "v",
          "count": "v"}

    ordered = sorted(rows, key=lambda r: (r[1], r[0]))

    def py_bars(n):
        out = []
        for g in range(0, len(ordered), n):
            grp = ordered[g:g + n]
            out.append((
                min(r[1] for r in grp),
                grp[0][2],                      # open: first in (t,id)
                max(r[2] for r in grp),
                min(r[2] for r in grp),
                grp[-1][2],                     # close: last in (t,id)
                len(grp),
            ))
        return sorted(out)

    want = py_bars(9)
    plans = plain_and_scaled(
        scale_paths,
        lambda: df.repartition(7).transform(
            resample_by_count(
                9, time_col="t", value_cols=vc, sort_output=False,
                tie_break=("rid",),
            )
        ),
        "_offset",
    )
    for plan, out in zip(("sort", "bucket"), plans):
        got = sorted(map(tuple, out.collect()))
        assert got == want, plan

    # time resampler: per-hour bars, open/close pinned by (t, rid)
    bytime = {}
    for rid, t, v in ordered:
        b = bytime.setdefault(t, [])
        b.append((rid, v))
    want_t = sorted(
        (t, t, vs[0][1], max(v for _, v in vs), min(v for _, v in vs),
         vs[-1][1], len(vs))
        for t, vs in bytime.items()
    )
    got_t = sorted(
        map(
            tuple,
            df.repartition(5)
            .transform(
                resample_by_time(
                    "1 hour", time_col="t", value_cols=vc,
                    sort_output=False, tie_break=("rid",),
                )
            )
            .collect(),
        )
    )
    assert got_t == want_t

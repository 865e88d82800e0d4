"""Cross-cutting engine tests: module import sanity, approximate
aggregates within tolerance, and hypothesis property tests for the
resample invariants (SURVEY.md §5.2-3)."""

from __future__ import annotations

import importlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.operators.resample import resample_by_count
from tests.conftest import make_klines, plain_and_scaled, plan_mentions

MODULES = [
    "btc_usdt_etl_pipeline_spark.schema",
    "btc_usdt_etl_pipeline_spark.session",
    "btc_usdt_etl_pipeline_spark.functions",
    "btc_usdt_etl_pipeline_spark.operators.asof",
    "btc_usdt_etl_pipeline_spark.operators.dedup",
    "btc_usdt_etl_pipeline_spark.operators.export",
    "btc_usdt_etl_pipeline_spark.operators.graph",
    "btc_usdt_etl_pipeline_spark.operators.multimodal",
    "btc_usdt_etl_pipeline_spark.operators.partitioning",
    "btc_usdt_etl_pipeline_spark.operators.relational",
    "btc_usdt_etl_pipeline_spark.operators.resample",
    "btc_usdt_etl_pipeline_spark.operators.sampling",
    "btc_usdt_etl_pipeline_spark.operators.similarity",
    "btc_usdt_etl_pipeline_spark.operators.sketch",
    "btc_usdt_etl_pipeline_spark.operators.text",
    "btc_usdt_etl_pipeline_spark.operators.windows",
    "btc_usdt_etl_pipeline_spark.sources.ingest",
    "btc_usdt_etl_pipeline_spark.sources.lake",
    "btc_usdt_etl_pipeline_spark.sources.warehouse",
    "btc_usdt_etl_pipeline_spark.streaming.ohlcv",
    "btc_usdt_etl_pipeline_spark.streaming.stateful",
    "btc_usdt_etl_pipeline_spark.ml.features",
    "btc_usdt_etl_pipeline_spark.ml.inference",
    "btc_usdt_etl_pipeline_spark.pipeline.runner",
    "btc_usdt_etl_pipeline_spark.pipeline.schedule",
]


@pytest.mark.parametrize("mod", MODULES)
def test_imports(mod):
    importlib.import_module(mod)


def test_build_urls_reference_config_parity():
    # S1/S2: URL formula {url}{name}-{period}.zip from the reference's
    # data_sources.yml / data_limit.yml schema (no network involved).
    from btc_usdt_etl_pipeline_spark.sources.ingest import build_urls

    sources = [
        {
            "name": "BTCUSDT-1s",
            "url": "https://data.binance.vision/data/spot/monthly/klines/"
            "BTCUSDT/1s/",
        }
    ]
    urls = build_urls(sources, ["2025-08", "2025-09"])
    assert urls == [
        "https://data.binance.vision/data/spot/monthly/klines/BTCUSDT/1s/"
        "BTCUSDT-1s-2025-08.zip",
        "https://data.binance.vision/data/spot/monthly/klines/BTCUSDT/1s/"
        "BTCUSDT-1s-2025-09.zip",
    ]


def test_bucketed_join_has_no_exchange(spark):
    """Co-located joins (SCALE.md §3): two tables bucketed+sorted on the
    join key sort-merge-join with NO shuffle exchange on either side —
    the at-scale recipe for repeated fact-to-fact joins."""
    import contextlib
    import io

    left = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    for name, df in [("t_bk_left", left), ("t_bk_right", right)]:
        df.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable(
            name
        )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_bk_left").join(spark.table("t_bk_right"), "k")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_approx_count_distinct_tolerance(spark):
    df = spark.range(10_000).select((F.col("id") % 1237).alias("k"))
    exact = df.select(F.countDistinct("k")).first()[0]
    approx = df.select(F.approx_count_distinct("k", rsd=0.02)).first()[0]
    assert exact == 1237
    assert abs(approx - exact) / exact < 0.05


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_rows=st.integers(min_value=1, max_value=400),
    bucket=st.integers(min_value=1, max_value=97),
    drop_mod=st.integers(min_value=0, max_value=5),
)
def test_resample_invariants_property(spark, n_rows, bucket, drop_mod):
    """For ANY input size, bucket size, and gap pattern: bar count is
    ceil(n/bucket), trades are conserved, high/low bound the source,
    and open times are strictly increasing."""
    df = make_klines(spark, n_rows)
    if drop_mod:
        # punch deterministic gaps into the series
        df = df.filter((F.col("open_time") / 1000 % 7) != drop_mod)
    n = df.count()
    bars = df.transform(resample_by_count(bucket)).collect()
    assert len(bars) == (n + bucket - 1) // bucket
    if n == 0:
        return
    assert sum(b.number_of_trades for b in bars) == (
        df.agg(F.sum("number_of_trades")).first()[0]
    )
    assert max(b.high for b in bars) == df.agg(F.max("high")).first()[0]
    assert min(b.low for b in bars) == df.agg(F.min("low")).first()[0]
    times = [b.open_time for b in bars]
    assert times == sorted(times) and len(set(times)) == len(times)


def test_fill_forward_multi_column_and_unkeyed(spark):
    from btc_usdt_etl_pipeline_spark.operators.windows import fill_forward

    rows = [
        (1, 1, None, 10.0),
        (1, 2, 5.0, None),
        (1, 3, None, None),
        (2, 1, None, None),
        (2, 2, 7.0, 70.0),
        (2, 3, None, None),
    ]
    df = spark.createDataFrame(rows, "k int, t int, a double, b double")
    keyed = {
        (r.k, r.t): (r.a, r.b)
        for r in df.transform(
            fill_forward(["a", "b"], ["t"], partition_by=["k"])
        ).collect()
    }
    assert keyed == {
        (1, 1): (None, 10.0), (1, 2): (5.0, 10.0), (1, 3): (5.0, 10.0),
        (2, 1): (None, None), (2, 2): (7.0, 70.0), (2, 3): (7.0, 70.0),
    }
    unkeyed = {
        (r.k, r.t): r.a
        for r in df.transform(fill_forward(["a"], ["k", "t"])).collect()
    }
    # global series ordered by (k, t): the 5.0 at (1,2) carries into k=2
    assert unkeyed[(2, 1)] == 5.0


def test_observation_metrics_no_extra_pass(spark):
    # Observation API: data-quality metrics ride the SAME action as the
    # real output — no second scan.  The at-scale pattern for "row
    # counts + null rates on every pipeline stage, for free".
    from pyspark.sql import Observation

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0), (4, None)],
        "id long, v double",
    )
    obs = Observation("dq")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count("v").alias("n_nonnull"),
        F.min("v").alias("min_v"),
    )
    out = observed.filter(F.col("v").isNotNull()).count()  # one action
    assert out == 2
    got = obs.get
    assert got["n_rows"] == 4 and got["n_nonnull"] == 2
    assert got["min_v"] == 10.0


def test_fill_forward_idempotent_property(spark):
    # LOCF is a closure: applying it twice must equal applying it once,
    # for any series shape (gaps at head, tail, everywhere).
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from btc_usdt_etl_pipeline_spark.operators.windows import fill_forward

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        vals=st.lists(
            st.one_of(st.none(), st.floats(-100, 100)),
            min_size=1, max_size=30,
        ),
    )
    def run(vals):
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "t int, v double"
        )
        f = fill_forward(["v"], ["t"])
        once = {(r.t, r.v) for r in df.transform(f).collect()}
        twice = {(r.t, r.v) for r in df.transform(f).transform(f).collect()}
        assert once == twice
        # and a Python reference agrees
        last, expect = None, set()
        for i, v in enumerate(vals):
            last = v if v is not None else last
            expect.add((i, last))
        assert once == expect

    run()


def test_weighted_sample_equal_weights_matches_uniform_order(spark):
    # With all weights equal, ascending -ln(u)/w is exactly DESCENDING
    # u — the weighted sampler must degrade to the uniform pick of the
    # largest hash draws.
    from btc_usdt_etl_pipeline_spark.operators.dedup import portable_hash60
    from btc_usdt_etl_pipeline_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, 1.0) for i in range(200)], "id long, w double"
    )
    got = {
        r.id for r in df.transform(weighted_sample("id", "w", 25)).collect()
    }
    h = portable_hash60(
        F.concat(F.lit("w1:"), F.col("id").cast("string"))
    )
    expect = {
        r.id
        for r in df.select("id", h.alias("h"))
        .orderBy(F.col("h").desc(), "id")
        .limit(25)
        .collect()
    }
    assert got == expect


def test_weighted_sample_k_exceeds_group(spark):
    from btc_usdt_etl_pipeline_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 1.0)],
        "id long, g string, w double",
    )
    out = df.transform(
        weighted_sample("id", "w", 10, partition_by=["g"])
    ).collect()
    assert len(out) == 3  # k larger than every stratum: keep all
    assert "_rnk" not in df.transform(
        weighted_sample("id", "w", 10, partition_by=["g"])
    ).columns


def test_salted_join_equals_plain_join(spark):
    from pyspark.sql import functions as F

    from btc_usdt_etl_pipeline_spark.operators.relational import salted_join

    left = spark.range(2000).select(
        F.col("id").alias("k_id"),
        # pathological skew: 90% of rows share one key
        F.when(F.col("id") % 10 < 9, "hot").otherwise(
            F.concat(F.lit("cold"), (F.col("id") % 7).cast("string"))
        ).alias("key"),
        (F.col("id") % 13).cast("double").alias("v"),
    )
    dim = spark.createDataFrame(
        [("hot", 2.0)] + [(f"cold{i}", float(i)) for i in range(7)],
        "key string, w double",
    )
    salted = left.transform(
        salted_join(dim.hint("shuffle_hash"), on=["key"],
                    salt_buckets=8, salt_source="k_id")
    )
    plain = left.join(dim, "key")
    a = sorted(map(tuple, salted.select("key", "k_id", "v", "w").collect()))
    b = sorted(map(tuple, plain.select("key", "k_id", "v", "w").collect()))
    assert a == b and len(a) == 2000
    # the physical join must carry the salt in its keys (8-way spread)
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan


def test_expectations_single_pass_report(spark):
    """All metrics evaluate in ONE aggregation job and both pass/fail
    branches materialize correctly on handcrafted data."""
    from btc_usdt_etl_pipeline_spark.operators.quality import (
        completeness,
        distinct_count_at_most,
        expectations,
        uniqueness,
        violation_ratio,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", None), (3, "a", 999.0), (3, "c", 1.0)],
        "id long, cat string, v double",
    )
    rows = df.transform(
        expectations(
            [
                completeness("v"),          # 3/4 -> fail
                uniqueness("id"),           # 3/4 -> fail
                violation_ratio(F.col("v") > 100, "v<=100"),  # 1/4 -> fail
                distinct_count_at_most("cat", 3),             # 3 -> pass
            ]
        )
    ).collect()
    got = {r.constraint: (r.metric, r.passed) for r in rows}
    assert got["completeness(v)"] == (0.75, False)
    assert got["uniqueness(id)"] == (0.75, False)
    assert got["v<=100"] == (0.25, False)
    assert got["distinct_count(cat)"] == (3.0, True)


def test_scd2_collapses_runs_and_closes_intervals(spark):
    """SCD2: consecutive unchanged states collapse into one version,
    intervals are half-open and chained, nulls open/close versions
    like real values, and exactly one version per key is current."""
    from btc_usdt_etl_pipeline_spark.operators.relational import scd2

    rows = [
        (1, 10, "a"), (1, 20, "a"), (1, 30, "b"), (1, 40, "b"),
        (1, 50, "a"),
        (2, 10, None), (2, 20, "x"), (2, 30, None),
        (3, 10, "only"),
    ]
    df = spark.createDataFrame(rows, "k long, t long, state string")
    out = sorted(
        df.transform(scd2("k", ["state"], time_col="t")).collect(),
        key=lambda r: (r["k"], r["valid_from"]),
    )
    by_key = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(
            (r["state"], r["valid_from"], r["valid_to"], r["is_current"])
        )
    assert by_key[1] == [
        ("a", 10, 30, False), ("b", 30, 50, False), ("a", 50, None, True)
    ]
    assert by_key[2] == [
        (None, 10, 20, False), ("x", 20, 30, False), (None, 30, None, True)
    ]
    assert by_key[3] == [("only", 10, None, True)]
    for vs in by_key.values():
        assert sum(1 for v in vs if v[3]) == 1  # one current per key
        for a, b in zip(vs, vs[1:]):
            assert a[2] == b[1]  # chained half-open intervals


def test_unkeyed_window_scale_paths_bit_identical(
    spark, monkeypatch, scale_paths
):
    """The round-7 unkeyed scale paths — halo-chunked pct_change /
    rolling_mean_std and bucket-carried fill_forward — must equal the
    single-window plans BIT-FOR-BIT (that is the contract that lets
    the size gate swap plans on the size estimate without moving any
    oracle hash).  Chunks are shrunk to 64 rows and the series spans
    ~60 day-buckets so both decompositions genuinely cross boundaries,
    including a leading all-null stretch (null carry-in) and nulls that
    force carries across bucket edges."""
    import datetime as dt

    import btc_usdt_etl_pipeline_spark.operators.windows as W

    monkeypatch.setattr(W, "_CHUNK_ROWS", 64)
    epoch = dt.datetime(2024, 1, 1)
    rows = [
        (
            epoch + dt.timedelta(hours=3 * i),
            # deterministic wiggly series; nulls on i%3==0 and an
            # entirely-null leading stretch
            None if (i < 40 or i % 3 == 0) else 100.0 + ((i * 37) % 97) / 7.0,
            # never exactly zero (ANSI divide in pct_change)
            ((i * 13) % 89) - 44.5,
        )
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "t timestamp, v double, x double")

    def rows_of(out):
        return sorted(
            (tuple(r) for r in out.collect()),
            key=lambda r: r[0],
        )

    for op, marker in (
        (lambda: W.pct_change("x", "t"), "_chunk"),
        (lambda: W.rolling_mean_std("x", "t", 7), "_chunk"),
        (lambda: W.fill_forward(["v"], ["t"]), "_ff_b"),
    ):
        pa, pb = plain_and_scaled(
            scale_paths, lambda: df.transform(op()), marker
        )
        a, b = rows_of(pa), rows_of(pb)
        assert a == b
    # fill_forward: the leading stretch has nothing to carry — stays
    # null in both
    assert a[0][1] is None


def test_keyed_window_scale_paths_bit_identical(
    spark, monkeypatch, scale_paths
):
    """The round-8 KEYED scale paths — per-key chunked-halo pct_change /
    rolling_mean_std / macd_signal / acf — must equal the plain
    partitionBy-window plans BIT-FOR-BIT (the contract that lets
    the hot-key gate swap plans on the per-key count estimate without
    moving any oracle hash).  Chunks shrink to 64 rows; the 'hot' key
    spans ~150 day-buckets and many chunks (MACD's halo of 85 forces
    340-row chunks — still 4+ chunks); the other keys exercise the
    degenerate shapes: shorter than one halo, single-row, and constant
    value (ACF's zero-denominator NULL fence)."""
    import datetime as dt

    import btc_usdt_etl_pipeline_spark.operators.windows as W

    monkeypatch.setattr(W, "_CHUNK_ROWS", 64)
    epoch = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(1400):  # hot key: > 4 chunks even at MACD's 340
        rows.append(
            ("hot", epoch + dt.timedelta(hours=3 * i), i,
             100.0 + ((i * 37) % 97) / 7.0 - ((i * 11) % 13))
        )
    for i in range(50):  # mid key: crosses 64-row chunks, < MACD halo
        rows.append(
            ("mid", epoch + dt.timedelta(hours=5 * i), i,
             50.0 + ((i * 29) % 31) / 3.0)
        )
    rows.append(("single", epoch, 0, 42.0))
    for i in range(80):  # constant series: ACF NULL fence
        rows.append(("flat", epoch + dt.timedelta(hours=i), i, 7.0))
    df = spark.createDataFrame(
        rows, "k string, t timestamp, i long, x double"
    )

    def rows_of(out):
        return sorted(
            (tuple(r) for r in out.collect()),
            key=lambda r: (r[0], str(r[1]), str(r[2])),
        )

    for mk in (
        lambda: W.pct_change("x", "t", partition_by=["k"]),
        lambda: W.rolling_mean_std("x", "t", 7, partition_by=["k"]),
        lambda: W.macd_signal("x", order_by=("t", "i"), partition_by="k"),
        lambda: W.acf("x", max_lag=5, partition_by="k", order_by=("t", "i")),
        # two lagged columns + join-based means (x vs a shifted copy)
        lambda: W.cross_correlation(
            "x", "i", max_lag=4, partition_by="k", order_by=("t", "i"),
        ),
    ):
        pa, pb = plain_and_scaled(
            scale_paths, lambda: df.transform(mk()), "_chunk"
        )
        assert rows_of(pa) == rows_of(pb)

    # ACF NULL fence survives the chunked plan for the constant key
    with scale_paths():
        flat = df.transform(
            W.acf("x", max_lag=3, partition_by="k", order_by=("t", "i"))
        )
    assert plan_mentions(flat, "_chunk")
    flat = flat.filter(F.col("k") == "flat").collect()
    assert len(flat) == 3 and all(r["acf"] is None for r in flat)


def test_plan_size_unknown_under_a_narrowing_projection(spark):
    """Rows built from Python have no size statistics: the leaf reports
    Long.MaxValue, and a narrowing select scales the root estimate below
    2^62.  The size is still unknown, so it reads as 0."""
    import btc_usdt_etl_pipeline_spark.operators.windows as W

    rows = [(i, i % 7, float(i), float(2 * i)) for i in range(300)]
    df = spark.createDataFrame(rows, "ts long, id long, x double, y double")
    narrow = df.select("x")
    root = narrow._jdf.queryExecution().optimizedPlan().stats()
    assert int(root.sizeInBytes()) < 1 << 62
    assert W._plan_size(narrow) == 0
    assert W._plan_size(df) == 0


def test_keyed_auto_trigger_swaps_plan_identically(spark, monkeypatch, tmp_path):
    """The gates must actually flip to the chunked plan when the
    hot-key count crosses the (monkeypatched) threshold and the size
    estimate passes — and the swap must not move a single value.  Also
    pins the adaptive chunk-size contract: >= 4*halo always.  The input
    is read back from Parquet, so its size estimate is a measured one
    (rows built in Python have none, which passes no size gate)."""
    import datetime as dt

    import btc_usdt_etl_pipeline_spark.operators.windows as W

    epoch = dt.datetime(2024, 1, 1)
    rows = [
        ("hot", epoch + dt.timedelta(hours=2 * i), i,
         10.0 + ((i * 31) % 23) / 3.0)
        for i in range(400)
    ] + [("cold", epoch + dt.timedelta(hours=i), i, 5.0 + i) for i in range(9)]
    spark.createDataFrame(
        rows, "k string, t timestamp, i long, x double"
    ).write.parquet(str(tmp_path / "rows"))
    df = spark.read.parquet(str(tmp_path / "rows"))
    assert 0 < W._plan_size(df) < W._CHUNK_THRESHOLD_BYTES
    op = W.rolling_mean_std("x", "t", 7, partition_by=["k"])
    plain_df = df.transform(op)
    monkeypatch.setattr(W, "_KEYED_HOT_KEY_ROWS", 100)
    monkeypatch.setattr(W, "_CHUNK_THRESHOLD_BYTES", 1)
    cr = W._keyed_plan(df, ["k"], "t", halo=6, hot_rows=W._KEYED_HOT_KEY_ROWS)
    assert cr is not None and cr >= 4 * 6
    auto_df = df.transform(op)
    assert plan_mentions(auto_df, "_chunk")
    assert not plan_mentions(plain_df, "_chunk")
    auto = sorted(tuple(r) for r in auto_df.collect())
    plain = sorted(tuple(r) for r in plain_df.collect())
    assert auto == plain
    # below the hot-key threshold the gate stays on the plain window:
    # same data, threshold restored
    monkeypatch.setattr(W, "_KEYED_HOT_KEY_ROWS", 1 << 19)
    assert (
        W._keyed_plan(df, ["k"], "t", halo=6, hot_rows=W._KEYED_HOT_KEY_ROWS)
        is None
    )


def test_keyed_index_dense_per_key(spark):
    """_keyed_index assigns each key a dense 0-based index by the order
    tuple with no per-key sort task — verify density, ordering, and the
    null-order nulls-first sentinel."""
    import btc_usdt_etl_pipeline_spark.operators.windows as W

    rows = [
        ("a", 5, 100.0), ("a", 1, 1.0), ("a", 3, 2.0),
        ("b", 2, 9.0), ("b", 7, 8.0),
        ("c", None, 3.0), ("c", 4, 4.0),  # null orders first
    ]
    df = spark.createDataFrame(rows, "k string, t int, x double")
    got = {
        (r["k"], r["_g_idx"]): r["t"]
        for r in W._keyed_index(df, ["k"], ("t",)).collect()
    }
    assert got[("a", 0)] == 1 and got[("a", 1)] == 3 and got[("a", 2)] == 5
    assert got[("b", 0)] == 2 and got[("b", 1)] == 7
    assert got[("c", 0)] is None and got[("c", 1)] == 4


def test_cdc_merge_semantics(spark):
    """Latest-wins upsert, delete tombstones drop keys, untouched keys
    pass through, and new keys appearing only in the changelog insert."""
    from btc_usdt_etl_pipeline_spark.operators.relational import cdc_merge

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    chg = spark.createDataFrame(
        [
            (1, "a2", "upsert", 10, 0),
            (1, "a3", "upsert", 10, 1),   # same ts, later seq wins
            (2, None, "delete", 11, 0),   # tombstone drops k=2
            (4, "d", "upsert", 12, 0),    # brand-new key inserts
            (5, "e", "upsert", 13, 0),
            (5, None, "delete", 14, 0),   # inserted then deleted -> gone
        ],
        "k long, v string, op string, cts long, seq long",
    )
    out = {
        r.k: r.v
        for r in cdc_merge(
            snap, chg, ["k"], ["cts", "seq"], op_col="op"
        ).collect()
    }
    assert out == {1: "a3", 3: "c", 4: "d"}


def test_hll_grouped_matches_global_and_merges(spark):
    """Per-group registers: a single-group run must equal the global
    hll_distinct estimate on the same keys (same math), and max-merging
    two groups' registers must equal a run over their union (the
    mergeability that lets daily sketches roll up without raw data)."""
    from btc_usdt_etl_pipeline_spark.operators.sketch import (
        hll_distinct,
        hll_distinct_by,
    )

    df = spark.createDataFrame(
        [(1 if i % 2 == 0 else 2, f"u{i % 700}") for i in range(2000)],
        "g int, k string",
    )
    # single group == global
    one = df.filter("g = 1").transform(hll_distinct("k")).collect()[0]
    grp = {
        r.g: r
        for r in df.transform(hll_distinct_by(["g"], "k")).collect()
    }
    assert grp[1].est == one["est"]
    assert grp[1].n_exact == one["n_exact"]

    # merge property via the register shape: union-run estimate equals
    # the estimate from max-merged per-group registers — proxied here
    # by running the sketch over the union directly and checking both
    # groups' sketches are consistent with it (registers are max-merged
    # inside the groupBy, so equality of the union run with a manual
    # merge is exercised in test_sketch.py's python-reference test).
    both = df.transform(hll_distinct("k")).collect()[0]
    assert both["n_exact"] == 700
    assert abs(both["est"] - 700) / 700 < 0.1


def test_snapshot_diff_statuses_and_column_counts(spark):
    """added/removed/changed/unchanged partition the key space, and the
    per-column counters see exactly the columns that changed —
    including null<->value transitions (null-safe compare)."""
    from btc_usdt_etl_pipeline_spark.operators.relational import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, None, "c"), (4, 40.0, "d")],
        "k long, v double, s string",
    )
    new = spark.createDataFrame(
        [
            (1, 10.0, "a"),      # unchanged
            (2, 21.0, "b"),      # v changed
            (3, 30.0, "zz"),     # both changed (null -> value counts)
            (5, 50.0, "e"),      # added
        ],                        # k=4 removed
        "k long, v double, s string",
    )
    got = {
        r.metric: r.n
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert got == {
        "n_added": 1,
        "n_removed": 1,
        "n_changed": 2,
        "n_unchanged": 1,
        "changed:v": 2,
        "changed:s": 1,
    }


def test_cdc_merge_property_vs_python_model(spark):
    """For ANY interleaving of upserts and deletes over a random
    snapshot, cdc_merge equals the obvious Python model: sort changes
    per key by version, apply last-one-wins, drop deleted keys."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from btc_usdt_etl_pipeline_spark.operators.relational import cdc_merge

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        snap=st.dictionaries(
            st.integers(0, 12), st.integers(-5, 5), max_size=8
        ),
        chg=st.lists(
            st.tuples(
                st.integers(0, 12),          # key
                st.integers(-5, 5),          # value
                st.booleans(),               # is_delete
            ),
            max_size=20,
        ),
    )
    def run(snap, chg):
        model = dict(snap)
        for k, v, is_del in chg:  # list order IS version order
            if is_del:
                model.pop(k, None)
            else:
                model[k] = v
        sdf = spark.createDataFrame(
            [(k, v) for k, v in snap.items()] or [(None, None)],
            "k int, v int",
        ).filter(F.col("k").isNotNull())
        cdf = spark.createDataFrame(
            [
                (k, v, "delete" if is_del else "upsert", i)
                for i, (k, v, is_del) in enumerate(chg)
            ]
            or [(None, None, None, None)],
            "k int, v int, op string, ver int",
        ).filter(F.col("k").isNotNull())
        got = {
            r.k: r.v
            for r in cdc_merge(sdf, cdf, ["k"], ["ver"]).collect()
        }
        assert got == model

    run()


def test_null_partition_keys_survive_scale_paths(
    spark, monkeypatch, scale_paths
):
    """Round-9 advisor regression: every keyed scale path must KEEP
    rows whose partition key is NULL.  groupBy / Window.partitionBy
    treat NULL as a real group, but a plain join(on=cols) compiles to
    EqualTo and silently drops NULL-keyed rows — so the chunked /
    bucketed plans lost them while the window / walk plans kept them,
    breaking the bit-identical plan-swap contract.  All join-backs
    now go through functions.null_safe_join (eqNullSafe, still an
    equi-join for Catalyst)."""
    import datetime as dt

    import btc_usdt_etl_pipeline_spark.operators.windows as W
    from btc_usdt_etl_pipeline_spark.ml import features as MF
    from btc_usdt_etl_pipeline_spark.operators import relational as R

    monkeypatch.setattr(W, "_CHUNK_ROWS", 32)
    epoch = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(120):  # NULL key: a real series, > 1 chunk
        rows.append(
            (None, epoch + dt.timedelta(hours=2 * i), i,
             10.0 + ((i * 17) % 23) / 3.0)
        )
    for i in range(90):
        rows.append(
            ("k1", epoch + dt.timedelta(hours=3 * i), i,
             5.0 + ((i * 7) % 11))
        )
    df = spark.createDataFrame(
        rows, "k string, t timestamp, i long, x double"
    )

    def rows_of(out):
        return sorted(
            (tuple(r) for r in out.collect()),
            key=lambda r: tuple(str(c) for c in r),
        )

    for mk in (
        lambda: W.pct_change("x", "t", partition_by=["k"]),
        lambda: W.rolling_mean_std("x", "t", 7, partition_by=["k"]),
        lambda: W.macd_signal("x", order_by=("t", "i"), partition_by="k"),
        lambda: W.acf("x", max_lag=4, partition_by="k", order_by=("t", "i")),
        lambda: W.cross_correlation(
            "x", "i", max_lag=3, partition_by="k", order_by=("t", "i"),
        ),
    ):
        pa, pb = plain_and_scaled(
            scale_paths, lambda: df.transform(mk()), "_chunk"
        )
        a, b = rows_of(pa), rows_of(pb)
        assert a == b and len(a) > 0

    # weighted_quantile: bucketed plan must emit the NULL group too
    wdf = df.withColumn("w", F.col("i") % 5 + 1)
    pw, pb = plain_and_scaled(
        scale_paths,
        lambda: wdf.transform(
            R.weighted_quantile("x", "w", 1, 2, group_by="k")
        ),
        "_bcw",
    )
    walk, buck = rows_of(pw), rows_of(pb)
    assert walk == buck and len(walk) == 2

    # robust_scale / target_encode_loo: NULL-group rows stay, scaled
    scaled = df.transform(MF.robust_scale("x", group_by="k"))
    assert scaled.count() == df.count()
    assert scaled.filter(F.col("k").isNull()).count() == 120
    te = df.transform(MF.target_encode_loo("k", "x"))
    assert te.count() == df.count()
    assert te.filter(F.col("k").isNull()).count() == 120


def test_rank_from_counts_bit_identical(spark, scale_paths):
    """Round-9 rank-from-counts scale path: spearman_corr and
    quantile_normalize must produce BIT-identical results on the counts
    plan and the window plan — ties (average ranks / shared
    percent_rank), NULL groups, singleton groups (percent_rank 0 →
    pooled minimum), and negative values all covered.  That is the
    contract that lets the size gate swap plans on the Catalyst size
    estimate without moving any oracle hash."""
    import btc_usdt_etl_pipeline_spark.operators.windows as W
    from btc_usdt_etl_pipeline_spark.ml import features as MF

    rows = []
    for i in range(500):
        g = [None, "a", "b", "c"][i % 4]
        x = float((i * 37) % 83) - 11.0
        if i % 7 == 0:
            x = 13.0  # heavy tie block
        y = ((i * 53) % 97) / 3.0
        rows.append((g, x, y))
    rows.append(("solo", 5.0, 1.0))  # singleton group
    df = spark.createDataFrame(rows, "g string, x double, y double")

    def rows_of(out):
        return sorted(
            (tuple(r) for r in out.collect()),
            key=lambda r: tuple(str(c) for c in r),
        )

    def both(op):
        plain, scaled = plain_and_scaled(
            scale_paths, lambda: df.transform(op), "_rb"
        )
        return rows_of(plain), rows_of(scaled)

    a, b = both(W.spearman_corr("x", "y", group_by="g"))
    assert a == b and len(a) == 5

    qa, qb = both(MF.quantile_normalize("x", group_by="g"))
    assert qa == qb and len(qa) == len(rows)

    # global (ungrouped) spearman also swaps exactly
    ga, gb = both(W.spearman_corr("x", "y"))
    assert ga == gb and len(ga) == 1


def test_group_ranks_bit_identical_and_matches_duckdb(spark, scale_paths):
    """Round-9 group_ranks: the rank-feature family on the counts plan
    must equal the classic window plan BIT-FOR-BIT
    (ties, NULL groups, singleton groups, n < n_tiles), and both must
    equal DuckDB's standard window functions — the independent
    semantics check for the bucketed rank arithmetic (incl. Spark's
    ntile distribution rule)."""
    import duckdb

    from btc_usdt_etl_pipeline_spark.operators.windows import group_ranks

    rows = []
    for i in range(400):
        g = [None, "a", "b"][i % 3]
        v = float((i * 29) % 37)
        if i % 5 == 0:
            v = 11.0  # tie block
        rows.append((g, v, i))
    rows.append(("solo", 3.0, 9001))  # singleton: pct_rank 0, 1 tile
    df = spark.createDataFrame(rows, "g string, v double, id long")

    def rows_of(out):
        return sorted(
            (tuple(r) for r in out.collect()),
            key=lambda r: tuple(str(c) for c in r),
        )

    pa, pb = plain_and_scaled(
        scale_paths,
        lambda: df.transform(
            group_ranks("v", group_by="g", tiebreak="id", n_tiles=7)
        ),
        "_rb",
    )
    a, b = rows_of(pa), rows_of(pb)
    assert a == b and len(a) == len(rows)

    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, v DOUBLE, id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    duck = con.execute("""
        SELECT g, v, id,
               RANK() OVER w AS min_rank,
               CAST(RANK() OVER w AS DOUBLE)
                 + (COUNT(*) OVER (PARTITION BY g, v) - 1) / 2.0
                 AS avg_rank,
               PERCENT_RANK() OVER w AS pct_rank,
               CUME_DIST() OVER w AS cume_dist,
               ROW_NUMBER() OVER wt AS row_num,
               NTILE(7) OVER wt AS ntile
        FROM t
        WINDOW w AS (PARTITION BY g ORDER BY v),
               wt AS (PARTITION BY g ORDER BY v, id)
    """).fetchall()
    want = sorted(
        (tuple(r) for r in duck),
        key=lambda r: tuple(str(c) for c in r),
    )
    got = rows_of(
        pb.select(
            "g", "v", "id", "min_rank", "avg_rank", "pct_rank",
            "cume_dist", "row_num", "ntile",
        )
    )
    assert got == want

    # global (ungrouped) ranks, no tiebreak surface
    ga, gb = plain_and_scaled(
        scale_paths, lambda: df.transform(group_ranks("v")), "_rb"
    )
    assert rows_of(ga) == rows_of(gb)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="tiebreak"):
        group_ranks("v", n_tiles=4)


def test_bucketed_rank_plan_shape(spark, scale_paths):
    """The counts-path rank plans must keep their scale promises in the
    PHYSICAL plan: no Exchange SinglePartition anywhere (the ceiling
    they exist to remove), the offsets join a broadcast, and the
    row-scale data crossing exactly one hash exchange per ranked
    column (plus the map-side-combined metadata aggregations)."""
    from btc_usdt_etl_pipeline_spark.operators.windows import group_ranks
    from btc_usdt_etl_pipeline_spark.plans import join_kinds, plan_string

    df = spark.createDataFrame(
        [("g%d" % (i % 3), float(i % 41), i) for i in range(500)],
        "g string, v double, id long",
    )
    with scale_paths():
        out = df.transform(
            group_ranks("v", group_by="g", tiebreak="id", n_tiles=4)
        )
    p = plan_string(out, mode="simple")
    assert "Exchange SinglePartition" not in p
    assert "BroadcastHashJoin" in join_kinds(out)
    assert "CartesianProduct" not in p

    from btc_usdt_etl_pipeline_spark.operators.windows import (
        spearman_corr,
    )

    with scale_paths():
        sp = df.transform(spearman_corr("v", "id", group_by="g"))
    assert plan_mentions(sp, "_rb")
    ps = plan_string(sp, mode="simple")
    assert "Exchange SinglePartition" not in ps
    assert "CartesianProduct" not in ps


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.tuples(
            st.sampled_from([None, "a", "b", "c"]),
            # small int domain -> heavy random tie structure
            st.integers(min_value=-5, max_value=5),
            st.integers(min_value=0, max_value=10_000),
        ),
        min_size=1,
        max_size=120,
    ),
    n_tiles=st.integers(min_value=1, max_value=9),
)
def test_group_ranks_property_counts_equals_window(
    spark, scale_paths, data, n_tiles
):
    """PROPERTY: for ANY group/value/tie structure (NULL groups, heavy
    ties from a tiny value domain, singleton groups, arbitrary
    tiebreaks) and ANY tile count, the bucketed-counts plan equals the
    window plan bit-for-bit across every emitted rank statistic."""
    from btc_usdt_etl_pipeline_spark.operators.windows import group_ranks

    rows = [
        (g, float(v), 1_000_003 * i + t)  # unique tiebreak per row
        for i, (g, v, t) in enumerate(data)
    ]
    df = spark.createDataFrame(rows, "g string, v double, id long")

    def rows_of(out):
        return sorted(
            (tuple(r) for r in out.collect()),
            key=lambda r: tuple(str(c) for c in r),
        )

    plain, counts = plain_and_scaled(
        scale_paths,
        lambda: df.transform(
            group_ranks("v", group_by="g", tiebreak="id", n_tiles=n_tiles)
        ),
        "_rb",
    )
    assert rows_of(plain) == rows_of(counts)


def test_auto_bucket_narrow_range_and_nonfinite(spark, scale_paths):
    """r10 advisor fixes for auto_bucket_expr's numeric branch:

    1. a column whose whole range spans < 2 units (probabilities)
       must still fan out across many buckets — the old integer
       bucket width collapsed it to ONE bucket, silently handing the
       counts rank path a single full-group sort task;
    2. NaN / ±Infinity must neither crash the driver-side min/max
       (Spark max propagates NaN) nor break monotonicity — they map
       to sentinel buckets in Spark sort order (−Inf < finite < +Inf
       < NaN), and group_ranks stays bit-identical to the window plan.
    """
    from btc_usdt_etl_pipeline_spark.operators.resample import (
        auto_bucket_expr,
    )
    from btc_usdt_etl_pipeline_spark.operators.windows import group_ranks

    # (1) narrow range: 10k probabilities in [0, 1)
    probs = spark.range(10_000).select(
        (F.col("id") % 997 / 997.0).alias("v")
    )
    n_buckets = probs.select(
        auto_bucket_expr(probs, "v").alias("b")
    ).agg(F.countDistinct("b")).first()[0]
    assert n_buckets > 100  # was exactly 1 with integer width

    # monotonicity: bucket order agrees with value order
    pairs = (
        probs.select("v", auto_bucket_expr(probs, "v").alias("b"))
        .distinct().orderBy("v").collect()
    )
    assert all(
        pairs[i].b <= pairs[i + 1].b for i in range(len(pairs) - 1)
    )

    # (2) non-finite values: counts plan must build AND match window
    nan, inf = float("nan"), float("inf")
    rows = [("a", float(v), i) for i, v in enumerate(range(50))]
    rows += [("a", nan, 100), ("a", inf, 101), ("a", -inf, 102),
             ("b", nan, 103), ("b", 2.5, 104), ("b", nan, 105)]
    df = spark.createDataFrame(rows, "g string, v double, id long")

    def window_and_counts(frame):
        plain, counts = plain_and_scaled(
            scale_paths,
            lambda: frame.transform(
                group_ranks("v", group_by="g", tiebreak="id", n_tiles=4)
            ),
            "_rb",
        )
        # stringify: Python tuple equality would fail on NaN != NaN
        return [
            sorted(tuple(str(c) for c in r) for r in out.collect())
            for out in (plain, counts)
        ]

    w, c = window_and_counts(df)
    assert c == w

    # all-non-finite column: no crash, still bit-identical
    df2 = spark.createDataFrame(
        [("a", nan, 1), ("a", inf, 2), ("a", -inf, 3)],
        "g string, v double, id long",
    )
    w, c = window_and_counts(df2)
    assert c == w and len(c) == 3


def test_keyed_lags_bit_identical_and_null_keys(spark, scale_paths):
    """r10 keyed_lags (the q210/q104 reroute): the chunked-halo plan
    must equal the plain keyed window BIT-FOR-BIT for a multi-lag set
    (1, 2, 24), including NULL partition keys (a real group in window
    semantics) and series shorter than the deepest lag."""
    from btc_usdt_etl_pipeline_spark.operators.windows import keyed_lags

    rows = []
    for u in [None, "u1", "u2"]:
        n = {None: 60, "u1": 3, "u2": 130}[u]
        for i in range(n):
            rows.append((u, i, float((i * 7) % 23)))
    df = spark.createDataFrame(rows, "user_id string, ts long, v double")

    op = keyed_lags(
        [("v", 1, "l1"), ("v", 2, "l2"), ("v", 24, "l24")],
        order_by=("ts",), partition_by=("user_id",),
    )

    def rows_of(out):
        return sorted(tuple(str(c) for c in r) for r in out.collect())

    pa, pb = plain_and_scaled(
        scale_paths, lambda: df.transform(op), "_chunk"
    )
    a, b = rows_of(pa), rows_of(pb)
    assert a == b and len(a) == len(rows)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="partition"):
        keyed_lags([("v", 1, "l1")], ("ts",), ())
    with _pytest.raises(ValueError, match="offsets"):
        keyed_lags([("v", 0, "l0")], ("ts",), ("u",))

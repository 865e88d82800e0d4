"""Python-reference tests for the round-11 stats batch: Jarque-Bera,
Bartlett+Levene panel, Cliff's delta, Wilson proportions, Hill tail
index."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F


def test_jarque_bera_matches_python_and_discriminates(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import jarque_bera

    rng = random.Random(279)
    norm = [rng.gauss(5, 2) for _ in range(4000)]
    logn = [math.exp(rng.gauss(0, 1)) for _ in range(4000)]
    rows = [("n", v) for v in norm] + [("l", v) for v in logn]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {
        r["g"]: r
        for r in df.transform(
            jarque_bera("v", partition_by="g")
        ).collect()
    }

    def jb_py(xs):
        n = len(xs)
        mu = sum(xs) / n
        m2 = sum((x - mu) ** 2 for x in xs) / n
        m3 = sum((x - mu) ** 3 for x in xs) / n
        m4 = sum((x - mu) ** 4 for x in xs) / n
        s = m3 / m2**1.5
        k = m4 / m2**2 - 3
        return s, k, n / 6 * (s * s + k * k / 4)

    for g, xs in (("n", norm), ("l", logn)):
        s, k, jb = jb_py(xs)
        assert out[g]["skewness"] == pytest.approx(s, rel=1e-4, abs=1e-4)
        assert out[g]["kurtosis_excess"] == pytest.approx(
            k, rel=1e-4, abs=1e-4
        )
        assert out[g]["jb"] == pytest.approx(jb, rel=1e-3)
    assert out["n"]["jb"] < 10  # gaussian: JB ~ chi2(2)
    assert out["l"]["jb"] > 1000  # lognormal: fires hard


def test_bartlett_levene_matches_python(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        bartlett_levene,
    )

    rng = random.Random(280)
    groups = {
        "a": [rng.gauss(0, 1.0) for _ in range(150)],
        "b": [rng.gauss(0, 1.1) for _ in range(120)],
        "c": [rng.gauss(0, 3.0) for _ in range(130)],
    }
    rows = [(g, v) for g, xs in groups.items() for v in xs]
    df = spark.createDataFrame(rows, "g string, v double")
    out = df.transform(bartlett_levene("v", "g")).collect()[0]

    ns = {g: len(xs) for g, xs in groups.items()}
    vis = {
        g: (
            sum(x * x for x in xs)
            - sum(xs) ** 2 / len(xs)
        )
        / (len(xs) - 1)
        for g, xs in groups.items()
    }
    n, k = sum(ns.values()), len(groups)
    sp2 = sum((ns[g] - 1) * vis[g] for g in groups) / (n - k)
    c = 1 + (
        sum(1 / (ns[g] - 1) for g in groups) - 1 / (n - k)
    ) / (3 * (k - 1))
    chi2 = (
        (n - k) * math.log(sp2)
        - sum((ns[g] - 1) * math.log(vis[g]) for g in groups)
    ) / c
    means = {g: round(sum(xs) / len(xs), 6) for g, xs in groups.items()}
    zs = {g: [abs(x - means[g]) for x in xs] for g, xs in groups.items()}
    tz = sum(sum(z) for z in zs.values())
    sb = sum(sum(z) ** 2 / len(z) for z in zs.values())
    tzz = sum(sum(x * x for x in z) for z in zs.values())
    ssb = sb - tz * tz / n
    ssw = tzz - sb
    lev = (ssb / (k - 1)) / (ssw / (n - k))
    assert out["n"] == n and out["k"] == k
    assert out["bartlett_chi2"] == pytest.approx(chi2, rel=1e-3)
    assert out["levene_f"] == pytest.approx(lev, rel=1e-3)
    assert out["bartlett_chi2"] > 50  # 3x variance ratio must fire
    assert out["bartlett_dof"] == 2 and out["dof1"] == 2


def test_bartlett_singleton_group_nulls_bartlett_only(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        bartlett_levene,
    )

    rows = [("a", float(v)) for v in range(10)] + [
        ("b", float(v * 2)) for v in range(10)
    ] + [("solo", 5.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = df.transform(bartlett_levene("v", "g")).collect()[0]
    assert out["bartlett_chi2"] is None
    assert out["levene_f"] is not None


def test_bartlett_levene_keeps_a_null_partition(spark):
    """A NULL ``partition_by`` value is a partition like any other, as in
    :func:`brown_forsythe_f`: it emits the row the same data emits under
    a named partition."""
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        bartlett_levene,
    )

    rng = random.Random(281)
    data = [
        (g, rng.gauss(0, 1 + i)) for i, g in enumerate("abc") for _ in range(30)
    ]
    rows = [(p, g, v) for p in (None, "p") for g, v in data]
    df = spark.createDataFrame(rows, "p string, g string, v double")
    out = {
        r["p"]: r.asDict()
        for r in df.transform(bartlett_levene("v", "g", "p")).collect()
    }
    assert set(out) == {None, "p"}
    assert {**out[None], "p": "p"} == out["p"]


def test_cliffs_delta_matches_bruteforce(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import cliffs_delta

    rng = random.Random(281)
    a = [rng.randint(0, 20) * 1.0 for _ in range(80)]
    b = [rng.randint(0, 15) * 1.0 for _ in range(110)]
    rows = [("A", v) for v in a] + [("B", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    out = df.transform(cliffs_delta("v", "g", "A")).collect()[0]
    gt = sum(1 for x in a for y in b if x > y)
    lt = sum(1 for x in a for y in b if x < y)
    tie = sum(1 for x in a for y in b if x == y)
    assert out["n_a"] == 80 and out["n_b"] == 110
    assert out["pairs_gt"] == gt
    assert out["pairs_lt"] == lt
    assert out["pairs_tied"] == tie
    assert out["delta"] == pytest.approx(
        (gt - lt) / (80 * 110), abs=1e-6
    )


def test_wilson_proportions_hand_checked(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        wilson_proportions,
    )

    rows = [("ctl", i < 40) for i in range(200)] + [
        ("trt", i < 60) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "variant string, ok boolean")
    out = {
        r["variant"]: r
        for r in df.transform(
            wilson_proportions(F.col("ok"), "variant", "ctl")
        ).collect()
    }

    def wilson(c, n, z=1.96):
        p = c / n
        den = 1 + z * z / n
        ctr = (p + z * z / (2 * n)) / den
        hf = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / den
        return ctr - hf, ctr + hf

    lo, hi = wilson(40, 200)
    assert out["ctl"]["rate"] == pytest.approx(0.2, abs=1e-9)
    assert out["ctl"]["wilson_lo"] == pytest.approx(lo, abs=1e-5)
    assert out["ctl"]["wilson_hi"] == pytest.approx(hi, abs=1e-5)
    assert out["ctl"]["z_vs_control"] is None
    pool = (40 + 60) / 400
    z = (0.3 - 0.2) / math.sqrt(pool * (1 - pool) * (2 / 200))
    assert out["trt"]["z_vs_control"] == pytest.approx(z, abs=1e-5)


def test_hill_tail_index_recovers_pareto_alpha(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        hill_tail_index,
    )

    rng = random.Random(283)
    alpha_true = 2.5
    xs = [(1.0 - rng.random()) ** (-1.0 / alpha_true) for _ in range(5000)]
    df = spark.createDataFrame([(v,) for v in xs], "v double")
    out = df.transform(hill_tail_index("v", k=200)).collect()[0]
    assert out["n_top"] == 201
    top = sorted(xs, reverse=True)
    denom = sum(
        round(math.log(x), 6) for x in top[:200]
    ) - 200 * math.log(top[200])
    assert out["alpha"] == pytest.approx(200 / denom, abs=1e-4)
    assert out["alpha"] == pytest.approx(alpha_true, rel=0.25)
    # prefilter with a true lower bound is exact
    pre = df.transform(
        hill_tail_index("v", k=200, prefilter_threshold=top[200])
    ).collect()[0]
    assert pre["alpha"] == out["alpha"]
    # too-few-rows partition -> NULL
    small = spark.createDataFrame([(2.0,), (3.0,)], "v double")
    assert (
        small.transform(hill_tail_index("v", k=5)).collect()[0]["alpha"]
        is None
    )


def test_wilson_missing_control_keeps_rows(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        wilson_proportions,
    )

    rows = [("a", True), ("a", False), ("b", True)]
    df = spark.createDataFrame(rows, "variant string, ok boolean")
    out = df.transform(
        wilson_proportions(F.col("ok"), "variant", "nope")
    ).collect()
    assert len(out) == 2
    assert all(r["z_vs_control"] is None for r in out)


def test_msprt_matches_python_and_is_monotone(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        msprt_two_proportion,
    )

    rng = random.Random(285)
    rows = []
    for day in range(20):
        for _ in range(50):
            rows.append((day, "A", rng.random() < 0.35))
            rows.append((day, "B", rng.random() < 0.20))
    df = spark.createDataFrame(rows, "day int, variant string, ok boolean")
    out = sorted(
        df.transform(
            msprt_two_proportion(
                F.col("ok"), "variant", "A", "day", tau=0.1
            )
        ).collect(),
        key=lambda r: r["day"],
    )

    # python reference
    na = ca = nb = cb = 0
    per_day = {}
    for day, v, ok in rows:
        per_day.setdefault(day, []).append((v, ok))
    best = None
    for day in range(20):
        for v, ok in per_day[day]:
            if v == "A":
                na += 1
                ca += ok
            else:
                nb += 1
                cb += ok
        pool = (ca + cb) / (na + nb)
        var = pool * (1 - pool) * (1 / na + 1 / nb)
        th = ca / na - cb / nb
        lnl = 0.5 * math.log(var / (var + 0.1)) + th * th * 0.1 / (
            2 * var * (var + 0.1)
        )
        best = lnl if best is None else max(best, lnl)
        r = out[day]
        assert r["n_a"] == na and r["conv_b"] == cb
        assert r["log_lambda"] == pytest.approx(lnl, abs=2e-6)
        assert r["p_always_valid"] == pytest.approx(
            min(1.0, math.exp(-best)), abs=2e-6
        )
    # always-valid property: p is monotone non-increasing
    ps = [r["p_always_valid"] for r in out]
    assert all(a >= b - 1e-12 for a, b in zip(ps, ps[1:]))
    # a real 15-point lift must eventually reject at alpha=0.05
    assert ps[-1] < 0.05


def test_stochastic_oscillator_hand_checked(spark):
    # %K bounds + channel position, via the registered query shape
    from pyspark.sql import Window

    rows = [
        (1, f"2024-01-{d:02d} 12:00:00", float(v))
        for d, v in enumerate([10, 20, 30, 25, 5, 30], start=1)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, value double"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
    bars = df.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.max_by("value", "ts").alias("close"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
    )
    wb = Window.partitionBy("user_id").orderBy("day")
    w14 = wb.rowsBetween(-13, 0)
    hh, ll = F.max("high").over(w14), F.min("low").over(w14)
    k = F.when(
        hh > ll,
        F.round(F.lit(100.0) * (F.col("close") - ll) / (hh - ll), 6),
    )
    out = [
        r["pct_k"]
        for r in bars.select("day", k.alias("pct_k"))
        .orderBy("day")
        .collect()
    ]
    # day1: hh==ll -> NULL; day3: close 30 at channel top -> 100;
    # day5: close 5 at channel bottom -> 0
    assert out[0] is None
    assert out[2] == pytest.approx(100.0)
    assert out[4] == pytest.approx(0.0)
    assert all(v is None or 0.0 <= v <= 100.0 for v in out)


def test_cumprod_matches_math(spark):
    from btc_usdt_etl_pipeline_spark.operators.windows import (
        cumulative_product,
    )

    rng = random.Random(287)
    rows = [(float(i), rng.uniform(-0.01, 0.011)) for i in range(5000)]
    df = spark.createDataFrame(rows, "t double, ret double").repartition(
        16
    )
    got = {
        r["t"]: r["cumprod"]
        for r in df.transform(cumulative_product("ret", "t")).collect()
    }
    assert len(got) == 5000
    acc = 0.0
    for t, ret in rows:
        acc += math.log1p(ret)
        assert got[t] == pytest.approx(math.exp(acc), rel=1e-12)
    # keyed caller: one running product per key
    kdf = spark.createDataFrame(
        [(i % 3, float(i), 0.01) for i in range(300)],
        "k int, t double, ret double",
    )
    seen = {0: 0, 1: 0, 2: 0}
    for r in sorted(
        kdf.transform(
            cumulative_product("ret", "t", partition_by=["k"])
        ).collect(),
        key=lambda r: r["t"],
    ):
        seen[r["k"]] += 1
        assert r["cumprod"] == pytest.approx(
            1.01 ** seen[r["k"]], rel=1e-12
        )
    # constant order column: both rows land in one frame, no crash
    cdf = spark.createDataFrame(
        [(1.0, 0.01), (1.0, 0.02)], "t double, ret double"
    )
    out = [r["cumprod"] for r in cdf.transform(
        cumulative_product("ret", "t")
    ).collect()]
    assert len(out) == 2
    assert max(out) == pytest.approx(1.01 * 1.02, rel=1e-12)


def test_yuen_t_matches_python(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import yuen_t

    rng = random.Random(287)
    a = [rng.gauss(10, 2) for _ in range(180)] + [500.0, -400.0]
    b = [rng.gauss(9, 2) for _ in range(150)] + [800.0]
    rows = [("A", v) for v in a] + [("B", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    out = df.transform(yuen_t("v", "g", "A", trim=0.2)).collect()[0]

    def side(xs, trim=0.2):
        xs = sorted(xs)
        n = len(xs)
        k = int(trim * n)
        h = n - 2 * k
        interior = xs[k: n - k]
        tm = sum(interior) / h
        w = [xs[k]] * k + interior + [xs[n - k - 1]] * k
        mw = sum(w) / n
        s2w = sum((x - mw) ** 2 for x in w) / (n - 1)
        d = s2w * (n - 1) / (h * (h - 1))
        return n, h, tm, d

    na, ha, tma, da = side(a)
    nb, hb, tmb, db = side(b)
    t = (tma - tmb) / math.sqrt(da + db)
    dof = (da + db) ** 2 / (da * da / (ha - 1) + db * db / (hb - 1))
    assert out["n_a"] == na and out["h_a"] == ha
    assert out["tmean_a"] == pytest.approx(tma, abs=1e-5)
    assert out["tmean_b"] == pytest.approx(tmb, abs=1e-5)
    assert out["t"] == pytest.approx(t, rel=1e-4)
    assert out["dof"] == pytest.approx(dof, rel=1e-4)
    # robustness: the planted +/-500 outliers must not swamp the test
    # (Welch on the same data would see a huge variance); |t| still
    # detects the 1-unit shift
    assert out["t"] > 3
    # one-row side -> NULL t, no crash
    tiny = spark.createDataFrame(
        [("A", 1.0), ("B", 2.0), ("B", 3.0), ("B", 4.0)],
        "g string, v double",
    )
    r = tiny.transform(yuen_t("v", "g", "A")).collect()[0]
    assert r["t"] is None
    with pytest.raises(ValueError):
        yuen_t("v", "g", "A", trim=0.5)


def test_km_greenwood_matches_python(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import kaplan_meier

    # classic textbook fixture: durations with events and censorings
    rows = [
        (6, True), (6, True), (6, True), (6, False),
        (7, True), (9, False), (10, True), (10, False),
        (11, False), (13, True), (16, True), (17, False),
        (19, False), (20, False), (22, True), (23, True),
        (25, False), (32, False), (32, False), (34, False), (35, False),
    ]
    df = spark.createDataFrame(rows, "dur int, ev boolean")
    out = {
        r["t"]: r
        for r in df.transform(
            kaplan_meier("dur", F.col("ev"), greenwood=True)
        ).collect()
    }

    # python reference
    from collections import Counter

    d = Counter(t for t, e in rows if e)
    c = Counter(t for t, e in rows if not e)
    times = sorted(set(d) | set(c))
    n = len(rows)
    s = 1.0
    gsum = 0.0
    for t in times:
        dt, ct = d.get(t, 0), c.get(t, 0)
        if dt:
            s *= 1 - dt / n
            gsum += round(dt / (n * (n - dt)), 12)
            se = s * math.sqrt(gsum)
            r = out[t]
            assert r["n_risk"] == n
            assert r["survival"] == pytest.approx(s, abs=2e-6)
            assert r["se"] == pytest.approx(se, abs=2e-6)
            assert r["ci_lo"] == pytest.approx(
                max(0.0, s - 1.96 * se), abs=5e-6
            )
            assert r["ci_hi"] == pytest.approx(
                min(1.0, s + 1.96 * se), abs=5e-6
            )
        n -= dt + ct
    # bands must widen as the risk set shrinks (monotone gsum)
    ses = [out[t]["se"] for t in sorted(out)]
    assert ses[0] < ses[-1] or len(ses) < 2
    # default path (greenwood=False) keeps the original schema
    base = df.transform(kaplan_meier("dur", F.col("ev"))).columns
    assert "se" not in base


def test_seasonal_strength_discriminates(spark):
    """A pure-seasonal series scores strength_seasonal ~1 /
    strength_trend ~0; a pure-trend series the reverse; white noise
    scores low on both."""
    from btc_usdt_etl_pipeline_spark.operators.windows import (
        seasonal_decompose,
    )
    from pyspark.sql import functions as F2

    rng = random.Random(291)
    rows = []
    for i in range(240):
        rows.append(("seas", i, 10.0 + 5.0 * math.sin(2 * math.pi * i / 24)))
        rows.append(("trend", i, 10.0 + 0.5 * i + rng.gauss(0, 0.1)))
        rows.append(("noise", i, rng.gauss(10, 2)))
    df = spark.createDataFrame(rows, "user_id string, event_id int, v double")
    df = df.withColumn("ts", F2.col("event_id").cast("timestamp"))
    comp = df.transform(
        seasonal_decompose(
            "v", period=24, trend_halfwidth=12,
            partition_by="user_id", order_by=("ts", "event_id"),
        )
    ).select(
        "user_id",
        F2.col("resid").alias("r"),
        (F2.col("seasonal") + F2.col("resid")).alias("sr"),
        (F2.col("trend") + F2.col("resid")).alias("tr"),
    )
    pdf = comp.toPandas()

    def strength(g, num, den):
        import statistics

        vr = statistics.variance(g["r"])
        vd = statistics.variance(g[den])
        return max(0.0, 1 - vr / vd)

    out = {}
    for uid, g in pdf.groupby("user_id"):
        out[uid] = (
            strength(g, "r", "tr"),
            strength(g, "r", "sr"),
        )
    assert out["seas"][1] > 0.95   # strong seasonality
    assert out["seas"][0] < 0.6
    assert out["trend"][0] > 0.95  # strong trend
    assert out["trend"][1] < 0.6
    assert out["noise"][0] < 0.5 and out["noise"][1] < 0.6

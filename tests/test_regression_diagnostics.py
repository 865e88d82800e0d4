"""Regression diagnostics: Durbin–Watson and Cook's distance vs pure
python references, plus the textbook discrimination properties."""

from __future__ import annotations

import random

import pytest

from tests.conftest import plain_and_scaled


def _ols(pts):
    n = len(pts)
    sx = sum(round(x, 6) for x, _ in pts)  # decimal casts are exact on
    sy = sum(y for _, y in pts)            # the small test doubles
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    det = n * sxx - sx * sx
    b = (n * sxy - sx * sy) / det
    a = (sy - b * sx) / n
    return a, b


def test_durbin_watson_matches_python_and_discriminates(spark, scale_paths):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        durbin_watson,
    )

    rng = random.Random(295)
    rows = []
    # group "ar": residuals strongly positively autocorrelated
    drift = 0.0
    for i in range(300):
        drift = 0.95 * drift + rng.gauss(0, 0.3)
        rows.append(("ar", float(i), float(i % 24), 5.0 + drift))
    # group "wn": independent residuals
    for i in range(300):
        rows.append(("wn", float(i), float(i % 24),
                     5.0 + 0.2 * (i % 24) + rng.gauss(0, 1.0)))
    df = spark.createDataFrame(rows, "g string, t double, x double, y double")
    out = {
        r["g"]: r
        for r in df.repartition(8)
        .transform(
            durbin_watson("y", "x", order_by=("t",), group_by="g")
        )
        .collect()
    }

    for g in ("ar", "wn"):
        pts = sorted(
            ((t, x, y) for gg, t, x, y in rows if gg == g)
        )
        a, b = _ols([(x, y) for _, x, y in pts])
        es = [y - a - b * x for _, x, y in pts]
        num = sum(
            (es[i] - es[i - 1]) ** 2 for i in range(1, len(es))
        )
        den = sum(e * e for e in es)
        r = out[g]
        assert r["n"] == 300
        assert r["slope"] == pytest.approx(b, abs=1e-5)
        assert r["intercept"] == pytest.approx(a, abs=1e-5)
        assert r["dw"] == pytest.approx(num / den, abs=1e-4)
    # discrimination: autocorrelated residuals push DW far below 2
    assert out["ar"]["dw"] < 1.0
    assert 1.5 < out["wn"]["dw"] < 2.5

    # the chunked plan is bit-identical to the window plan
    w, c = plain_and_scaled(
        scale_paths,
        lambda: df.transform(durbin_watson("y", "x", ("t",), "g")),
        "_chunk",
    )
    assert sorted(map(tuple, w.collect())) == sorted(
        map(tuple, c.collect())
    )


def test_durbin_watson_ungrouped_scale_plan_equals_plain(spark, scale_paths):
    """Ungrouped, durbin_watson hands keyed_lags the stand-in key "_n";
    with the gates open the hot-key probe counts rows per key, and its
    count must not take that name too."""
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        durbin_watson,
    )

    rng = random.Random(17)
    rows = [
        (float(i), float(i % 24), 5.0 + 0.2 * (i % 24) + rng.gauss(0, 1.0))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "t double, x double, y double")
    with scale_paths(on=False):
        plain = df.transform(durbin_watson("y", "x", ("t",))).collect()
    with scale_paths():
        scaled = df.transform(durbin_watson("y", "x", ("t",))).collect()
    assert plain[0]["n"] == 200
    assert scaled == plain


def test_durbin_watson_tie_break_and_degenerate(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        durbin_watson,
    )

    # duplicate t everywhere; (t, i) pins the residual order
    rng = random.Random(7)
    rows = [
        ("g", float(i // 2), i, float(i % 5), rng.gauss(0, 1))
        for i in range(80)
    ]
    df = spark.createDataFrame(
        rows, "g string, t double, i long, x double, y double"
    )
    got = df.repartition(6).transform(
        durbin_watson("y", "x", order_by=("t", "i"), group_by="g")
    ).collect()[0]
    pts = sorted(rows, key=lambda r: (r[1], r[2]))
    a, b = _ols([(x, y) for _, _, _, x, y in pts])
    es = [y - a - b * x for _, _, _, x, y in pts]
    num = sum((es[i] - es[i - 1]) ** 2 for i in range(1, len(es)))
    den = sum(e * e for e in es)
    assert got["dw"] == pytest.approx(num / den, abs=1e-4)

    # constant x -> no line -> NULL slope and dw
    dfc = spark.createDataFrame(
        [("g", float(i), 1.0, float(i)) for i in range(10)],
        "g string, t double, x double, y double",
    )
    r = dfc.transform(
        durbin_watson("y", "x", ("t",), "g")
    ).collect()[0]
    assert r["slope"] is None


def test_cooks_distance_matches_python_and_flags_outlier(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        cooks_distance,
    )

    rng = random.Random(296)
    rows = [
        ("g", i, float(i % 30), 2.0 + 0.5 * (i % 30) + rng.gauss(0, 0.4))
        for i in range(200)
    ]
    # planted high-leverage, high-residual point
    rows.append(("g", 999, 80.0, -40.0))
    df = spark.createDataFrame(rows, "g string, id long, x double, y double")
    out = {
        r["id"]: r
        for r in df.repartition(5)
        .transform(cooks_distance("y", "x", "id", group_by="g"))
        .collect()
    }
    assert 999 in out  # the planted point is flagged

    pts = [(x, y) for _, _, x, y in rows]
    n = len(pts)
    a, b = _ols(pts)
    xbar = sum(x for x, _ in pts) / n
    sxxc = sum(x * x for x, _ in pts) - (
        sum(x for x, _ in pts) ** 2 / n
    )
    sse = sum((y - a - b * x) ** 2 for x, y in pts)
    s2 = sse / (n - 2)
    want = {}
    for _, rid, x, y in rows:
        e = y - a - b * x
        h = 1.0 / n + (x - xbar) ** 2 / sxxc
        dd = e * e / (2 * s2) * h / ((1 - h) ** 2)
        if h < 1 and dd > 4.0 / n:
            want[rid] = (e, h, dd)
    assert set(out) == set(want)
    for rid, (e, h, dd) in want.items():
        r = out[rid]
        assert r["resid"] == pytest.approx(e, rel=1e-4, abs=1e-5)
        assert r["leverage"] == pytest.approx(h, rel=1e-4)
        assert r["cooks_d"] == pytest.approx(dd, rel=1e-3)
    # the planted point dominates
    assert out[999]["cooks_d"] > 10 * max(
        (r["cooks_d"] for i, r in out.items() if i != 999), default=0.0
    )


def test_cooks_distance_degenerate_groups_emit_nothing(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        cooks_distance,
    )

    df = spark.createDataFrame(
        [("a", 1, 1.0, 1.0), ("a", 2, 2.0, 2.0),    # n = 2 -> s2 undef
         ("b", 3, 5.0, 1.0), ("b", 4, 5.0, 2.0),
         ("b", 5, 5.0, 9.0)],                        # constant x
        "g string, id long, x double, y double",
    )
    assert df.transform(
        cooks_distance("y", "x", "id", group_by="g")
    ).count() == 0


def test_ljung_box_matches_python_and_discriminates(spark):
    from btc_usdt_etl_pipeline_spark.operators.windows import ljung_box

    rng = random.Random(297)
    rows = []
    # "ar": strongly autocorrelated -> huge Q; "wn": white noise
    v = 0.0
    for i in range(240):
        v = 0.9 * v + rng.gauss(0, 1)
        rows.append(("ar", float(i), i, 10.0 + v))
    for i in range(240):
        rows.append(("wn", float(i), i, 10.0 + rng.gauss(0, 1)))
    df = spark.createDataFrame(
        rows, "g string, ts double, event_id long, value double"
    )
    out = {
        r["g"]: r
        for r in df.repartition(6)
        .transform(
            ljung_box(
                "value", 5, partition_by="g",
                order_by=("ts", "event_id"),
            )
        )
        .collect()
    }

    for g in ("ar", "wn"):
        xs = [x for gg, _, _, x in sorted(
            (r for r in rows if r[0] == g), key=lambda r: (r[1], r[2])
        )]
        n = len(xs)
        mean = sum(round(x, 6) for x in xs) / n
        dev = [x - mean for x in xs]
        den = sum(round(d * d, 6) for d in dev)
        q = 0.0
        for k in range(1, 6):
            num = sum(
                round(dev[i] * dev[i - k], 6) for i in range(k, n)
            )
            r_k = num / den
            q += r_k * r_k / (n - k)
        q *= n * (n + 2)
        r = out[g]
        assert r["n"] == n and r["df"] == 5
        assert r["q"] == pytest.approx(q, rel=1e-4)
    assert out["ar"]["q"] > 100.0
    assert out["wn"]["q"] < 30.0

    # n <= max_lag -> NULL q
    tiny = spark.createDataFrame(
        [("t", float(i), i, float(i)) for i in range(4)],
        "g string, ts double, event_id long, value double",
    )
    assert tiny.transform(
        ljung_box("value", 5, partition_by="g", order_by=("ts", "event_id"))
    ).collect()[0]["q"] is None


def test_breusch_pagan_matches_python_and_discriminates(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        breusch_pagan,
    )

    rng = random.Random(298)
    rows = []
    # "het": residual sd grows with x -> LM large; "hom": constant sd
    for i in range(400):
        x = float(i % 25)
        rows.append(("het", x, 1.0 + 0.3 * x + rng.gauss(0, 0.2 + 0.3 * x)))
        rows.append(("hom", x, 1.0 + 0.3 * x + rng.gauss(0, 1.0)))
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {
        r["g"]: r
        for r in df.repartition(7)
        .transform(breusch_pagan("y", "x", group_by="g"))
        .collect()
    }

    for g in ("het", "hom"):
        pts = [(x, y) for gg, x, y in rows if gg == g]
        a, b = _ols(pts)
        gs = [(x, (y - a - b * x) ** 2) for x, y in pts]
        n = len(gs)
        sx = sum(round(x, 6) for x, _ in gs)
        sg = sum(round(v, 6) for _, v in gs)
        sxx = sum(round(x * x, 6) for x, _ in gs)
        sxg = sum(round(x * v, 6) for x, v in gs)
        sgg = sum(round(v * v, 6) for _, v in gs)
        r2 = (n * sxg - sx * sg) ** 2 / (
            (n * sxx - sx * sx) * (n * sgg - sg * sg)
        )
        r = out[g]
        assert r["n"] == n
        assert r["r2_aux"] == pytest.approx(r2, rel=1e-3, abs=1e-5)
        assert r["lm"] == pytest.approx(n * r2, rel=1e-3, abs=1e-4)
    assert out["het"]["lm"] > 30.0
    assert out["hom"]["lm"] < 15.0

    # constant x -> no line -> the group is dropped (no output row)
    dfc = spark.createDataFrame(
        [("c", 1.0, float(i)) for i in range(10)],
        "g string, x double, y double",
    )
    assert dfc.transform(breusch_pagan("y", "x", group_by="g")).count() == 0


def test_pacf_matches_python_and_cuts_off(spark):
    """PACF vs a python Durbin-Levinson reference on an AR(2) series:
    phi_11/phi_22 large, phi_33..phi_55 near zero (the Box-Jenkins
    cut-off property that identifies AR order)."""
    from btc_usdt_etl_pipeline_spark.operators.windows import pacf

    rng = random.Random(299)
    xs = [0.0, 0.0]
    for _ in range(500):
        xs.append(0.6 * xs[-1] - 0.3 * xs[-2] + rng.gauss(0, 1))
    rows = [("s", float(i), i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(
        rows, "g string, ts double, event_id long, value double"
    )
    out = {
        r["lag"]: r["pacf"]
        for r in df.repartition(6)
        .transform(
            pacf("value", 5, partition_by="g",
                 order_by=("ts", "event_id"))
        )
        .collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}

    # python reference: biased ACF with the operator's 6dp-term
    # rounding, then Durbin-Levinson
    n = len(xs)
    mean = sum(round(x, 6) for x in xs) / n
    dev = [x - mean for x in xs]
    den = sum(round(d * d, 6) for d in dev)
    r = [None] + [
        sum(round(dev[i] * dev[i - k], 6) for i in range(k, n)) / den
        for k in range(1, 6)
    ]
    phi = {(1, 1): r[1]}
    for k in range(2, 6):
        num = r[k] - sum(phi[(k - 1, j)] * r[k - j] for j in range(1, k))
        d2 = 1.0 - sum(phi[(k - 1, j)] * r[j] for j in range(1, k))
        phi[(k, k)] = num / d2
        for j in range(1, k):
            phi[(k, j)] = phi[(k - 1, j)] - phi[(k, k)] * phi[(k - 1, k - j)]
    for k in range(1, 6):
        assert out[k] == pytest.approx(phi[(k, k)], abs=1e-4), k
    # AR(2) cut-off: the first two partials dominate the tail
    assert abs(out[1]) > 0.3 and abs(out[2]) > 0.15
    assert all(abs(out[k]) < 0.12 for k in (3, 4, 5))


def test_kpss_matches_python_and_discriminates(spark):
    """KPSS vs a python reference; stationary noise stays far below
    the 5% critical value 0.463, a random walk far above."""
    from btc_usdt_etl_pipeline_spark.operators.windows import kpss_level

    rng = random.Random(300)
    rows = []
    walk = 0.0
    for i in range(400):
        rows.append(("stat", float(i), i, 10.0 + rng.gauss(0, 1)))
        walk += rng.gauss(0, 1)
        rows.append(("walk", float(i), i, walk))
    df = spark.createDataFrame(
        rows, "g string, ts double, event_id long, value double"
    )
    out = {
        r["g"]: r
        for r in df.repartition(6)
        .transform(
            kpss_level(
                "value", 5, partition_by="g",
                order_by=("ts", "event_id"),
            )
        )
        .collect()
    }

    for g in ("stat", "walk"):
        xs = [x for gg, _, _, x in sorted(
            (r for r in rows if r[0] == g), key=lambda r: (r[1], r[2])
        )]
        n = len(xs)
        mean = sum(round(x, 6) for x in xs) / n
        e = [x - mean for x in xs]
        st, s = [], 0.0
        for v in e:
            s += round(v, 12)
            st.append(s)
        eta = sum(round(x * x, 12) for x in st) / (n * n)
        g0 = sum(round(v * v, 12) for v in e) / n
        om = g0
        for l in range(1, 6):
            gl = sum(
                round(e[i] * e[i - l], 12) for i in range(l, n)
            ) / n
            om += 2.0 * (1.0 - l / 6.0) * gl
        r = out[g]
        assert r["n"] == n
        assert r["eta"] == pytest.approx(eta, rel=1e-4)
        assert r["omega2"] == pytest.approx(om, rel=1e-4)
        assert r["kpss"] == pytest.approx(eta / om, rel=1e-3)
    assert out["stat"]["kpss"] < 0.463
    assert out["walk"]["kpss"] > 1.0

    # short series (n <= L) -> NULL kpss
    tiny = spark.createDataFrame(
        [("t", float(i), i, float(i % 2)) for i in range(4)],
        "g string, ts double, event_id long, value double",
    )
    assert tiny.transform(
        kpss_level("value", 5, partition_by="g",
                   order_by=("ts", "event_id"))
    ).collect()[0]["kpss"] is None

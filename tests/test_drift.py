"""Semantic tests for the drift-detection family (PSI, KS) and the
time-series analytics added alongside it (ACF, seasonal decomposition):
Python/numpy reference implementations on small random data, plus the
shape contracts (identical samples → zero drift, r_0 normalization,
component identity x = trend + seasonal + resid), and a scan-count
guard over the statistics operators built on shared helpers."""

from __future__ import annotations

import math

import pytest
import random

from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.ml import features as M
from btc_usdt_etl_pipeline_spark.operators import drift as D
from btc_usdt_etl_pipeline_spark.operators import similarity as Sim
from btc_usdt_etl_pipeline_spark.operators import sketch as K
from btc_usdt_etl_pipeline_spark.operators import stats as S
from btc_usdt_etl_pipeline_spark.operators import text as T
from btc_usdt_etl_pipeline_spark.operators import windows as W


def _events(spark, seed=7, n_users=3, n=120):
    rng = random.Random(seed)
    rows = [
        (u * 1000 + i, u, i, round(rng.uniform(0.0, 100.0), 2))
        for u in range(n_users)
        for i in range(n)
    ]
    return rows, spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, value double"
    )


def test_psi_matches_python_reference(spark):
    from btc_usdt_etl_pipeline_spark.operators.drift import psi

    rows, df = _events(spark)
    got = {
        r["user_id"]: r["psi"]
        for r in df.transform(
            psi(
                "value",
                is_current=F.col("ts") >= 60,
                lo=0.0,
                hi=100.0,
                n_bins=5,
                group_by="user_id",
                eps=0.5,
            )
        ).collect()
    }
    for u in [0, 1, 2]:
        ref = [v for (_, uu, t, v) in rows if uu == u and t < 60]
        cur = [v for (_, uu, t, v) in rows if uu == u and t >= 60]
        want = 0.0
        for b in range(5):
            lo, hi = b * 20.0, (b + 1) * 20.0
            nr = sum(
                1
                for v in ref
                if (lo <= v < hi)
                or (b == 0 and v < 0)
                or (b == 4 and v >= 100)
            )
            nc = sum(
                1
                for v in cur
                if (lo <= v < hi)
                or (b == 0 and v < 0)
                or (b == 4 and v >= 100)
            )
            pr = (nr + 0.5) / (len(ref) + 2.5)
            pc = (nc + 0.5) / (len(cur) + 2.5)
            want += (pc - pr) * math.log(pc / pr)
        assert abs(got[u] - want) < 1e-5, (u, got[u], want)


def test_psi_zero_when_identical(spark):
    from btc_usdt_etl_pipeline_spark.operators.drift import psi

    # Duplicate every row into both samples: p_ref == p_cur exactly.
    rows = [(i, float(i % 10), c) for i in range(100) for c in (0, 1)]
    df = spark.createDataFrame(rows, "i long, value double, cur int")
    out = df.transform(
        psi("value", is_current=F.col("cur") == 1, lo=0.0, hi=10.0)
    ).collect()
    assert len(out) == 1 and abs(out[0]["psi"]) < 1e-12


def test_ks_matches_python_reference(spark):
    from btc_usdt_etl_pipeline_spark.operators.drift import ks_statistic

    rows, df = _events(spark, seed=11)
    got = {
        r["user_id"]: (r["n_ref"], r["n_cur"], r["ks"])
        for r in df.transform(
            ks_statistic(
                "value", is_current=F.col("ts") >= 60, group_by="user_id"
            )
        ).collect()
    }
    for u in [0, 1, 2]:
        ref = sorted(v for (_, uu, t, v) in rows if uu == u and t < 60)
        cur = sorted(v for (_, uu, t, v) in rows if uu == u and t >= 60)
        grid = sorted(set(ref) | set(cur))
        d = max(
            abs(
                sum(1 for v in ref if v <= x) / len(ref)
                - sum(1 for v in cur if v <= x) / len(cur)
            )
            for x in grid
        )
        n_ref, n_cur, ks = got[u]
        assert (n_ref, n_cur) == (len(ref), len(cur))
        assert abs(ks - d) < 1e-12, (u, ks, d)


def test_ks_disjoint_supports_is_one(spark):
    from btc_usdt_etl_pipeline_spark.operators.drift import ks_statistic

    rows = [(i, float(i), 0) for i in range(50)] + [
        (100 + i, 1000.0 + i, 1) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "i long, value double, cur int")
    out = df.transform(
        ks_statistic("value", is_current=F.col("cur") == 1)
    ).collect()
    assert out[0]["ks"] == 1.0


def test_ks_one_sided_group_is_null_not_error(spark):
    """A group present in only ONE sample (e.g. a segment that exists
    only in the current batch) has a zero denominator on the other
    side — the fence must report ks = NULL for that group instead of
    raising DIVIDE_BY_ZERO under ANSI mode, while two-sided groups in
    the same frame stay exact."""
    from btc_usdt_etl_pipeline_spark.operators.drift import ks_statistic

    rows = (
        # group "both": 3 ref + 3 cur, disjoint supports -> ks = 1
        [("both", float(i), 0) for i in range(3)]
        + [("both", 100.0 + i, 1) for i in range(3)]
        # group "curonly": rows only in the current sample
        + [("curonly", float(i), 1) for i in range(4)]
        # group "refonly": rows only in the reference sample
        + [("refonly", float(i), 0) for i in range(4)]
    )
    df = spark.createDataFrame(rows, "g string, value double, cur int")
    got = {
        r["g"]: (r["n_ref"], r["n_cur"], r["ks"])
        for r in df.transform(
            ks_statistic("value", is_current=F.col("cur") == 1,
                         group_by="g")
        ).collect()
    }
    assert got["both"] == (3, 3, 1.0)
    assert got["curonly"][:2] == (0, 4) and got["curonly"][2] is None
    assert got["refonly"][:2] == (4, 0) and got["refonly"][2] is None


def test_acf_matches_numpy(spark):
    import numpy as np

    from btc_usdt_etl_pipeline_spark.operators.windows import acf

    rows, df = _events(spark, seed=3, n_users=2, n=80)
    got = {
        (r["user_id"], r["lag"]): r["acf"]
        for r in df.transform(
            acf("value", max_lag=4, partition_by="user_id",
                order_by=("ts",))
        ).collect()
    }
    for u in [0, 1]:
        x = np.array([v for (_, uu, _, v) in rows if uu == u])
        dev = x - x.mean()
        den = float((dev * dev).sum())
        for k in range(1, 5):
            want = float((dev[k:] * dev[:-k]).sum()) / den
            assert abs(got[(u, k)] - want) < 1e-5, (u, k)


def test_acf_lag1_of_alternating_series_is_negative(spark):
    from btc_usdt_etl_pipeline_spark.operators.windows import acf

    rows = [(i, 1, i, float(i % 2)) for i in range(100)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, value double"
    )
    out = {
        r["lag"]: r["acf"]
        for r in df.transform(
            acf("value", max_lag=2, partition_by="user_id",
                order_by=("ts",))
        ).collect()
    }
    assert out[1] < -0.9 and out[2] > 0.9


def test_seasonal_decompose_identity_and_recovery(spark):
    import numpy as np

    from btc_usdt_etl_pipeline_spark.operators.windows import (
        seasonal_decompose,
    )

    # Pure synthetic: known seasonal pattern + linear trend.  Period 7
    # with halfwidth 3: the width-7 centered MA spans exactly one
    # period, so it cancels the seasonal completely and reproduces the
    # linear trend exactly — interior recovery is then exact, not
    # approximate.  (A width that is NOT a multiple of the period
    # leaks ~pattern/width into the trend — estimator property.)
    period, n = 7, 140
    pat = [3.0, -1.0, 0.5, -2.5, 1.0, -1.5, 0.5]  # sums to 0
    rows = [
        (i, 1, i, 0.1 * i + pat[i % period]) for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, value double"
    )
    out = (
        df.transform(
            seasonal_decompose(
                "value", period=period, trend_halfwidth=3,
                partition_by="user_id", order_by=("ts",),
            )
        )
        .orderBy("ts")
        .collect()
    )
    # Identity holds exactly on every row.
    for r in out:
        assert abs(r["value"] - (r["trend"] + r["seasonal"] + r["resid"])) < 1e-9
    # Seasonal component sums to ~0 over one period (centering).
    by_phase = {}
    for r in out:
        by_phase.setdefault(r["phase"], r["seasonal"])
    assert abs(sum(by_phase.values())) < 1e-6
    # Interior rows recover the planted pattern.  Not exact: the edge
    # rows' shrunken-MA trend is biased, and those rows participate in
    # the per-phase means (≈0.03 shift here with 6 edge rows in 20
    # samples/phase) — bound well under the pattern amplitude 3.0.
    mid = [r for r in out if 12 <= r["ts"] < n - 12]
    err = max(
        abs(r["seasonal"] - (pat[r["phase"]] - np.mean(pat))) for r in mid
    )
    assert err < 0.05


def test_seasonal_decompose_short_series_centering(spark):
    """A series SHORTER than the period realizes fewer phases; the
    grand mean must divide by the observed phase count, not the
    constant period — /period underestimates the grand mean and
    mis-centers seasonal/resid.  With 4 rows and period 7 the phase
    means ARE the detrended values, so seasonal must be exactly
    detr − mean(detr over the 4 observed phases), and the distinct
    seasonals must sum to 0 (proper centering)."""
    from btc_usdt_etl_pipeline_spark.operators.windows import (
        seasonal_decompose,
    )

    vals = [10.0, 14.0, 6.0, 12.0]
    rows = [(i, 1, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, value double"
    )
    out = (
        df.transform(
            seasonal_decompose(
                "value", period=7, trend_halfwidth=2,
                partition_by="user_id", order_by=("ts",),
            )
        )
        .orderBy("ts")
        .collect()
    )
    # identity always
    for r in out:
        assert abs(
            r["value"] - (r["trend"] + r["seasonal"] + r["resid"])
        ) < 1e-9
    # proper centering over OBSERVED phases (4, not 7).  Tolerance is
    # 1e-6, not 1e-9: the operator's order-free decimal(38,6) sums
    # quantize the non-terminating trend (32/3) at 6 dp by contract.
    assert abs(sum(r["seasonal"] for r in out)) < 1e-6
    # expected seasonal: detr - mean(detr) over observed phases
    detr = [r["value"] - r["trend"] for r in out]
    m = sum(detr) / len(detr)
    for r, d in zip(out, detr):
        assert abs(r["seasonal"] - (d - m)) < 1e-6


def test_theil_sen_operator_cap_and_slope(spark):
    from pyspark.sql import functions as F

    from btc_usdt_etl_pipeline_spark.operators.windows import theil_sen

    rows = [(k, i, float(i), 3.0 * i + (50.0 if i == 7 else 0.0))
            for k in range(2) for i in range(40)]
    df = spark.createDataFrame(
        rows, "k int, event_id long, t double, value double"
    )
    # Uncapped: exact slope 3 despite the outlier.
    full = {
        r["k"]: (r["sen_slope"], r["n_pairs"])
        for r in df.transform(
            theil_sen("value", "t", id_col="event_id",
                      partition_by="k", max_points=1000)
        ).collect()
    }
    for k in range(2):
        assert abs(full[k][0] - 3.0) < 1e-6
        assert full[k][1] == 40 * 39 // 2
    # Capped: pair mass bounded at cap^2/2, slope still recovered
    # (uniform hash subsample keeps the trend).
    capped = {
        r["k"]: (r["sen_slope"], r["n_pairs"])
        for r in df.transform(
            theil_sen("value", "t", id_col="event_id",
                      partition_by="k", max_points=10)
        ).collect()
    }
    for k in range(2):
        assert capped[k][1] <= 10 * 9 // 2
        assert abs(capped[k][0] - 3.0) < 1e-6


def test_cvm_matches_python_reference(spark):
    from btc_usdt_etl_pipeline_spark.operators.drift import cvm_statistic

    import random as _random
    from collections import Counter

    rng = _random.Random(157)
    ref = [round(rng.gauss(0, 1), 2) for _ in range(300)]
    cur = [round(rng.gauss(0.4, 1), 2) for _ in range(200)]
    rows = [("g", v, False) for v in ref] + [("g", v, True) for v in cur]
    df = spark.createDataFrame(rows, "g string, v double, cur boolean")
    r = df.transform(
        cvm_statistic("v", F.col("cur"), group_by="g")
    ).collect()[0]
    cr = Counter(ref)
    cc = Counter(cur)
    vals = sorted(set(ref) | set(cur))
    fa = fb = 0.0
    s = 0.0
    for v in vals:
        fa += cr.get(v, 0) / len(ref)
        fb += cc.get(v, 0) / len(cur)
        w = cr.get(v, 0) + cc.get(v, 0)
        s += w * (fa - fb) ** 2
    want = len(ref) * len(cur) / (len(ref) + len(cur)) ** 2 * s
    assert r["n_ref"] == 300 and r["n_cur"] == 200
    assert r["cvm"] == pytest.approx(want, abs=1e-3)
    assert r["cvm"] > 1.0  # planted shift clearly visible


def test_cvm_identical_zero_and_empty_null(spark):
    from btc_usdt_etl_pipeline_spark.operators.drift import cvm_statistic

    same = [("g", float(v), b) for v in range(30) for b in (True, False)]
    df = spark.createDataFrame(same, "g string, v double, cur boolean")
    r = df.transform(
        cvm_statistic("v", F.col("cur"), group_by="g")
    ).collect()[0]
    assert r["cvm"] == pytest.approx(0.0, abs=1e-9)

    onesided = [("g", float(v), True) for v in range(5)]
    df2 = spark.createDataFrame(onesided, "g string, v double, cur boolean")
    r2 = df2.transform(
        cvm_statistic("v", F.col("cur"), group_by="g")
    ).collect()[0]
    assert r2["cvm"] is None and r2["n_ref"] == 0


def test_drift_report_components_match_standalone_ops(spark):
    from btc_usdt_etl_pipeline_spark.operators.drift import (
        cvm_statistic,
        drift_report,
        ks_statistic,
        psi,
        wasserstein_1d,
    )

    import random as _random

    rng = _random.Random(163)
    rows = [
        ("g", round(rng.uniform(0, 100), 2) + (3.0 if i % 2 else 0.0),
         i % 2 == 0)
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "g string, v double, cur boolean")
    panel = {
        r["metric"]: r["statistic"]
        for r in df.transform(
            drift_report(
                "v", F.col("cur"), lo=0.0, hi=100.0, n_bins=8,
                group_by="g",
            )
        ).collect()
    }
    assert set(panel) == {"psi", "ks", "w1", "cvm"}
    want_psi = df.transform(
        psi("v", F.col("cur"), lo=0.0, hi=100.0, n_bins=8, group_by="g")
    ).collect()[0]["psi"]
    want_ks = df.transform(
        ks_statistic("v", F.col("cur"), group_by="g")
    ).collect()[0]["ks"]
    want_w1 = df.transform(
        wasserstein_1d("v", F.col("cur"), group_by="g")
    ).collect()[0]["w1"]
    want_cvm = df.transform(
        cvm_statistic("v", F.col("cur"), group_by="g")
    ).collect()[0]["cvm"]
    assert panel["psi"] == pytest.approx(want_psi, abs=1e-9)
    assert panel["ks"] == pytest.approx(want_ks, abs=1e-9)
    assert panel["w1"] == pytest.approx(want_w1, abs=1e-9)
    assert panel["cvm"] == pytest.approx(want_cvm, abs=1e-9)


def _scan_fixture(spark):
    """300 Python rows with a partition column ``p``: items of three
    rows (one per treatment) never straddle a partition, and the
    reference/current split is independent of it."""
    rng = random.Random(13)
    words = ["a", "b", "c", "d", "e", "f"]
    rows = [
        (
            "p%d" % ((i // 3) % 2),
            "g%d" % (i % 3),
            round(rng.gauss(10 + i % 3, 1 + i % 3), 2),
            rng.random() < 0.5,
            i,
            round(rng.uniform(0, 10), 2),
            round(rng.uniform(0, 10), 2),
            "it%d" % (i // 3),
            "t%d" % (i % 3),
            "r%d" % rng.randint(0, 2),
            " ".join(rng.choice(words) for _ in range(6)),
            rng.random(),
        )
        for i in range(300)
    ]
    return spark.createDataFrame(
        rows,
        "p string, g string, v double, cur boolean, ts long, x double, "
        "y double, item string, trt string, r string, text string, "
        "score double",
    )


def _cur():
    return F.col("cur")


def _vectors(df):
    """The fixture as an embedding corpus: id ``ts``, vector (x, y, v)."""
    return df.select(
        F.col("ts").alias("vec_id"), F.array("x", "y", "v").alias("embedding")
    )


def _centroids(df):
    return _vectors(df).where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )


_TRTS = ["t0", "t1", "t2"]
_ORDER = ("ts",)

#: operator factory over ``_scan_fixture`` and its LogicalRDD leaves
#: when each repeated statistic, sketch, similarity or survival pass
#: became one helper
_SCAN_BOUNDS = {
    "ks_statistic": (lambda: D.ks_statistic("v", _cur(), "p"), 1),
    "wasserstein_1d": (lambda: D.wasserstein_1d("v", _cur(), "p"), 1),
    "cvm_statistic": (lambda: D.cvm_statistic("v", _cur(), "p"), 1),
    "anderson_darling": (lambda: D.anderson_darling("v", _cur(), "p"), 1),
    "energy_distance": (lambda: D.energy_distance("v", _cur(), "p"), 1),
    # PSI contributes two leaves (its grid branch re-derives from the
    # counts subtree); the ECDF trio must share ONE, not three
    "drift_report": (
        lambda: D.drift_report("v", _cur(), 0.0, 20.0, 8, "p"), 3
    ),
    "brown_forsythe_f": (lambda: S.brown_forsythe_f("v", "g", "p"), 2),
    "compare_groups": (lambda: S.compare_groups("v", "g", "p"), 2),
    "bartlett_levene": (lambda: S.bartlett_levene("v", "g", "p"), 2),
    "durbin_watson": (lambda: S.durbin_watson("y", "x", _ORDER, "p"), 3),
    "cooks_distance": (lambda: S.cooks_distance("y", "x", "ts", "p"), 2),
    "breusch_pagan": (lambda: S.breusch_pagan("y", "x", "p"), 2),
    "mann_whitney_u": (lambda: S.mann_whitney_u("v", "g", "g0", "p"), 2),
    "kruskal_wallis_h": (lambda: S.kruskal_wallis_h("v", "g", "p"), 2),
    "dunn_posthoc": (lambda: S.dunn_posthoc("v", "g", "p"), 6),
    "cochran_q": (
        lambda: S.cochran_q("item", "trt", _cur(), _TRTS, "p"), 4
    ),
    "friedman_test": (
        lambda: S.friedman_test("item", "trt", "v", _TRTS, "p"), 5
    ),
    "trimmed_mean": (lambda: S.trimmed_mean("v", "p"), 2),
    "cohens_kappa": (lambda: S.cohens_kappa("g", "r", "p"), 3),
    "fleiss_kappa": (lambda: S.fleiss_kappa("item", "r", "p"), 2),
    "chi_square_independence": (
        lambda: S.chi_square_independence("g", "r", "p"), 3
    ),
    "krippendorff_alpha": (
        lambda: S.krippendorff_alpha("item", "r", "p"), 3
    ),
    "kendall_tau_b": (lambda: S.kendall_tau_b("g", "r", "p"), 3),
    "permutation_test_diff": (
        lambda: S.permutation_test_diff("v", "ts", _cur(), "p", 8), 4
    ),
    "mann_kendall": (lambda: S.mann_kendall("ts", "v", "p"), 3),
    "wilson_proportions": (
        lambda: S.wilson_proportions(_cur(), "g", "g0", "p"), 2
    ),
    "engle_granger": (lambda: S.engle_granger("y", "x", "ts", "p"), 2),
    "theil_sen": (lambda: W.theil_sen("v", "ts", "ts", "p"), 2),
    "ljung_box": (lambda: W.ljung_box("v", 3, "p", _ORDER), 2),
    "arch_lm": (lambda: W.arch_lm("v", "p", _ORDER), 2),
    "hurst_aggvar": (
        lambda: W.hurst_aggvar("v", (2, 4, 8), "p", _ORDER), 4
    ),
    "ngram_diversity": (lambda: T.ngram_diversity("text", "p"), 3),
    "ngram_diversity_hll": (
        lambda: T.ngram_diversity("text", "p", approximate=True), 3
    ),
    "isotonic_calibration": (
        lambda: M.isotonic_calibration("score", "cur", 0.0, 1.0, 8, "p"),
        3,
    ),
    "hll_distinct": (lambda: K.hll_distinct("item"), 2),
    "hll_distinct_by": (lambda: K.hll_distinct_by(["p"], "item"), 2),
    "hll_intersection": (
        lambda: K.hll_intersection("p", "item", "p0", "p1"), 3
    ),
    "semdedup": (
        lambda: lambda df: Sim.semdedup(_vectors(df), _centroids(df), 0.99),
        6,
    ),
    "knn_outlier_scores": (
        lambda: lambda df: Sim.knn_outlier_scores(
            _vectors(df), _centroids(df), 3
        ),
        6,
    ),
    "kaplan_meier": (
        lambda: S.kaplan_meier("ts", _cur(), "p", greenwood=True), 1
    ),
    "nelson_aalen": (lambda: S.nelson_aalen("ts", _cur(), "p"), 1),
    "log_rank_test": (
        lambda: S.log_rank_test("ts", _cur(), F.col("g") == "g0", "p"), 1
    ),
    "cuped_adjusted_diff": (
        lambda: S.cuped_adjusted_diff("y", "x", "cur", "p"), 1
    ),
    "mutual_information": (lambda: S.mutual_information("g", "r", "p"), 1),
}


@pytest.mark.parametrize("name", list(_SCAN_BOUNDS))
def test_scan_count_guard(spark, name):
    """Scan-count guard over the operators built on the shared
    statistic passes and the group-join helper: the optimized plan
    reads its input no more times (``LogicalRDD`` leaves) than it did
    when each hand-rolled pass became one helper — a refactor of the
    scaffolding must never re-plan a shared subtree twice."""
    make, bound = _SCAN_BOUNDS[name]
    out = _scan_fixture(spark).transform(make())
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") <= bound


def _ad_py(ref, cur):
    """Pettitt two-sample AD via distinct-value blocks (tie-safe)."""
    from collections import Counter

    m, n = len(ref), len(cur)
    big_n = m + n
    ca, cb = Counter(ref), Counter(cur)
    s = 0.0
    cum_m = cum_b = 0
    for v in sorted(set(ref) | set(cur)):
        l = ca[v] + cb[v]
        cum_m += ca[v]
        cum_b += l
        if cum_b < big_n:
            gap = cum_m * big_n - cum_b * m
            s += round(l * gap * gap / (cum_b * (big_n - cum_b)), 6)
    return round(s / (m * n), 6)


def test_anderson_darling_matches_python_unique(spark):
    from btc_usdt_etl_pipeline_spark.operators.drift import (
        anderson_darling,
    )

    import random

    rng = random.Random(278)
    ref = [round(rng.gauss(0, 1), 4) for _ in range(300)]
    cur = [round(rng.gauss(0.6, 1.4), 4) for _ in range(200)]
    rows = [(v, False) for v in ref] + [(v, True) for v in cur]
    df = spark.createDataFrame(rows, "v double, is_cur boolean")
    out = df.transform(
        anderson_darling("v", F.col("is_cur"))
    ).collect()[0]
    assert out["n_ref"] == 300 and out["n_cur"] == 200
    assert out["ad"] == pytest.approx(_ad_py(ref, cur), abs=2e-6)
    # a shifted sample must score clearly above an identical one
    assert out["ad"] > 1.0


def test_anderson_darling_ties_and_identical(spark):
    from btc_usdt_etl_pipeline_spark.operators.drift import (
        anderson_darling,
    )

    ref = [1.0, 1.0, 2.0, 3.0, 3.0, 4.0] * 10
    cur = [1.0, 2.0, 2.0, 3.0, 4.0, 4.0] * 10
    rows = [("s", v, False) for v in ref] + [("s", v, True) for v in cur]
    rows += [("t", float(v), False) for v in range(20)] + [
        ("t", float(v), True) for v in range(20)
    ]
    df = spark.createDataFrame(rows, "seg string, v double, is_cur boolean")
    out = {
        r["seg"]: r
        for r in df.transform(
            anderson_darling("v", F.col("is_cur"), group_by="seg")
        ).collect()
    }
    assert out["s"]["ad"] == pytest.approx(_ad_py(ref, cur), abs=2e-6)
    # identical samples: every block gap is 0 -> statistic exactly 0
    assert out["t"]["ad"] == 0.0


def test_anderson_darling_empty_side_null(spark):
    df = spark.createDataFrame(
        [(1.0, False), (2.0, False)], "v double, is_cur boolean"
    )
    for op, cols in (
        (D.anderson_darling, ["ad"]),
        (D.energy_distance, ["e2", "energy"]),
    ):
        out = df.transform(op("v", F.col("is_cur"))).collect()
        assert len(out) == 1 and out[0]["n_cur"] == 0
        assert all(out[0][c] is None for c in cols)


def test_energy_distance_matches_pairwise_python(spark):
    """The ECDF-integral form must equal the O(n^2) pairwise
    definition 2E|X-Y| - E|X-X'| - E|Y-Y'| computed directly."""
    from btc_usdt_etl_pipeline_spark.operators.drift import (
        energy_distance,
    )

    rng = random.Random(286)
    ref = [round(rng.gauss(0, 1), 3) for _ in range(120)]
    cur = [round(rng.gauss(0.8, 1.5), 3) for _ in range(90)]
    rows = [(v, False) for v in ref] + [(v, True) for v in cur]
    df = spark.createDataFrame(rows, "v double, is_cur boolean")
    out = df.transform(energy_distance("v", F.col("is_cur"))).collect()[0]
    exy = sum(abs(x - y) for x in ref for y in cur) / (
        len(ref) * len(cur)
    )
    exx = sum(abs(a - b) for a in ref for b in ref) / (len(ref) ** 2)
    eyy = sum(abs(a - b) for a in cur for b in cur) / (len(cur) ** 2)
    e2 = 2 * exy - exx - eyy
    assert out["e2"] == pytest.approx(e2, abs=1e-4)
    assert out["energy"] == pytest.approx(math.sqrt(e2), abs=1e-4)
    # identical samples -> 0
    same = [(v, False) for v in ref] + [(v, True) for v in ref]
    sdf = spark.createDataFrame(same, "v double, is_cur boolean")
    sout = sdf.transform(energy_distance("v", F.col("is_cur"))).collect()[0]
    assert sout["e2"] == pytest.approx(0.0, abs=1e-9)
    # empty side -> NULL
    edf = spark.createDataFrame(
        [(1.0, False)], "v double, is_cur boolean"
    )
    assert (
        edf.transform(energy_distance("v", F.col("is_cur"))).collect()[0][
            "energy"
        ]
        is None
    )


def test_page_hinkley_matches_python_and_alarms(spark):
    from btc_usdt_etl_pipeline_spark.operators.drift import page_hinkley

    rng = random.Random(290)
    xs = [rng.gauss(10, 0.5) for _ in range(40)] + [
        rng.gauss(14, 0.5) for _ in range(20)
    ]
    rows = [(float(i), x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "t double, v double")
    out = sorted(
        df.transform(
            page_hinkley("v", "t", delta=0.1, lam=20.0)
        ).collect(),
        key=lambda r: r["t"],
    )

    # python reference (12dp term rounding mirrors the decimal casts)
    m = 0.0
    run_min = float("inf")
    cs = 0.0
    for i, x in enumerate(xs):
        cs += round(x, 12)
        cavg = cs / (i + 1)
        m += round(x - cavg - 0.1, 12)
        run_min = min(run_min, m)
        r = out[i]
        assert r["m_t"] == pytest.approx(m, abs=1e-5)
        assert r["ph"] == pytest.approx(m - run_min, abs=1e-5)
        assert r["alarm"] == (m - run_min > 20.0)
    # no alarm before the step, alarm after
    assert not any(r["alarm"] for r in out[:40])
    assert out[-1]["alarm"]


def test_page_hinkley_tie_break_tuple(spark):
    """Duplicate timestamps: a bare time_col is per-row
    nondeterministic under ties, the (time, id) tuple pins the order
    — the result must equal the python reference replaying the same
    (t, i) order, independent of partitioning."""
    from btc_usdt_etl_pipeline_spark.operators.drift import page_hinkley

    rng = random.Random(12)
    # every timestamp appears twice -> heavy tie mass
    rows = [
        (float(i // 2), j, rng.gauss(5 + (3 if i > 50 else 0), 1.0))
        for j, i in enumerate(range(60))
    ]
    df = spark.createDataFrame(rows, "t double, i long, v double")
    out = df.repartition(8).transform(
        page_hinkley("v", ("t", "i"), delta=0.1, lam=10.0)
    ).collect()
    # rows at equal t are matched by m_t (their running sums differ by
    # O(1), far above the 1e-5 numeric tolerance), so sort-then-approx
    # avoids exact-rounding midpoint flakes
    got = sorted((r["t"], r["m_t"], r["ph"]) for r in out)
    ordered = sorted(rows, key=lambda r: (r[0], r[1]))
    want = []
    m = 0.0
    run_min = float("inf")
    cs = 0.0
    for i, (t, _, x) in enumerate(ordered):
        cs += round(x, 12)
        cavg = cs / (i + 1)
        m += round(x - cavg - 0.1, 12)
        run_min = min(run_min, m)
        want.append((t, m, m - run_min))
    want.sort()
    assert len(got) == len(want)
    for (gt, gm, gp), (wt, wm, wp) in zip(got, want):
        assert gt == wt
        assert gm == pytest.approx(wm, abs=1e-5)
        assert gp == pytest.approx(wp, abs=1e-5)

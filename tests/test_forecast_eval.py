"""Semantic tests for the forecast/serving-eval batch: Brier + Murphy
decomposition (identity BS_binned = REL − RES + UNC), split-conformal
quantile (finite-sample coverage on held-out data), and the Poisson
rate-ratio readout."""

from __future__ import annotations

import math
import random
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from tests.conftest import plan_mentions


def test_brier_matches_python_and_identity(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        brier_decomposition,
    )

    rng = random.Random(61)
    rows = []
    for _ in range(3000):
        f = rng.random()
        o = 1 if rng.random() < min(0.95, f * 0.7 + 0.1) else 0
        rows.append(("g", f, o))
    df = spark.createDataFrame(rows, "g string, f double, o int")
    r = df.transform(
        brier_decomposition("f", "o", lo=0.0, hi=1.0, n_bins=10,
                            group_by="g")
    ).collect()[0]
    # python reference
    n = len(rows)
    bins = defaultdict(lambda: [0, 0.0, 0])
    ssq = 0.0
    for _, f, o in rows:
        b = min(9, max(0, math.floor(f / 0.1)))
        bins[b][0] += 1
        bins[b][1] += f
        bins[b][2] += o
        ssq += (f - o) ** 2
    obar = sum(v[2] for v in bins.values()) / n
    rel = sum(
        nk * (sf / nk - so / nk) ** 2 for nk, sf, so in bins.values()
    ) / n
    res = sum(
        nk * (so / nk - obar) ** 2 for nk, sf, so in bins.values()
    ) / n
    unc = obar * (1 - obar)
    assert r["n"] == n
    assert r["brier"] == pytest.approx(ssq / n, abs=1e-4)
    assert r["reliability"] == pytest.approx(rel, abs=1e-4)
    assert r["resolution"] == pytest.approx(res, abs=1e-4)
    assert r["uncertainty"] == pytest.approx(unc, abs=1e-6)
    # Murphy identity holds for the binned score; raw BS differs only
    # by the (small, positive) within-bin forecast variance
    binned_bs = r["reliability"] - r["resolution"] + r["uncertainty"]
    assert r["brier"] >= binned_bs - 1e-6
    assert r["brier"] - binned_bs < 0.01  # within-bin variance of U(0,1)/10


def test_brier_perfect_forecaster(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        brier_decomposition,
    )

    rows = [("g", 1.0, 1)] * 30 + [("g", 0.0, 0)] * 70
    df = spark.createDataFrame(rows, "g string, f double, o int")
    r = df.transform(
        brier_decomposition("f", "o", lo=0.0, hi=1.0, n_bins=10,
                            group_by="g")
    ).collect()[0]
    assert r["brier"] == 0.0
    assert r["reliability"] == 0.0
    assert r["resolution"] == pytest.approx(r["uncertainty"], abs=1e-9)


@pytest.mark.parametrize("plan", ["window", "counts"])
def test_conformal_quantile_order_statistic(spark, scale_paths, plan):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        conformal_quantile,
    )

    rng = random.Random(67)
    scores = [round(rng.gauss(0, 1), 4) for _ in range(500)]
    df = spark.createDataFrame(
        [("g", s) for s in scores], "g string, s double"
    )
    with scale_paths(on=plan == "counts"):
        out = df.transform(conformal_quantile("s", alpha=0.1, group_by="g"))
    assert plan_mentions(out, "_rb") == (plan == "counts")
    r = out.collect()[0]
    k = math.ceil((500 + 1) * 0.9)
    want = sorted(scores)[k - 1]
    assert r["n"] == 500 and r["k"] == k
    assert r["q_hat"] == want


def test_conformal_coverage_guarantee(spark):
    """Intervals built from the calibration q̂ must cover ≥ 1-α of an
    exchangeable held-out sample (checked in expectation over a
    deterministic split)."""
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        conformal_quantile,
    )

    rng = random.Random(71)
    all_scores = [abs(rng.gauss(0, 1)) for _ in range(2000)]
    calib, test = all_scores[::2], all_scores[1::2]
    df = spark.createDataFrame(
        [("g", s) for s in calib], "g string, s double"
    )
    q = df.transform(
        conformal_quantile("s", alpha=0.1, group_by="g")
    ).collect()[0]["q_hat"]
    covered = sum(1 for s in test if s <= q) / len(test)
    # the guarantee is marginal over the calibration draw; this fixed
    # split lands at 0.875 — assert with ~3σ sampling slack
    assert covered >= 0.86


def test_conformal_too_few_points_null(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        conformal_quantile,
    )

    df = spark.createDataFrame(
        [("g", float(i)) for i in range(5)], "g string, s double"
    )
    r = df.transform(
        conformal_quantile("s", alpha=0.05, group_by="g")
    ).collect()[0]
    # ceil(6 * 0.95) = 6 > n = 5 → NULL
    assert r["k"] == 6 and r["q_hat"] is None


def test_poisson_rate_ratio_matches_python(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        poisson_rate_ratio,
    )

    rng = random.Random(73)
    rows = []
    for _ in range(4000):
        a = rng.random() < 0.5
        ev = rng.random() < (0.12 if a else 0.08)  # planted RR = 1.5
        rows.append(("g", a, ev))
    df = spark.createDataFrame(rows, "g string, a boolean, ev boolean")
    r = df.transform(
        poisson_rate_ratio(F.col("a"), F.col("ev"), partition_by="g")
    ).collect()[0]
    ca = sum(1 for _, a, e in rows if a and e)
    ta = sum(1 for _, a, _ in rows if a)
    cb = sum(1 for _, a, e in rows if not a and e)
    tb = sum(1 for _, a, _ in rows if not a)
    rr = (ca / ta) / (cb / tb)
    se = math.sqrt(1 / ca + 1 / cb)
    assert r["c_a"] == ca and r["t_b"] == tb
    assert r["rate_ratio"] == pytest.approx(rr, abs=1e-6)
    assert r["z"] == pytest.approx(math.log(rr) / se, abs=1e-5)
    assert r["ci_lo"] == pytest.approx(rr * math.exp(-1.96 * se), rel=1e-4)
    assert r["ci_lo"] < rr < r["ci_hi"]
    assert r["rate_ratio"] > 1.2  # planted effect visible


def test_poisson_rate_ratio_zero_events_null(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        poisson_rate_ratio,
    )

    rows = [("g", True, False)] * 10 + [("g", False, True)] * 10
    df = spark.createDataFrame(rows, "g string, a boolean, ev boolean")
    r = df.transform(
        poisson_rate_ratio(F.col("a"), F.col("ev"), partition_by="g")
    ).collect()[0]
    assert r["c_a"] == 0 and r["rate_ratio"] is None and r["z"] is None

"""Semantic tests for association rules, WOE/IV, DDSketch quantiles,
and the weighted median: hand-computed references on tiny inputs plus
the defining invariants (lift symmetry, IV ≥ 0 shape, sketch relative
error, weighted-vs-unweighted divergence)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import plain_and_scaled, plan_mentions


def test_association_rules_hand_computed(spark):
    from btc_usdt_etl_pipeline_spark.operators.rules import (
        association_rules,
    )

    # 4 baskets: {a,b} x3, {a,c} x1 → pair (a,b) n=3, (a,c) n=1.
    rows = [
        (1, "a"), (1, "b"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "b"),
        (4, "a"), (4, "c"),
    ]
    df = spark.createDataFrame(rows, "bk long, it string")
    out = association_rules(
        df, "bk", "it", min_pair_support=1, top_k=10
    ).collect()
    got = {(r["antecedent"], r["consequent"]): r for r in out}
    r = got[("b", "a")]
    assert r["n_pair"] == 3
    assert abs(r["support"] - 3 / 4) < 1e-12
    assert abs(r["confidence"] - 1.0) < 1e-12  # every b-basket has a
    assert abs(r["lift"] - 1.0 / (4 / 4)) < 1e-12
    r2 = got[("a", "b")]
    assert abs(r2["confidence"] - 3 / 4) < 1e-12
    # lift is symmetric, confidence is not.
    assert abs(r["lift"] - r2["lift"]) < 1e-12
    assert r["confidence"] != r2["confidence"]


def test_association_rules_min_support_filters(spark):
    from btc_usdt_etl_pipeline_spark.operators.rules import (
        association_rules,
    )

    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c")]
    df = spark.createDataFrame(rows, "bk long, it string")
    out = association_rules(df, "bk", "it", min_pair_support=2).collect()
    pairs = {(r["antecedent"], r["consequent"]) for r in out}
    assert pairs == {("a", "b"), ("b", "a")}


def test_association_rules_fence_denominators_consistent(spark):
    """When max_basket drops a mega-basket, the item marginals and the
    basket total must come from the SAME fenced population as the pair
    counts — otherwise confidence/lift are systematically understated
    for items that also appear in dropped baskets."""
    from btc_usdt_etl_pipeline_spark.operators.rules import (
        association_rules,
    )

    rows = [
        (1, "a"), (1, "b"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "b"), (3, "c"),  # size-3 mega-basket: dropped
    ]
    df = spark.createDataFrame(rows, "bk long, it string")
    out = association_rules(
        df, "bk", "it", min_pair_support=1, top_k=10, max_basket=2
    ).collect()
    got = {(r["antecedent"], r["consequent"]): r for r in out}
    # only the (a,b) pair survives; over the fenced universe of 2
    # baskets, n(a)=n(b)=2, n_pair=2 → confidence 1, support 1, lift 1.
    assert set(got) == {("a", "b"), ("b", "a")}
    r = got[("a", "b")]
    assert r["n_pair"] == 2
    assert abs(r["support"] - 1.0) < 1e-12
    assert abs(r["confidence"] - 1.0) < 1e-12
    assert abs(r["lift"] - 1.0) < 1e-12


def test_woe_iv_matches_python(spark):
    from btc_usdt_etl_pipeline_spark.ml.features import woe_iv

    # bin 0: 8 pos / 2 neg; bin 1: 2 pos / 8 neg.
    rows = [(i, 2.0, 1 if i < 8 else 0) for i in range(10)] + [
        (100 + i, 7.0, 1 if i < 2 else 0) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "i long, value double, y int")
    out = df.transform(
        woe_iv("value", label=F.col("y") == 1, lo=0.0, hi=10.0, n_bins=2)
    ).collect()
    got = {r["bin"]: r for r in out}
    pp0 = (8 + 0.5) / (10 + 1.0)
    pn0 = (2 + 0.5) / (10 + 1.0)
    woe0 = round(math.log(pp0 / pn0), 6)
    assert abs(got[0]["woe"] - woe0) < 1e-9
    assert got[0]["n_pos"] == 8 and got[0]["n_neg"] == 2
    # symmetric construction → woe1 = −woe0, IV > 0 and shared.
    assert abs(got[1]["woe"] + woe0) < 1e-9
    assert got[0]["iv"] == got[1]["iv"] and got[0]["iv"] > 0.5


def test_ddsketch_relative_error_guarantee(spark):
    import random

    from btc_usdt_etl_pipeline_spark.operators.sketch import dd_sketch

    rng = random.Random(19)
    vals = sorted(rng.lognormvariate(3.0, 1.0) for _ in range(4000))
    df = spark.createDataFrame(
        [(i, "g", v) for i, v in enumerate(vals)],
        "i long, k string, value double",
    )
    out = df.transform(
        dd_sketch("value", group_by="k", gamma=1.02,
                  quantiles=(0.5, 0.95, 0.99))
    ).collect()
    gamma_err = (1.02 - 1) / (1.02 + 1)
    for r in out:
        exact = vals[math.ceil(r["q"] * len(vals)) - 1]
        assert abs(r["est"] - exact) / exact <= gamma_err + 1e-6, (
            r["q"], r["est"], exact,
        )
        assert r["n"] == 4000


def test_weighted_median_differs_from_plain(spark):
    from btc_usdt_etl_pipeline_spark.operators.relational import (
        weighted_median,
    )

    # values 1..5, weight concentrated on 5: weighted median = 5,
    # plain median = 3.
    rows = [(i, "g", float(v), 1.0 if v < 5 else 100.0)
            for i, v in enumerate([1, 2, 3, 4, 5])]
    df = spark.createDataFrame(rows, "i long, k string, v double, w double")
    (r,) = df.transform(
        weighted_median("v", "w", group_by="k")
    ).collect()
    assert r["weighted_median"] == 5.0
    assert r["total_weight"] == 104.0


def test_weighted_median_half_total_boundary(spark):
    from btc_usdt_etl_pipeline_spark.operators.relational import (
        weighted_median,
    )

    # cum weights 2, 4 of total 4: first value reaching cum*2 >= 4
    # is v=1 (2*2 >= 4) — the lower weighted median contract.
    rows = [(1, 1.0, 2.0), (2, 2.0, 2.0)]
    df = spark.createDataFrame(rows, "i long, v double, w double")
    (r,) = df.transform(weighted_median("v", "w")).collect()
    assert r["weighted_median"] == 1.0


def test_weighted_quantile_reference_and_paths(spark, scale_paths):
    """weighted_quantile against a Python reference (smallest v with
    cum weight >= q*total) across several rationals, plus q=1 → max,
    and bucketed == walk at q=9/10."""
    import random

    from btc_usdt_etl_pipeline_spark.operators.relational import (
        weighted_quantile,
    )

    rng = random.Random(41)
    rows = [
        (i, "g", float(rng.randint(-50, 50)), float(rng.randint(1, 9)))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "i long, k string, v double, w double")

    def ref(q_num, q_den):
        per_v = {}
        for _, _, v, w in rows:
            per_v[v] = per_v.get(v, 0.0) + w
        tot = sum(per_v.values())
        cum = 0.0
        for v in sorted(per_v):
            cum += per_v[v]
            if cum * q_den >= tot * q_num:
                return v
        return None

    for q_num, q_den in ((1, 4), (1, 2), (9, 10), (1, 1)):
        (r,) = df.transform(
            weighted_quantile("v", "w", q_num, q_den, group_by="k",
                              out="wq")
        ).collect()
        assert r["wq"] == ref(q_num, q_den), (q_num, q_den)
    assert ref(1, 1) == max(v for _, _, v, _ in rows)  # q=1 is the max

    walk, bucketed = plain_and_scaled(
        scale_paths,
        lambda: df.transform(
            weighted_quantile("v", "w", 9, 10, group_by="k",
                              num_buckets=16, out="wq")
        ),
        "_bcw",
    )
    assert sorted(map(tuple, walk.collect())) == sorted(
        map(tuple, bucketed.collect())
    )

    import pytest as _pytest

    with _pytest.raises(ValueError, match="q_num"):
        weighted_quantile("v", "w", 0, 2)
    with _pytest.raises(ValueError, match="q_num"):
        weighted_quantile("v", "w", 3, 2)
    with _pytest.raises(TypeError, match="exact rational"):
        weighted_quantile("v", "w", 0.9, 1)


def test_spearman_reference_and_edges(spark):
    import random

    import numpy as np
    import pytest

    from btc_usdt_etl_pipeline_spark.operators.windows import spearman_corr

    rng = random.Random(3)
    # ties included (integer values), two groups
    rows = [
        ("a", float(rng.randint(0, 20)), float(rng.randint(0, 20)))
        for _ in range(150)
    ] + [("mono", float(i), float(2 * i + 1)) for i in range(30)] + [
        ("anti", float(i), float(-i)) for i in range(30)
    ] + [("flat", 5.0, float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "k string, x double, y double")
    got = {
        r["k"]: (r["n"], r["spearman"])
        for r in df.transform(
            spearman_corr("x", "y", group_by="k")
        ).collect()
    }
    assert got["mono"] == (30, 1.0)
    assert got["anti"] == (30, -1.0)
    assert got["flat"][1] is None  # zero rank variance -> NULL

    def avg_ranks(vals):
        order = np.argsort(np.array(vals), kind="stable")
        ranks = np.empty(len(vals))
        sorted_vals = np.array(vals)[order]
        i = 0
        while i < len(vals):
            j = i
            while j + 1 < len(vals) and sorted_vals[j + 1] == sorted_vals[i]:
                j += 1
            ranks[order[i : j + 1]] = (i + j) / 2 + 1
            i = j + 1
        return ranks

    xs = [x for k, x, _ in rows if k == "a"]
    ys = [y for k, _, y in rows if k == "a"]
    rx, ry = avg_ranks(xs), avg_ranks(ys)
    want = float(np.corrcoef(rx, ry)[0, 1])
    assert got["a"][1] == pytest.approx(want, abs=1e-5)


def test_weighted_median_bucketed_equals_walk(spark, scale_paths):
    """The zone-map bucketed scale path must equal the plain ordered
    walk EXACTLY (the bucket partition of the cumulative walk is exact
    decimal arithmetic) — on grouped and global shapes, with ties,
    negative values, skewed weights, a constant-value group (span 0),
    and a half-total boundary landing exactly on a bucket edge."""
    import random

    from btc_usdt_etl_pipeline_spark.operators.relational import (
        weighted_median,
    )

    rng = random.Random(13)
    rows = []
    for i in range(3000):
        k = ("a", "b", "c")[i % 3]
        v = float(rng.randint(-500, 500)) / 7.0  # ties + negatives
        w = float(rng.randint(1, 9)) * (100.0 if i % 97 == 0 else 1.0)
        rows.append((i, k, v, w))
    rows += [(9000 + j, "flat", 42.0, 1.0) for j in range(5)]
    df = spark.createDataFrame(rows, "i long, k string, v double, w double")

    def walk_and_bucketed(frame, gb=None):
        plans = plain_and_scaled(
            scale_paths,
            lambda: frame.transform(
                weighted_median("v", "w", group_by=gb, num_buckets=16)
            ),
            "_bcw",
        )
        return [sorted(map(tuple, p.collect())) for p in plans]

    for gb in ("k", None):
        a, b = walk_and_bucketed(df, gb)
        assert a == b

    # exact bucket-edge boundary: values 0..15 with num_buckets=16 put
    # each value in its own bucket; equal weights make the half-total
    # hit the 8th value's bucket edge exactly.
    edge = spark.createDataFrame(
        [(i, float(i), 1.0) for i in range(16)], "i long, v double, w double"
    )
    (r1,), (r2,) = walk_and_bucketed(edge)
    assert r1 == r2

    # non-numeric values have no ordered bucket function: they walk
    # even with every gate forced open
    s = spark.createDataFrame([(1, "x", 1.0)], "i long, v string, w double")
    with scale_paths():
        out = s.transform(weighted_median("v", "w"))
    assert not plan_mentions(out, "_bcw")
    assert out.collect()[0]["weighted_median"] == "x"

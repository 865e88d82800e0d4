"""Semantic tests for the evaluation-metrics family added in round 10:
retrieval metrics (NDCG@k / RR / AP), ROC AUC, Jensen–Shannon
divergence, χ² independence, and Krippendorff's α — Python reference
implementations on small data plus the degenerate-partition contracts
(no relevant docs, single-class labels, dof = 0, unpairable items)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from tests.conftest import plan_mentions


# ---------------------------------------------------------------- retrieval
def _ranked_fixture(spark, seed=11, n_q=6, n_docs=25):
    rng = random.Random(seed)
    rows = []
    for q in range(n_q):
        for d in range(n_docs):
            score = round(rng.uniform(0, 10), 3)
            rel = rng.choice([0, 0, 0, 1, 1, 2, 3])
            if q == n_q - 1:
                rel = 0  # degenerate query: nothing relevant
            rows.append((q, q * 1000 + d, score, rel))
    df = spark.createDataFrame(
        rows, "qid int, doc_id long, score double, rel int"
    )
    return rows, df


def _py_retrieval(rows, q, k=10):
    docs = sorted(
        [r for r in rows if r[0] == q],
        key=lambda r: (-r[2], r[1]),
    )
    rels = [r[3] for r in docs]
    dcg = sum(
        (2.0 ** rel - 1.0) / math.log2(i + 2.0)
        for i, rel in enumerate(rels[:k])
    )
    ideal = sorted(rels, reverse=True)
    idcg = sum(
        (2.0 ** rel - 1.0) / math.log2(i + 2.0)
        for i, rel in enumerate(ideal[:k])
    )
    hits = [i + 1 for i, rel in enumerate(rels) if rel > 0]
    rr = 1.0 / hits[0] if hits else None
    ap = (
        sum((j + 1) / pos for j, pos in enumerate(hits)) / len(hits)
        if hits
        else None
    )
    ndcg = dcg / idcg if idcg > 0 else None
    return ndcg, rr, ap, len(hits)


def test_retrieval_metrics_matches_python_reference(spark):
    from btc_usdt_etl_pipeline_spark.operators.ranking import (
        retrieval_metrics,
    )

    rows, df = _ranked_fixture(spark)
    got = {
        r["qid"]: r
        for r in df.transform(
            retrieval_metrics(
                "qid",
                [F.col("score").desc(), F.col("doc_id")],
                "rel",
                k=10,
            )
        ).collect()
    }
    assert len(got) == 6
    for q in range(6):
        ndcg, rr, ap, n_rel = _py_retrieval(rows, q)
        r = got[q]
        assert r["n_docs"] == 25
        assert r["n_rel"] == n_rel
        if ndcg is None:
            assert r["ndcg_10"] is None
            assert r["rr"] is None
            assert r["ap"] is None
        else:
            assert abs(r["ndcg_10"] - ndcg) < 1e-4
            assert abs(r["rr"] - rr) < 1e-12
            assert abs(r["ap"] - ap) < 1e-4


def test_retrieval_metrics_perfect_ranking_is_one(spark):
    from btc_usdt_etl_pipeline_spark.operators.ranking import (
        retrieval_metrics,
    )

    # relevance strictly decreasing with the ranking order → ideal
    rows = [(0, i, 100.0 - i, max(0, 5 - i)) for i in range(10)]
    df = spark.createDataFrame(
        rows, "qid int, doc_id long, score double, rel int"
    )
    r = df.transform(
        retrieval_metrics(
            "qid", [F.col("score").desc(), F.col("doc_id")], "rel", k=10
        )
    ).collect()[0]
    assert r["ndcg_10"] == pytest.approx(1.0, abs=1e-6)
    assert r["rr"] == 1.0
    assert r["ap"] == pytest.approx(1.0, abs=1e-6)


# ------------------------------------------------------------------ ROC AUC
def _auc_py(pairs):
    pos = [s for s, y in pairs if y]
    neg = [s for s, y in pairs if not y]
    if not pos or not neg:
        return None
    num = 0.0
    for p in pos:
        for n in neg:
            num += 1.0 if p > n else (0.5 if p == n else 0.0)
    return num / (len(pos) * len(neg))


@pytest.mark.parametrize("plan", ["window", "counts"])
def test_roc_auc_matches_pairwise_reference(spark, scale_paths, plan):
    from btc_usdt_etl_pipeline_spark.operators.stats import roc_auc

    rng = random.Random(3)
    rows = []
    for g in ["a", "b"]:
        for i in range(200):
            y = rng.random() < 0.3
            s = float(rng.randint(0, 20) + (6 if y else 0))
            rows.append((g, s, y))
    df = spark.createDataFrame(rows, "seg string, score double, pos boolean")
    with scale_paths(on=plan == "counts"):
        out = df.transform(roc_auc("score", "pos", partition_by="seg"))
    assert plan_mentions(out, "_rb") == (plan == "counts")
    got = {r["seg"]: r for r in out.collect()}
    for g in ["a", "b"]:
        want = _auc_py([(s, y) for gg, s, y in rows if gg == g])
        assert got[g]["auc"] == pytest.approx(want, abs=1e-6)
        assert got[g]["gini"] == pytest.approx(2 * want - 1, abs=1e-5)
        assert got[g]["n_pos"] + got[g]["n_neg"] == 200


def test_roc_auc_single_class_is_null(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import roc_auc

    df = spark.createDataFrame(
        [("a", 1.0, True), ("a", 2.0, True)],
        "seg string, score double, pos boolean",
    )
    r = df.transform(roc_auc("score", "pos", partition_by="seg")).collect()
    assert r[0]["auc"] is None and r[0]["gini"] is None


# ------------------------------------------------------------ JS divergence
def _jsd_py(ref, cur):
    cats = set(ref) | set(cur)
    tr, tc = sum(ref.values()), sum(cur.values())
    out = 0.0
    for c in cats:
        p = ref.get(c, 0) / tr
        q = cur.get(c, 0) / tc
        m = (p + q) / 2
        if p > 0:
            out += 0.5 * p * math.log(p / m)
        if q > 0:
            out += 0.5 * q * math.log(q / m)
    return out


def test_js_divergence_matches_python_reference(spark):
    from btc_usdt_etl_pipeline_spark.operators.drift import js_divergence

    rng = random.Random(5)
    rows = [
        ("g", rng.choice("abcde" if i % 2 else "abc"), i % 2 == 0)
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "g string, cat string, cur boolean")
    r = df.transform(
        js_divergence("cat", F.col("cur"), group_by="g")
    ).collect()[0]
    ref, cur = {}, {}
    for _, c, is_cur in rows:
        (cur if is_cur else ref)[c] = (cur if is_cur else ref).get(c, 0) + 1
    want = _jsd_py(ref, cur)
    assert r["jsd"] == pytest.approx(want, abs=1e-4)
    assert 0.0 <= r["jsd"] <= math.log(2.0) + 1e-9


def test_js_divergence_identical_sides_is_zero_and_disjoint_is_ln2(spark):
    from btc_usdt_etl_pipeline_spark.operators.drift import js_divergence

    same = [("g", c, b) for c in "aabbc" for b in (True, False)]
    df = spark.createDataFrame(same, "g string, cat string, cur boolean")
    r = df.transform(
        js_divergence("cat", F.col("cur"), group_by="g")
    ).collect()[0]
    assert r["jsd"] == pytest.approx(0.0, abs=1e-9)

    disj = [("g", "x", False)] * 5 + [("g", "y", True)] * 7
    df2 = spark.createDataFrame(disj, "g string, cat string, cur boolean")
    r2 = df2.transform(
        js_divergence("cat", F.col("cur"), group_by="g")
    ).collect()[0]
    assert r2["jsd"] == pytest.approx(math.log(2.0), abs=1e-5)


def test_js_divergence_one_empty_side_is_null(spark):
    from btc_usdt_etl_pipeline_spark.operators.drift import js_divergence

    df = spark.createDataFrame(
        [("g", "a", False), ("g", "b", False)],
        "g string, cat string, cur boolean",
    )
    r = df.transform(
        js_divergence("cat", F.col("cur"), group_by="g")
    ).collect()[0]
    assert r["jsd"] is None and r["n_cur"] == 0


# -------------------------------------------------------------- chi-square
def _chi2_py(pairs):
    from collections import Counter

    o = Counter(pairs)
    avals = sorted({a for a, _ in pairs})
    bvals = sorted({b for _, b in pairs})
    n = len(pairs)
    chi2 = 0.0
    for a in avals:
        ra = sum(o[(a, b)] for b in bvals)
        for b in bvals:
            cb = sum(o[(x, b)] for x in avals)
            e = ra * cb / n
            chi2 += (o[(a, b)] - e) ** 2 / e
    dof = (len(avals) - 1) * (len(bvals) - 1)
    v = math.sqrt(chi2 / (n * min(len(avals) - 1, len(bvals) - 1)))
    return chi2, dof, v


def test_chi_square_matches_python_reference(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        chi_square_independence,
    )

    rng = random.Random(9)
    pairs = []
    for _ in range(300):
        a = rng.choice("xyz")
        b = rng.choice("pq") if a == "x" else rng.choice("pqr")
        pairs.append((a, b))
    df = spark.createDataFrame(
        [("g", a, b) for a, b in pairs], "g string, a string, b string"
    )
    r = df.transform(
        chi_square_independence("a", "b", partition_by="g")
    ).collect()[0]
    chi2, dof, v = _chi2_py(pairs)
    assert r["n"] == 300 and r["dof"] == dof
    assert r["chi2"] == pytest.approx(chi2, abs=1e-4)
    assert r["cramers_v"] == pytest.approx(v, abs=1e-5)


def test_chi_square_zero_dof_is_null(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        chi_square_independence,
    )

    df = spark.createDataFrame(
        [("g", "only", "p"), ("g", "only", "q")],
        "g string, a string, b string",
    )
    r = df.transform(
        chi_square_independence("a", "b", partition_by="g")
    ).collect()[0]
    assert r["dof"] == 0 and r["chi2"] is None and r["cramers_v"] is None


# ------------------------------------------------------------- krippendorff
def _alpha_py(ratings):
    """ratings: list of (item, label); nominal Krippendorff alpha."""
    from collections import Counter, defaultdict

    by_item = defaultdict(list)
    for it, lb in ratings:
        by_item[it].append(lb)
    pairable = {it: ls for it, ls in by_item.items() if len(ls) >= 2}
    if not pairable:
        return None
    n = sum(len(ls) for ls in pairable.values())
    do = 0.0
    for ls in pairable.values():
        ni = len(ls)
        cnt = Counter(ls)
        do += sum(c * (ni - c) / (ni - 1) for c in cnt.values())
    totals = Counter(lb for ls in pairable.values() for lb in ls)
    de = sum(c * (n - c) for c in totals.values())
    if de == 0:
        return None
    return 1.0 - (do / n) / (de / (n * (n - 1.0)))


def test_krippendorff_matches_python_reference(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        krippendorff_alpha,
    )

    rng = random.Random(21)
    ratings = []
    for it in range(60):
        n_r = rng.choice([2, 2, 3, 4])
        true = rng.choice("abc")
        for _ in range(n_r):
            lb = true if rng.random() < 0.8 else rng.choice("abc")
            ratings.append((it, lb))
    # plus unpairable single-rating items, which must be excluded
    ratings += [(1000 + i, "a") for i in range(5)]
    df = spark.createDataFrame(
        [("g", it, lb) for it, lb in ratings],
        "g string, item long, label string",
    )
    r = df.transform(
        krippendorff_alpha("item", "label", partition_by="g")
    ).collect()[0]
    want = _alpha_py(ratings)
    assert r["n_items"] == 65 and r["n_pairable"] == 60
    assert r["alpha"] == pytest.approx(want, abs=1e-5)


def test_krippendorff_perfect_and_degenerate(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        krippendorff_alpha,
    )

    # perfect agreement over >1 label → alpha = 1
    perfect = [("g", it, lb) for it, lb in
               [(1, "a"), (1, "a"), (2, "b"), (2, "b")]]
    df = spark.createDataFrame(perfect, "g string, item long, label string")
    r = df.transform(
        krippendorff_alpha("item", "label", partition_by="g")
    ).collect()[0]
    assert r["alpha"] == pytest.approx(1.0, abs=1e-9)

    # single shared label → D_e = 0 → NULL
    one = [("g", 1, "a"), ("g", 1, "a"), ("g", 2, "a"), ("g", 2, "a")]
    df2 = spark.createDataFrame(one, "g string, item long, label string")
    r2 = df2.transform(
        krippendorff_alpha("item", "label", partition_by="g")
    ).collect()[0]
    assert r2["alpha"] is None

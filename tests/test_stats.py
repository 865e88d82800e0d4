"""Semantic tests for the statistics pack: bootstrap CI coverage
behavior, trimmed-mean robustness, Benford screens, assortativity on
graphs with known mixing."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from tests.conftest import plain_and_scaled


def test_bootstrap_ci_brackets_true_mean(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        bootstrap_ci_mean,
    )

    rng = random.Random(31)
    rows = [(i, "g", rng.gauss(50.0, 5.0)) for i in range(2000)]
    df = spark.createDataFrame(rows, "i long, k string, value double")
    (r,) = df.transform(
        bootstrap_ci_mean("value", id_col="i", group_by="k",
                          replicates=40)
    ).collect()
    sample_mean = sum(v for _, _, v in rows) / len(rows)
    assert r["ci_lo"] < sample_mean < r["ci_hi"]
    # CI width ≈ 2·1.96·σ/√n ≈ 0.44 — sanity band, not exactness.
    assert 0.1 < r["ci_hi"] - r["ci_lo"] < 1.5
    assert r["n_replicates"] == 40
    assert abs(r["mean"] - sample_mean) < 0.5


def test_bootstrap_is_deterministic(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        bootstrap_ci_mean,
    )

    rows = [(i, float(i % 17)) for i in range(300)]
    df = spark.createDataFrame(rows, "i long, value double")
    t = bootstrap_ci_mean("value", id_col="i", replicates=20)
    a = df.transform(t).collect()[0]
    b = df.repartition(7).transform(t).collect()[0]
    assert (a["ci_lo"], a["ci_hi"], a["mean"]) == (
        b["ci_lo"], b["ci_hi"], b["mean"],
    )


def test_bootstrap_portable_vs_xxhash_legs(spark):
    """The two hash legs draw DIFFERENT (equally valid) bootstrap
    weight streams — the CIs must disagree somewhere (proving the flag
    switches the hash) while both bracket the sample mean with sane
    width, and each leg stays partitioning-deterministic."""
    import random

    from btc_usdt_etl_pipeline_spark.operators.stats import (
        bootstrap_ci_mean,
    )

    rng = random.Random(7)
    rows = [(i, "g", rng.gauss(20.0, 4.0)) for i in range(1500)]
    df = spark.createDataFrame(rows, "i long, k string, value double")
    sample_mean = sum(v for _, _, v in rows) / len(rows)
    out = {}
    for portable in (False, True):
        t = bootstrap_ci_mean(
            "value", id_col="i", group_by="k", replicates=40,
            portable=portable,
        )
        (r,) = df.transform(t).collect()
        (r2,) = df.repartition(11).transform(t).collect()
        assert (r["ci_lo"], r["ci_hi"]) == (r2["ci_lo"], r2["ci_hi"])
        assert r["ci_lo"] < sample_mean < r["ci_hi"]
        assert 0.05 < r["ci_hi"] - r["ci_lo"] < 1.5
        out[portable] = (r["ci_lo"], r["ci_hi"])
    assert out[False] != out[True]


def test_trimmed_mean_robust_to_outliers(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import trimmed_mean

    vals = [float(v) for v in range(100)] + [1e9, -1e9]
    df = spark.createDataFrame(
        [(i, "g", v) for i, v in enumerate(vals)],
        "i long, k string, value double",
    )
    (r,) = df.transform(
        trimmed_mean("value", group_by="k", lo_q=0.05, hi_q=0.95)
    ).collect()
    assert abs(r["trimmed_mean"] - 49.5) < 3.0  # raw mean would be ~1e7
    assert r["n_kept"] < 102


def test_benford_chi2_ordering(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import (
        benford_deviation,
    )

    rng = random.Random(41)
    # Benford-ish: exp(uniform) spans decades → first digits follow
    # Benford closely; uniform ints 100-999 do not.
    benford_vals = [
        (i, math.exp(rng.uniform(0, 12))) for i in range(4000)
    ]
    uniform_vals = [
        (i, float(rng.randint(100, 999))) for i in range(4000)
    ]
    for rows, expect_low in ((benford_vals, True), (uniform_vals, False)):
        df = spark.createDataFrame(rows, "i long, x double")
        out = df.transform(
            benford_deviation(F.round(F.col("x") * 100, 0))
        ).collect()
        chi2 = out[0]["chi2"]
        if expect_low:
            low_chi2 = chi2
        else:
            assert chi2 > 10 * low_chi2
    assert {r["digit"] for r in out} <= set(range(1, 10))


def test_assortativity_star_is_negative(spark):
    from btc_usdt_etl_pipeline_spark.operators.graph import (
        degree_assortativity,
    )

    # Star graph: hub 0 ↔ leaves 1..20 — maximally disassortative.
    e = [(0, i) for i in range(1, 21)]
    sym = e + [(b, a) for a, b in e]
    df = spark.createDataFrame(sym, "src long, dst long")
    (r,) = degree_assortativity(df).collect()
    assert r["assortativity"] == -1.0
    assert r["n_edges"] == 40


def test_kaplan_meier_matches_hand_computation(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import kaplan_meier

    # Classic textbook fixture: durations with censoring.
    #   t=1: d=1 of n=6 → S = 5/6
    #   t=2: censored (leaves risk set, no step)
    #   t=3: d=2 of n=4 → S = 5/6 · 2/4
    #   t=4: censored
    #   t=5: d=1 of n=1 → S = 0
    rows = [
        (1, 1, 1), (2, 2, 0), (3, 3, 1), (4, 3, 1), (5, 4, 0), (6, 5, 1),
    ]
    df = spark.createDataFrame(rows, "i long, dur long, ev int")
    out = {
        r["t"]: r
        for r in df.transform(
            kaplan_meier("dur", event_col=F.col("ev") == 1)
        ).collect()
    }
    assert set(out) == {1, 3, 5}
    assert (out[1]["n_risk"], out[1]["n_events"]) == (6, 1)
    assert abs(out[1]["survival"] - 5 / 6) < 1e-6
    assert (out[3]["n_risk"], out[3]["n_events"]) == (4, 2)
    assert abs(out[3]["survival"] - (5 / 6) * (2 / 4)) < 1e-6
    assert out[5]["survival"] == 0.0  # whole risk set dies → flag, not ln(0)


def test_kaplan_meier_censoring_changes_curve(spark):
    from btc_usdt_etl_pipeline_spark.operators.stats import kaplan_meier

    # Same timeline; flipping the t=7 exits from deaths to censoring
    # must RAISE the downstream curve (they stop counting as deaths):
    #   deaths: S(10) = (1-10/40)(1-10/30)(1-10/20) = 0.25
    #   censor: S(10) = (1-10/40)(1-10/20)          = 0.375
    def s_at_10(mid_ev):
        rows = (
            [(i, 5, 1) for i in range(10)]
            + [(100 + i, 7, mid_ev) for i in range(10)]
            + [(200 + i, 10, 1) for i in range(10)]
            + [(300 + i, 12, 0) for i in range(10)]
        )
        df = spark.createDataFrame(rows, "i long, dur long, ev int")
        out = {
            r["t"]: r["survival"]
            for r in df.transform(
                kaplan_meier("dur", event_col=F.col("ev") == 1)
            ).collect()
        }
        return out[10]

    assert abs(s_at_10(1) - 0.25) < 1e-6
    assert abs(s_at_10(0) - 0.375) < 1e-6


def test_abc_classification_invariants(spark):
    from pyspark.sql import Window

    # Use the registered query logic indirectly: build revenue table
    # and class it the same way — invariants: shares monotone, classes
    # ordered A then B then C along descending revenue, all classes
    # partition the items.
    import __spark_entry__ as E

    out = E.queries()["q208_abc_analysis"](
        spark, "/root/testdata/sf0.001"
    ).orderBy(F.col("cum_share")).collect()
    shares = [r["cum_share"] for r in out]
    assert shares == sorted(shares) and shares[-1] == 1.0
    classes = "".join(r["abc_class"] for r in out)
    assert classes == "A" * classes.count("A") + "B" * classes.count(
        "B"
    ) + "C" * classes.count("C")
    assert set(classes) == {"A", "B", "C"}


def test_diff_in_diff_recovers_planted_effect(spark):
    from btc_usdt_etl_pipeline_spark.functions import exact_avg  # noqa: F401

    # Construct a panel with a known +5 treatment effect on top of a
    # +2 common time trend; DiD must isolate the 5.
    rows = []
    for u in range(40):
        treated = u < 20
        for t in (0, 1):
            base = 10.0 + 2.0 * t + (5.0 if treated and t == 1 else 0.0)
            rows.append((u, t, base, 1 if treated else 0))
    df = spark.createDataFrame(rows, "user_id long, post int, value double, grp int")
    m = df.groupBy("grp", "post").agg(F.avg("value").alias("m"))
    got = {(r["grp"], r["post"]): r["m"] for r in m.collect()}
    did = (got[(1, 1)] - got[(1, 0)]) - (got[(0, 1)] - got[(0, 0)])
    assert abs(did - 5.0) < 1e-9


def test_readability_orders_simple_vs_complex(spark):
    import __spark_entry__ as E  # noqa: F401 — idiom reuse

    from pyspark.sql import functions as FF

    df = spark.createDataFrame(
        [
            (1, "The cat sat. The dog ran. It was fun."),
            (2, "Extraordinarily sophisticated methodological "
                "considerations necessitate comprehensive "
                "interdisciplinary collaboration."),
        ],
        "doc_id long, text string",
    )
    from btc_usdt_etl_pipeline_spark.operators.dedup import tokens

    toks = tokens("text")
    syl = FF.aggregate(
        toks, FF.lit(0),
        lambda acc, w: acc + FF.greatest(
            FF.lit(1),
            FF.size(FF.filter(FF.split(w, "[^aeiouy]+"),
                              lambda x: x != "")),
        ),
    )
    sents = FF.greatest(
        FF.lit(1),
        FF.size(FF.filter(FF.split(FF.col("text"), "[.!?]+"),
                          lambda x: FF.trim(x) != "")),
    )
    out = df.select(
        "doc_id",
        (FF.lit(206.835)
         - FF.lit(1.015) * (FF.size(toks) / sents)
         - FF.lit(84.6) * (syl / FF.size(toks))).alias("flesch"),
    ).collect()
    scores = {r["doc_id"]: r["flesch"] for r in out}
    assert scores[1] > 80  # short words, short sentences
    assert scores[2] < 0   # polysyllabic monster sentence


def test_mase_prefers_true_seasonal_series(spark):
    import __spark_entry__ as E  # noqa: F401

    # Planted period-24 series: seasonal-naive error ~0, naive-1 error
    # large → MASE ≪ 1. A pure random walk gives MASE near/above 1.
    import math as _m

    rows = [
        (1, i, i, 10.0 + 5.0 * _m.sin(2 * _m.pi * (i % 24) / 24))
        for i in range(240)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts long, value double"
    )
    from pyspark.sql import Window

    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    staged = df.select(
        "user_id", "value",
        F.lag("value", 24).over(wo).alias("fc"),
        F.lag("value", 1).over(wo).alias("nv"),
    ).where(F.col("fc").isNotNull())
    m = staged.agg(
        (F.avg(F.abs(F.col("value") - F.col("fc")))
         / F.avg(F.abs(F.col("value") - F.col("nv")))).alias("mase")
    ).collect()[0]["mase"]
    assert m < 0.05


def test_negative_sampling_labels_and_determinism(spark):
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    out = E.queries()["q211_negative_sampling"](spark, sf)
    rows = out.collect()
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    for r in rows:
        assert labels[r["neg_id"]] != labels[r["vec_id"]]
        assert r["neg_id"] != r["vec_id"]
        assert 1 <= r["neg_rank"] <= 4
    # deterministic across re-execution
    again = {(r["vec_id"], r["neg_rank"]): r["neg_id"] for r in out.collect()}
    assert all(again[(r["vec_id"], r["neg_rank"])] == r["neg_id"] for r in rows)


def test_kanon_no_small_published_cells(spark):
    import __spark_entry__ as E

    out = E.queries()["q212_kanon_rollup"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    for r in out:
        if r["priority"] != "other" or r["status"] != "other":
            assert r["n"] >= 10, r


def test_calibration_perfectly_calibrated_score_has_zero_ece(spark):
    import random

    # Score IS the true probability: per-bin rate converges to the
    # bin's mean score → ECE near 0.  Deterministic outcome via a
    # hash-free threshold construction: y = 1 for the first
    # round(score·k) of each score's k copies.
    rows = []
    i = 0
    for s10 in range(1, 10):
        score = s10 / 10.0
        k = 200
        for j in range(k):
            rows.append((i, score, 1 if j < round(score * k) else 0))
            i += 1
    df = spark.createDataFrame(rows, "i long, score double, y int")
    from pyspark.sql import Window, functions as FF

    b = df.groupBy(
        FF.least(FF.lit(9), FF.floor(FF.col("score") * 10).cast("int")).alias("bin")
    ).agg(
        FF.count(FF.lit(1)).alias("n"),
        FF.avg("score").alias("ms"),
        FF.avg("y").alias("rate"),
    )
    wg = Window.partitionBy()
    ece = (
        b.withColumn("_nn", FF.sum("n").over(wg))
        .select(
            FF.sum(
                (FF.col("n") / FF.col("_nn"))
                * FF.abs(FF.col("rate") - FF.col("ms"))
            ).alias("ece")
        )
        .collect()[0]["ece"]
    )
    assert ece < 1e-9


def test_quantile_normalize_aligns_shifted_groups(spark):
    import random

    from btc_usdt_etl_pipeline_spark.ml.features import quantile_normalize

    rng = random.Random(47)
    # Group B is group A shifted by +100: after normalization both
    # must land on the same pooled scale with matching quantiles.
    a = [(i, "A", rng.uniform(0, 50)) for i in range(500)]
    b = [(1000 + i, "B", v + 100.0) for i, (_, _, v) in enumerate(a)]
    df = spark.createDataFrame(a + b, "i long, g string, value double")
    out = df.transform(quantile_normalize("value", group_by="g"))
    import statistics

    med = {
        r["g"]: r["m"]
        for r in out.groupBy("g")
        .agg(F.expr("percentile(qnorm, 0.5)").alias("m"))
        .collect()
    }
    # Same in-group ranks → same normalized medians.
    assert abs(med["A"] - med["B"]) < 1e-9
    # Normalized values live inside the pooled range.
    mn, mx = out.agg(F.min("qnorm"), F.max("qnorm")).collect()[0]
    vals = [v for _, _, v in a] + [v for _, _, v in b]
    assert min(vals) - 1e-6 <= mn and mx <= max(vals) + 1e-6


def test_mann_whitney_u_matches_reference(spark, scale_paths):
    """mann_whitney_u vs a pure-Python tie-corrected reference
    (textbook formulas), plus window-vs-counts bit-identity, degenerate
    fences (one-sided partition, all-tied values -> NULL z)."""
    import random as _r

    from pyspark.sql import functions as F

    from btc_usdt_etl_pipeline_spark.operators.stats import (
        mann_whitney_u,
    )

    rng = _r.Random(57)
    rows = []
    for p in ("x", "y"):
        shift = 3 if p == "y" else 0
        for i in range(240):
            grp = "A" if i % 3 == 0 else "B"
            v = float(rng.randint(0, 30) + (shift if grp == "A" else 0))
            rows.append((p, grp, v))
    rows += [("onlyA", "A", 1.0), ("onlyA", "A", 2.0)]
    rows += [("tied", "A", 5.0), ("tied", "B", 5.0), ("tied", "B", 5.0)]
    df = spark.createDataFrame(rows, "p string, g string, v double")

    def ref(part):
        sub = [(g, v) for (pp, g, v) in rows if pp == part]
        vals = sorted(v for _, v in sub)
        n = len(vals)
        # tie-averaged rank per value
        import collections
        cnt = collections.Counter(vals)
        min_rank, acc = {}, 0
        for v in sorted(cnt):
            min_rank[v] = acc + 1
            acc += cnt[v]
        avg = {v: min_rank[v] + (cnt[v] - 1) / 2.0 for v in cnt}
        na = sum(1 for g, _ in sub if g == "A")
        nb = n - na
        ra = sum(avg[v] for g, v in sub if g == "A")
        ua = ra - na * (na + 1) / 2.0
        ties = sum(t ** 3 - t for t in cnt.values())
        if na == 0 or nb == 0:
            return na, nb, ua, None
        var = na * nb / 12.0 * ((n + 1) - ties / (n * (n - 1)))
        if var <= 0:
            return na, nb, ua, None
        z = round((ua - na * nb / 2.0) / var ** 0.5, 6)
        return na, nb, ua, z

    got = {
        r["p"]: r
        for r in df.transform(
            mann_whitney_u("v", "g", "A", partition_by="p")
        ).collect()
    }
    assert set(got) == {"x", "y", "onlyA", "tied"}
    for part in ("x", "y", "onlyA", "tied"):
        na, nb, ua, z = ref(part)
        g = got[part]
        assert (g["n_a"], g["n_b"]) == (na, nb), part
        assert abs(g["u_a"] - ua) < 1e-9, part
        assert abs(g["u_b"] - (na * nb - ua)) < 1e-9, part
        if z is None:
            assert g["z"] is None, part
        else:
            assert g["z"] == pytest.approx(z, abs=2e-6), part
    # the shifted partition must show a significant positive z
    assert got["y"]["z"] > 3.0 and abs(got["x"]["z"]) < 3.0

    # the window / counts plan swap is bit-identical
    a, b = plain_and_scaled(
        scale_paths,
        lambda: df.transform(
            mann_whitney_u("v", "g", "A", partition_by="p")
        ),
        "_rb",
    )
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, b.collect())
    )


def test_kruskal_wallis_matches_reference(spark, scale_paths):
    """kruskal_wallis_h vs a pure-Python tie-corrected reference; a
    planted location shift must light up, a null world must not;
    single-group and all-tied partitions fence to NULL h; window /
    counts plan swap bit-identical."""
    import collections
    import random as _r

    from btc_usdt_etl_pipeline_spark.operators.stats import (
        kruskal_wallis_h,
    )

    rng = _r.Random(71)
    rows = []
    for p in ("null", "shift"):
        for g in ("a", "b", "c"):
            off = {"a": 0, "b": 4, "c": 8}[g] if p == "shift" else 0
            for _ in range(80):
                rows.append((p, g, float(rng.randint(0, 25) + off)))
    rows += [("onegroup", "a", 1.0), ("onegroup", "a", 2.0)]
    rows += [("alltied", "a", 7.0), ("alltied", "b", 7.0),
             ("alltied", "b", 7.0)]
    df = spark.createDataFrame(rows, "p string, g string, v double")

    def ref(part):
        sub = [(g, v) for (pp, g, v) in rows if pp == part]
        n = len(sub)
        cnt = collections.Counter(v for _, v in sub)
        min_rank, acc = {}, 0
        for v in sorted(cnt):
            min_rank[v] = acc + 1
            acc += cnt[v]
        avg = {v: min_rank[v] + (cnt[v] - 1) / 2.0 for v in cnt}
        groups = collections.defaultdict(list)
        for g, v in sub:
            groups[g].append(avg[v])
        k = len(groups)
        if k < 2 or n < 2:
            return n, k, None
        s = sum(sum(rs) ** 2 / len(rs) for rs in groups.values())
        hval = 12.0 / (n * (n + 1)) * s - 3 * (n + 1)
        c = 1.0 - sum(t ** 3 - t for t in cnt.values()) / (n ** 3 - n)
        if c <= 0:
            return n, k, None
        return n, k, round(hval / c, 6)

    got = {
        r["p"]: r
        for r in df.transform(
            kruskal_wallis_h("v", "g", partition_by="p")
        ).collect()
    }
    for part in ("null", "shift", "onegroup", "alltied"):
        n, k, hv = ref(part)
        g = got[part]
        assert (g["n"], g["k"]) == (n, k), part
        if hv is None:
            assert g["h"] is None, part
        else:
            assert g["h"] == pytest.approx(hv, abs=2e-6), part
    # chi2(k-1=2) critical at alpha=0.01 is 9.21: the planted shift
    # must clear it decisively, the null world must sit below it
    assert got["shift"]["h"] > 20 and got["null"]["h"] < 9.21

    a, b = plain_and_scaled(
        scale_paths,
        lambda: df.transform(kruskal_wallis_h("v", "g", partition_by="p")),
        "_rb",
    )
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, b.collect())
    )


def test_brown_forsythe_matches_reference(spark):
    """brown_forsythe_f vs a pure-Python reference (median-centered
    Levene): a planted variance difference must light up, equal-spread
    groups must not; degenerate fences (single group, zero SSW)."""
    import random as _r
    import statistics as _st

    from btc_usdt_etl_pipeline_spark.operators.stats import (
        brown_forsythe_f,
    )

    rng = _r.Random(83)
    rows = []
    for p in ("same", "hetero"):
        for g in ("a", "b"):
            spread = 9 if (p == "hetero" and g == "b") else 2
            for _ in range(150):
                rows.append(
                    (p, g, round(rng.gauss(10.0, spread), 4))
                )
    rows += [("onegroup", "a", 1.0), ("onegroup", "a", 5.0)]
    rows += [("zerossw", "a", 1.0), ("zerossw", "a", 1.0),
             ("zerossw", "b", 2.0), ("zerossw", "b", 2.0)]
    df = spark.createDataFrame(rows, "p string, g string, v double")

    def ref(part):
        sub = [(g, v) for (pp, g, v) in rows if pp == part]
        groups = {}
        for g, v in sub:
            groups.setdefault(g, []).append(v)
        k, n = len(groups), len(sub)
        if k < 2 or n <= k:
            return n, k, None
        zs = {
            g: [abs(v - round(_st.median(vs), 6)) for v in vs]
            for g, vs in groups.items()
        }
        allz = [z for zz in zs.values() for z in zz]
        zbar = sum(allz) / n
        ssb = sum(len(zz) * (sum(zz) / len(zz) - zbar) ** 2
                  for zz in zs.values())
        ssw = sum((z - sum(zz) / len(zz)) ** 2
                  for zz in zs.values() for z in zz)
        if ssw <= 0:
            return n, k, None
        return n, k, round((ssb / (k - 1)) / (ssw / (n - k)), 6)

    got = {
        r["p"]: r
        for r in df.transform(
            brown_forsythe_f("v", "g", partition_by="p")
        ).collect()
    }
    for part in ("same", "hetero", "onegroup", "zerossw"):
        n, k, fv = ref(part)
        g = got[part]
        assert (g["n"], g["k"]) == (n, k), part
        assert (g["dof1"], g["dof2"]) == (k - 1, n - k), part
        if fv is None:
            assert g["f"] is None, part
        else:
            assert g["f"] == pytest.approx(fv, rel=1e-6, abs=1e-5), part
    # F(1, 298) critical at alpha=0.01 is ~6.7
    assert got["hetero"]["f"] > 30 and got["same"]["f"] < 6.7


def test_welch_t_matches_reference(spark):
    """welch_t vs a pure-Python Welch reference (t and
    Welch-Satterthwaite dof); planted mean shift lights up; degenerate
    fences (side with n<2, zero-variance pair)."""
    import random as _r

    from btc_usdt_etl_pipeline_spark.operators.stats import welch_t

    rng = _r.Random(97)
    rows = []
    for p in ("null", "shift"):
        for g in ("A", "B"):
            mu = 12.0 if (p == "shift" and g == "A") else 10.0
            sd = 3.0 if g == "A" else 1.0
            for _ in range(120):
                rows.append((p, g, round(rng.gauss(mu, sd), 4)))
    rows += [("tiny", "A", 1.0), ("tiny", "B", 2.0), ("tiny", "B", 3.0)]
    rows += [("const", "A", 4.0), ("const", "A", 4.0),
             ("const", "B", 4.0), ("const", "B", 4.0)]
    df = spark.createDataFrame(rows, "p string, g string, v double")

    def ref(part):
        a = [v for (pp, g, v) in rows if pp == part and g == "A"]
        b = [v for (pp, g, v) in rows if pp == part and g == "B"]
        na, nb = len(a), len(b)
        if na < 2 or nb < 2:
            return na, nb, None, None
        ma, mb = sum(a) / na, sum(b) / nb
        va = sum((x - ma) ** 2 for x in a) / (na - 1)
        vb = sum((x - mb) ** 2 for x in b) / (nb - 1)
        se2 = va / na + vb / nb
        if se2 <= 0:
            return na, nb, None, None
        t = round((ma - mb) / se2 ** 0.5, 6)
        dof = round(
            se2 ** 2
            / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1)),
            6,
        )
        return na, nb, t, dof

    got = {
        r["p"]: r
        for r in df.transform(
            welch_t("v", "g", "A", partition_by="p")
        ).collect()
    }
    for part in ("null", "shift", "tiny", "const"):
        na, nb, t, dof = ref(part)
        g = got[part]
        assert (g["n_a"], g["n_b"]) == (na, nb), part
        if t is None:
            assert g["t"] is None and g["dof"] is None, part
        else:
            assert g["t"] == pytest.approx(t, abs=2e-5), part
            assert g["dof"] == pytest.approx(dof, rel=1e-5), part
    assert got["shift"]["t"] > 5 and abs(got["null"]["t"]) < 4


def test_compare_groups_matches_reference_and_components(spark):
    """r10 compare_groups (one-call ANOVA table): (a) Welch's
    heteroscedastic F vs a pure-Python reference (Welch 1951) with a
    planted mean shift detected and a null case quiet; (b) its bf_f
    equals brown_forsythe_f run standalone on the same data; (c) at
    k = 2 welch_f = welch_t's t² and welch_dof2 = its dof (the F(1, ν)
    identity); (d) degenerate fences (zero-variance group → NULL welch
    columns, single group → all NULL)."""
    import random as _r
    import statistics as _st

    from btc_usdt_etl_pipeline_spark.operators.stats import (
        brown_forsythe_f,
        compare_groups,
        welch_t,
    )

    rng = _r.Random(29)
    rows = []
    for p in ("null3", "shift3"):
        for gi, g in enumerate(("a", "b", "c")):
            mu = 10.0 + (3.0 * gi if p == "shift3" else 0.0)
            for _ in range(120):
                rows.append((p, g, round(rng.gauss(mu, 2 + gi), 4)))
    for p in ("two",):
        for g in ("a", "b"):
            mu = 10.0 if g == "a" else 11.5
            for _ in range(90):
                rows.append((p, g, round(rng.gauss(mu, 3.0), 4)))
    rows += [("zerovar", "a", 5.0), ("zerovar", "a", 5.0),
             ("zerovar", "b", 1.0), ("zerovar", "b", 2.0),
             ("zerovar", "b", 4.0)]
    rows += [("onegroup", "a", 1.0), ("onegroup", "a", 5.0)]
    df = spark.createDataFrame(rows, "p string, g string, v double")

    got = {
        r["p"]: r
        for r in df.transform(
            compare_groups("v", "g", partition_by="p")
        ).collect()
    }

    def ref_welch(part):
        groups = {}
        for pp, g, v in rows:
            if pp == part:
                groups.setdefault(g, []).append(v)
        k = len(groups)
        if k < 2:
            return None, None
        stats = []
        for vs in groups.values():
            n = len(vs)
            if n < 2:
                return None, None
            m = sum(vs) / n
            var = sum((v - m) ** 2 for v in vs) / (n - 1)
            if var <= 0:
                return None, None
            stats.append((n, m, var))
        w = [n / var for n, m, var in stats]
        W = sum(w)
        xw = sum(wi * m for wi, (n, m, var) in zip(w, stats)) / W
        a = sum(wi * (m - xw) ** 2
                for wi, (n, m, var) in zip(w, stats)) / (k - 1)
        bsum = sum((1 - wi / W) ** 2 / (n - 1)
                   for wi, (n, m, var) in zip(w, stats))
        fstat = a / (1 + 2 * (k - 2) / (k * k - 1) * bsum)
        dof2 = (k * k - 1) / (3 * bsum)
        return fstat, dof2

    # (a) reference parity + planted effect polarity
    for part in ("null3", "shift3", "two"):
        fv, d2 = ref_welch(part)
        assert got[part]["welch_f"] == pytest.approx(fv, rel=1e-5), part
        assert got[part]["welch_dof2"] == pytest.approx(d2, rel=1e-5)
    assert got["shift3"]["welch_f"] > 30 and got["null3"]["welch_f"] < 4.7

    # (b) bf_f identical to the standalone operator
    bf = {
        r["p"]: r["f"]
        for r in df.transform(
            brown_forsythe_f("v", "g", partition_by="p")
        ).collect()
    }
    for part, row in got.items():
        assert row["bf_f"] == bf[part], part

    # (c) k=2: F(1, nu) = t^2, dof2 = nu
    wt = {
        r["p"]: r
        for r in df.transform(
            welch_t("v", "g", "a", partition_by="p")
        ).collect()
    }
    assert got["two"]["welch_f"] == pytest.approx(
        wt["two"]["t"] ** 2, rel=1e-4
    )
    assert got["two"]["welch_dof2"] == pytest.approx(
        wt["two"]["dof"], rel=1e-6
    )

    # (d) fences
    assert got["zerovar"]["welch_f"] is None
    assert got["zerovar"]["welch_dof2"] is None
    assert got["zerovar"]["bf_f"] is not None  # BF is still defined
    assert got["onegroup"]["welch_f"] is None
    assert got["onegroup"]["bf_f"] is None


def test_cuped_matches_reference(spark):
    """r10 cuped_adjusted_diff vs a pure-Python reference: θ = cov/var,
    adjusted diff removes the covariate imbalance, ρ² matches, and the
    adjusted t grows vs the raw t when the covariate is predictive;
    zero-variance covariate → NULL θ/adjusted columns with diff_raw
    surviving."""
    import random as _r

    from btc_usdt_etl_pipeline_spark.operators.stats import (
        cuped_adjusted_diff,
    )

    rng = _r.Random(41)
    rows = []
    # y = x + effect·trt + noise: strongly predictive covariate
    for i in range(400):
        trt = i % 2
        x = rng.gauss(50.0, 10.0)
        y = x + 2.0 * trt + rng.gauss(0.0, 1.0)
        rows.append(("p", trt, round(x, 4), round(y, 4)))
    rows += [("degenerate", t, 7.0, float(v))
             for t, v in ((1, 3), (1, 4), (0, 1), (0, 2))]
    df = spark.createDataFrame(rows, "p string, trt int, x double, y double")

    got = {
        r["p"]: r
        for r in df.transform(
            cuped_adjusted_diff("y", "x", "trt", partition_by="p")
        ).collect()
    }

    sub = [(t, x, y) for (p, t, x, y) in rows if p == "p"]
    n = len(sub)
    sx = sum(x for _, x, _ in sub)
    sy = sum(y for _, _, y in sub)
    cov = sum(x * y for _, x, y in sub) - sx * sy / n
    vx = sum(x * x for _, x, _ in sub) - sx * sx / n
    vy = sum(y * y for _, _, y in sub) - sy * sy / n
    theta = cov / vx
    t_side = [(x, y) for t, x, y in sub if t == 1]
    c_side = [(x, y) for t, x, y in sub if t == 0]
    draw = (sum(y for _, y in t_side) / len(t_side)
            - sum(y for _, y in c_side) / len(c_side))
    dadj = draw - theta * (
        sum(x for x, _ in t_side) / len(t_side)
        - sum(x for x, _ in c_side) / len(c_side)
    )
    g = got["p"]
    assert g["theta"] == pytest.approx(theta, rel=1e-5)
    assert g["diff_raw"] == pytest.approx(draw, rel=1e-5)
    assert g["diff_cuped"] == pytest.approx(dadj, rel=1e-5)
    assert g["var_reduction"] == pytest.approx(cov * cov / (vx * vy),
                                               rel=1e-5)
    # the covariate explains ~99% of variance here: the adjusted diff
    # must recover the planted +2 effect far more tightly than raw
    assert abs(g["diff_cuped"] - 2.0) < 0.5
    assert g["var_reduction"] > 0.9
    assert g["t_cuped"] is not None and abs(g["t_cuped"]) > 5

    d = got["degenerate"]
    assert d["theta"] is None and d["diff_cuped"] is None
    assert d["var_reduction"] is None and d["t_cuped"] is None
    assert d["diff_raw"] == pytest.approx(3.5 - 1.5, rel=1e-9)


def test_srm_and_ratio_metric_reference(spark):
    """r10 experiment-validity pair: sample_ratio_check flags a
    planted 90/10 assignment corruption and passes a fair split (chi²
    hand-checked); ratio_metric_diff matches a pure-Python delta-method
    reference, detects a planted ratio lift, and fences degenerates."""
    import random as _r

    from btc_usdt_etl_pipeline_spark.operators.stats import (
        ratio_metric_diff,
        sample_ratio_check,
    )

    # --- SRM ---
    units = [("fair", 1 if i % 2 else 0) for i in range(1000)]
    units += [("broken", 1 if i % 10 == 0 else 0) for i in range(1000)]
    df = spark.createDataFrame(units, "p string, trt int")
    got = {
        r["p"]: r
        for r in df.transform(
            sample_ratio_check("trt", partition_by="p")
        ).collect()
    }
    assert got["fair"]["chi2"] == 0.0 and not got["fair"]["srm_flag"]
    # hand chi²: (100-500)²/500 + (900-500)²/500 = 640
    assert got["broken"]["chi2"] == pytest.approx(640.0)
    assert got["broken"]["srm_flag"]
    assert (got["broken"]["n_t"], got["broken"]["n_c"]) == (100, 900)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="expected"):
        sample_ratio_check("trt", expected=1.5)

    # --- delta-method ratio metric ---
    rng = _r.Random(61)
    rows = []
    for i in range(600):
        trt = i % 2
        x = float(rng.randint(5, 50))            # denominator (events)
        rate = 0.30 if trt else 0.20             # planted lift
        y = float(sum(rng.random() < rate for _ in range(int(x))))
        rows.append(("p", trt, x, y))
    rows += [("thin", 1, 3.0, 1.0), ("thin", 0, 4.0, 1.0)]  # n=1 sides
    df2 = spark.createDataFrame(rows, "p string, trt int, x double, y double")
    got2 = {
        r["p"]: r
        for r in df2.transform(
            ratio_metric_diff("y", "x", "trt", partition_by="p")
        ).collect()
    }

    sub = [(t, x, y) for (p, t, x, y) in rows if p == "p"]

    def side_stats(tv):
        s = [(x, y) for t, x, y in sub if t == tv]
        n = len(s)
        sx = sum(x for x, _ in s)
        sy = sum(y for _, y in s)
        r = sy / sx
        vy = (sum(y * y for _, y in s) - sy * sy / n) / (n - 1)
        cv = (sum(x * y for x, y in s) - sx * sy / n) / (n - 1)
        vx = (sum(x * x for x, _ in s) - sx * sx / n) / (n - 1)
        xbar = sx / n
        return r, (vy - 2 * r * cv + r * r * vx) / (n * xbar * xbar)

    rt, vt = side_stats(1)
    rc, vc = side_stats(0)
    g = got2["p"]
    # operator pins at 6 dp; compare with matching absolute tolerance
    assert g["ratio_t"] == pytest.approx(rt, abs=1e-6)
    assert g["ratio_c"] == pytest.approx(rc, abs=1e-6)
    assert g["diff"] == pytest.approx(rt - rc, abs=2e-6)
    assert g["t"] == pytest.approx((rt - rc) / (vt + vc) ** 0.5, rel=1e-4)
    assert g["t"] > 5  # the planted +0.10 rate lift is unmissable

    thin = got2["thin"]
    assert thin["t"] is None  # n=1 sides: no variance estimate
    assert thin["ratio_t"] == pytest.approx(1 / 3, rel=1e-5)
    assert thin["ratio_c"] == pytest.approx(0.25, rel=1e-5)


def test_cohens_kappa_matches_reference(spark):
    """r10 cohens_kappa vs hand computation: the textbook 2×2 fixture,
    perfect agreement on balanced labels (κ = 1), agreement-by-
    imbalance exposed (high po, low κ), identical-constant raters
    (pe = 1 → NULL), disjoint label sets (po = 0, pe = 0, κ = 0)."""
    from btc_usdt_etl_pipeline_spark.operators.stats import cohens_kappa

    rows = []
    # textbook: a=yes 25+5, a=no 10+60 → po=.85, pe=.3*.35+.7*.65=.56
    rows += [("text", "yes", "yes")] * 25
    rows += [("text", "yes", "no")] * 5
    rows += [("text", "no", "yes")] * 10
    rows += [("text", "no", "no")] * 60
    rows += [("perfect", l, l) for l in ("a", "b") for _ in range(10)]
    # imbalance trap: 90 agree on majority + both always-majority raters
    rows += [("imb", "maj", "maj")] * 90
    rows += [("imb", "min", "maj")] * 5
    rows += [("imb", "maj", "min")] * 5
    rows += [("const", "same", "same")] * 8
    rows += [("disjoint", "l", "r")] * 6
    df = spark.createDataFrame(rows, "p string, a string, b string")
    got = {
        r["p"]: r
        for r in df.transform(
            cohens_kappa("a", "b", partition_by="p")
        ).collect()
    }

    t = got["text"]
    assert (t["n"], t["po"]) == (100, 0.85)
    assert t["pe"] == pytest.approx(0.30 * 0.35 + 0.70 * 0.65)
    assert t["kappa"] == pytest.approx(
        (0.85 - t["pe"]) / (1 - t["pe"]), abs=1e-6
    )
    assert got["perfect"]["kappa"] == 1.0
    imb = got["imb"]
    assert imb["po"] == 0.9 and imb["kappa"] < 0.0  # worse than chance
    assert got["const"]["pe"] == 1.0 and got["const"]["kappa"] is None
    dis = got["disjoint"]
    assert (dis["po"], dis["pe"], dis["kappa"]) == (0.0, 0.0, 0.0)


def test_bradley_terry_recovers_planted_strengths(spark):
    """r10 bradley_terry: on comparisons drawn from a known BT model
    the MM estimate must recover the strength ORDERING and approximate
    ratios; symmetric data gives equal strengths; zero-win items go to
    0; strengths sum to 1; validation errors fire."""
    import random as _r

    from btc_usdt_etl_pipeline_spark.operators.stats import (
        bradley_terry,
        bt_schedule,
    )

    items = ["a", "b", "c"]
    true_p = {"a": 0.6, "b": 0.3, "c": 0.1}
    rng = _r.Random(17)
    rows = []
    for _ in range(4000):
        i, j = rng.sample(items, 2)
        pi, pj = true_p[i], true_p[j]
        if rng.random() < pi / (pi + pj):
            rows.append((i, j))
        else:
            rows.append((j, i))
    df = spark.createDataFrame(rows, "winner string, loser string")
    got = {
        r["item"]: r
        for r in df.transform(
            bradley_terry("winner", "loser", items, iterations=50)
        ).collect()
    }
    s = [got[i]["strength"] for i in items]
    assert abs(sum(s) - 1.0) < 1e-4
    assert s[0] > s[1] > s[2]
    assert got["a"]["strength"] == pytest.approx(0.6, abs=0.06)
    assert got["c"]["strength"] == pytest.approx(0.1, abs=0.05)
    assert got["a"]["wins"] + got["a"]["losses"] == sum(
        1 for w, l in rows if "a" in (w, l)
    )

    # symmetric data -> equal strengths; absent-from-wins item -> 0
    sym = spark.createDataFrame(
        [("x", "y"), ("y", "x"), ("x", "z"), ("z", "x"),
         ("y", "z"), ("z", "y")],
        "winner string, loser string",
    )
    eq = {
        r["item"]: r["strength"]
        for r in sym.transform(
            bradley_terry("winner", "loser", ["x", "y", "z"])
        ).collect()
    }
    assert all(v == pytest.approx(1 / 3, abs=1e-6) for v in eq.values())

    lose_all = spark.createDataFrame(
        [("x", "z"), ("y", "z"), ("x", "y"), ("y", "x")],
        "winner string, loser string",
    )
    z = {
        r["item"]: r["strength"]
        for r in lose_all.transform(
            bradley_terry("winner", "loser", ["x", "y", "z"])
        ).collect()
    }
    assert z["z"] == 0.0 and z["x"] > 0 and z["y"] > 0

    import pytest as _pytest
    with _pytest.raises(ValueError, match="items"):
        bradley_terry("w", "l", ["only_one"])
    with _pytest.raises(ValueError, match="unique"):
        bradley_terry("w", "l", ["a", "a"])
    with _pytest.raises(ValueError, match="iterations"):
        bradley_terry("w", "l", ["a", "b"], iterations=0)
    # schedule shape: 2 stages per round
    base, rounds = bt_schedule(["a", "b"], 3)
    assert len(rounds) == 6 and len(base) == 2 * 2 + 2


def test_fleiss_kappa_matches_reference(spark):
    """r10 fleiss_kappa vs the worked Wikipedia/Fleiss-1971 example
    (14 items × 5 raters × 5 categories, κ ≈ 0.2099), plus perfect
    agreement (κ = 1), uniform disagreement (κ < 0), the
    constant-n contract violation (NULL), and the pe = 1 fence."""
    from btc_usdt_etl_pipeline_spark.operators.stats import fleiss_kappa

    # the classic 14×5 table: rows are per-item category counts
    table = [
        [0, 0, 0, 0, 14], [0, 2, 6, 4, 2], [0, 0, 3, 5, 6],
        [0, 3, 9, 2, 0], [2, 2, 8, 1, 1], [7, 7, 0, 0, 0],
        [3, 2, 6, 3, 0], [2, 5, 3, 2, 2], [6, 5, 2, 1, 0],
        [0, 2, 2, 3, 7],
    ]
    rows = []
    for it, counts in enumerate(table):
        for cat, c in enumerate(counts):
            rows += [("fleiss", it, f"c{cat}")] * c
    rows += [("perfect", i, "same" if i % 2 else "also")
             for i in range(6) for _ in range(3)]
    # ragged: one item has 2 ratings, another 3 → contract violation
    rows += [("ragged", 1, "a"), ("ragged", 1, "b"),
             ("ragged", 2, "a"), ("ragged", 2, "a"), ("ragged", 2, "b")]
    rows += [("allsame", i, "only") for i in range(4) for _ in range(2)]
    df = spark.createDataFrame(rows, "p string, item long, label string")
    got = {
        r["p"]: r
        for r in df.transform(
            fleiss_kappa("item", "label", partition_by="p")
        ).collect()
    }

    # hand-computed reference for the 10×14 subtable above
    n, ni = 14.0, float(len(table))
    sq = sum(c * c for row in table for c in row)
    p_bar = (sq - ni * n) / (ni * n * (n - 1.0))
    cj = [sum(row[j] for row in table) for j in range(5)]
    p_e = sum(c * c for c in cj) / (ni * n * ni * n)
    want = (p_bar - p_e) / (1 - p_e)
    g = got["fleiss"]
    assert (g["n_items"], g["n_ratings"]) == (10, 14)
    assert g["kappa"] == pytest.approx(want, abs=1e-6)
    assert g["p_bar"] == pytest.approx(p_bar, abs=1e-6)

    assert got["perfect"]["kappa"] == 1.0
    r = got["ragged"]
    assert r["n_ratings"] is None and r["kappa"] is None
    a = got["allsame"]
    assert a["p_e"] == 1.0 and a["kappa"] is None


def _bt_sql_schedule(df, winner_col, loser_col, items, iterations):
    """The r13 bradley_terry tail — the full SQL-schedule plan
    (conditional-count row agg + bt_schedule SELECT chain), kept here
    as the differential arm for the r14 driver-replay rewrite."""
    from pyspark.sql import functions as F

    from btc_usdt_etl_pipeline_spark.operators.stats import bt_schedule

    k = len(items)
    w, l = F.col(winner_col), F.col(loser_col)
    aggs = []
    for i in range(k):
        for j in range(k):
            if i == j:
                continue
            aggs.append(
                F.sum(
                    F.when((w == items[i]) & (l == items[j]), 1)
                    .otherwise(0)
                )
                .cast("double")
                .alias(f"w_{i}_{j}")
            )
    row = df.agg(*aggs)
    base, rounds = bt_schedule(items, iterations)
    row = row.select("*", *[F.expr(e).alias(c) for c, e in base])
    for step in rounds:
        row = row.select("*", *[F.expr(e).alias(c) for c, e in step])
    cells = []
    for i, name in enumerate(items):
        cells.extend(
            [
                f"'{name}'",
                f"round(q{iterations}_{i}, 6)",
                f"CAST(bt_w_{i} AS BIGINT)",
                f"CAST(bt_l_{i} AS BIGINT)",
            ]
        )
    return row.select(
        F.expr(
            f"stack({k}, {', '.join(cells)}) AS "
            "(item, strength, wins, losses)"
        )
    )


def test_bradley_terry_driver_matches_sql_schedule(spark):
    """r14: the driver-Python MM replay (pair-count collect + exact
    left-fold arithmetic) must be BIT-identical to the r13 SQL
    schedule — same strengths (post 6-dp pin compared exactly, not
    approximately), same wins/losses — on a random fixture including
    out-of-catalog and NULL rows, and on empty input (where the SQL
    CASE fences collapse strengths to 0.0 with NULL win counts)."""
    import random as _r

    from btc_usdt_etl_pipeline_spark.operators.stats import bradley_terry

    items = ["i0", "i1", "i2", "i3", "i4", "i5"]
    rng = _r.Random(41)
    rows = []
    for _ in range(3000):
        i, j = rng.sample(items, 2)
        rows.append((i, j) if rng.random() < 0.5 else (j, i))
    rows += [("zzz_out", "i0"), ("i1", "zzz_out"), (None, "i2"),
             ("i3", None)]
    df = spark.createDataFrame(rows, "winner string, loser string")

    for iters in (1, 20):
        got = sorted(
            df.transform(
                bradley_terry("winner", "loser", items, iterations=iters)
            ).collect()
        )
        want = sorted(
            _bt_sql_schedule(df, "winner", "loser", items, iters).collect()
        )
        assert [tuple(r) for r in got] == [tuple(r) for r in want]

    empty = spark.createDataFrame([], "winner string, loser string")
    got_e = sorted(
        empty.transform(
            bradley_terry("winner", "loser", items)
        ).collect()
    )
    want_e = sorted(
        _bt_sql_schedule(empty, "winner", "loser", items, 20).collect()
    )
    assert [tuple(r) for r in got_e] == [tuple(r) for r in want_e]
    assert all(r["strength"] == 0.0 and r["wins"] is None for r in got_e)


def test_bradley_terry_rejects_streaming_input(spark):
    """r15 contract pin: the MM replay collects the pair-count row
    eagerly at apply time, so a streaming input must raise a clear
    ValueError instead of an opaque AnalysisException from .first()."""
    from btc_usdt_etl_pipeline_spark.operators.stats import bradley_terry

    sdf = spark.readStream.format("rate").load().selectExpr(
        "CAST(value AS STRING) AS w", "CAST(value + 1 AS STRING) AS l"
    )
    with pytest.raises(ValueError, match="batch-only"):
        bradley_terry("w", "l", ["a", "b"])(sdf)

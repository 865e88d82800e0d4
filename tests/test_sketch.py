"""Count-min sketch tests against a Python-computed reference grid."""

from __future__ import annotations

import hashlib
from collections import Counter

import pytest
from pyspark.sql import functions as F


def _bucket(key: str, row: int, width: int) -> int:
    h = int(hashlib.md5(f"cms{row}:{key}".encode()).hexdigest()[:15], 16)
    return h % width


def _py_cms(counts: Counter, depth: int, width: int):
    grid = [[0] * width for _ in range(depth)]
    for k, c in counts.items():
        for r in range(depth):
            grid[r][_bucket(k, r, width)] += c
    return {
        k: min(grid[r][_bucket(k, r, width)] for r in range(depth))
        for k in counts
    }


def test_cms_heavy_hitters_matches_python_reference(spark):
    from btc_usdt_etl_pipeline_spark.operators.sketch import (
        cms_heavy_hitters,
    )

    occurrences = (
        ["hot"] * 50 + ["warm"] * 20 + ["mild"] * 5
        + [f"rare{i}" for i in range(40)]
    )
    counts = Counter(occurrences)
    depth, width = 3, 8  # width << vocab → collisions guaranteed
    expected_est = _py_cms(counts, depth, width)

    df = spark.createDataFrame([(t,) for t in occurrences], "tok string")
    rows = df.transform(
        cms_heavy_hitters("tok", depth=depth, width=width, k=1000)
    ).collect()
    got = {r.tok: r for r in rows}

    assert set(got) == set(counts)
    for tok, r in got.items():
        assert r.exact == counts[tok]
        assert r.est == expected_est[tok]
        assert r.est >= r.exact  # CMS never underestimates
    # With 43 keys in 8 buckets the sketch MUST overestimate somewhere,
    # otherwise the collision path was never exercised.
    assert any(r.est > r.exact for r in rows)
    # Deterministic ranking: est desc, key asc.
    ranked = sorted(rows, key=lambda r: (-r.est, r.tok))
    assert [r.rnk for r in ranked] == list(range(1, len(rows) + 1))


def test_cms_property_vs_python(spark):
    """Property test: for arbitrary multisets and sketch geometries the
    engine grid matches the Python reference exactly, est ≥ exact
    always, and totals are conserved per sketch row."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from btc_usdt_etl_pipeline_spark.operators.sketch import (
        cms_heavy_hitters,
        count_min_sketch,
    )

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        occurrences=st.lists(
            st.sampled_from(["a", "bb", "ccc", "d", "e", "ff", "g"]),
            min_size=1,
            max_size=60,
        ),
        depth=st.sampled_from([1, 2, 3]),
        width=st.sampled_from([2, 4, 16]),
    )
    def run(occurrences, depth, width):
        counts = Counter(occurrences)
        expected = _py_cms(counts, depth, width)
        df = spark.createDataFrame(
            [(t,) for t in occurrences], "tok string"
        )
        rows = df.transform(
            cms_heavy_hitters("tok", depth, width, k=100)
        ).collect()
        assert {r.tok: r.est for r in rows} == expected
        assert all(r.est >= r.exact for r in rows)
        grid = df.groupBy("tok").count().transform(
            count_min_sketch("tok", depth, width, count_col="count")
        ).collect()
        # Every sketch row conserves the total occurrence count.
        per_row = Counter()
        for cell in grid:
            per_row[cell.row] += cell.cnt
        assert all(v == len(occurrences) for v in per_row.values())

    run()


def test_hll_mergeable_and_python_reference(spark):
    """HLL registers: (1) the full-corpus estimate equals the estimate
    from register-wise MAX of two disjoint halves' registers (the
    mergeability that makes the sketch work across partitions/days);
    (2) registers match a direct Python computation of the same md5
    bucketing/rank; (3) the corrected estimate lands within 5% of the
    true cardinality at n ~ m."""
    import hashlib
    import math

    from btc_usdt_etl_pipeline_spark.operators.sketch import hll_distinct

    n, b, m = 900, 10, 1024
    df = spark.createDataFrame([(f"k{i}",) for i in range(n)], "k string")
    row = df.transform(hll_distinct("k", b=b)).collect()[0]
    assert row["n_exact"] == n
    assert abs(row["est"] - n) / n < 0.05

    # Python reference registers — the generalized 2^(rem+1) layout
    # (rem = 60-b): the w = 0 register at rho = rem+1 contributes an
    # exact integer 1, never a fraction or a negative shift.
    rem = 60 - b
    regs: dict[int, int] = {}
    for i in range(n):
        h = int(hashlib.md5(f"k{i}".encode()).hexdigest()[:15], 16)
        bucket, w = h % m, h // m
        rho = (rem + 1) if w == 0 else ((w & -w).bit_length() - 1) + 1
        regs[bucket] = max(regs.get(bucket, 0), rho)
    spres = sum(1 << (rem + 1 - r) for r in regs.values())
    stot = spres + (m - len(regs)) * (1 << (rem + 1))
    alpha = 0.7213 / (1.0 + 1.079 / m)
    raw = alpha * float(m) * float(m) * float(1 << (rem + 1)) / float(stot)
    v = m - len(regs)
    est = m * math.log(m / v) if (raw <= 2.5 * m and v > 0) else raw
    assert row["n_present"] == len(regs)
    assert row["est_raw"] == round(raw, 4)
    assert row["est"] == round(est, 4)

    # mergeability: halves' registers max-merge to the full registers
    half1 = {bk: r for bk, r in regs.items()}  # recompute per half
    r1: dict[int, int] = {}
    r2: dict[int, int] = {}
    for i in range(n):
        h = int(hashlib.md5(f"k{i}".encode()).hexdigest()[:15], 16)
        bucket, w = h % m, h // m
        rho = 51 if w == 0 else ((w & -w).bit_length() - 1) + 1
        tgt = r1 if i % 2 == 0 else r2
        tgt[bucket] = max(tgt.get(bucket, 0), rho)
    merged = {
        bk: max(r1.get(bk, 0), r2.get(bk, 0))
        for bk in set(r1) | set(r2)
    }
    assert merged == half1


def test_hll_generalizes_beyond_b10(spark):
    """The bit layout derives from b (rem = 60-b), not from b=10
    literals: at b=6 and b=14 the estimate still lands within the
    ~1.04/sqrt(m) HLL error envelope (wide margin: 5x), and the w=0
    register cap rem+1 never produces a negative shiftleft (which
    Java-masks to 1<<63 and corrupts the denominator — the r6 advisory
    finding)."""
    from btc_usdt_etl_pipeline_spark.operators.sketch import hll_distinct

    n = 2000
    df = spark.createDataFrame([(f"k{i}",) for i in range(n)], "k string")
    for b in (6, 14):
        m = 1 << b
        row = df.transform(hll_distinct("k", b=b)).collect()[0]
        assert row["n_exact"] == n
        assert row["m"] == m
        # denominator sanity rides through the estimate: a corrupted
        # (negative-shift) register would blow est far outside the
        # envelope
        tol = 5 * 1.04 / (m ** 0.5)
        assert abs(row["est"] - n) / n < max(tol, 0.25)


def test_bloom_semi_join_equals_plain_semi_join(spark):
    """Bloom pre-filtered semi join returns EXACTLY the plain semi
    join's rows (no false negatives, exact re-join kills false
    positives), and the bloom filter itself prunes rows before the
    join in the physical plan."""
    from btc_usdt_etl_pipeline_spark.operators.sketch import (
        bloom_filter_words,
        bloom_might_contain,
        bloom_semi_join,
    )

    facts = spark.createDataFrame(
        [(i, i % 97) for i in range(5000)], "row_id long, k long"
    )
    dim = spark.createDataFrame(
        [(i,) for i in range(0, 97, 7)], "k long"
    )
    got = sorted(
        r.row_id
        for r in bloom_semi_join(
            facts, dim, "k", "k", n_bits=4096, n_hashes=3
        ).collect()
    )
    want = sorted(
        r.row_id
        for r in facts.join(dim, "k", "left_semi").collect()
    )
    assert got == want and len(got) > 0

    # the bloom predicate must sit BELOW the join (scan-side prune)
    plan = bloom_semi_join(
        facts, dim, "k", "k", n_bits=4096, n_hashes=3
    )._jdf.queryExecution().executedPlan().toString()
    join_at = plan.index("Join")
    assert "md5" in plan[join_at:], "bloom filter below the join"

    # no false negatives even on a deliberately saturated filter;
    # false positives exist at this size and the exact join kills them
    words = bloom_filter_words(dim, "k", n_bits=32, n_hashes=2)
    passed = facts.filter(
        bloom_might_contain(words, F.col("k"), 2)
    )
    n_pass = passed.count()
    assert n_pass >= len(want)  # superset of true matches
    assert n_pass > len(want)   # 32 bits MUST show false positives
    assert sorted(
        r.row_id
        for r in passed.join(dim, "k", "left_semi").collect()
    ) == want


def test_bloom_empty_dim_passes_nothing(spark):
    from btc_usdt_etl_pipeline_spark.operators.sketch import (
        bloom_filter_words,
        bloom_might_contain,
    )

    facts = spark.createDataFrame([(1,), (2,)], "k long")
    empty = spark.createDataFrame([], "k long")
    words = bloom_filter_words(empty, "k", n_bits=1024, n_hashes=3)
    assert words == [0] * 32
    assert facts.filter(
        bloom_might_contain(words, F.col("k"), 3)
    ).count() == 0


def test_hll_intersection_vs_exact(spark):
    """Planted overlap: |A|=800, |B|=600, |A∩B|=300 — the sketch
    estimate must land within the inclusion-exclusion error budget
    (3 sketches × ~1.04/√1024 ≈ 10% of the union) and the exact
    column must be exact."""
    rows = (
        [("a", f"k{i}") for i in range(800)]
        + [("b", f"k{i}") for i in range(500, 1100)]
    )
    df = spark.createDataFrame(rows, "g string, k string")
    from btc_usdt_etl_pipeline_spark.operators.sketch import (
        hll_intersection,
    )

    out = df.transform(
        hll_intersection("g", "k", "a", "b")
    ).collect()[0]
    assert out["n_exact_intersection"] == 300
    assert abs(out["est_a"] - 800) / 800 < 0.12
    assert abs(out["est_b"] - 600) / 600 < 0.12
    assert abs(out["est_union"] - 1100) / 1100 < 0.12
    # union of three ~3% sketches: generous but non-vacuous bound
    assert abs(out["est_intersection"] - 300) < 0.35 * 1100
    # inclusion-exclusion internal consistency
    assert out["est_intersection"] >= 0.0


def test_hll_intersection_disjoint_and_identical(spark):
    from btc_usdt_etl_pipeline_spark.operators.sketch import (
        hll_intersection,
    )

    dis = spark.createDataFrame(
        [("a", f"x{i}") for i in range(400)]
        + [("b", f"y{i}") for i in range(400)],
        "g string, k string",
    )
    out = dis.transform(hll_intersection("g", "k", "a", "b")).collect()[0]
    assert out["n_exact_intersection"] == 0
    # disjoint sets: union sketch == merged registers, estimate near 800
    assert abs(out["est_union"] - 800) / 800 < 0.12

    same = spark.createDataFrame(
        [(g, f"s{i}") for g in ("a", "b") for i in range(500)],
        "g string, k string",
    )
    out = same.transform(hll_intersection("g", "k", "a", "b")).collect()[0]
    # identical sides: registers coincide, est_a == est_b == est_union
    # and intersection == est_a exactly (no sketch noise in the algebra)
    assert out["est_a"] == out["est_b"] == out["est_union"]
    assert out["est_intersection"] == out["est_a"]
    assert out["n_exact_intersection"] == 500


@pytest.mark.parametrize("b", [4, 10, 18])
def test_hll_entry_points_agree(spark, b):
    """Every HLL entry point reads the same registers through the same
    estimator: the grouped sketch equals the estimate of its stored
    registers, and the ungrouped sketch equals that of one constant
    group.  b = 4 exercises the raw estimate, b = 18 linear counting."""
    from btc_usdt_etl_pipeline_spark.operators.sketch import (
        hll_distinct,
        hll_distinct_by,
        hll_estimate_from_registers,
        hll_registers_by,
    )

    df = spark.createDataFrame(
        [(f"d{i % 3}", i % 700) for i in range(1500)], "g string, k long"
    )
    cols = ["m", "n_present", "v_zero", "est_raw", "est"]

    def rows(out, gcols):
        return sorted(
            tuple(r[c] for c in [*gcols, *cols]) for r in out.collect()
        )

    stored = hll_estimate_from_registers(
        df.transform(hll_registers_by(["g"], "k", b)), ["g"], b
    )
    grouped = df.transform(hll_distinct_by(["g"], "k", b))
    assert rows(grouped, ["g"]) == rows(stored, ["g"])
    one = df.withColumn("c", F.lit(1))
    stored_one = hll_estimate_from_registers(
        one.transform(hll_registers_by(["c"], "k", b)), ["c"], b
    )
    assert rows(df.transform(hll_distinct("k", b)), []) == rows(stored_one, [])


@pytest.mark.parametrize("b", [3, 19])
def test_hll_register_width_checked_at_every_entry_point(spark, b):
    from btc_usdt_etl_pipeline_spark.operators import sketch
    from btc_usdt_etl_pipeline_spark.operators.text import ngram_diversity

    registers = spark.createDataFrame(
        [("a", 0, 1)], "g string, _bucket long, _mr int"
    )
    builders = [
        lambda: sketch.hll_distinct("k", b),
        lambda: sketch.hll_distinct_by(["g"], "k", b),
        lambda: sketch.hll_intersection("g", "k", "a", "b", b),
        lambda: sketch.hll_registers_by(["g"], "k", b),
        lambda: sketch.hll_estimate_from_registers(registers, ["g"], b),
        lambda: ngram_diversity("text", approximate=True, b=b),
    ]
    for build in builders:
        with pytest.raises(ValueError, match=r"b must be in \[4, 18\]"):
            build()

"""Unit/property tests for the round-2 operators: connected components,
deterministic hash sampling, and the bucketed range join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.operators.graph import connected_components
from btc_usdt_etl_pipeline_spark.operators.relational import range_join
from btc_usdt_etl_pipeline_spark.operators.sampling import hash_sample


def _py_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_cc_property_vs_union_find(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        edges=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=30),
                st.integers(min_value=0, max_value=30),
            ).filter(lambda e: e[0] != e[1]),
            min_size=1,
            max_size=25,
        )
    )
    def run(edges):
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r.node: r.component for r in connected_components(df).collect()
        }
        assert got == _py_components(edges)

    run()


def test_cc_chain_worst_case(spark):
    # A 12-node path is the diameter worst case for min-label
    # propagation: every label must travel the full chain.
    edges = [(i, i + 1) for i in range(11)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(12)}


def test_hash_sample_deterministic_and_stratified(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(2000)],
        "doc_id long, lang string",
    )
    t = hash_sample(
        "doc_id", rate_bp=5000, stratum_col="lang",
        stratum_rates_bp={"en": 500},
    )
    kept1 = sorted(r.doc_id for r in df.transform(t).collect())
    kept2 = sorted(
        r.doc_id for r in df.repartition(17).transform(t).collect()
    )
    assert kept1 == kept2  # partitioning-independent
    en = sum(1 for i in kept1 if i % 2 == 0)
    de = len(kept1) - en
    # 1000 docs per stratum at 5% / 50%: generous binomial bounds
    assert 20 <= en <= 90
    assert 380 <= de <= 620
    # boundary rates
    assert df.transform(hash_sample("doc_id", rate_bp=0)).count() == 0
    assert df.transform(hash_sample("doc_id", rate_bp=10_000)).count() == 2000
    # a different salt draws a different sample
    kept3 = sorted(
        r.doc_id
        for r in df.transform(
            hash_sample("doc_id", rate_bp=5000, salt="s2")
        ).collect()
    )
    assert kept3 != sorted(
        r.doc_id
        for r in df.transform(hash_sample("doc_id", rate_bp=5000)).collect()
    )


def test_hash_sample_validation(spark):
    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="rate_bp"):
        hash_sample("doc_id", rate_bp=10_001)
    with pytest.raises(ValueError, match="stratum_col"):
        df.transform(
            hash_sample("doc_id", stratum_rates_bp={"en": 10})
        ).collect()


def test_range_join_property_vs_naive(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        pts=st.lists(
            st.integers(min_value=-100, max_value=100),
            min_size=1, max_size=20, unique=True,
        ),
        ivs=st.lists(
            st.tuples(
                st.integers(min_value=-100, max_value=100),
                st.integers(min_value=0, max_value=60),
            ),
            min_size=1, max_size=10,
        ),
        width=st.sampled_from([1, 7, 64, 1000]),
    )
    def run(pts, ivs, width):
        points = spark.createDataFrame([(p,) for p in pts], "pt long")
        intervals = spark.createDataFrame(
            [(i, lo, lo + ln) for i, (lo, ln) in enumerate(ivs)],
            "iv_id long, lo long, hi long",
        )
        got = sorted(
            (r.pt, r.iv_id)
            for r in points.transform(
                range_join(
                    intervals, "pt", "lo", "hi", bucket_width=width
                )
            ).collect()
        )
        want = sorted(
            (p, i)
            for p in pts
            for i, (lo, ln) in enumerate(ivs)
            if lo <= p <= lo + ln
        )
        assert got == want

    run()


def test_range_join_no_nested_loop_plan(spark):
    points = spark.range(1000).select(F.col("id").alias("pt"))
    intervals = spark.range(100).select(
        F.col("id").alias("iv_id"),
        (F.col("id") * 7).alias("lo"),
        (F.col("id") * 7 + 20).alias("hi"),
    )
    plan = points.transform(
        range_join(intervals, "pt", "lo", "hi", bucket_width=16)
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cc_star_property_vs_union_find(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        edges=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=30),
                st.integers(min_value=0, max_value=30),
            ).filter(lambda e: e[0] != e[1]),
            min_size=1,
            max_size=25,
        )
    )
    def run(edges):
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r.node: r.component
            for r in connected_components(df, algorithm="star").collect()
        }
        assert got == _py_components(edges)

    run()


def test_cc_star_handles_1000_node_path(spark):
    # The chain worst case label propagation CANNOT close within
    # max_iter: a 1000-diameter path needs ~1000 label rounds, but only
    # ~log2(1000)^2 star rounds.  Same output contract.
    edges = [(i, i + 1) for i in range(999)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.node: r.component
        for r in connected_components(
            df, algorithm="star", max_iter=40
        ).collect()
    }
    assert got == {i: 0 for i in range(1000)}


def test_cc_label_raises_rather_than_hangs_on_long_chain(spark):
    # Documents WHY algorithm="star" exists: the default raises once
    # max_iter rounds pass without convergence instead of running a
    # diameter's worth of shuffles.
    edges = [(i, i + 1) for i in range(99)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=5).collect()


def test_cc_algorithm_validation(spark):
    df = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="label.*star|star.*label"):
        connected_components(df, algorithm="bfs")


def test_zorder_key_matches_python_interleave(spark):
    from btc_usdt_etl_pipeline_spark.operators.partitioning import (
        zorder_key,
    )

    rows = [(1, 0.0, 0.0), (2, 255.0, 255.0), (3, 0.0, 255.0),
            (4, 255.0, 0.0), (5, 128.0, 64.0)]
    df = spark.createDataFrame(rows, "id long, x double, y double")

    def py_z(qx, qy):
        z = 0
        for b in range(8):
            z |= ((qx >> b) & 1) << (2 * b)
            z |= ((qy >> b) & 1) << (2 * b + 1)
        return z

    # Fixed bounds [0, 256): quantization is the identity on ints <= 255.
    got = {
        r.id: r.zkey
        for r in df.transform(
            zorder_key(["x", "y"], bits=8,
                       bounds={"x": (0, 256), "y": (0, 256)})
        ).collect()
    }
    exp = {i: py_z(int(x), int(y)) for i, x, y in rows}
    assert got == exp
    # Extremes: (0,0) → 0; (255,255) → 2^16-1.
    assert got[1] == 0 and got[2] == 65535

    # Derived-bounds path: no driver action, same keys as explicit
    # bounds [min, max] — and the in-plan bounds join must stay a hash
    # join (a constant-folded key degrades it to a nested loop).
    z2 = df.transform(zorder_key(["x", "y"], bits=8))
    assert "NestedLoop" not in z2._jdf.queryExecution().executedPlan().toString()
    assert z2.count() == len(rows)


def test_zorder_key_rejects_oversized_interleave(spark):
    import pytest

    from btc_usdt_etl_pipeline_spark.operators.partitioning import (
        zorder_key,
    )

    with pytest.raises(ValueError, match="64-bit"):
        zorder_key([f"c{i}" for i in range(9)], bits=8)(
            spark.range(1).selectExpr(
                *[f"id AS c{i}" for i in range(9)]
            )
        )


def test_pagerank_matches_python_reference(spark):
    """Fixed-iteration PageRank against a direct Python power iteration
    on a small asymmetric graph (hub 1 should out-rank the spokes)."""
    from btc_usdt_etl_pipeline_spark.operators.graph import pagerank

    edge_list = [
        (2, 1), (3, 1), (4, 1), (5, 1),   # spokes point at hub 1
        (1, 2),                            # hub points back at 2 only
        (2, 3), (3, 4), (4, 5), (5, 2),   # spoke ring
    ]
    df = spark.createDataFrame(edge_list, "src long, dst long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, iterations=6, damping=0.85).collect()
    }

    nodes = sorted({u for e in edge_list for u in e})
    n = len(nodes)
    outdeg = {u: sum(1 for a, _ in edge_list if a == u) for u in nodes}
    r = {u: 1.0 / n for u in nodes}
    for _ in range(6):
        contrib = {u: 0.0 for u in nodes}
        for a, b in edge_list:
            contrib[b] += round(r[a] / outdeg[a], 12)
        r = {
            u: (1.0 - 0.85) / n + 0.85 * contrib[u] for u in nodes
        }
    for u in nodes:
        assert got[u] == pytest.approx(round(r[u], 10), abs=1e-9)
    # node 2 receives the hub's ENTIRE rank (hub out-degree 1) plus a
    # spoke share, so it tops the ranking; the hub is second
    order = sorted(got, key=lambda u: -got[u])
    assert order[:2] == [2, 1]
    assert abs(sum(got.values()) - 1.0) < 1e-6  # mass conserved


def test_pagerank_property_random_graphs(spark):
    """For ANY directed graph where every node has an out-edge: rank
    mass is conserved (Σr = 1), every rank sits at or above the
    teleport floor, and the result is invariant under input
    repartitioning and edge-list duplication (dedup inside)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from btc_usdt_etl_pipeline_spark.operators.graph import pagerank

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        n_nodes=st.integers(min_value=2, max_value=24),
        extra=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=23),
                st.integers(min_value=0, max_value=23),
            ),
            max_size=40,
        ),
    )
    def run(n_nodes, extra):
        # ring guarantees every node has an out-edge; extras add chaos
        edge_list = [(i, (i + 1) % n_nodes) for i in range(n_nodes)]
        edge_list += [
            (a % n_nodes, b % n_nodes)
            for a, b in extra
            if a % n_nodes != b % n_nodes
        ]
        df = spark.createDataFrame(edge_list, "src long, dst long")
        got = {
            r["node"]: r["rank"]
            for r in pagerank(df, iterations=5).collect()
        }
        assert len(got) == n_nodes
        assert abs(sum(got.values()) - 1.0) < 1e-6
        floor = (1.0 - 0.85) / n_nodes
        assert all(r >= floor - 1e-9 for r in got.values())
        # determinism under physical layout + duplicated edges
        dup = df.union(df).repartition(5)
        got2 = {
            r["node"]: r["rank"]
            for r in pagerank(dup, iterations=5).collect()
        }
        assert got2 == got

    run()


def test_weighted_pagerank_follows_weights(spark):
    """Weighted PageRank: mass conserved, w=1 equals the unweighted
    result bit-for-bit, duplicate weighted edges merge by summing, and
    a dominant-weight edge pulls rank toward its target."""
    from btc_usdt_etl_pipeline_spark.operators.graph import pagerank

    # triangle where 1 -> 2 carries 9x the weight of 1 -> 3
    rows = [(1, 2, 9.0), (1, 3, 1.0), (2, 1, 1.0), (3, 1, 1.0)]
    df = spark.createDataFrame(rows, "src long, dst long, w double")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, iterations=8, weight="w").collect()
    }
    assert abs(sum(got.values()) - 1.0) < 1e-6
    assert got[2] > got[3]  # the heavy edge concentrates rank

    # w = 1 path is bit-identical to the unweighted operator
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    ew = e.withColumn("w", F.lit(1.0))
    a = sorted(pagerank(e, iterations=5).collect())
    b = sorted(pagerank(ew, iterations=5, weight="w").collect())
    assert a == b

    # duplicate weighted edges merge (weights sum), equal to pre-merged
    dup = spark.createDataFrame(
        [(1, 2, 4.0), (1, 2, 5.0), (1, 3, 1.0), (2, 1, 1.0),
         (3, 1, 1.0)],
        "src long, dst long, w double",
    )
    c = sorted(pagerank(dup, iterations=8, weight="w").collect())
    d = sorted(pagerank(df, iterations=8, weight="w").collect())
    assert c == d


def test_weighted_pagerank_rejects_invalid_weights(spark):
    """Null / zero / negative / NaN weights fail fast instead of
    silently corrupting rank mass (null contributions are dropped by
    the sum, NaN propagates through every downstream rank — and NaN
    needs its own predicate arm, since Spark orders NaN GREATER than
    any number so ``w <= 0`` never catches it)."""
    from btc_usdt_etl_pipeline_spark.operators.graph import pagerank

    for bad in (0.0, -1.0, None, float("nan")):
        df = spark.createDataFrame(
            [(1, 2, 1.0), (2, 1, bad)], "src long, dst long, w double"
        )
        with pytest.raises(ValueError, match="weights"):
            pagerank(df, iterations=2, weight="w")


def test_triangle_count_known_graphs(spark):
    """Exact counts on graphs with known answers: K4 has 4 triangles
    and 4 nodes/6 edges; adding a pendant vertex adds 0 triangles; a
    4-cycle has 0; duplicate/reversed/self-loop edges must not change
    any count (canonicalization)."""
    from btc_usdt_etl_pipeline_spark.operators.graph import triangle_count

    def tc(rows):
        df = spark.createDataFrame(rows, "src long, dst long")
        return triangle_count(df).collect()[0]

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    r = tc(k4)
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 6, 4)

    messy = k4 + [(b, a) for a, b in k4] + [(2, 2), (0, 1), (3, 4)]
    r = tc(messy)
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (5, 7, 4)

    cycle4 = [(0, 1), (1, 2), (2, 3), (3, 0)]
    r = tc(cycle4)
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 4, 0)
    # orientation audit: every triangle is counted from exactly one
    # wedge, so wedges >= triangles always
    assert r.n_wedges >= r.n_triangles

    # regression: the closing-edge lookup must be ID-canonicalized,
    # not (degree, id)-oriented.  Here deg(2)=4 > deg(3)=2 so the
    # 2-3 edge orients as 3->2, while the wedge at pivot 1 looks up
    # (2, 3) — a (degree, id)-oriented closing set misses the
    # triangle {1,2,3} entirely (returned 0).
    skew = [(1, 2), (2, 3), (1, 3), (2, 4), (2, 5)]
    r = tc(skew)
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (5, 5, 1)

    # and its mirror where the hub is the LOW id: deg(1)=4 > deg(3)
    skew2 = [(1, 2), (1, 3), (2, 3), (1, 4), (1, 5)]
    r = tc(skew2)
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (5, 5, 1)


def test_pagerank_broadcast_and_shuffle_paths_identical(spark, monkeypatch):
    """The node-count auto-switch picks between a broadcast-rank loop
    and a shuffle loop; both must produce BIT-identical ranks — the
    decimal contribution sums are order-free and the broadcast path's
    implicit teleport default is an IEEE identity.  Graph includes a
    source-only node (5 -> in-degree-0) to exercise the implicit
    densify-at-the-end branch."""
    import btc_usdt_etl_pipeline_spark.operators.graph as G
    from btc_usdt_etl_pipeline_spark.operators.graph import pagerank

    def shuffled(df, **kw):
        with monkeypatch.context() as m:
            m.setattr(G, "_BROADCAST_NODES_MAX", 0)
            return sorted(pagerank(df, iterations=7, **kw).collect())

    rows = [
        (1, 2), (2, 3), (3, 1),       # cycle
        (4, 1), (1, 4),               # tail pair
        (5, 1), (5, 2), (5, 3),       # 5 has out-edges only
    ]
    df = spark.createDataFrame(rows, "src long, dst long")
    bcast = sorted(pagerank(df, iterations=7).collect())
    shuf = shuffled(df)
    assert bcast == shuf
    # in-degree-0 node 5 sits exactly at the teleport floor
    got = {r["node"]: r["rank"] for r in bcast}
    assert got[5] == pytest.approx((1.0 - 0.85) / 5, abs=1e-9)

    wrows = [(a, b, float(a + b)) for a, b in rows]
    wdf = spark.createDataFrame(wrows, "src long, dst long, w double")
    wb = sorted(pagerank(wdf, iterations=7, weight="w").collect())
    ws = shuffled(wdf, weight="w")
    assert wb == ws


def test_group_preserving_split_no_straddle(spark):
    """Rows sharing a group NEVER straddle splits; proportions are
    near the boundaries; assignment is stable under corpus growth
    (existing groups keep their split when new rows arrive); bad
    boundary specs are rejected."""
    import pytest as _pytest

    from btc_usdt_etl_pipeline_spark.operators.sampling import (
        group_preserving_split,
    )

    df = spark.createDataFrame(
        [(i, i % 200) for i in range(2000)], "row_id long, grp long"
    )
    out = df.transform(group_preserving_split("grp")).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r.grp, set()).add(r.split)
    assert all(len(s) == 1 for s in by_grp.values()), "group straddles"
    from collections import Counter

    frac = Counter(next(iter(s)) for s in by_grp.values())
    assert 0.70 <= frac["train"] / 200 <= 0.90
    assert frac["val"] > 0 and frac["test"] > 0

    # growth stability: doubling rows never moves an existing group
    grown = df.union(
        spark.createDataFrame(
            [(10_000 + i, 200 + i % 100) for i in range(1000)],
            "row_id long, grp long",
        )
    )
    out2 = {
        r.grp: r.split
        for r in grown.transform(group_preserving_split("grp")).collect()
    }
    for g, s in by_grp.items():
        assert out2[g] == next(iter(s))

    with _pytest.raises(ValueError, match="100"):
        group_preserving_split("grp", {"train": 80, "test": 99})

"""Similarity-search tests: brute force against numpy ground truth; IVF
and LSH against brute force (recall semantics)."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.operators.similarity import (
    brute_force_top_k,
    cosine_pairs_within,
    ivf_top_k,
    lsh_top_k,
    recall_at_k,
)

DIM = 8


def _vectors(spark, n=60, clusters=4, seed=7):
    rng = random.Random(seed)
    centers = [
        [rng.uniform(-1, 1) for _ in range(DIM)] for _ in range(clusters)
    ]
    rows = []
    for i in range(n):
        c = centers[i % clusters]
        rows.append(
            (i, [x + rng.uniform(-0.05, 0.05) for x in c], i % clusters)
        )
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )


def _py_cosine(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb)


def test_brute_force_matches_python(spark):
    vecs = _vectors(spark)
    data = {r.vec_id: r.embedding for r in vecs.collect()}
    q = vecs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = brute_force_top_k(vecs, q, k=5).collect()
    for qid in (0, 1):
        expect = sorted(
            ((_py_cosine(data[qid], v), i) for i, v in data.items() if i != qid),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        mine = sorted(
            [(r.cosine, r.vec_id) for r in got if r.query_id == qid],
            key=lambda t: (-t[0], t[1]),
        )
        assert [i for _, i in mine] == [i for _, i in expect]
        for (c1, _), (c2, _) in zip(mine, expect):
            assert abs(c1 - c2) < 1e-9


def test_ivf_full_probe_equals_brute_force(spark):
    # Probing every cell makes IVF exhaustive — must equal brute force.
    vecs = _vectors(spark)
    cent = vecs.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    q = vecs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # round_dp=9: effectively no rounding, so ordering ties cannot differ
    # from the raw-cosine brute force.
    ivf = ivf_top_k(vecs, q, cent, k=5, nprobe=4, round_dp=9).collect()
    bf = brute_force_top_k(vecs, q, k=5).collect()
    key = lambda r: (r.query_id, r.rnk)  # noqa: E731
    assert sorted((r.query_id, r.rnk, r.vec_id) for r in ivf) == sorted(
        (r.query_id, r.rnk, r.vec_id) for r in bf
    )


def test_ivf_narrow_probe_high_recall_on_clustered_data(spark):
    # Clustered data: the query's own cluster centroid dominates, so even
    # nprobe=2 of 4 cells keeps most of the true top-5.
    vecs = _vectors(spark)
    cent = vecs.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    q = vecs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = {(r.query_id, r.vec_id) for r in ivf_top_k(vecs, q, k=5, nprobe=2,
                                                     centroids=cent).collect()}
    bf = {(r.query_id, r.vec_id) for r in brute_force_top_k(vecs, q, k=5).collect()}
    recall = len(ivf & bf) / len(bf)
    assert recall >= 0.8


def test_lsh_results_subset_of_exact_scores(spark):
    vecs = _vectors(spark)
    data = {r.vec_id: r.embedding for r in vecs.collect()}
    q = vecs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = lsh_top_k(vecs, q, k=5, dim=DIM, planes=4, tables=4).collect()
    assert len(got) > 0
    for r in got:
        assert abs(r.cosine - _py_cosine(data[r.query_id], data[r.vec_id])) < 1e-9


def test_cosine_pairs_within_blocks(spark):
    vecs = _vectors(spark)
    pairs = vecs.transform(cosine_pairs_within("label", k=2)).collect()
    labels = {r.vec_id: r.label for r in vecs.collect()}
    assert len(pairs) == 8  # 4 labels × top-2
    for p in pairs:
        assert labels[p.id_a] == labels[p.id_b] == p.label
        assert p.rnk in (1, 2)


def test_recall_at_k_arithmetic(spark):
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)], "query_id long, vec_id long"
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 99)], "query_id long, vec_id long"
    )
    got = {
        r.query_id: (r.n_exact, r.n_hit, r.recall)
        for r in recall_at_k(approx, exact).collect()
    }
    # query 1: one of two exact neighbors found; query 2: absent from the
    # approx result entirely -> 0 hits, not a missing row.
    assert got == {1: (2, 1, 0.5), 2: (2, 0, 0.0)}


def test_ivf_lsh_recall_floor_testdata(spark):
    # Recall@10 floors on the driver-generated embeddings (sf0.001,
    # 500x64).  Every input and both index constructions are fully
    # deterministic (no RNG), so the measured recalls are exact
    # reproducible values -- floors sit ~0.05 under the measurement
    # (tools/ann_recall.py; table in SCALE.md).  Guards against a
    # bucketing/probe regression silently gutting ANN quality while the
    # oracle replay (which pins the DEFINED approximation) stays green.
    e = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        .cache()
    )
    queries = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    exact = brute_force_top_k(e, queries, k=10).cache()

    def mean_recall(approx):
        return recall_at_k(approx, exact).agg(
            F.avg("recall").alias("m")
        ).first()["m"]

    ivf4 = mean_recall(ivf_top_k(e, queries, centroids, k=10, nprobe=4))
    ivf8 = mean_recall(ivf_top_k(e, queries, centroids, k=10, nprobe=8))
    lsh = mean_recall(lsh_top_k(e, queries, k=10, planes=4, tables=4))
    assert ivf4 >= 0.55  # measured 0.620
    assert ivf8 >= 0.70  # measured 0.782
    assert ivf8 > ivf4  # more probes must not hurt recall
    assert lsh >= 0.35  # measured 0.436
    # Multi-probe (score-ordered 1-/2-bit flips): same index as the
    # single-probe rows, query-side probes only.  probes=6 at
    # planes=6/tables=2 lifts 0.098 -> 0.442; tables=4 reaches 0.706 --
    # above IVF-nprobe4 (0.620) at ~1.5x its candidate volume.
    mp_base = mean_recall(lsh_top_k(e, queries, k=10, planes=6, tables=2))
    mp2 = mean_recall(
        lsh_top_k(e, queries, k=10, planes=6, tables=2, probes=6)
    )
    mp4 = mean_recall(
        lsh_top_k(e, queries, k=10, planes=6, tables=4, probes=6)
    )
    assert mp2 >= 0.39  # measured 0.442
    assert mp4 >= 0.65  # measured 0.706
    assert mp2 > mp_base  # probing must not hurt recall
    e.unpersist()
    exact.unpersist()


def test_semdedup_greedy_keep_rule(spark):
    """Chain a~b, b~c with a!~c: the EXISTS-based greedy rule keeps only
    the smallest id per similar-neighborhood (b and c both have a
    smaller similar neighbor), and cross-cell twins are never compared."""
    from btc_usdt_etl_pipeline_spark.operators.similarity import semdedup

    # 2-d embeddings: cell 0 centroid points +x, cell 1 points +y.
    import math

    def rot(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    corpus = spark.createDataFrame(
        [
            (10, rot(0.0)),    # cell 0
            (11, rot(10.0)),   # cell 0, cos(10,11)=cos10° ≈ .9848 ≥ τ=.98
            (12, rot(20.0)),   # cell 0, cos(11,12) ≥ τ but cos(10,12) < τ
            (13, rot(44.0)),   # cell 0 (x wins tie), far from all
            (20, rot(90.0)),   # cell 1 — same direction as 21
            (21, rot(90.0)),   # cell 1 exact twin of 20
        ],
        "vec_id long, embedding array<double>",
    )
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id long, embedding array<double>",
    )
    rows = semdedup(corpus, cent, threshold=0.98).collect()
    got = {r.vec_id: (r.centroid_id, r.kept) for r in rows}
    assert got == {
        10: (0, True),   # smallest in its neighborhood
        11: (0, False),  # 10 ~ 11
        12: (0, False),  # 11 ~ 12 (greedy: smaller SIMILAR id exists)
        13: (0, True),   # nobody within τ
        20: (1, True),   # cell-1 representative
        21: (1, False),  # exact twin of 20
    }


def test_semdedup_blas_matches_expr(spark):
    """The GEMM scale path and the JVM expr path agree row-for-row on
    the driver embeddings fixture (same 4dp-rounded arithmetic)."""
    from btc_usdt_etl_pipeline_spark.operators.similarity import semdedup

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = e.filter("vec_id < 16").selectExpr(
        "vec_id AS centroid_id", "embedding"
    )
    expr = {
        (r.vec_id, r.centroid_id, r.kept)
        for r in semdedup(e, cent, threshold=0.35).collect()
    }
    blas = {
        (r.vec_id, r.centroid_id, r.kept)
        for r in semdedup(e, cent, threshold=0.35, method="blas").collect()
    }
    assert expr == blas and len(expr) > 0


def test_semdedup_fence_bounds_and_parity(spark):
    """The cell-size fence (q292 contract shared via _cell_fence):
    expr and blas agree under the fence, the audit columns report the
    resharded mass, sub-cell kept-mass is a superset of the unfenced
    kept set (sharding can only REMOVE candidate pairs, so kept flags
    only flip False->True), and a no-fence report_splits call emits
    zeros."""
    from btc_usdt_etl_pipeline_spark.operators.similarity import semdedup

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = e.filter("vec_id < 2").selectExpr(
        "vec_id AS centroid_id", "embedding"
    )  # 2 cells over 500 vecs -> every cell oversize at cap 25
    kw = dict(
        threshold=0.35,
        max_cell_rows=25,
        portable_split=True,
        report_splits=True,
    )
    expr_rows = semdedup(e, cent, **kw).collect()
    blas_rows = semdedup(e, cent, method="blas", **kw).collect()
    canon = lambda rows: {  # noqa: E731
        (r.vec_id, r.centroid_id, r.kept) for r in rows
    }
    assert canon(expr_rows) == canon(blas_rows)
    n = e.count()
    assert all(
        r.cells_split == 2 and r.rows_resharded == n for r in expr_rows
    )
    unfenced_kept = {
        r.vec_id for r in semdedup(e, cent, threshold=0.35).collect()
        if r.kept
    }
    fenced_kept = {r.vec_id for r in expr_rows if r.kept}
    assert unfenced_kept <= fenced_kept
    assert len(fenced_kept) < n  # fence still finds duplicates
    zeros = semdedup(
        e, cent, threshold=0.35, report_splits=True
    ).collect()
    assert all(
        r.cells_split == 0 and r.rows_resharded == 0 for r in zeros
    )


def test_round_half_up_matches_spark_round(spark):
    """The GEMM kernels' rounding must match F.round (BigDecimal
    HALF_UP) on exact midpoints — np.round's half-even would diverge
    on half the midpoint cases."""
    import numpy as np

    from btc_usdt_etl_pipeline_spark.operators.similarity import (
        _round_half_up,
    )

    # 4dp midpoints (exactly representable scaled halves) + regulars.
    vals = [0.56785, 0.56775, -0.56785, -0.56775, 0.12345, 0.9999,
            -0.00005, 0.00005, 1.0, -1.0, 0.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    spark_rounded = [
        r.r for r in df.select(F.round("x", 4).alias("r")).collect()
    ]
    ours = _round_half_up(np.array(vals), 4).tolist()
    assert ours == spark_rounded


def test_portable_hash_changes_buckets_not_pair_semantics(spark):
    """The md5 ``portable=True`` family exists ONLY so a SQL oracle can
    replay bucket ids; production runs ``portable=False`` (xxhash64).
    Swapping families may change WHICH candidates the buckets propose —
    never pair semantics:

    - simhash: identical texts collide to identical fingerprints under
      BOTH families (exact-dup collision is hash-family-independent),
      and each family is deterministic across repeated runs;
    - lsh_top_k: for every (query, neighbor) pair surfaced by BOTH
      families the attached cosine is IDENTICAL (scoring is hash-free —
      hashing only routes candidates), and production recall clears the
      same floor as the portable config at planes=6/tables=4/probes=6.
    """
    from btc_usdt_etl_pipeline_spark.operators.dedup import simhash

    docs = spark.createDataFrame(
        [(i, f"common prefix words here variant {i % 7} tail") for i in range(40)]
        + [(100, "an exactly duplicated document body"),
           (101, "an exactly duplicated document body")],
        "doc_id long, text string",
    )
    for portable in (False, True):
        fp = {
            r.doc_id: r.simhash
            for r in docs.transform(
                simhash(portable=portable)
            ).collect()
        }
        fp2 = {
            r.doc_id: r.simhash
            for r in docs.transform(
                simhash(portable=portable)
            ).collect()
        }
        assert fp == fp2  # deterministic within a family
        assert fp[100] == fp[101]  # exact dups collide in any family

    e = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        .cache()
    )
    queries = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_top_k(e, queries, k=10).cache()

    def run(portable):
        return lsh_top_k(
            e, queries, k=10, planes=6, tables=4, probes=6,
            portable=portable,
        ).cache()

    prod, replay = run(False), run(True)
    # shared pairs score identically (bit-for-bit: same cosine fold)
    joined = prod.alias("p").join(
        replay.alias("r"), ["query_id", "vec_id"]
    ).select(F.col("p.cosine").alias("cp"), F.col("r.cosine").alias("cr"))
    diffs = joined.filter(F.col("cp") != F.col("cr")).count()
    assert diffs == 0 and joined.count() > 0

    def mean_recall(approx):
        return recall_at_k(approx, exact).agg(
            F.avg("recall").alias("m")
        ).first()["m"]

    assert mean_recall(prod) >= 0.60  # portable config floor is 0.65;
    # different buckets => slightly different recall is expected, but
    # the production family must stay in the same quality band
    for d in (e, exact, prod, replay):
        d.unpersist()


def test_knn_outlier_scores_matches_python(spark):
    """Cell-blocked kNN mean-distance vs a python reference, plus the
    planted-outlier property: the isolated vector scores highest."""
    import math
    import random

    import pytest
    from pyspark.sql import functions as F

    from btc_usdt_etl_pipeline_spark.operators.similarity import (
        knn_outlier_scores,
    )

    rng = random.Random(288)
    dim = 8
    base = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(3)]
    vecs = []
    for i in range(60):
        c = base[i % 3]
        vecs.append((i, [x + rng.gauss(0, 0.05) for x in c]))
    vecs.append((60, [100.0] + [0.0] * (dim - 1)))  # planted outlier
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<float>",
    )
    cent = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    out = {
        r["vec_id"]: r
        for r in knn_outlier_scores(df, cent, k=4).collect()
    }

    # python reference (float32-exact inputs, 4dp-rounded cosines)
    from decimal import Decimal, ROUND_HALF_UP

    def r4(x):
        return float(
            Decimal(x).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )

    import struct

    def f32(v):
        return [struct.unpack("f", struct.pack("f", x))[0] for x in v]

    pv = {i: f32(v) for i, v in vecs}

    def cos(a, b):
        da = math.sqrt(sum(x * x for x in a))
        db = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (da * db)

    cells = {}
    for i, v in pv.items():
        best = max(
            range(3), key=lambda c: (r4(cos(v, pv[c])), -c)
        )
        cells[i] = best
    for i, v in pv.items():
        mates = [
            (r4(cos(v, pv[j])), j)
            for j in pv
            if j != i and cells[j] == cells[i]
        ]
        mates.sort(key=lambda t: (-t[0], t[1]))
        topk = mates[:4]
        r = out[i]
        assert r["centroid_id"] == cells[i]
        assert r["n_neighbors"] == len(topk)
        if topk:
            want = sum(round(1.0 - s, 6) for s, _ in topk) / len(topk)
            assert r["knn_dist"] == pytest.approx(want, abs=1e-6)
    # the planted outlier has the largest score in its cell
    cell_of_out = out[60]["centroid_id"]
    peers = [
        r["knn_dist"]
        for r in out.values()
        if r["centroid_id"] == cell_of_out and r["knn_dist"] is not None
    ]
    assert out[60]["knn_dist"] == max(peers)
    assert out[60]["knn_dist"] > 0.3
    inliers = sorted(peers)[: len(peers) // 2]
    assert all(out[60]["knn_dist"] > 10 * d for d in inliers if d > 0)


def test_knn_outlier_blas_bit_identical_to_expr(spark):
    import random

    from pyspark.sql import functions as F

    from btc_usdt_etl_pipeline_spark.operators.similarity import (
        knn_outlier_scores,
    )

    rng = random.Random(2882)
    df = spark.createDataFrame(
        [
            (i, [float(rng.gauss(0, 1)) for _ in range(16)])
            for i in range(120)
        ],
        "vec_id long, embedding array<float>",
    )
    cent = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    ex = sorted(
        map(tuple, knn_outlier_scores(df, cent, k=3).collect())
    )
    bl = sorted(
        map(
            tuple,
            knn_outlier_scores(df, cent, k=3, method="blas").collect(),
        )
    )
    assert ex == bl  # bit-identical, not approx


def test_knn_outlier_max_cell_rows_fence(spark):
    """The cell-size contract IN CODE (r11 ask #4): oversize cells
    shard into ceil(|cell|/max_cell_rows) deterministic hash
    sub-cells; neighbors come from the sub-cell; the audit columns
    carry the exact resharded mass; expr == blas bit-for-bit; and the
    pair mass is provably linear (every sub-cell is enumerable from
    the same portable hash the operator used)."""
    import hashlib
    import math
    import random
    import struct

    import pytest
    from decimal import Decimal, ROUND_HALF_UP

    from pyspark.sql import functions as F

    from btc_usdt_etl_pipeline_spark.operators.similarity import (
        knn_outlier_scores,
    )

    rng = random.Random(292)
    df = spark.createDataFrame(
        [
            (i, [float(rng.gauss(0, 1)) for _ in range(8)])
            for i in range(90)
        ],
        "vec_id long, embedding array<float>",
    )
    cent = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    kw = dict(
        k=3, max_cell_rows=10, portable_split=True, report_splits=True
    )
    rows = knn_outlier_scores(df, cent, **kw).collect()
    out = {r["vec_id"]: r for r in rows}
    assert len(out) == 90

    # ---- python replay of the whole fenced pipeline ----
    def r4(x):
        return float(
            Decimal(x).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )

    def f32(v):
        return [struct.unpack("f", struct.pack("f", x))[0] for x in v]

    pv = {
        r["vec_id"]: f32(r["embedding"])
        for r in df.collect()
    }

    def cos(a, b):
        da = math.sqrt(sum(x * x for x in a))
        db = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (da * db)

    cells = {
        i: max(range(2), key=lambda c: (r4(cos(v, pv[c])), -c))
        for i, v in pv.items()
    }
    csz = {c: sum(1 for x in cells.values() if x == c) for c in (0, 1)}
    nsub = {c: (csz[c] + 9) // 10 for c in csz}

    def h60(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)

    sub = {i: h60(i) % nsub[cells[i]] for i in pv}
    want_split = sum(1 for c in nsub if nsub[c] > 1)
    want_mass = sum(csz[c] for c in nsub if nsub[c] > 1)
    pair_mass = 0
    for i, v in pv.items():
        mates = [
            (r4(cos(v, pv[j])), j)
            for j in pv
            if j != i and cells[j] == cells[i] and sub[j] == sub[i]
        ]
        pair_mass += len(mates)
        mates.sort(key=lambda t: (-t[0], t[1]))
        topk = mates[:3]
        r = out[i]
        assert r["centroid_id"] == cells[i]
        assert r["n_neighbors"] == len(topk)
        assert r["cells_split"] == want_split
        assert r["rows_resharded"] == want_mass
        if topk:
            want = sum(round(1.0 - s, 6) for s, _ in topk) / len(topk)
            assert r["knn_dist"] == pytest.approx(want, abs=1e-6)
        else:
            assert r["knn_dist"] is None
    # both 45-row cells shard (ceil(45/10)=5 sub-cells each) and the
    # total pair mass is linear: <= n * max_cell_rows
    assert want_split == 2 and want_mass == 90
    assert pair_mass <= 90 * 10

    # blas path: same fence, bit-identical output
    bl = sorted(
        map(
            tuple,
            knn_outlier_scores(
                df, cent, method="blas", **kw
            ).collect(),
        )
    )
    assert bl == sorted(map(tuple, rows))

    # no fence + report_splits -> zero audit columns, never silence
    z = knn_outlier_scores(df, cent, k=3, report_splits=True).collect()
    assert all(
        r["cells_split"] == 0 and r["rows_resharded"] == 0 for r in z
    )
    with pytest.raises(ValueError):
        knn_outlier_scores(df, cent, k=3, max_cell_rows=1)


def test_lsh_staged_dots_match_inlined_folds(spark):
    """r14: lsh_top_k stages each (table, plane) dot product as ONE
    projected column that bucket packing and probe scoring both
    reference (the r13 shape re-inlined the fold into every consumer —
    21 probe-mask structs × planes, seconds of analysis/codegen even on
    a 5-row query side).  The staged bucket keys must be BIT-identical
    to the r13 inlined expression shape — same base buckets, same probe
    sequences — in portable and xxhash modes, incl. ragged vectors."""
    import random as _r

    from pyspark.sql import functions as F

    from btc_usdt_etl_pipeline_spark.operators.similarity import (
        _srp_bucket,
        _srp_fold,
        _srp_pack,
        _srp_table_keys,
    )

    rng = _r.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(120)
    ]
    rows += [(900, [0.5] * 8), (901, [0.25] * 24)]  # ragged
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes, tables, probes = 5, 3, 4

    def inlined_keys(vec, table):
        # the r13 _srp_table_keys, reconstructed verbatim
        base = _srp_bucket(vec, table, planes, portable)
        masks = [((p,), 1 << p) for p in range(planes)] + [
            ((p, r), (1 << p) | (1 << r))
            for p in range(planes)
            for r in range(p + 1, planes)
        ]
        dots = {
            p: F.abs(_srp_fold(vec, table, p, portable))
            for p in range(planes)
        }

        def score(ps):
            s = dots[ps[0]]
            for p in ps[1:]:
                s = s + dots[p]
            return s

        chosen = F.slice(
            F.array_sort(
                F.array(
                    *[
                        F.struct(score(ps).alias("a"), F.lit(m).alias("m"))
                        for ps, m in masks
                    ]
                )
            ),
            1,
            min(probes, len(masks)),
        )
        return F.concat(
            F.array(base),
            F.transform(chosen, lambda s: base.bitwiseXOR(s["m"])),
        )

    for portable in (True, False):
        old = df.select(
            "vec_id",
            F.array(
                *[inlined_keys(F.col("embedding"), t) for t in range(tables)]
            ).alias("keys"),
        )
        sel = [F.col("vec_id")]
        for t in range(tables):
            for p in range(planes):
                sel.append(
                    _srp_fold(F.col("embedding"), t, p, portable).alias(
                        f"_d_{t}_{p}"
                    )
                )
        new = df.select(*sel).select(
            "vec_id",
            F.array(
                *[
                    _srp_table_keys(
                        _srp_pack(
                            [F.col(f"_d_{t}_{p}") for p in range(planes)]
                        ),
                        [
                            F.abs(F.col(f"_d_{t}_{p}"))
                            for p in range(planes)
                        ],
                        probes,
                    )
                    for t in range(tables)
                ]
            ).alias("keys"),
        )
        got = {r["vec_id"]: r["keys"] for r in new.collect()}
        want = {r["vec_id"]: r["keys"] for r in old.collect()}
        assert got == want

"""Empty-input robustness: every operator family must return an empty
(but correctly-typed) result on zero rows, not raise mid-plan-build.

At 100 TB a partition-pruned read, a dry landing directory, or an
upstream filter that matches nothing all produce empty DataFrames; an
operator that crashes on them takes the whole pipeline down."""

from __future__ import annotations

from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.operators.asof import asof_join
from btc_usdt_etl_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_near_dedup,
    ngram_jaccard_pairs,
    simhash,
)
from btc_usdt_etl_pipeline_spark.operators.graph import (
    bfs_distances,
    connected_components,
    kcore_peel,
    label_propagation,
)
from btc_usdt_etl_pipeline_spark.operators.relational import range_join
from btc_usdt_etl_pipeline_spark.operators.resample import (
    resample_by_count,
    resample_by_time,
)
from btc_usdt_etl_pipeline_spark.operators.sampling import hash_sample
from btc_usdt_etl_pipeline_spark.operators.similarity import lsh_top_k
from tests.conftest import plain_and_scaled


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def test_dedup_family_empty(spark):
    d = _empty_docs(spark)
    assert d.transform(exact_dedup(["text"], "doc_id")).count() == 0
    assert (
        d.transform(
            minhash_near_dedup(text_col="text", id_col="doc_id")
        ).count()
        == 0
    )
    assert (
        d.transform(ngram_jaccard_pairs(n=3, unit="token")).count() == 0
    )
    assert d.transform(simhash()).count() == 0


def test_asof_empty_left_and_both(spark):
    left = spark.createDataFrame([], "t long")
    right = spark.createDataFrame([], "t long, px double")
    assert asof_join(left, right, "t").count() == 0
    some_right = spark.createDataFrame([(1, 2.0)], "t long, px double")
    assert asof_join(left, some_right, "t").count() == 0


def test_resample_empty(spark, scale_paths):
    df = spark.createDataFrame(
        [], "open_time long, open double, high double, low double, "
        "close double, number_of_trades long",
    )
    for out in plain_and_scaled(
        scale_paths, lambda: df.transform(resample_by_count()), "_offset"
    ):
        assert out.count() == 0
    assert df.transform(resample_by_count()).count() == 0
    tdf = spark.createDataFrame([], "event_time timestamp, open double, "
                                    "high double, low double, close double, "
                                    "number_of_trades long")
    assert tdf.transform(resample_by_time()).count() == 0


def test_graph_sampling_range_empty(spark):
    edges = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(edges).count() == 0
    # the convergence fingerprint of an empty checkpoint must return
    assert connected_components(edges, algorithm="star").count() == 0
    sd = spark.createDataFrame([], "src long, dst long")
    assert label_propagation(sd).count() == 0
    assert kcore_peel(sd, k=2).count() == 0
    no_seeds = spark.createDataFrame([], "node long")
    assert bfs_distances(sd, no_seeds).count() == 0
    docs = _empty_docs(spark)
    assert docs.transform(hash_sample("doc_id", rate_bp=5000)).count() == 0
    points = spark.createDataFrame([], "pt long")
    ivs = spark.createDataFrame([], "iv_id long, lo long, hi long")
    assert (
        points.transform(
            range_join(ivs, "pt", "lo", "hi", bucket_width=10)
        ).count()
        == 0
    )


def test_lsh_empty_corpus_typed_result(spark):
    corpus = spark.createDataFrame([], "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(1, [0.1, 0.2])], "query_id long, embedding array<float>"
    )
    out = lsh_top_k(corpus, queries)
    assert out.count() == 0
    assert out.columns == ["query_id", "vec_id", "cosine", "rnk"]


def test_lsh_plan_construction_fires_no_job(spark):
    """Hyperplanes are sized per-row at runtime: building the LSH plan
    must not trigger a dimensionality probe job."""
    corpus = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.3, 0.4])],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(9, [0.1, 0.2])], "query_id long, embedding array<float>"
    )
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("lsh-plan", "plan-only")
    try:
        planned = lsh_top_k(corpus, queries, k=1)
    finally:
        spark.sparkContext.setJobGroup(None, None)
    assert tracker.getJobIdsForGroup("lsh-plan") == []
    rows = planned.collect()
    assert rows and rows[0].vec_id == 1


def test_round5_operators_empty(spark):
    from btc_usdt_etl_pipeline_spark.ml.features import srp_project
    from btc_usdt_etl_pipeline_spark.operators.partitioning import (
        zorder_key,
    )
    from btc_usdt_etl_pipeline_spark.operators.quality import (
        completeness,
        expectations,
    )
    from btc_usdt_etl_pipeline_spark.operators.similarity import semdedup
    from btc_usdt_etl_pipeline_spark.operators.sketch import (
        cms_heavy_hitters,
    )
    from btc_usdt_etl_pipeline_spark.operators.text import (
        bigram_lm_score,
        chunk_documents,
        pii_redact,
    )

    d = _empty_docs(spark)
    assert d.transform(pii_redact("text")).count() == 0
    assert d.transform(bigram_lm_score("text", "doc_id")).count() == 0
    assert d.transform(chunk_documents("text", "doc_id")).count() == 0

    toks = spark.createDataFrame([], "tok string")
    assert toks.transform(cms_heavy_hitters("tok", 3, 8, 5)).count() == 0

    vecs = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0])], "centroid_id long, embedding array<double>"
    )
    for method in ("expr", "blas"):
        assert semdedup(vecs, cent, 0.9, method=method).count() == 0

    xy = spark.createDataFrame([], "id long, x double, y double")
    # Derived-bounds path: the 1-row min/max agg is all-null on empty
    # input; the join must not invent rows.
    assert xy.transform(zorder_key(["x", "y"], bits=4)).count() == 0

    # Expectations on an empty table: metrics divide by COUNT(*) = 0 —
    # the report must still come back (one row per constraint), with
    # null/NaN metrics rather than a crash.
    rep = xy.transform(expectations([completeness("x")])).collect()
    assert len(rep) == 1


def test_round6_operators_empty(spark):
    """Round-6 operators over empty inputs: correctly-typed empty (or
    structurally-complete) results, no ANSI aborts, no 1/0 teleport."""
    from btc_usdt_etl_pipeline_spark.operators.graph import pagerank
    from btc_usdt_etl_pipeline_spark.operators.text import (
        bm25_top_k,
        pmi_collocations,
        vocab_drift,
    )

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert docs.transform(bm25_top_k(["hash"], k=5)).count() == 0
    assert docs.transform(pmi_collocations(k=5, min_count=1)).count() == 0

    sdocs = spark.createDataFrame(
        [], "doc_id long, source string, text string"
    )
    assert sdocs.transform(vocab_drift("source", "text")).count() == 0

    edges = spark.createDataFrame([], "src long, dst long")
    out = pagerank(edges, iterations=3)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0

    # short-doc corpora: no bigrams at all -> PMI empty, BM25 still
    # scores the unigram matches
    short = spark.createDataFrame(
        [(1, "hash"), (2, "x")], "doc_id long, text string"
    )
    assert short.transform(pmi_collocations(k=5, min_count=1)).count() == 0
    assert short.transform(bm25_top_k(["hash"], k=5)).count() == 1


def test_m4_downsample_empty_and_single_row(spark):
    """M4 over an empty series is a typed empty result (the null
    min/max stats row must not invent rows or trip the DIV); a
    single-point series lands whole in bucket 0."""
    import datetime as dt

    from btc_usdt_etl_pipeline_spark.operators.resample import (
        m4_downsample,
    )

    empty = spark.createDataFrame([], "ts timestamp, value double")
    out = empty.transform(m4_downsample("ts", "value", 16))
    assert out.count() == 0
    assert "v_min" in out.columns

    one = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), 5.0)], "ts timestamp, value double"
    )
    rows = one.transform(m4_downsample("ts", "value", 16)).collect()
    assert len(rows) == 1 and rows[0]["bucket"] == 0
    assert rows[0]["v_min"] == rows[0]["v_max"] == 5.0


def test_round7_operators_on_empty_inputs(spark):
    """Every round-7 operator must flow an empty (or trivially small)
    input through to a correctly-typed result — no 1/0, no null where
    the contract says 0, no crash."""
    from btc_usdt_etl_pipeline_spark.ml.features import quantile_binning
    from btc_usdt_etl_pipeline_spark.operators.graph import triangle_count
    from btc_usdt_etl_pipeline_spark.operators.relational import (
        cdc_merge,
        snapshot_diff,
    )
    from btc_usdt_etl_pipeline_spark.operators.sketch import (
        hll_distinct_by,
    )
    from btc_usdt_etl_pipeline_spark.operators.text import (
        normalize_text,
        winnow_fingerprints,
        winnow_match_pairs,
    )

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert empty_docs.transform(
        winnow_fingerprints(k=3, window=4)
    ).count() == 0
    assert empty_docs.transform(
        winnow_match_pairs(k=3, window=4)
    ).count() == 0
    assert empty_docs.transform(normalize_text()).count() == 0

    empty_edges = spark.createDataFrame([], "src long, dst long")
    r = triangle_count(empty_edges).collect()[0]
    assert tuple(r) == (0, 0, 0, 0)

    empty_kv = spark.createDataFrame([], "k long, v double")
    some_kv = spark.createDataFrame([(1, 1.0)], "k long, v double")
    # empty changelog: snapshot passes through
    chg_schema = "k long, v double, op string, ver long"
    empty_chg = spark.createDataFrame([], chg_schema)
    out = cdc_merge(some_kv, empty_chg, ["k"], ["ver"]).collect()
    assert [(r.k, r.v) for r in out] == [(1, 1.0)]
    # empty snapshot: changelog inserts (minus deletes)
    chg = spark.createDataFrame(
        [(2, 2.0, "upsert", 1), (3, 3.0, "delete", 1)], chg_schema
    )
    out = cdc_merge(empty_kv, chg, ["k"], ["ver"]).collect()
    assert [(r.k, r.v) for r in out] == [(2, 2.0)]

    d = {
        r.metric: r.n
        for r in snapshot_diff(empty_kv, some_kv, ["k"]).collect()
    }
    assert d["n_added"] == 1 and d["n_removed"] == 0

    g = spark.createDataFrame([], "g int, k string")
    assert g.transform(hll_distinct_by(["g"], "k")).count() == 0

    assert empty_kv.transform(quantile_binning("v", 4)).count() == 0

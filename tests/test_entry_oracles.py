"""Spark vs DuckDB oracle parity for queries whose oracle text is built
from the shared fragments in ``__spark_entry__.py`` (one query per
fragment family) and for queries whose operators share one helper pass
(one query per helper not covered yet), on the sf0.001 gate data,
canonicalized exactly as ``tools/check_correctness.py`` does (columns
by name, rows sorted, floats by repr)."""

from __future__ import annotations

import duckdb
import pytest

from tests.test_driver_testdata import SF_DIR, TABLES  # sf0.001 gate data
from tools.check_correctness import canon

QUERIES = [
    "q181_macd",  # generated EMA chains
    "q206_kaplan_meier",  # survival subjects and risk sets
    "q255_wasserstein",  # two-sample drift fixture
    "q273_cvm",
    "q217_geo_radius_join",  # synthetic customer/supplier coordinates
    "q225_geo_equirectangular",
    "q30_minhash_near_dedup",  # token shingles
    "q66_corpus_pipeline",  # capped candidates + component walk
    "q167_entity_resolution",
    "q277_bfs_distances",  # co-order supplier edges
    "q275_link_prediction_fenced",  # link scores
    "q205_assortativity",  # customer/supplier bipartite edges
    "q297_ljung_box",  # ACF CTEs
    "q291_seasonal_strength",  # seasonal decomposition
    "q298_breusch_pagan",  # hour-of-day OLS fixture
    "q310_engle_granger",  # daily purchase/click pivot
    "q36_streaming_ohlcv",  # OHLC bars
    "q154_hll_grouped",  # HLL estimate
    "q142_simsearch_multiprobe",  # SRP-LSH dot and top-k
    "q238_ratio_metric_delta",  # per-arm moments
    "q292_knn_outlier_fenced",  # IVF cells, fenced cells, kNN top-5
    "q239_image_dedup_clusters",  # dHash bits and words
    "q248_krippendorff_alpha",  # three raters
    "q151_hll_distinct",  # HLL registers and estimator, ungrouped
    "q173_hll_intersection",  # HLL registers per side and union
    "q276_ngram_diversity_hll",  # HLL registers per n-gram order
    "q252_nelson_aalen",  # event-time table and risk set
    "q271_log_rank",  # per-arm risk sets
    "q247_chi_square",  # dense contingency cells
    "q253_kendall_tau",
    "q132_semdedup",  # IVF cell assignment
    "q40_simsearch_ivf",  # IVF cell assignment and per-query top-k
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield c
    c.close()


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_its_oracle(spark, con, name):
    import __spark_entry__ as entry  # on sys.path via conftest.py

    spark.catalog.clearCache()
    df = entry.queries()[name](spark, SF_DIR)
    got = canon(df.collect(), df.columns)
    rel = con.sql(entry.oracle_sql()[name])
    want = canon(rel.fetchall(), [d[0] for d in rel.description])
    assert got[:3] == want[:3]
    assert got[0] > 0

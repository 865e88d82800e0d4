"""``schema.table_metadata``: the table loader resolves each parquet
table's schema and scan width once per session and file version.

Reads go to the read-only reference testdata or to copies under
``tmp_path``; nothing is written into the testdata.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

import __spark_entry__ as entry
from btc_usdt_etl_pipeline_spark.schema import normalize_event_time
from tests.conftest import jobs_under_group
from tests.test_driver_testdata import SF_DIR, TABLES

needs_testdata = pytest.mark.skipif(
    not os.path.isdir(SF_DIR),
    reason=f"reference testdata not present: {SF_DIR}",
)


def _rows(df):
    return sorted(df.collect(), key=repr)


@needs_testdata
def test_warm_load_launches_no_job(spark, tmp_path):
    # A private copy, so the first load below is cold whatever ran before.
    shutil.copy(os.path.join(SF_DIR, "orders.parquet"), tmp_path)
    sf = str(tmp_path)
    _, cold = jobs_under_group(
        spark, "tm-cold", lambda: entry._t(spark, sf, "orders"))
    warm_df, warm = jobs_under_group(
        spark, "tm-warm", lambda: entry._t(spark, sf, "orders"))
    assert len(cold) == 1
    assert warm == []
    assert warm_df.count() > 0


@needs_testdata
def test_cold_job_names_the_path_and_restores_the_description(
        spark, tmp_path):
    shutil.copy(os.path.join(SF_DIR, "region.parquet"), tmp_path)
    sf = str(tmp_path)
    sc = spark.sparkContext
    sc.setJobGroup("tm-desc", "dashboard refresh")
    try:
        entry._t(spark, sf, "region")
        after = sc.getLocalProperty("spark.job.description")
    finally:
        sc.setJobGroup(None, None)
    (job,) = sc.statusTracker().getJobIdsForGroup("tm-desc")
    desc = sc._jsc.sc().statusStore().job(job).description().get()
    assert os.path.join(sf, "region.parquet") in desc
    assert after == "dashboard refresh"


@needs_testdata
@pytest.mark.parametrize("table", TABLES)
def test_warm_load_matches_plain_read(spark, table):
    entry._t(spark, SF_DIR, table)
    warm = entry._t(spark, SF_DIR, table)
    plain = spark.read.parquet(os.path.join(SF_DIR, f"{table}.parquet"))
    if table == "events":
        plain = normalize_event_time(plain)
    assert warm.schema == plain.schema
    assert _rows(warm) == _rows(plain)


def _write_file_table(path, ncols):
    cols = {f"c{i}": [1, 2, 3] for i in range(ncols)}
    pq.write_table(pa.table(cols), path)


def test_rewritten_file_table_is_reread(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write_file_table(path, 2)
    assert entry._t(spark, str(tmp_path), "t").columns == ["c0", "c1"]
    _write_file_table(path, 3)
    df = entry._t(spark, str(tmp_path), "t")
    assert df.columns == ["c0", "c1", "c2"]
    assert sorted(r.c2 for r in df.collect()) == [1, 2, 3]


def test_rewritten_directory_table_is_reread(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert entry._t(spark, str(tmp_path), "t").columns == ["id"]
    spark.range(3).selectExpr("id", "id * 2 AS twice") \
        .write.mode("overwrite").parquet(path)
    df = entry._t(spark, str(tmp_path), "t")
    assert df.columns == ["id", "twice"]
    assert sorted(r.twice for r in df.collect()) == [0, 2, 4]


def test_missing_table_raises_and_is_not_cached(spark, tmp_path):
    with pytest.raises(AnalysisException):
        entry._t(spark, str(tmp_path), "t")
    _write_file_table(tmp_path / "t.parquet", 1)
    assert entry._t(spark, str(tmp_path), "t").count() == 3

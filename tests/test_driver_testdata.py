"""Smoke tests against the driver's real testdata artifacts (read-only).

Round-3 lesson: 121 hand-built-fixture tests stayed green while 26 of 108
queries broke, because the driver regenerated ``/root/testdata`` with
``events.ts`` as parquet ``timestamp[us]`` and nothing in the suite ever
read the actual files.  These tests load every sf0.001 table through the
same ``_t`` loader the query surface uses and assert basic invariants, so
any future storage-dialect change in the driver's parquet fails HERE, in
pytest, instead of silently corrupting a quarter of the query surface.
"""

from __future__ import annotations

import datetime
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_SF_DIR", "/root/testdata/sf0.001")

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"driver testdata not present: {SF_DIR}"
)


def _load(spark, name):
    import __spark_entry__ as entry

    return entry._t(spark, SF_DIR, name)


@pytest.mark.parametrize("table", TABLES)
def test_table_loads_nonempty(spark, table):
    df = _load(spark, table)
    assert df.count() > 0, f"{table} is empty"


def test_events_ts_is_timestamp_in_2024_window(spark):
    """The round-3 regression: ts must come out as TimestampType with
    values in the data's real range, whatever unit/type the parquet uses."""
    ev = _load(spark, "events")
    assert isinstance(ev.schema["ts"].dataType, TimestampType)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    assert datetime.datetime(2020, 1, 1) <= lo <= datetime.datetime(2030, 1, 1)
    assert datetime.datetime(2020, 1, 1) <= hi <= datetime.datetime(2030, 1, 1)


def test_events_key_columns_not_null(spark):
    ev = _load(spark, "events")
    bad = ev.filter(
        F.col("event_id").isNull()
        | F.col("ts").isNull()
        | F.col("user_id").isNull()
    ).count()
    assert bad == 0


def test_lineitem_key_columns_not_null(spark):
    li = _load(spark, "lineitem")
    bad = li.filter(
        F.col("l_orderkey").isNull() | F.col("l_shipdate").isNull()
    ).count()
    assert bad == 0


def test_streaming_events_source_matches_batch(spark):
    """The streaming source must read the same schema/values as batch —
    it takes its schema from the file footer, so a driver regeneration
    that changes the storage type must not desynchronize the two paths."""
    import tempfile

    import __spark_entry__ as entry

    stream = entry._events_stream(spark, SF_DIR)
    assert isinstance(stream.schema["ts"].dataType, TimestampType)
    agg = stream.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ts").alias("lo"),
        F.max("ts").alias("hi"),
    )
    name = "smoke_stream_agg"
    with tempfile.TemporaryDirectory() as ckpt:
        (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        got = spark.table(name).first()
    ev = _load(spark, "events")
    n, lo, hi = ev.agg(F.count(F.lit(1)), F.min("ts"), F.max("ts")).first()
    assert (got["n"], got["lo"], got["hi"]) == (n, lo, hi)


#: Runs one Python-UDF query (q126, numpy GEMM per label block) the way
#: the driver does: a plain SparkSession, the entry module put on the
#: path by file location only.
_FOREIGN_CWD_RUN = """
import sys
sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.driver.memory", "1g")
         .config("spark.ui.enabled", "false").getOrCreate())
import __spark_entry__ as entry
rows = entry.queries()["q126_cosine_pairs_blas"](spark, {sf!r}).collect()
print("ROWS", len(rows))
"""


def test_python_udf_query_runs_from_foreign_cwd(tmp_path):
    """Python workers must import the package whatever the process cwd;
    before the entry module put it on the workers' path, q126 failed
    with ModuleNotFoundError from any cwd but the repository root."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c",
         _FOREIGN_CWD_RUN.format(root=root, sf=os.path.abspath(SF_DIR))],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    (line,) = [ln for ln in proc.stdout.splitlines() if ln.startswith("ROWS")]
    assert int(line.split()[1]) > 0

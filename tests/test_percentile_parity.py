"""Percentile interpolation parity: Spark ``percentile`` vs DuckDB
``quantile_cont`` on adversarial inputs.

Cross-engine quantiles are a classic divergence source (interpolation
rule, tie handling, null/NaN ordering).  This suite pins what the q55
oracle contract relies on:

- both engines implement type-7 linear interpolation identically on
  finite doubles (ties, duplicates, negatives, 1-ulp-apart values,
  singleton groups);
- both ignore NULLs;
- they DISAGREE on NaN (Spark sorts NaN last → upper quantiles go NaN
  progressively; DuckDB returns NaN for every quantile) — so any oracle
  query over a possibly-NaN column must filter NaN on both sides, as
  q55 does.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

PCTS = [0.25, 0.5, 0.75, 0.95]

CASES = {
    "ties": [1.0, 1.0, 1.0, 2.0, 2.0],
    "all_equal": [7.0] * 9,
    "single": [42.5],
    "two": [1.0, 2.0],
    "negatives": [-5.0, -1.0, 0.0, 3.5, 3.5, 3.5, 100.0],
    "with_null": [1.0, None, 3.0, None, 5.0],
    "ulp_apart": [0.1, 0.2, 0.30000000000000004, 0.3],
    "huge_spread": [-1e300, 0.0, 1e300],
}


def _spark_pcts(spark, data):
    df = spark.createDataFrame([(v,) for v in data], "v double")
    pct = F.percentile("v", F.lit(PCTS))
    row = df.agg(
        *[
            F.round(F.element_at(pct, i + 1), 6).alias(f"p{i}")
            for i in range(len(PCTS))
        ]
    ).first()
    return [row[i] for i in range(len(PCTS))]


def _duck_pcts(data):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in data])
    sel = ", ".join(f"round(quantile_cont(v, {p}), 6)" for p in PCTS)
    return list(con.execute(f"SELECT {sel} FROM t").fetchone())


@pytest.mark.parametrize("name", sorted(CASES))
def test_finite_inputs_agree(spark, name):
    data = CASES[name]
    assert _spark_pcts(spark, data) == _duck_pcts(data)


def test_nan_divergence_is_real_and_filtered_parity_holds(spark):
    # Unfiltered: engines disagree — this is the hazard the q55 WHERE
    # clause exists for.  If an engine upgrade ever makes these agree,
    # this test will flag that the filter is no longer load-bearing.
    data = [1.0, float("nan"), 3.0]
    s = _spark_pcts(spark, data)
    d = _duck_pcts(data)
    assert all(math.isnan(v) for v in d)
    assert not math.isnan(s[0])
    # Filtered on both sides: exact agreement.
    finite = [v for v in data if not math.isnan(v)]
    assert _spark_pcts(spark, finite) == _duck_pcts(finite)


def test_q55_oracle_green_on_gate_data(spark):
    import __spark_entry__ as entry  # on sys.path via conftest.py

    sf_dir = "/root/testdata/sf0.001"
    got = entry.queries()["q55_percentiles"](spark, sf_dir).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS "
        f"SELECT * FROM '{sf_dir}/events.parquet'"
    )
    want = con.execute(entry.oracle_sql()["q55_percentiles"]).fetchall()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

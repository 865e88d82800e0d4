"""Local simulation of the driver's t2 correctness gate.

For every ``queries()`` entry: run the Spark query and the DuckDB oracle on
the same sf dir, canonicalize (columns sorted by name, rows sorted, floats
via repr), and compare row count + column names + a value hash.  Run me
before every commit that touches the query surface:

    python tools/check_correctness.py [--plain] [sf_dir] [query ...]

``--plain`` builds a bare ``local[N]`` SparkSession, N =
``$SPARK_GRAFT_CPUS`` or 32 as in ``build_session`` (but none of its
tuning), to simulate the external driver's environment — queries must
self-apply any conf they depend on (see ``__spark_entry__._tune``).
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _norm(v):
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    mat = sorted(
        "\x01".join(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(mat).encode()).hexdigest()[:16]
    return len(mat), [columns[i] for i in order], h, mat


#: Spark typeName → canonical dtype family, for the driver-parity check.
#: ``decimal`` is deliberately its OWN family: the driver's pandas
#: canonicalizer renders DuckDB DECIMAL as float64 and Spark Decimal rows
#: as ``Decimal('…')`` strings, so a decimal output column diverges from
#: double on BOTH paths — queries must cast decimals away at the surface.
_SPARK_FAMILY = {
    "byte": "int", "short": "int", "integer": "int", "long": "int",
    "float": "float", "double": "float",
    "boolean": "bool",
    "date": "datetime", "timestamp": "datetime", "timestamp_ntz": "datetime",
    "string": "object", "binary": "object",
}


def _pd_family(dtype) -> str:
    import pandas.api.types as pt

    if pt.is_bool_dtype(dtype):
        return "bool"
    if pt.is_integer_dtype(dtype):
        return "int"
    if pt.is_float_dtype(dtype):
        return "float"
    if pt.is_datetime64_any_dtype(dtype):
        return "datetime"
    return "object"


def dtype_parity_failures(df_schema, oracle_pdf) -> list[str]:
    """Columns whose ORACLE pandas dtype family differs from Spark's.

    Round-7 guard for the r6 driver-red root cause: DuckDB types
    SUM(BIGINT) as HUGEINT, and the external driver canonicalizes the
    oracle through pandas where HUGEINT becomes float64 — ``12142.0`` vs
    Spark's ``12142`` → hash mismatch with rows/schema green.  This
    tool's own ``fetchall()`` hides the class (HUGEINT → Python int), so
    compare ``rel.df()`` dtypes against the Spark schema explicitly —
    the same driver-simulation trick as the array/map sort guard above.
    An all-NULL integer oracle column also lands here (pandas promotes
    it to float64/object): cast such outputs to a float/typed column on
    both sides.
    """
    spark_fams = {
        f.name: _SPARK_FAMILY.get(f.dataType.typeName(), f.dataType.typeName())
        for f in df_schema.fields
    }
    bad = []
    for col in oracle_pdf.columns:
        ofam = _pd_family(oracle_pdf[col].dtype)
        sfam = spark_fams.get(col)
        if sfam is None:
            continue  # column-name mismatch is reported by the main compare
        if ofam == "object" and sfam in ("object", "datetime"):
            # pandas object can legitimately carry strings/dates; value
            # compare below decides.
            continue
        if ofam != sfam:
            bad.append(f"{col}: oracle pandas {ofam} vs spark {sfam}")
    # Spark-side decimal output is a driver hazard regardless of oracle.
    bad.extend(
        f"{f.name}: spark decimal output (cast to double/bigint)"
        for f in df_schema.fields
        if f.dataType.typeName() == "decimal"
    )
    return bad


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--plain"]
    plain = "--plain" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import duckdb

    import __spark_entry__ as entry

    if plain:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(
                f"local[{os.environ.get('SPARK_GRAFT_CPUS') or 32}]"
            )
            .appName("correctness-check-plain")
            .getOrCreate()
        )
    else:
        from btc_usdt_etl_pipeline_spark.session import build_session

        spark = build_session("correctness-check")
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = entry.queries(), entry.oracle_sql()
    n_pass = n_fail = n_weak = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        # Drop blocks persisted by the previous query's operators so the
        # full query loop doesn't accumulate cache pressure.
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            srows = df.collect()
            scols = df.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        # The EXTERNAL driver canonicalizes via pandas sort_values, which
        # raises "unhashable type: 'list'" on array/map columns (the exact
        # q44 r01 failure).  Catch that class of regression here even
        # though this tool's own canon() handles lists fine.
        bad = [
            f.name
            for f in df.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        if bad and name in oracles:
            print(
                f"FAIL {name}: driver-incompatible complex-typed output "
                f"columns {bad} (pandas canonicalizer cannot sort them)"
            )
            n_fail += 1
            continue
        if name not in oracles:
            print(
                f"weak {name}: rows={len(srows)} (no oracle) "
                f"[{time.time()-t0:.1f}s]"
            )
            n_weak += 1
            continue
        try:
            rel = con.sql(oracles[name])
            orows, ocols = rel.fetchall(), [d[0] for d in rel.description]
            opdf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        dtype_bad = dtype_parity_failures(df.schema, opdf)
        if dtype_bad:
            print(
                f"FAIL {name}: driver dtype-parity: {'; '.join(dtype_bad)}"
            )
            n_fail += 1
            continue
        sn, sc, sh, smat = canon(srows, scols)
        on, oc, oh, omat = canon(orows, ocols)
        ok = sn == on and sc == oc and sh == oh
        if ok:
            # Round-3 lesson (q60): a both-sides-empty match can hide a
            # query whose predicates silently select nothing (e.g. a
            # constant time anchor drifting away from the data's epoch).
            # Still a PASS, but loudly marked so a human re-reads it.
            empty_note = " [EMPTY RESULT — verify non-vacuous]" if sn == 0 else ""
            print(
                f"PASS {name}: rows={sn} hash={sh} "
                f"[{time.time()-t0:.1f}s]{empty_note}"
            )
            n_pass += 1
        else:
            print(
                f"FAIL {name}: rows {sn} vs {on}; cols {sc} vs {oc}; "
                f"hash {sh} vs {oh}"
            )
            for i, (a, b) in enumerate(zip(smat, omat)):
                if a != b:
                    print(f"  first diff row {i}:\n   spark : {a}\n   oracle: {b}")
                    break
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak (rows-only)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

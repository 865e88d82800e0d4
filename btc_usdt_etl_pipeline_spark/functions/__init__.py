"""Expression helpers: oracle-exact aggregates and vector math.

Why the decimal trick
---------------------
Double summation is order-dependent; Spark's shuffle order differs from any
single-node oracle, so ``SUM(double)`` can differ in the last few ULPs and a
value-hash comparison would flake.  Decimal addition is exact and
associative: ``CAST(x AS DECIMAL(38,6))`` → ``SUM`` → ``CAST AS DOUBLE``
yields a bit-identical result in any engine and any execution order (input
doubles are identical bits; double→decimal rounding is deterministic;
decimal→double is a single IEEE rounding).  All headline aggregates use
these helpers, and the oracle SQL mirrors them textually.

Everything here is a pure column expression — stays inside whole-stage
codegen, no UDFs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(38,6)"
DEC12 = "decimal(38,12)"


def exact_sum(col: Column | str) -> Column:
    """Order-insensitive, bit-reproducible SUM over doubles."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def exact_avg(col: Column | str) -> Column:
    """Order-insensitive AVG: exact decimal sum, one double division."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double") / F.count(c)


def attach_scalar(df, one_row, left_probe, right_probe):
    """Attach a 1-row aggregate to every row of ``df`` as a
    BroadcastHashJoin — the in-plan scalar pattern (no driver action).

    The join keys are DERIVED from data on BOTH sides
    (``pmod(probe, 1) + 1`` — always 1, never a literal): a
    ``lit(1) = lit(1)`` condition constant-folds to ``true`` and a
    literal-vs-attribute condition becomes a filter plus a
    condition-less cross join; either way Catalyst degrades the join
    to a BroadcastNestedLoopJoin.  Attribute-derived keys keep it a
    hash join.  ``left_probe``/``right_probe`` are any columns of the
    respective side (nulls tolerated).
    """

    def _key(c: Column) -> Column:
        # try_cast, not cast: under ANSI mode a NaN / out-of-long-range
        # double probe (e.g. a stats column containing 1e20) would abort
        # the whole job inside the key derivation; try_cast degrades it
        # to null, which the coalesce absorbs — any probe column works.
        return (
            F.pmod(F.coalesce(c.try_cast("long"), F.lit(0)), F.lit(1))
            + F.lit(1)
        ).cast("int")

    left = df.withColumn("_one", _key(left_probe))
    right = one_row.withColumn("_one", _key(right_probe))
    return left.join(F.broadcast(right), "_one").drop("_one")


def group_columns(group_by: Sequence[str] | str | None) -> list[str]:
    """An operator's ``group_by`` argument — one column name, a sequence
    of names, or ``None`` — as a list of column names."""
    if isinstance(group_by, str):
        return [group_by]
    return list(group_by or [])


def join_groups(left, right, gcols, how: str = "inner", probes=None):
    """Join the per-group frame ``right`` onto ``left`` on the group
    columns ``gcols``.

    With no group columns both sides are global and ``right`` is one
    row: a cross join, or — when ``probes`` gives a ``(left_probe,
    right_probe)`` pair — :func:`attach_scalar`'s hash join, in which
    case the keyed join broadcasts ``right`` too.  ``how`` applies to
    the keyed join only.
    """
    if gcols:
        return left.join(F.broadcast(right) if probes else right, gcols, how)
    if probes:
        return attach_scalar(left, right, *probes)
    return left.crossJoin(right)


def null_safe_join(left, right, on, how: str = "inner"):
    """Equi-join on ``on`` columns where NULL matches NULL — the
    groupBy-then-join-back idiom's missing half.  ``groupBy`` keeps a
    NULL key as a real group, but a plain ``join(on=cols)`` compiles to
    ``EqualTo`` conditions and silently drops every NULL-keyed row, so
    any "aggregate per key, join the aggregate back" plan loses NULL
    groups.  ``eqNullSafe`` (``<=>``) fixes that AND stays an equi-join:
    Catalyst's ``ExtractEquiJoinKeys`` recognizes ``EqualNullSafe`` as a
    hash/sort-merge key (it wraps both sides in null-coalescing structs),
    so the plan is still SMJ/BHJ, never a nested loop.

    Right-side join columns are deduplicated (renamed, joined, dropped)
    so the result has ONE copy of each key column — same shape as
    ``left.join(right, on)``.
    """
    r = right
    renamed = []
    for c in on:
        rc = f"_nsj_{c}"
        r = r.withColumnRenamed(c, rc)
        renamed.append(rc)
    cond = None
    for c, rc in zip(on, renamed):
        term = left[c].eqNullSafe(r[rc])
        cond = term if cond is None else (cond & term)
    return left.join(r, cond, how).drop(*renamed)


def oracle_sum_sql(expr: str) -> str:
    """DuckDB-side mirror of :func:`exact_sum`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,6))) AS DOUBLE)"


def oracle_avg_sql(expr: str) -> str:
    """DuckDB-side mirror of :func:`exact_avg`."""
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,6))) AS DOUBLE)"
        f" / COUNT({expr})"
    )


# ---------------------------------------------------------------------------
# Vector math over array<float>/array<double> columns (similarity search).
# Pure higher-order-function expressions — JVM-side, no Python.
# ---------------------------------------------------------------------------


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array columns (double accumulator, left fold)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))

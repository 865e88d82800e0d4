"""Deterministic, seedless, engine-portable sampling.

``df.sample()`` draws from a per-partition RNG stream: the kept set
changes with partitioning, retries, and engine — useless for a
reproducible training-data pipeline and impossible to oracle-check.
The portable idiom hashes a STABLE KEY instead: keep a row iff
``md5(salt:key) mod 10_000 < rate_bp``.  Properties:

- deterministic under any partitioning / cluster size / engine;
- per-stratum rates are just a CASE over the rate column — stratified
  sampling without a shuffle (no groupBy anywhere, pure map-side);
- changing ``salt`` redraws an independent sample; keeping it fixed
  makes the sample APPEND-STABLE: rows sampled yesterday are sampled
  today, so incremental pipeline runs agree with full recomputes.

The hash is the repo's portable 60-bit md5 (``portable_hash60``), which
any SQL engine can replay — the q63 oracle reproduces the exact kept
set in DuckDB.  Production can swap xxhash64 for md5 once cross-engine
replay stops mattering; the contract is the same.
"""

from __future__ import annotations

from typing import Callable, Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.operators.dedup import portable_hash60
from btc_usdt_etl_pipeline_spark.operators.relational import top_k_per_group


def hash_sample(
    key_col: str,
    rate_bp: int = 1000,
    stratum_col: str | None = None,
    stratum_rates_bp: Mapping[str, int] | None = None,
    salt: str = "s1",
) -> Callable[[DataFrame], DataFrame]:
    """Keep rows where ``hash(salt:key) mod 10000 < rate`` (basis points:
    1000 = 10%).  ``stratum_rates_bp`` overrides the rate per value of
    ``stratum_col``; strata not listed fall back to ``rate_bp``."""
    if not 0 <= rate_bp <= 10_000:
        raise ValueError("rate_bp must be in [0, 10000]")

    def _t(df: DataFrame) -> DataFrame:
        h = portable_hash60(
            F.concat(
                F.lit(salt), F.lit(":"), F.col(key_col).cast("string")
            )
        ) % F.lit(10_000)
        rate = F.lit(rate_bp)
        if stratum_rates_bp:
            if stratum_col is None:
                raise ValueError("stratum_rates_bp requires stratum_col")
            expr = F.lit(rate_bp)
            for value, bp in sorted(stratum_rates_bp.items()):
                expr = F.when(
                    F.col(stratum_col) == value, F.lit(bp)
                ).otherwise(expr)
            rate = expr
        return df.filter(h < rate)

    return _t


def weighted_sample(
    key_col: str,
    weight_col: str,
    k: int,
    partition_by: Sequence[str] = (),
    salt: str = "w1",
) -> Callable[[DataFrame], DataFrame]:
    """Weighted top-k sampling without replacement (Efraimidis-Spirakis
    A-Res), deterministic and engine-portable.

    Each row draws a reproducible uniform u from the portable keyed
    hash and sorts by the exponential key ``-ln(u) / w`` (ascending) —
    the classic result that taking the k smallest such keys samples k
    rows with probability proportional to ``weight_col``, without
    replacement.  No RNG state, append-stable under a fixed salt, and
    an oracle can replay the exact kept set (q89).

    With ``partition_by`` the top-k is per stratum (rank-and-filter —
    parallel across strata).  For a global k over a huge table, rank
    inside each partition first and keep local top-k before the global
    sort (the ``relational.global_topk`` pattern).

    Weights must be > 0; nonpositive weights raise at runtime under
    ANSI (division toward -ln(u)/0) rather than silently winning.
    """

    def _t(df: DataFrame) -> DataFrame:
        h = portable_hash60(
            F.concat(
                F.lit(salt), F.lit(":"), F.col(key_col).cast("string")
            )
        )
        # map the 60-bit hash into (0, 1): +0.5 keeps u strictly inside
        # the open interval, so ln(u) is finite on both engines
        u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 60))
        ekey = -F.log(u) / F.col(weight_col)
        return df.transform(
            top_k_per_group(
                partition_by,
                [ekey.asc(), F.col(key_col)],
                k,
                "_rnk",
                keep_rank=False,
            )
        )

    return _t


def group_preserving_split(
    group_col: str,
    boundaries: dict[str, int] | None = None,
    seed: str = "split",
    out: str = "split",
) -> Callable[[DataFrame], DataFrame]:
    """Leakage-safe dataset split: every row whose ``group_col`` hashes
    alike lands in the SAME split, so correlated rows (near-duplicate
    documents sharing a dedup-cluster id, a user's events, a session)
    can never straddle train and test — the contamination mode a
    row-wise random split silently creates whenever the corpus contains
    near-duplicates (the reason dedup clusters, not documents, are the
    split unit in LLM-data pipelines).

    ``boundaries`` maps split name → EXCLUSIVE upper percentile bound,
    checked in ascending order over the group hash's ``% 100`` value;
    default ``{"train": 80, "val": 90, "test": 100}``.  A pure
    projection — no shuffle, no state; the hash is the portable md5, so
    an oracle replays assignments bit-exactly and membership is stable
    across runs, engines, and data growth (a group keeps its split as
    the corpus evolves — the property that lets eval sets stay frozen).
    """
    bounds = boundaries or {"train": 80, "val": 90, "test": 100}
    if sorted(bounds.values())[-1] != 100:
        raise ValueError("last boundary must be 100")

    def _t(df: DataFrame) -> DataFrame:
        h = portable_hash60(
            F.concat(
                F.lit(f"{seed}:"), F.col(group_col).cast("string")
            )
        ) % F.lit(100)
        expr = None
        for name, ub in sorted(bounds.items(), key=lambda kv: kv[1]):
            cond = h < F.lit(ub)
            expr = (
                F.when(cond, F.lit(name))
                if expr is None
                else expr.when(cond, F.lit(name))
            )
        return df.withColumn(out, expr)

    return _t

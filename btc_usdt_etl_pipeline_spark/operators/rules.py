"""Market-basket association rule mining (Agrawal et al., SIGMOD'93):
support / confidence / lift over co-occurrence pairs — the classic
"users who bought A also bought B" analytics surface, and in a data
pipeline the standard tool for spotting correlated attributes
(co-occurring tags, template fragments, label leakage pairs).

Scale shape: the pair generation is a basket-keyed self-join, so the
work is Σ|basket|² — quadratic per BASKET (baskets are small by
nature: a receipt, a session, a doc's tag set), never corpus-quadratic.
The `max_basket` fence drops pathological mega-baskets (a basket with
10⁶ items is telemetry noise, not shopping) BEFORE the join, keeping
the blowup bounded exactly like the dedup family's bucket caps.  Item
marginals are a second small aggregation broadcast into the rule
assembly; everything downstream of the pair count runs on pair-level
(vocabulary²-bounded, support-filtered) data.

Determinism: supports and counts are integers; confidence/lift are
single IEEE divisions of integer-valued doubles — bit-stable
cross-engine with no rounding contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

#: The one live basket-array cache — each association_rules call
#: releases its predecessor (bounded-leak contract; see persist note).
_AR_LAST_CACHE: DataFrame | None = None


def association_rules(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_support: int = 2,
    top_k: int = 50,
    max_basket: int = 1000,
) -> DataFrame:
    """Top-``top_k`` rules a→b ranked by lift (desc, then antecedent /
    consequent asc — total order).  Returns ``(rank, antecedent,
    consequent, n_pair, support, confidence, lift)`` where support =
    n_pair/N baskets, confidence = n_pair/n(a), lift =
    confidence/(n(b)/N).  Both directions of every pair are scored
    (confidence is asymmetric).
    """
    # ONE pass builds the basket table: collect_set dedups (basket,
    # item) AND collapses to one row per basket (r9 — replaces the
    # r8 distinct + per-basket count window + basket-keyed self-join,
    # which consumed the distinct/window subtree from TWO join branches
    # and re-evaluated the whole fact-scale upstream per branch, the
    # SCALE.md §8 union-branch trap; measured 157.5 s at 30× lineitem).
    # sort_array makes pair order deterministic and lets the HOF emit
    # each unordered pair exactly once (i < j positions ⇒ _a < _b).
    arr = (
        baskets.select(
            F.col(basket_col).alias("_bk"),
            F.col(item_col).alias("_it"),
        )
        .groupBy("_bk")
        .agg(F.sort_array(F.collect_set("_it")).alias("_items"))
        .withColumn("_sz", F.size("_items"))
        .where(F.col("_sz") <= max_basket)
    )
    # three consumers (pairs, marginals, basket total) — persist the
    # basket-scale table once so the collect_set shuffle runs once,
    # not per branch.  persist, not localCheckpoint (the checkpoint
    # materialization measured ~10× the stage cost at 100× in the
    # weighted_quantile twin); the cache is bounded, not leaked — each
    # call releases the previous call's (same registry contract as
    # relational._WQ_LAST_CACHE).
    global _AR_LAST_CACHE
    arr = arr.persist(StorageLevel.MEMORY_AND_DISK)
    if _AR_LAST_CACHE is not None:
        try:
            _AR_LAST_CACHE.unpersist(blocking=False)
        except Exception:
            pass
    _AR_LAST_CACHE = arr
    sized = arr.select(
        "_bk", F.explode("_items").alias("_it")
    )
    items = sized.groupBy(F.col("_it")).agg(
        F.count(F.lit(1)).alias("_ni")
    )
    # pair generation is a pure map-side HOF over the sorted array —
    # work is Σ|basket|² exactly as before, but zero join, zero
    # re-evaluation, and the only shuffle is the pair-count groupBy.
    # _sz is a plain column reference inside the lambda (never a
    # computed expression — SCALE.md lesson 7).
    pair_arr = F.flatten(
        F.transform(
            "_items",
            lambda x, i: F.transform(
                F.slice(F.col("_items"), i + 2, F.col("_sz")),
                lambda y: F.struct(
                    x.alias("_a"), y.alias("_b")
                ),
            ),
        )
    )
    pairs = (
        arr.select(F.explode(pair_arr).alias("_p"))
        .select("_p._a", "_p._b")
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("_np"))
        .where(F.col("_np") >= min_pair_support)
    )
    # Both rule directions from each unordered pair.
    rules = pairs.select(
        F.col("_a").alias("antecedent"),
        F.col("_b").alias("consequent"),
        "_np",
    ).unionByName(
        pairs.select(
            F.col("_b").alias("antecedent"),
            F.col("_a").alias("consequent"),
            "_np",
        )
    )
    # Marginals and the basket total come from the post-max_basket
    # universe (`arr`/`sized`) — the SAME population as the pair
    # counts, so support/confidence/lift share one universe.  Computing
    # them from the unfiltered table would systematically understate
    # confidence and lift for items appearing in dropped mega-baskets.
    # arr is one row per surviving basket — the total is a plain count.
    totals = arr.agg(F.count(F.lit(1)).alias("_nbk"))
    # item marginals are vocabulary-scale — broadcast both attaches;
    # the basket total rides in as an in-plan broadcast scalar (no
    # driver action).
    from btc_usdt_etl_pipeline_spark.functions import attach_scalar

    scored = (
        rules.join(
            F.broadcast(items.withColumnRenamed("_it", "antecedent")),
            "antecedent",
        )
        .withColumnRenamed("_ni", "_na")
        .join(
            F.broadcast(items.withColumnRenamed("_it", "consequent")),
            "consequent",
        )
        .withColumnRenamed("_ni", "_nb")
    )
    scored = attach_scalar(scored, totals, F.col("_np"), F.col("_nbk"))
    nn = F.col("_nbk").cast("double")
    support = F.col("_np").cast("double") / nn
    confidence = F.col("_np").cast("double") / F.col("_na").cast("double")
    lift = confidence / (F.col("_nb").cast("double") / nn)
    w = Window.orderBy(
        F.col("lift").desc(),
        F.col("antecedent").asc(),
        F.col("consequent").asc(),
    )
    return (
        scored.select(
            "antecedent",
            "consequent",
            F.col("_np").alias("n_pair"),
            support.alias("support"),
            confidence.alias("confidence"),
            lift.alias("lift"),
        )
        .orderBy(
            F.col("lift").desc(),
            F.col("antecedent").asc(),
            F.col("consequent").asc(),
        )
        .limit(top_k)
        .withColumn("rank", F.row_number().over(w))
        .select(
            "rank",
            "antecedent",
            "consequent",
            "n_pair",
            "support",
            "confidence",
            "lift",
        )
    )

"""Distributed statistics beyond point estimates: uncertainty
(Poisson bootstrap), robust location (trimmed mean), and forensic
distribution checks (Benford).  All deterministic and SQL-oracle
replayable — no RNG state, no row-at-a-time Python.

The Poisson bootstrap here is the one that actually distributes
(Chamandy et al., Google 2012): classic resampling needs n draws WITH
replacement per replicate — a global operation — but for large n the
per-row multinomial weight converges to Poisson(1), which is local.
Each row derives its B replicate weights from a portable hash of
(id, replicate), so the whole procedure is a deterministic map +
keyed aggregation, trivially parallel and bit-replayable by the
oracle — no engine RNG, whose stream order would differ per
partitioning.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.functions import (
    DEC,
    DEC12,
    group_columns,
    join_groups,
    null_safe_join,
)

#: Inverse-CDF thresholds for Poisson(1): P(X<=k) for k = 0..4.
#: A 24-bit uniform from the portable hash is compared against these
#: (weights >5 have probability ~1e-4 and truncate to 5 — negligible
#: and identical on both sides).
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
)


def _poisson1(u: Column) -> Column:
    w = F.lit(5)
    for k in reversed(range(len(_POIS_CDF))):
        w = F.when(u <= F.lit(_POIS_CDF[k]), F.lit(k)).otherwise(w)
    return w


def bootstrap_ci_mean(
    value_col: str,
    id_col: str,
    group_by: str | None = None,
    replicates: int = 40,
    lo_q: float = 0.025,
    hi_q: float = 0.975,
    portable: bool = False,
) -> Callable[[DataFrame], DataFrame]:
    """Bootstrap confidence interval for the mean, per group: B
    Poisson-weighted replicate means, CI = the (lo_q, hi_q) type-7
    percentiles of the replicate distribution.  The metric-uncertainty
    primitive an eval pipeline needs next to every point estimate.

    Plan: explode B replicate ids per row (bounded constant blow-up),
    ONE (group, replicate) keyed aggregation with map-side partials
    collapsing the blow-up immediately, then a tiny per-group
    percentile over B rows.  Weighted sums run through the exact-
    decimal idiom; replicate means are single IEEE divisions; the CI
    rounds at the pinned 6 dp percentile idiom.

    Returns ``group_by…, mean, ci_lo, ci_hi, n_replicates``.

    ``portable=True`` derives replicate weights from the md5-based
    :func:`...dedup.portable_hash60` so a SQL oracle can replay every
    weight bit-for-bit; the default is JVM ``xxhash64`` — the
    dedup/similarity family's production contract (the md5 + hex-slice
    + radix-parse chain is ~all of the n·B map cost at scale).  The
    two paths draw DIFFERENT (equally valid) bootstrap weights; CI
    coverage properties are identical.
    """
    gcols = [group_by] if group_by else []

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.operators.dedup import (
            portable_hash60,
        )

        r = F.explode(
            F.sequence(F.lit(0), F.lit(replicates - 1))
        ).alias("_r")
        ex = df.where(F.col(value_col).isNotNull()).select(
            *gcols, F.col(id_col).alias("_id"), F.col(value_col).alias("_x"), r
        )
        if portable:
            h = portable_hash60(
                F.concat_ws(":", F.col("_id").cast("string"),
                            F.col("_r").cast("string"))
            )
        else:
            # xxhash64 is signed; mask to the low 24 bits AFTER the
            # sign-agnostic AND (non-negative by construction), same
            # uniform-[0,1) derivation as the portable leg.
            h = F.xxhash64(
                F.col("_id").cast("string"), F.col("_r").cast("string")
            )
        # 24 low bits → exact uniform in [0,1): both engines convert
        # the small integer losslessly.
        u = (
            h.bitwiseAND(F.lit(0xFFFFFF)).cast("double")
            / F.lit(16777216.0)
        )
        w = _poisson1(u)
        rep = (
            ex.withColumn("_w", w)
            .groupBy(*gcols, "_r")
            .agg(
                F.sum((F.col("_w") * F.col("_x")).cast(DEC))
                .cast("double")
                .alias("_swx"),
                F.sum("_w").alias("_sw"),
            )
            .where(F.col("_sw") > 0)
            .withColumn("_m", F.col("_swx") / F.col("_sw"))
        )
        return rep.groupBy(*gcols).agg(
            F.round(
                F.sum(F.col("_m").cast(DEC)).cast("double")
                / F.count("_m"),
                6,
            ).alias("mean"),
            F.round(F.percentile("_m", F.lit(float(lo_q))), 6).alias(
                "ci_lo"
            ),
            F.round(F.percentile("_m", F.lit(float(hi_q))), 6).alias(
                "ci_hi"
            ),
            F.count("_m").alias("n_replicates"),
        )

    return _t


def ips_policy_value(
    reward_col: str,
    arm_col: str,
    logging_propensity: dict[str, float],
    target_probability: dict[str, float],
    clip: float = 10.0,
    group_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Off-policy evaluation by inverse-propensity scoring (Horvitz–
    Thompson / Li et al. WSDM'11): estimate the value a TARGET policy
    would have achieved from logs collected under a different LOGGING
    policy, without deploying it —

        IPS   = (1/n) Σ  r_i · w_i,      w_i = π(a_i) / μ(a_i)
        SNIPS = Σ r_i·w_i / Σ w_i        (self-normalized variant)

    with weights clipped at ``clip`` (the standard variance/robustness
    fence — clipping trades a small pessimistic bias for bounded
    variance when the logging policy rarely plays an arm the target
    loves).  ``clip_frac`` reports how much mass the fence touched:
    an estimate with a high clip fraction should not be trusted and
    the number says so.

    Both policies enter as per-arm probability maps (the logging
    propensities are LOGGED facts in a real system; here they are
    declared); unmapped arms get weight 0 — rows from arms outside the
    target's support contribute nothing, exactly as the estimator
    requires.

    Plan: one projection (a literal CASE chain — no join, no UDF) and
    one aggregation with map-side partials.  Exact-decimal sums make
    IPS/SNIPS order-free; weights are ratios of literals, so every
    product is the same IEEE double on any engine — the only contract
    is the final 6 dp pin.

    Returns ``group_by…, n, ips, snips, avg_weight, clip_frac``.
    """
    if clip <= 0:
        raise ValueError("clip must be positive")
    missing = set(target_probability) - set(logging_propensity)
    if missing:
        raise ValueError(
            f"target arms missing a logging propensity: {sorted(missing)}"
        )
    gcols = [group_by] if group_by else []

    def _t(df: DataFrame) -> DataFrame:
        w: Column = F.lit(0.0)
        for arm, p_t in target_probability.items():
            mu = logging_propensity[arm]
            if mu <= 0:
                raise ValueError(f"non-positive propensity for {arm!r}")
            w = F.when(
                F.col(arm_col) == F.lit(arm),
                F.lit(min(float(p_t) / float(mu), float(clip))),
            ).otherwise(w)
        # clip detection: the UNclipped weight per arm is a literal, so
        # whether it exceeds clip is decidable at plan time per arm.
        clipped_arms = [
            arm
            for arm, p_t in target_probability.items()
            if float(p_t) / float(logging_propensity[arm]) > float(clip)
        ]
        is_clipped = (
            F.col(arm_col).isin(*clipped_arms)
            if clipped_arms
            else F.lit(False)
        )
        base = df.where(F.col(reward_col).isNotNull()).select(
            *gcols,
            (w * F.col(reward_col)).cast(DEC).alias("_wr"),
            w.cast(DEC).alias("_w"),
            is_clipped.cast("int").alias("_cl"),
        )
        n = F.count(F.lit(1))
        sw = F.sum("_w")
        return base.groupBy(*gcols).agg(
            n.alias("n"),
            F.round(
                F.sum("_wr").cast("double") / n, 6
            ).alias("ips"),
            F.round(
                F.when(
                    sw > 0,
                    F.sum("_wr").cast("double") / sw.cast("double"),
                ),
                6,
            ).alias("snips"),
            F.round(sw.cast("double") / n, 6).alias("avg_weight"),
            F.round(F.sum("_cl").cast("double") / n, 6).alias(
                "clip_frac"
            ),
        )

    return _t


def trimmed_mean(
    value_col: str,
    group_by: str | None = None,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
    out: str = "trimmed_mean",
) -> Callable[[DataFrame], DataFrame]:
    """Per-group mean of the values inside the [lo_q, hi_q] exact
    percentile band — the robust location estimate between the median
    (too aggressive) and the mean (not robust at all).  One grouped
    percentile aggregation (bounds rounded at the pinned 6 dp idiom)
    broadcast back, then one exact-decimal mean over the kept rows.

    Returns ``group_by…, n_kept, out``.
    """
    gcols = [group_by] if group_by else []

    def _t(df: DataFrame) -> DataFrame:
        src = df.where(F.col(value_col).isNotNull())
        bounds = src.groupBy(*gcols).agg(
            F.round(F.percentile(value_col, F.lit(float(lo_q))), 6).alias(
                "_lo"
            ),
            F.round(F.percentile(value_col, F.lit(float(hi_q))), 6).alias(
                "_hi"
            ),
        )
        joined = join_groups(
            src, bounds, gcols, probes=(F.col(value_col), F.col("_lo"))
        )
        kept = joined.where(
            (F.col(value_col) >= F.col("_lo"))
            & (F.col(value_col) <= F.col("_hi"))
        )
        return kept.groupBy(*gcols).agg(
            F.count(value_col).alias("n_kept"),
            (
                F.sum(F.col(value_col).cast(DEC)).cast("double")
                / F.count(value_col)
            ).alias(out),
        )

    return _t


#: Benford's-law expected first-digit proportions log10(1 + 1/d),
#: d = 1..9 — hardcoded so no cross-engine log10 enters the plan.
BENFORD_P = (
    0.3010299956639812,
    0.17609125905568124,
    0.12493873660829992,
    0.09691001300805642,
    0.07918124604762482,
    0.06694678963061322,
    0.05799194697768673,
    0.05115252244738129,
    0.04575749056067514,
)


def benford_deviation(
    cents_col: Column,
    group_by: Sequence[str] | str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """First-digit distribution vs Benford's law — the classic
    forensic screen for fabricated or truncated numeric columns (a
    synthetic data source that fails Benford wildly is worth a look
    before it trains anything).

    ``cents_col`` must be an INTEGER-valued column (e.g. price·100):
    the leading digit comes from the integer's decimal string, which
    formats identically in every engine — never from log10, whose
    boundary ULPs differ.  One data-scale aggregation; χ² terms run
    through the exact-decimal sum.

    Returns one row per (group, digit): ``group_by…, digit, n_obs,
    p_obs, p_benford, chi2`` (chi2 repeats per group).
    """
    gcols = group_columns(group_by)

    def _t(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        digit = F.substring(
            F.abs(cents_col).cast("bigint").cast("string"), 1, 1
        ).cast("int")
        counts = (
            df.where(F.abs(cents_col) >= 1)
            .groupBy(*gcols, digit.alias("digit"))
            .agg(F.count(F.lit(1)).alias("n_obs"))
            .where(F.col("digit") >= 1)
        )
        wg = Window.partitionBy(*gcols)
        n = F.sum("n_obs").over(wg).cast("double")
        p_obs = F.col("n_obs").cast("double") / n
        p_ben = F.lit(0.0)
        for d, p in enumerate(BENFORD_P, start=1):
            p_ben = F.when(F.col("digit") == d, F.lit(p)).otherwise(p_ben)
        staged = counts.withColumn("p_obs", p_obs).withColumn(
            "p_benford", p_ben
        )
        term = (
            (F.col("n_obs").cast("double") - F.col("p_benford") * n)
            * (F.col("n_obs").cast("double") - F.col("p_benford") * n)
            / (F.col("p_benford") * n)
        ).cast(DEC)
        return (
            staged.withColumn("_t", term)
            .withColumn("chi2", F.sum("_t").over(wg).cast("double"))
            .drop("_t")
        )

    return _t


def _running(gcols: list[str], t: str) -> WindowSpec:
    """The per-partition window over rows up to the current ``t``."""
    return (
        Window.partitionBy(*gcols)
        .orderBy(t)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def _at_risk(departed: Column, gcols: list[str], t: str) -> Column:
    """Subjects still at risk at each event time ``t`` of an event-time
    table whose rows carry the subjects ``departed`` (events plus
    censorings) at ``t``: the partition's total minus the departures
    up to ``t``, plus those at ``t`` itself."""
    return (
        F.sum(departed).over(Window.partitionBy(*gcols))
        - F.sum(departed).over(_running(gcols, t))
        + departed
    )


def _event_times(
    df: DataFrame, gcols: list[str], duration_col: str, event_col: Column
) -> DataFrame:
    """The event-time table of :func:`kaplan_meier` and
    :func:`nelson_aalen`: one row per (partition, duration ``t``) with
    its events ``_d``, censorings ``_c`` and risk set ``_n``."""
    per_t = (
        df.where(F.col(duration_col).isNotNull())
        .groupBy(*gcols, F.col(duration_col).alias("t"))
        .agg(
            F.sum(event_col.cast("int")).alias("_d"),
            F.sum(F.lit(1) - event_col.cast("int")).alias("_c"),
        )
    )
    return per_t.withColumn(
        "_n", _at_risk(F.col("_d") + F.col("_c"), gcols, "t")
    )


def kaplan_meier(
    duration_col: str,
    event_col: Column,
    group_by: str | None = None,
    greenwood: bool = False,
) -> Callable[[DataFrame], DataFrame]:
    """Kaplan–Meier survival estimator with right censoring — the
    churn/retention curve done correctly: censored subjects (still
    alive at last observation) leave the risk set without counting as
    deaths, which a naive "fraction retained" silently gets wrong.

        S(t) = Π_{t_i ≤ t} (1 − d_i / n_i)

    d_i = events at time t_i, n_i = subjects still at risk.  Plan: one
    (group, duration) aggregation, then per-group ordered windows —
    the risk set is group-total minus the cumulative departures, and
    the product runs in log space (ln terms summed over the same
    ordered window on both engines; survival rounds at the pinned 6 dp
    transcendental contract).  A time where the whole risk set dies
    (frac = 0) zeroes survival via an explicit flag rather than ln(0),
    which Spark nulls and DuckDB faults.

    Emits one row per EVENT time (d_i > 0): ``group_by…, t, n_risk,
    n_events, n_censored, survival``.

    ``greenwood=True`` appends the Greenwood standard error and the
    clamped 95% linear confidence band:

        Var(S) = S² · Σ_{t_i ≤ t} d_i / (n_i·(n_i − d_i))

    The per-time variance terms are 12 dp-decimal-rounded before their
    ordered cumulative sum (they are ~1/n² — the 6 dp cast would crush
    them to zero); an all-deaths time (n = d) has undefined variance —
    its term is NULL (skipped) and survival is 0 there anyway, so
    se/ci report 0.  Adds ``se, ci_lo, ci_hi`` (ci clamped to [0, 1],
    6 dp).
    """
    gcols = [group_by] if group_by else []

    def _t(df: DataFrame) -> DataFrame:
        wo = _running(gcols, "t")
        staged = _event_times(df, gcols, duration_col, event_col).withColumn(
            "_frac",
            F.lit(1.0)
            - F.col("_d").cast("double") / F.col("_n").cast("double"),
        )
        ln_safe = F.log(
            F.when(F.col("_frac") > 0, F.col("_frac")).otherwise(
                F.lit(1.0)
            )
        )
        dead = F.min("_frac").over(wo) <= 0
        s_raw = F.exp(F.sum(ln_safe).over(wo))
        survival = F.when(dead, F.lit(0.0)).otherwise(
            F.round(s_raw, 6)
        )
        cols = [
            *gcols,
            "t",
            F.col("_n").alias("n_risk"),
            F.col("_d").alias("n_events"),
            F.col("_c").alias("n_censored"),
            "survival",
        ]
        if greenwood:
            gterm = F.when(
                F.col("_n") > F.col("_d"),
                (
                    F.col("_d").cast("double")
                    / (
                        F.col("_n").cast("double")
                        * (F.col("_n") - F.col("_d")).cast("double")
                    )
                ).cast(DEC12),
            )
            gsum = F.sum(gterm).over(wo).cast("double")
            se_raw = s_raw * F.sqrt(gsum)
            se = F.when(dead, F.lit(0.0)).otherwise(
                F.round(se_raw, 6)
            )
            lo = F.when(dead, F.lit(0.0)).otherwise(
                F.round(
                    F.greatest(
                        F.lit(0.0),
                        s_raw - F.lit(1.96) * se_raw,
                    ),
                    6,
                )
            )
            hi = F.when(dead, F.lit(0.0)).otherwise(
                F.round(
                    F.least(
                        F.lit(1.0),
                        s_raw + F.lit(1.96) * se_raw,
                    ),
                    6,
                )
            )
            cols += [se.alias("se"), lo.alias("ci_lo"), hi.alias("ci_hi")]
        return (
            staged.withColumn("survival", survival)
            .where(F.col("_d") > 0)
            .select(*cols)
        )

    return _t


def _ranked(
    df: DataFrame, value_col: str, group_col: str, partition_by: str | None
) -> tuple[DataFrame, Column]:
    """The ranked-sample preamble of :func:`mann_whitney_u`,
    :func:`kruskal_wallis_h` and :func:`dunn_posthoc`: the rows with a
    value and a group, with tie-averaged ranks over each partition's
    combined sample (:func:`…windows.group_ranks`), and the tie-mass
    aggregate over them.  A tie block of size t contributes t rows each
    carrying ``cnt = t``, so Σ_rows(cnt² − 1) = Σ_blocks(t³ − t), and
    ``cnt`` is recovered exactly from the half-integer identity
    ``cnt = 2·(avg_rank − min_rank) + 1``; the terms are integers
    < 2^53, summed through the decimal idiom."""
    from btc_usdt_etl_pipeline_spark.operators.windows import group_ranks

    gcols = [partition_by] if partition_by else []
    d = df.where(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(*gcols, value_col, group_col)
    r = d.transform(group_ranks(value_col, group_by=partition_by))
    cnt = (
        F.lit(2.0)
        * (F.col("avg_rank") - F.col("min_rank").cast("double"))
        + F.lit(1.0)
    )
    return r, F.sum((cnt * cnt - F.lit(1.0)).cast(DEC)).cast("double")


def mann_whitney_u(
    value_col: str,
    group_col: str,
    group_a,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Mann–Whitney U (Wilcoxon rank-sum) two-sample test per
    partition — the NONPARAMETRIC A/B detector: does sample A tend to
    produce larger values than everything else, without assuming
    normality (the assumption that makes t-tests lie about latency or
    revenue tails)?  ``group_a`` marks the A side; every other non-null
    group row is B.

        U_A = R_A − n_A(n_A+1)/2,   R_A = Σ avg_rank over A rows
        z = (U_A − n_A·n_B/2) / σ,
        σ² = n_A·n_B/12 · [ (n+1) − Σ(t³−t) / (n(n−1)) ]   (tie-corrected)

    Ranks are the textbook tie-averaged ranks over the COMBINED sample,
    delegated to :func:`btc_usdt_etl_pipeline_spark.operators.windows.
    group_ranks` — so the same size gate applies: below it the ranks
    are one ordered window per partition (hot-partition single-task
    ceiling), past it the bucketed-rank plan (one row-scale shuffle,
    no full-partition sort task), with BIT-IDENTICAL output.  The tie term
    needs no second pass (``_ranked`` recovers each row's tie-block size
    from its ranks).

    Rank sums are exact half-integers through the decimal idiom; the
    only transcendental is the final IEEE sqrt, z pinned at 6 dp.
    Degenerate partitions (either side empty, or all values tied →
    σ = 0) emit NULL z.  Rows with a NULL value or NULL group are
    dropped.  Returns ``partition…, n_a, n_b, u_a, u_b, z``.
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        r, ties = _ranked(df, value_col, group_col, partition_by)
        is_a = F.col(group_col) == F.lit(group_a)
        agg = r.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(is_a.cast("long")).alias("n_a"),
            F.sum(
                F.when(is_a, F.col("avg_rank")).otherwise(F.lit(0.0))
                .cast(DEC)
            )
            .cast("double")
            .alias("_ra"),
            ties.alias("_ties"),
        )
        n = F.col("_n").cast("double")
        na = F.col("n_a").cast("double")
        nb = (F.col("_n") - F.col("n_a")).cast("double")
        u_a = F.col("_ra") - na * (na + F.lit(1.0)) / F.lit(2.0)
        u_b = na * nb - u_a
        var = (
            na
            * nb
            / F.lit(12.0)
            * (
                (n + F.lit(1.0))
                - F.col("_ties") / (n * (n - F.lit(1.0)))
            )
        )
        z = F.when(
            (F.col("n_a") > 0) & (F.col("_n") > F.col("n_a")) & (var > 0),
            F.round(
                (u_a - na * nb / F.lit(2.0)) / F.sqrt(var), 6
            ),
        )
        return agg.select(
            *gcols,
            "n_a",
            (F.col("_n") - F.col("n_a")).alias("n_b"),
            u_a.alias("u_a"),
            u_b.alias("u_b"),
            z.alias("z"),
        )

    return _t


def kruskal_wallis_h(
    value_col: str,
    group_col: str,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Kruskal–Wallis H per partition — the k-SAMPLE generalization of
    :func:`mann_whitney_u` (one-way ANOVA on ranks): do ANY of the
    groups tend to produce larger values, without normality or
    equal-variance assumptions?

        H = 12/(n(n+1)) · Σ_g R_g²/n_g − 3(n+1),
        tie-corrected:  H / C,   C = 1 − Σ(t³−t)/(n³−n)

    Combined tie-averaged ranks delegate to ``group_ranks`` (same size
    gate — the bucketed-rank plan removes the hot-partition
    single-sort-task ceiling, BIT-IDENTICAL output), and
    both the per-group rank sums and the partition tie mass come out of
    ONE grouped aggregation over the ranked rows plus one
    metadata-scale rollup (groups × partitions rows).  Rank sums are
    exact half-integers through the decimal idiom; ``h`` is pinned at
    6 dp.  Degenerate partitions (fewer than 2 groups, or every value
    tied → C = 0) emit NULL ``h``.  Rows with a NULL value or NULL
    group are dropped.  Returns ``partition…, n, k, h``.
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        r, ties = _ranked(df, value_col, group_col, partition_by)
        per_g = r.groupBy(*gcols, group_col).agg(
            F.count(F.lit(1)).alias("_ng"),
            F.sum(F.col("avg_rank").cast(DEC))
            .cast("double")
            .alias("_rg"),
            ties.alias("_tg"),
        )
        agg = per_g.groupBy(*gcols).agg(
            F.sum("_ng").alias("n"),
            F.count(F.lit(1)).alias("k"),
            F.sum(
                (
                    F.col("_rg") * F.col("_rg")
                    / F.col("_ng").cast("double")
                ).cast(DEC)
            )
            .cast("double")
            .alias("_s"),
            F.sum(F.col("_tg").cast(DEC)).cast("double").alias("_t"),
        )
        n = F.col("n").cast("double")
        h = (
            F.lit(12.0) / (n * (n + F.lit(1.0))) * F.col("_s")
            - F.lit(3.0) * (n + F.lit(1.0))
        )
        corr = F.lit(1.0) - F.col("_t") / (n * n * n - n)
        out = F.when(
            (F.col("k") > 1) & (F.col("n") > 1) & (corr > 0),
            F.round(h / corr, 6),
        )
        return agg.select(*gcols, "n", "k", out.alias("h"))

    return _t


def _deviation_anova(
    d: DataFrame,
    centers: DataFrame,
    center: str,
    keys: list[str],
    x: Column,
    *group_aggs: Column,
) -> tuple[DataFrame, list[Column], Column]:
    """The centred-deviation ANOVA of :func:`brown_forsythe_f` and
    :func:`compare_groups` (median centre) and :func:`bartlett_levene`
    (mean centre): one-way ANOVA on ``z = |x − c_g|``, with each group's
    centre column ``center`` of ``centers`` broadcast back null-safely
    on ``keys`` (partition columns plus the group column).  Returns

    * the per-group size ``_ng``, ``group_aggs`` (further aggregates
      of the same per-group pass) and Σz ``_sz`` and Σz² ``_szz`` of
      ``d``;
    * the per-partition rollup aggregates ``_tz`` = Σz, ``_sb`` =
      Σ(Σz_g)²/n_g and ``_tzz`` = Σz², over per-group rows carrying
      ``_ng``, ``_sz`` and ``_szz``;
    * the F column over ``n``, ``k`` and that rollup, with
      SSB = _sb − _tz²/N and SSW = _tzz − _sb: NULL unless k ≥ 2,
      N > k and SSW > 0, pinned at 6 dp.

    Every sum runs through the decimal idiom, so both engines replay
    the identical tree on identical doubles."""
    z = F.abs(x - F.col(center))
    per_g = (
        null_safe_join(d, F.broadcast(centers.select(*keys, center)), keys)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("_ng"),
            *group_aggs,
            F.sum(z.cast(DEC)).cast("double").alias("_sz"),
            F.sum((z * z).cast(DEC)).cast("double").alias("_szz"),
        )
    )
    rollup = [
        F.sum(F.col("_sz").cast(DEC)).cast("double").alias("_tz"),
        F.sum(
            (F.col("_sz") * F.col("_sz") / F.col("_ng").cast("double"))
            .cast(DEC)
        )
        .cast("double")
        .alias("_sb"),
        F.sum(F.col("_szz").cast(DEC)).cast("double").alias("_tzz"),
    ]
    n = F.col("n").cast("double")
    k = F.col("k").cast("double")
    ssb = F.col("_sb") - F.col("_tz") * F.col("_tz") / n
    ssw = F.col("_tzz") - F.col("_sb")
    fstat = F.when(
        (F.col("k") > 1) & (F.col("n") > F.col("k")) & (ssw > 0),
        F.round((ssb / (k - F.lit(1.0))) / (ssw / (n - k)), 6),
    )
    return per_g, rollup, fstat


def brown_forsythe_f(
    value_col: str,
    group_col: str,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Brown–Forsythe test per partition — variance-HOMOGENEITY across
    k groups (Levene's test centered at the MEDIAN, the robust
    variant): one-way ANOVA on the absolute deviations
    ``z = |x − median_g|``.  The scale-side complement of the location
    tests (:func:`mann_whitney_u` / :func:`kruskal_wallis_h`): a cohort
    whose metric VARIANCE drifted fails this while passing a mean or
    rank test.

        F = [(N−k)/(k−1)] · Σ n_g (z̄_g − z̄)² / Σ (z_gi − z̄_g)²

    Plan: one grouped exact-median aggregation (6 dp pinned idiom)
    broadcast back null-safely, then BOTH sums of squares come out of
    per-group (n_g, Σz, Σz²) decimal moments — two partial-combined
    aggregations and a metadata-scale rollup, no window, no sort, no
    Python.  SSB = Σ(Σz_g)²/n_g − (Σz)²/N and SSW = Σz² − Σ(Σz_g)²/n_g
    over identically-derived doubles; the oracle replays the identical
    tree; ``f`` pinned at 6 dp.  Degenerate partitions (k < 2, N ≤ k,
    or SSW = 0 — all deviations equal) emit NULL ``f``.  Returns
    ``partition…, n, k, dof1, dof2, f``.
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
        ).select(*gcols, group_col, value_col)
        med = d.groupBy(*gcols, group_col).agg(
            F.round(F.percentile(value_col, F.lit(0.5)), 6).alias("_med")
        )
        per_g, rollup, fstat = _deviation_anova(
            d, med, "_med", [*gcols, group_col], F.col(value_col)
        )
        agg = per_g.groupBy(*gcols).agg(
            F.sum("_ng").alias("n"), F.count(F.lit(1)).alias("k"), *rollup
        )
        return agg.select(
            *gcols,
            "n",
            "k",
            (F.col("k") - 1).alias("dof1"),
            (F.col("n") - F.col("k")).alias("dof2"),
            fstat.alias("f"),
        )

    return _t


def welch_t(
    value_col: str,
    group_col: str,
    group_a,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Welch's unequal-variance t-test per partition — the PARAMETRIC
    two-sample location test completing the battery next to
    :func:`mann_whitney_u` (use Welch when means are the business
    metric and samples are large enough for the CLT; use the U test
    when tails/outliers rule means out).  Never assumes equal
    variances (the classic pooled t-test's trap):

        t = (x̄_A − x̄_B) / sqrt(s²_A/n_A + s²_B/n_B)
        ν = (s²_A/n_A + s²_B/n_B)² /
            [ (s²_A/n_A)²/(n_A−1) + (s²_B/n_B)²/(n_B−1) ]   (dof)

    ONE conditional-moment aggregation (n, Σx, Σx² per side through
    the exact-decimal idiom — order-free doubles both engines agree
    on), then scalar arithmetic; no window, no sort, no Python.
    Sample variances are the n−1 form computed as
    (Σx² − (Σx)²/n)/(n−1) — the identical tree the oracle replays.
    ``t`` and ``dof`` pinned at 6 dp; degenerate partitions (either
    side n < 2, or both variances zero) emit NULLs.  Returns
    ``partition…, n_a, n_b, mean_a, mean_b, t, dof``.
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
        )
        is_a = F.col(group_col) == F.lit(group_a)
        x = F.col(value_col).cast("double")

        def side(cond, suffix):
            xa = F.when(cond, x)
            return [
                F.count(xa).alias(f"_n{suffix}"),
                F.sum(xa.cast(DEC)).cast("double").alias(f"_s{suffix}"),
                F.sum((xa * xa).cast(DEC))
                .cast("double")
                .alias(f"_q{suffix}"),
            ]

        agg = d.groupBy(*gcols).agg(*side(is_a, "a"), *side(~is_a, "b"))
        na, nb = F.col("_na").cast("double"), F.col("_nb").cast("double")
        ma = F.col("_sa") / na
        mb = F.col("_sb") / nb
        va = (F.col("_qa") - F.col("_sa") * F.col("_sa") / na) / (
            na - F.lit(1.0)
        )
        vb = (F.col("_qb") - F.col("_sb") * F.col("_sb") / nb) / (
            nb - F.lit(1.0)
        )
        sa, sb = va / na, vb / nb
        se2 = sa + sb
        ok = (F.col("_na") > 1) & (F.col("_nb") > 1) & (se2 > 0)
        t = F.when(ok, F.round((ma - mb) / F.sqrt(se2), 6))
        dof = F.when(
            ok,
            F.round(
                se2 * se2
                / (
                    sa * sa / (na - F.lit(1.0))
                    + sb * sb / (nb - F.lit(1.0))
                ),
                6,
            ),
        )
        return agg.select(
            *gcols,
            F.col("_na").alias("n_a"),
            F.col("_nb").alias("n_b"),
            F.round(ma, 6).alias("mean_a"),
            F.round(mb, 6).alias("mean_b"),
            t.alias("t"),
            dof.alias("dof"),
        )

    return _t


def compare_groups(
    value_col: str,
    group_col: str,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """One-call k-sample comparison table per partition — LOCATION
    (Welch's heteroscedastic one-way ANOVA F, the k-sample
    generalization of :func:`welch_t`: never assumes equal variances)
    and SCALE (Brown–Forsythe F, Levene centered at the median) in a
    single operator, the way eval pipelines actually consume the
    battery: "did any cohort move, in mean or in spread?".

        w_g = n_g/s²_g,  W = Σw,  x̄_w = Σ(w·x̄)/W
        A = [Σ w·x̄² − (Σ w·x̄)²/W] / (k−1)
        Bsum = Σ (1 − w_g/W)²/(n_g−1)
             = Σ 1/(n_g−1) − (2/W)·Σ w/(n_g−1) + (1/W²)·Σ w²/(n_g−1)
        F_welch = A / (1 + 2(k−2)/(k²−1)·Bsum)       (Welch 1951)
        dof2 = (k²−1) / (3·Bsum)

    Cost: the moment aggregations COEXIST — pass 1 is one grouped agg
    producing n_g, Σx, Σx² AND the exact median; pass 2 adds the
    |x − med| deviation moments (the unavoidable second scan any
    median-centered statistic needs, exactly :func:`brown_forsythe_f`'s
    plan); everything above group granularity is metadata-scale.  So
    the combined table costs ONE grouped agg more than Brown–Forsythe
    alone — running welch_t per group pair would rescan the corpus
    O(k) times.

    Parity discipline: per-group doubles derive from exact decimal row
    sums (identical on both engines); the ACROSS-GROUP sums of derived
    terms (w, w·x̄, …) are order-dependent in IEEE, so each term is
    cast to DECIMAL(38,12) before summing (exact, order-free) — the
    q186 idiom.  Welch terms are fenced per group (n_g ≥ 2 AND
    s²_g > 0) and the partition emits NULL welch columns unless EVERY
    group passes (a zero-variance group makes w undefined); BF
    degenerates (k < 2, N ≤ k, SSW = 0) emit NULL bf columns, as in
    :func:`brown_forsythe_f`.  Returns ``partition…, n, k, welch_f,
    welch_dof1, welch_dof2, bf_f, bf_dof1, bf_dof2`` (F/dof2 at 6 dp).
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
        ).select(*gcols, group_col, F.col(value_col).alias("_v"))
        x = F.col("_v").cast("double")
        # pass 1: exact median per group
        pg = d.groupBy(*gcols, group_col).agg(
            F.round(F.percentile("_v", F.lit(0.5)), 6).alias("_med"),
        )
        # pass 2: location moments beside the median-centered deviation
        # moments (BF's z pass)
        per_g, bf_rollup, bf_f = _deviation_anova(
            d,
            pg,
            "_med",
            [*gcols, group_col],
            x,
            F.sum(x.cast(DEC)).cast("double").alias("_sx"),
            F.sum((x * x).cast(DEC)).cast("double").alias("_sxx"),
        )
        ng = F.col("_ng").cast("double")
        mean = F.col("_sx") / ng
        var = (
            F.col("_sxx") - F.col("_sx") * F.col("_sx") / ng
        ) / (ng - F.lit(1.0))
        ok_g = (F.col("_ng") > 1) & (var > 0)
        w = F.when(ok_g, ng / var)
        terms = per_g.select(
            *gcols,
            "_ng",
            "_sz",
            "_szz",
            ok_g.cast("int").alias("_okg"),
            w.cast(DEC12).alias("_w"),
            (w * mean).cast(DEC12).alias("_wm"),
            (w * mean * mean).cast(DEC12).alias("_wmm"),
            F.when(ok_g, F.lit(1.0) / (ng - F.lit(1.0)))
            .cast(DEC12)
            .alias("_t0"),
            F.when(ok_g, w / (ng - F.lit(1.0)))
            .cast(DEC12)
            .alias("_t1"),
            F.when(ok_g, w * w / (ng - F.lit(1.0)))
            .cast(DEC12)
            .alias("_t2"),
        )
        agg = terms.groupBy(*gcols).agg(
            F.sum("_ng").alias("n"),
            F.count(F.lit(1)).alias("k"),
            F.min("_okg").alias("_ok"),
            F.sum("_w").cast("double").alias("_W"),
            F.sum("_wm").cast("double").alias("_Swm"),
            F.sum("_wmm").cast("double").alias("_Swmm"),
            F.sum("_t0").cast("double").alias("_T0"),
            F.sum("_t1").cast("double").alias("_T1"),
            F.sum("_t2").cast("double").alias("_T2"),
            *bf_rollup,
        )
        k = F.col("k").cast("double")
        a_num = (
            F.col("_Swmm") - F.col("_Swm") * F.col("_Swm") / F.col("_W")
        ) / (k - F.lit(1.0))
        bsum = (
            F.col("_T0")
            - F.lit(2.0) * F.col("_T1") / F.col("_W")
            + F.col("_T2") / (F.col("_W") * F.col("_W"))
        )
        ok_w = (
            (F.col("_ok") == 1) & (F.col("k") > 1) & (bsum > 0)
        )
        welch_f = F.when(
            ok_w,
            F.round(
                a_num
                / (
                    F.lit(1.0)
                    + F.lit(2.0) * (k - F.lit(2.0)) / (k * k - F.lit(1.0))
                    * bsum
                ),
                6,
            ),
        )
        welch_dof2 = F.when(
            ok_w,
            F.round((k * k - F.lit(1.0)) / (F.lit(3.0) * bsum), 6),
        )
        return agg.select(
            *gcols,
            "n",
            "k",
            welch_f.alias("welch_f"),
            (F.col("k") - 1).alias("welch_dof1"),
            welch_dof2.alias("welch_dof2"),
            bf_f.alias("bf_f"),
            (F.col("k") - 1).alias("bf_dof1"),
            (F.col("n") - F.col("k")).alias("bf_dof2"),
        )

    return _t


def _arm_moments(
    d: DataFrame, gcols: list[str], x_col: str, y_col: str, treat_col: str
) -> DataFrame:
    """Per partition of ``d``, the raw moments of each experiment arm —
    suffix ``t`` where ``treat_col`` is 1, ``c`` elsewhere: the count
    ``_n`` of ``y`` and the sums ``_sx, _sy, _sxy, _sxx, _syy`` of the
    double-cast columns, each term summed as an exact DECIMAL(38,12) so
    the across-unit sums are order-free."""
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    is_t = F.col(treat_col).cast("int") == 1

    def side(cond, s):
        xa, ya = F.when(cond, x), F.when(cond, y)
        return [
            F.count(ya).alias(f"_n{s}"),
            F.sum(xa.cast(DEC12)).cast("double").alias(f"_sx{s}"),
            F.sum(ya.cast(DEC12)).cast("double").alias(f"_sy{s}"),
            F.sum((xa * ya).cast(DEC12)).cast("double").alias(f"_sxy{s}"),
            F.sum((xa * xa).cast(DEC12)).cast("double").alias(f"_sxx{s}"),
            F.sum((ya * ya).cast(DEC12)).cast("double").alias(f"_syy{s}"),
        ]

    return d.groupBy(*gcols).agg(*side(is_t, "t"), *side(~is_t, "c"))


def cuped_adjusted_diff(
    y_col: str,
    x_col: str,
    treat_col: str,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """CUPED variance-reduced treatment-effect estimate per partition
    (Deng, Xu, Kohavi & Walker, WSDM 2013 — the industry-standard A/B
    adjustment): given one row per experimental UNIT with metric ``y``,
    pre-period covariate ``x``, and a 0/1 treatment flag,

        θ = cov(x, y) / var(x)          (pooled over all units)
        y_adj = y − θ·(x − x̄)
        diff_cuped = ȳ_T − ȳ_C − θ·(x̄_T − x̄_C)
        Var_g(y_adj) = Var_g(y) − 2θ·Cov_g(x, y) + θ²·Var_g(x)
        t_cuped = diff_cuped / sqrt(v_T/n_T + v_C/n_C)   (Welch form)
        var_reduction = ρ² = cov² / (var_x · var_y)

    Everything is ONE conditional-moment aggregation per partition —
    per-side n, Σx, Σy, Σxy, Σx², Σy² through the exact-decimal idiom
    (each product cast to DECIMAL(38,12) before summing: unit-level
    x/y are derived doubles, so their ACROSS-UNIT sums must be
    order-free for oracle parity) — plus scalar arithmetic.  No second
    scan: adjusted group means and variances are closed forms of the
    raw moments.  Degenerate fences: var(x) ≤ 0 (θ undefined) or
    var(y) ≤ 0 emit NULL θ/adjusted columns while ``diff_raw``
    survives; either side n < 2 emits NULL ``t_cuped``.  Returns
    ``partition…, n_t, n_c, theta, diff_raw, diff_cuped,
    var_reduction, t_cuped`` (6 dp pins on the derived statistics).
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(y_col).isNotNull()
            & F.col(x_col).isNotNull()
            & F.col(treat_col).isNotNull()
        )
        agg = _arm_moments(d, gcols, x_col, y_col, treat_col)
        nt, nc = F.col("_nt").cast("double"), F.col("_nc").cast("double")
        n = nt + nc
        sx = F.col("_sxt") + F.col("_sxc")
        sy = F.col("_syt") + F.col("_syc")
        sxy = F.col("_sxyt") + F.col("_sxyc")
        sxx = F.col("_sxxt") + F.col("_sxxc")
        syy = F.col("_syyt") + F.col("_syyc")
        # pooled covariance / variances (n-denominator cancels in θ, ρ²)
        cov = sxy - sx * sy / n
        vx = sxx - sx * sx / n
        vy = syy - sy * sy / n
        ok = (vx > 0) & (vy > 0) & (F.col("_nt") > 0) & (F.col("_nc") > 0)
        # ANSI discipline: every denominator is fenced in its OWN
        # conditional (x / NULL = NULL) — a downstream CASE does NOT
        # stop ANSI from faulting a zero divisor inside the expression
        # (constant covariate → vx = 0, empty/singleton side → n = 0
        # or n − 1 = 0).
        ntf = F.when(F.col("_nt") > 0, nt)
        ncf = F.when(F.col("_nc") > 0, nc)
        theta = cov / F.when(vx > 0, vx)
        diff_raw = F.col("_syt") / ntf - F.col("_syc") / ncf
        diff_cuped = diff_raw - theta * (
            F.col("_sxt") / ntf - F.col("_sxc") / ncf
        )

        def vadj(s):
            ns = F.col(f"_n{s}").cast("double")
            nsf = F.when(F.col(f"_n{s}") > 0, ns)
            ns1 = F.when(F.col(f"_n{s}") > 1, ns - F.lit(1.0))
            vy_g = (
                F.col(f"_syy{s}")
                - F.col(f"_sy{s}") * F.col(f"_sy{s}") / nsf
            ) / ns1
            cov_g = (
                F.col(f"_sxy{s}")
                - F.col(f"_sx{s}") * F.col(f"_sy{s}") / nsf
            ) / ns1
            vx_g = (
                F.col(f"_sxx{s}")
                - F.col(f"_sx{s}") * F.col(f"_sx{s}") / nsf
            ) / ns1
            return vy_g - F.lit(2.0) * theta * cov_g + theta * theta * vx_g

        se2 = vadj("t") / ntf + vadj("c") / ncf
        ok_t = ok & (F.col("_nt") > 1) & (F.col("_nc") > 1) & (se2 > 0)
        return agg.select(
            *gcols,
            F.col("_nt").alias("n_t"),
            F.col("_nc").alias("n_c"),
            F.when(ok, F.round(theta, 6)).alias("theta"),
            F.round(diff_raw, 6).alias("diff_raw"),
            F.when(ok, F.round(diff_cuped, 6)).alias("diff_cuped"),
            F.when(
                ok, F.round(cov * cov / F.when(ok, vx * vy), 6)
            ).alias("var_reduction"),
            F.when(ok_t, F.round(diff_cuped / F.sqrt(se2), 6)).alias(
                "t_cuped"
            ),
        )

    return _t


def sample_ratio_check(
    treat_col: str,
    expected: float = 0.5,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Sample-ratio-mismatch (SRM) check per experiment partition —
    the first gate every A/B readout must pass (Fabijan et al., KDD
    2019 diagnosis practice): if the realized treatment share differs
    from the DESIGNED split, the assignment machinery is broken and
    every downstream statistic is invalid.  One count aggregation over
    unit rows:

        chi² = (n_T − n·p)²/(n·p) + (n_C − n·(1−p))²/(n·(1−p)),  1 dof

    ``srm_flag`` is chi² > 3.841459 (the 1-dof 95th percentile —
    a constant, so no CDF is needed; the statistic itself is what the
    oracle pins).  Expects ONE ROW PER UNIT (dedupe upstream —
    counting events would overweight active users).  Degenerate
    partitions (n = 0 after filters — unreachable via groupBy — or
    p outside (0,1)) are the caller's contract; chi² pinned at 6 dp.
    Returns ``partition…, n_t, n_c, expected_share, chi2, srm_flag``.
    """
    if not 0.0 < expected < 1.0:
        raise ValueError("expected share must be in (0, 1)")
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(F.col(treat_col).isNotNull())
        is_t = F.col(treat_col).cast("int") == 1
        agg = d.groupBy(*gcols).agg(
            F.sum(is_t.cast("long")).alias("n_t"),
            F.sum((~is_t).cast("long")).alias("n_c"),
        )
        n = (F.col("n_t") + F.col("n_c")).cast("double")
        p = F.lit(float(expected))
        et = n * p
        ec = n * (F.lit(1.0) - p)
        dt = F.col("n_t").cast("double") - et
        dc = F.col("n_c").cast("double") - ec
        chi2 = F.round(dt * dt / et + dc * dc / ec, 6)
        return agg.select(
            *gcols,
            "n_t",
            "n_c",
            p.alias("expected_share"),
            chi2.alias("chi2"),
            (chi2 > F.lit(3.841459)).alias("srm_flag"),
        )

    return _t


def ratio_metric_diff(
    num_col: str,
    den_col: str,
    treat_col: str,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Delta-method comparison of a RATIO metric per partition — the
    correct A/B machinery when the metric is Σnumerator/Σdenominator
    over units (CTR, revenue-per-session, tokens-per-doc): the naive
    per-unit-mean t-test answers a different question, and unit ratios
    are undefined for zero denominators.  Per side (Deng et al.,
    KDD 2018 "Applying the Delta Method in Metric Analytics"):

        R = Σy/Σx,   x̄ = Σx/n
        Var(R) ≈ [Var(y) − 2R·Cov(y,x) + R²·Var(x)] / (n·x̄²)
        t = (R_T − R_C) / sqrt(Var(R_T) + Var(R_C))

    ONE conditional-moment aggregation (per-side n, Σx, Σy, Σxy, Σx²,
    Σy² — unit-level values ride DECIMAL(38,12) so across-unit sums
    are order-free), then scalar arithmetic with every denominator
    ANSI-fenced.  Degenerates: a side with n < 2, Σx ≤ 0, or a
    non-positive variance estimate emits NULL ``t`` (ratios that
    exist still emit).  Returns ``partition…, n_t, n_c, ratio_t,
    ratio_c, diff, t`` (6 dp pins).
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(num_col).isNotNull()
            & F.col(den_col).isNotNull()
            & F.col(treat_col).isNotNull()
        )
        agg = _arm_moments(d, gcols, den_col, num_col, treat_col)

        def ratio(s):
            sxf = F.when(F.col(f"_sx{s}") > 0, F.col(f"_sx{s}"))
            return F.col(f"_sy{s}") / sxf

        def var_r(s):
            ns = F.col(f"_n{s}").cast("double")
            nsf = F.when(F.col(f"_n{s}") > 0, ns)
            ns1 = F.when(F.col(f"_n{s}") > 1, ns - F.lit(1.0))
            r = ratio(s)
            vy = (
                F.col(f"_syy{s}")
                - F.col(f"_sy{s}") * F.col(f"_sy{s}") / nsf
            ) / ns1
            cv = (
                F.col(f"_sxy{s}")
                - F.col(f"_sx{s}") * F.col(f"_sy{s}") / nsf
            ) / ns1
            vx = (
                F.col(f"_sxx{s}")
                - F.col(f"_sx{s}") * F.col(f"_sx{s}") / nsf
            ) / ns1
            xbar = F.col(f"_sx{s}") / nsf
            core = vy - F.lit(2.0) * r * cv + r * r * vx
            return core / (
                F.when(F.col(f"_n{s}") > 0, ns * xbar * xbar)
            )

        se2 = var_r("t") + var_r("c")
        diff = ratio("t") - ratio("c")
        ok_t = (
            (F.col("_nt") > 1)
            & (F.col("_nc") > 1)
            & (F.col("_sxt") > 0)
            & (F.col("_sxc") > 0)
            & (se2 > 0)
        )
        return agg.select(
            *gcols,
            F.col("_nt").alias("n_t"),
            F.col("_nc").alias("n_c"),
            F.round(ratio("t"), 6).alias("ratio_t"),
            F.round(ratio("c"), 6).alias("ratio_c"),
            F.round(diff, 6).alias("diff"),
            F.when(ok_t, F.round(diff / F.sqrt(se2), 6)).alias("t"),
        )

    return _t


def cohens_kappa(
    rater_a_col: str,
    rater_b_col: str,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Cohen's κ inter-annotator agreement per partition — the
    label-QUALITY statistic for any labeling/annotation pipeline
    (human raters, model-vs-human, two model versions): raw percent
    agreement is inflated by class imbalance, κ subtracts the
    agreement two independent raters with these marginals would reach
    by chance:

        p_o = Σ 1[a = b] / n
        p_e = Σ_labels (n_a(ℓ)/n) · (n_b(ℓ)/n)
        κ = (p_o − p_e) / (1 − p_e)

    Plan: one agreement aggregation (n, n_agree), two label-marginal
    aggregations inner-joined on (partition, label) — a label whose
    mass is one-sided contributes 0 to p_e, so the inner join is
    exact — and a metadata-scale rollup.  Everything is integer
    counts (< 2⁵³, exact in double), so the only pin is the final
    6 dp rounding of κ.  Rows with a NULL label on either side are
    dropped (standard practice: un-rated items carry no agreement
    evidence).  p_e = 1 (both raters constant and identical) emits
    NULL κ — agreement is trivially perfect and the statistic is
    undefined.  Returns ``partition…, n, po, pe, kappa``.
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        a, b = F.col(rater_a_col), F.col(rater_b_col)
        d = df.where(a.isNotNull() & b.isNotNull()).select(
            *gcols, a.alias("_a"), b.alias("_b")
        )
        base = d.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("_a") == F.col("_b")).cast("long")).alias(
                "_agree"
            ),
        )
        ma = d.groupBy(*gcols, F.col("_a").alias("_lbl")).agg(
            F.count(F.lit(1)).alias("_ca")
        )
        mb = d.groupBy(*gcols, F.col("_b").alias("_lbl")).agg(
            F.count(F.lit(1)).alias("_cb")
        )
        # LEFT join from rater-A's marginals: a label the other rater
        # never used contributes 0 to p_e, and the aggregate keeps one
        # row per partition even when the raters' label sets are
        # disjoint (an inner join would drop the partition entirely).
        pe_tab = (
            ma.join(mb, [*gcols, "_lbl"], "left")
            .groupBy(*gcols)
            .agg(
                F.sum(
                    F.col("_ca") * F.coalesce(F.col("_cb"), F.lit(0))
                ).alias("_pe_num")
            )
        )
        joined = join_groups(base, pe_tab, gcols)
        n = F.col("n").cast("double")
        po = F.col("_agree").cast("double") / n
        pe = F.coalesce(F.col("_pe_num"), F.lit(0)).cast("double") / (
            n * n
        )
        kappa = F.when(
            pe < 1.0, F.round((po - pe) / (F.lit(1.0) - pe), 6)
        )
        return joined.select(
            *gcols,
            "n",
            F.round(po, 6).alias("po"),
            F.round(pe, 6).alias("pe"),
            kappa.alias("kappa"),
        )

    return _t


def bt_schedule(
    items: Sequence[str], iterations: int
) -> tuple[list[tuple[str, str]], list[list[tuple[str, str]]]]:
    """The Bradley–Terry MM iteration schedule as (column, SQL-expr)
    steps — ONE generator rendered into BOTH engines (the q227
    generated-elimination idiom), so every +, /, and CASE parses to
    the identical tree and the doubles match bit-for-bit.

    Step 0 defines the win-total/loss-total columns ``bt_w_i`` /
    ``bt_l_i`` from the pivoted pair counts ``w_i_j`` (wins of item i
    over item j); each round r emits the raw MM update

        p{r}_i = bt_w_i / Σ_{j≠i} (w_i_j + w_j_i) / (q{r-1}_i + q{r-1}_j)

    (every denominator fenced in its own CASE — a pair of zero-mass
    strengths contributes 0, a zero denominator yields strength 0)
    followed by the normalization columns ``q{r}_i = p{r}_i / Σ p{r}``
    that pin the scale invariance.  Term order is the generation
    order, fixed and identical on both sides.
    """
    k = len(items)
    zero, one = "CAST(0 AS DOUBLE)", "CAST(1.0 AS DOUBLE)"
    base: list[tuple[str, str]] = []
    for i in range(k):
        wins = " + ".join(f"w_{i}_{j}" for j in range(k) if j != i)
        loss = " + ".join(f"w_{j}_{i}" for j in range(k) if j != i)
        base.append((f"bt_w_{i}", f"({wins})"))
        base.append((f"bt_l_{i}", f"({loss})"))
    base.extend((f"q0_{i}", one) for i in range(k))
    rounds: list[list[tuple[str, str]]] = []
    for r in range(1, iterations + 1):
        step: list[tuple[str, str]] = []
        for i in range(k):
            terms = []
            for j in range(k):
                if j == i:
                    continue
                pij = f"(q{r-1}_{i} + q{r-1}_{j})"
                terms.append(
                    f"(CASE WHEN {pij} > {zero} THEN "
                    f"(w_{i}_{j} + w_{j}_{i}) / {pij} ELSE {zero} END)"
                )
            d = " + ".join(terms)
            step.append(
                (
                    f"p{r}_{i}",
                    f"(CASE WHEN ({d}) > {zero} THEN "
                    f"bt_w_{i} / ({d}) ELSE {zero} END)",
                )
            )
        s = " + ".join(f"p{r}_{i}" for i in range(k))
        norm = [
            (
                f"q{r}_{i}",
                f"(CASE WHEN ({s}) > {zero} THEN "
                f"p{r}_{i} / ({s}) ELSE {zero} END)",
            )
            for i in range(k)
        ]
        # two stages per round: the normalization references the raw
        # p{r}_* columns, so it must live in its own SELECT/CTE (no
        # reliance on lateral column aliases in either engine)
        rounds.append(step)
        rounds.append(norm)
    return base, rounds


def bradley_terry(
    winner_col: str,
    loser_col: str,
    items: Sequence[str],
    iterations: int = 20,
) -> Callable[[DataFrame], DataFrame]:
    """Bradley–Terry strength estimation from pairwise comparisons —
    the preference-data statistic behind reward-model corpora and
    ranked evals (chosen/rejected pairs → per-item latent strengths;
    Bradley & Terry 1952, MM iteration per Hunter 2004):

        P(i beats j) = π_i / (π_i + π_j)
        π_i ← W_i / Σ_{j≠i} n_ij / (π_i + π_j),  normalized per round

    Plan: the DISTRIBUTED work is one ``groupBy(winner, loser)``
    count (hash agg keyed on the two strings, map-side combined — one
    cheap key hash per comparison row instead of 2·k(k−1) string
    equality tests); the k(k−1) conditional sums that build the
    pair-count ROW then run over that tiny pair-count table.  The MM
    iterations are METADATA work: the one k(k−1)-count row is
    collected and :func:`bt_schedule`'s EXACT arithmetic is replayed
    in driver Python (same left-fold term order, same IEEE double
    ops, same zero fences — bit-identity differential pytest:
    ``test_bradley_terry_driver_matches_sql_schedule``); only the
    final ``round``/``CAST`` stay in Spark.  The schedule text is
    still what the oracle replays.

    CONTRACT (r14 laziness change): applying this transform is
    EAGER — the pair-count aggregation runs as a Spark job at apply
    time and the MM result is frozen into literals (re-applying the
    transform, not re-executing the returned frame, re-reads the
    input).  Batch DataFrames only; a streaming input raises
    immediately.  ``items`` is the declared catalog (comparisons
    outside it are ignored); fenced at ≤ 32 items — at catalog scale
    use a broadcast-iteration loop (the PageRank shape) instead of a
    generated schedule.  Converged strengths sum to 1; ties in input
    produce equal strengths; zero-win items converge to 0.  Returns
    ``(item, strength, wins, losses)`` with strength pinned at 6 dp.
    """
    items = list(items)
    if not 2 <= len(items) <= 32:
        raise ValueError("bradley_terry needs 2..32 declared items")
    if len(set(items)) != len(items):
        raise ValueError("items must be unique")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    k = len(items)

    def _t(df: DataFrame) -> DataFrame:
        if df.isStreaming:
            raise ValueError(
                "bradley_terry is batch-only: the MM replay collects "
                "the pair-count row eagerly at apply time"
            )
        w, l = F.col(winner_col), F.col(loser_col)
        # Pre-aggregate to pair counts FIRST (r14, guide §2.3
        # "aggregate before you shuffle" applied to per-row expression
        # cost): one hash agg keyed on the two strings replaces
        # 2·k(k−1) string equality tests per comparison row; the
        # k(k−1) conditional sums then run over the tiny pair-count
        # table (≤ distinct observed pairs).  Bit-identical: integer
        # counts either way, and empty input still yields NULL sums
        # because the second aggregate sees zero rows exactly when the
        # first saw zero rows (out-of-catalog / NULL pairs survive the
        # groupBy as rows contributing 0 to every cell, matching the
        # old when-chains' otherwise(0)).
        pc = df.groupBy(
            w.alias("_bt_w"), l.alias("_bt_l")
        ).agg(F.count(F.lit(1)).alias("_bt_n"))
        wp, lp = F.col("_bt_w"), F.col("_bt_l")
        aggs = []
        for i in range(k):
            for j in range(k):
                if i == j:
                    continue
                aggs.append(
                    F.sum(
                        F.when(
                            (wp == items[i]) & (lp == items[j]),
                            F.col("_bt_n"),
                        ).otherwise(F.lit(0))
                    )
                    .cast("double")
                    .alias(f"w_{i}_{j}")
                )
        # The MM iterations are METADATA work: 2·iterations chained
        # SELECTs over ONE row of k(k−1) counts.  Left on the data
        # path (the r13 shape) they cost seconds of Catalyst analysis
        # and a generated method so large janino fails to compile it
        # (whole-stage codegen falls back to interpreted mode — the
        # dominant cost of q242).  So: collect the one metadata row
        # (k(k−1) ≤ 992 doubles — the same sanctioned class as the
        # k-means centroid / BPE arg-max collects) and replay the
        # EXACT bt_schedule arithmetic in driver Python — same
        # left-fold term order, same IEEE double ops, same zero
        # fences, so every q{r}_i is bit-identical (differential
        # pytest: test_bradley_terry_driver_matches_sql_schedule).
        # Only the final round(q, 6) / CAST stay in Spark, preserving
        # the engine's HALF_UP rounding on identical double bits.
        counts = pc.agg(*aggs).first()
        wm = {
            (i, j): counts[f"w_{i}_{j}"]
            for i in range(k)
            for j in range(k)
            if i != j
        }
        degenerate = any(v is None for v in wm.values())
        if degenerate:
            # Empty input (NULL sums): the SQL schedule's first round
            # gets NULL denominators, whose `CASE WHEN d > 0` is NOT
            # TRUE → every p (and hence every q) collapses to 0.0,
            # while bt_w/bt_l stay NULL through CAST(NULL AS BIGINT).
            bt_w: list[float | None] = [None] * k
            bt_l: list[float | None] = [None] * k
            q: list[float | None] = [0.0] * k
        else:
            bt_w = []
            bt_l = []
            for i in range(k):
                tw = 0.0
                tl = 0.0
                first = True
                for j in range(k):
                    if j == i:
                        continue
                    if first:
                        tw, tl = wm[(i, j)], wm[(j, i)]
                        first = False
                    else:
                        tw = tw + wm[(i, j)]
                        tl = tl + wm[(j, i)]
                bt_w.append(tw)
                bt_l.append(tl)
            q = [1.0] * k
            for _r in range(1, iterations + 1):
                p = []
                for i in range(k):
                    d = None
                    for j in range(k):
                        if j == i:
                            continue
                        pij = q[i] + q[j]
                        t = (
                            (wm[(i, j)] + wm[(j, i)]) / pij
                            if pij > 0.0
                            else 0.0
                        )
                        d = t if d is None else d + t
                    p.append(bt_w[i] / d if d > 0.0 else 0.0)
                s = p[0]
                for i in range(1, k):
                    s = s + p[i]
                q = [(p[i] / s if s > 0.0 else 0.0) for i in range(k)]
        spark = df.sparkSession
        one = spark.range(1).select(
            *[
                F.lit(q[i]).cast("double").alias(f"q_{i}")
                for i in range(k)
            ],
            *[
                F.lit(bt_w[i]).cast("double").alias(f"bt_w_{i}")
                for i in range(k)
            ],
            *[
                F.lit(bt_l[i]).cast("double").alias(f"bt_l_{i}")
                for i in range(k)
            ],
        )
        cells = []
        for i, name in enumerate(items):
            cells.extend(
                [
                    f"'{name}'",
                    f"round(q_{i}, 6)",
                    f"CAST(bt_w_{i} AS BIGINT)",
                    f"CAST(bt_l_{i} AS BIGINT)",
                ]
            )
        return one.select(
            F.expr(
                f"stack({k}, {', '.join(cells)}) AS "
                "(item, strength, wins, losses)"
            )
        )

    return _t


def fleiss_kappa(
    item_col: str,
    label_col: str,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Fleiss' κ multi-rater agreement per partition — Cohen's κ
    generalized past two raters (Fleiss 1971): the label-quality gate
    for crowd-annotated training data, where each item is labeled by
    n ≥ 2 interchangeable raters.  Input is LONG form — one row per
    (item, rating); raters are anonymous (Fleiss' model).

        P_i = [Σ_j n_ij² − n] / [n(n−1)]        (per-item agreement)
        P̄  = mean_i P_i
        P̄e = Σ_j p_j²,   p_j = Σ_i n_ij / (N·n)
        κ  = (P̄ − P̄e) / (1 − P̄e)

    Requires a CONSTANT rating count n per item within a partition —
    the operator verifies it and emits NULL κ (with ``n_ratings``
    NULL) for partitions violating the contract rather than silently
    averaging apples and oranges.  Plan: one (item, label) count agg →
    one per-item agg → one partition rollup, plus a label-marginal
    agg — all integer counts (exact in double); κ pinned at 6 dp;
    P̄e = 1 (all raters one label everywhere) emits NULL κ.  Returns
    ``partition…, n_items, n_ratings, p_bar, p_e, kappa``.
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(item_col).isNotNull() & F.col(label_col).isNotNull()
        ).select(*gcols, F.col(item_col).alias("_it"),
                 F.col(label_col).alias("_lb"))
        cell = d.groupBy(*gcols, "_it", "_lb").agg(
            F.count(F.lit(1)).alias("_nij")
        )
        per_item = cell.groupBy(*gcols, "_it").agg(
            F.sum("_nij").alias("_n"),
            F.sum(F.col("_nij") * F.col("_nij")).alias("_sq"),
        )
        roll = per_item.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("n_items"),
            F.min("_n").alias("_nmin"),
            F.max("_n").alias("_nmax"),
            F.sum("_sq").alias("_sqsum"),
            F.sum("_n").alias("_ntot"),
        )
        marg = cell.groupBy(*gcols, "_lb").agg(
            F.sum("_nij").alias("_cj")
        )
        pe_tab = marg.groupBy(*gcols).agg(
            F.sum(F.col("_cj") * F.col("_cj")).alias("_pe_num")
        )
        joined = join_groups(roll, pe_tab, gcols)
        const_n = (F.col("_nmin") == F.col("_nmax")) & (
            F.col("_nmin") > 1
        )
        n = F.col("_nmin").cast("double")
        ni = F.col("n_items").cast("double")
        # P̄ = [Σ_i Σ_j n_ij² − N·n] / [N·n·(n−1)]; the divisor is
        # fenced in its own conditional — ANSI faults a zero divisor
        # (single-rating items, n = 1) even under the downstream gate
        p_bar = (
            F.col("_sqsum").cast("double") - ni * n
        ) / F.when(const_n, ni * n * (n - F.lit(1.0)))
        p_e = F.col("_pe_num").cast("double") / (ni * n * ni * n)
        kappa = F.when(
            const_n & (p_e < 1.0),
            F.round((p_bar - p_e) / (F.lit(1.0) - p_e), 6),
        )
        return joined.select(
            *gcols,
            "n_items",
            F.when(const_n, F.col("_nmin")).alias("n_ratings"),
            F.when(const_n, F.round(p_bar, 6)).alias("p_bar"),
            F.when(const_n, F.round(p_e, 6)).alias("p_e"),
            kappa.alias("kappa"),
        )

    return _t


def roc_auc(
    score_col: str,
    label_col: str,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """ROC AUC per partition from raw (score, binary label) rows — the
    threshold-free classifier metric an eval pipeline reports for every
    quality / toxicity / relevance scorer.  Uses the rank identity

        AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺ · n⁻)

    with tie-AVERAGED ranks over the combined sample (the Mann–Whitney
    U statistic normalized by the pair count — ties contribute the
    textbook 0.5).  Gini = 2·AUC − 1 rides along.

    Ranks are delegated to :func:`…operators.windows.group_ranks`, so
    its size gate applies: one ordered window per partition below it,
    the bucketed-rank plan with no full-partition sort task past it,
    with bit-identical output.  Rank sums are exact
    half-integers through the decimal idiom; AUC is then ONE exact IEEE
    division, pinned at 6 dp.  Degenerate partitions (all-positive or
    all-negative) emit NULL.  NULL score / NULL label rows are dropped.
    Returns ``partition…, n_pos, n_neg, auc, gini``.
    """
    from btc_usdt_etl_pipeline_spark.operators.windows import group_ranks

    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
        ).select(
            *gcols,
            score_col,
            F.col(label_col).cast("boolean").alias("_pos"),
        )
        r = d.transform(
            group_ranks(score_col, group_by=partition_by)
        )
        agg = r.groupBy(*gcols).agg(
            F.sum(F.col("_pos").cast("long")).alias("n_pos"),
            F.sum((~F.col("_pos")).cast("long")).alias("n_neg"),
            F.sum(
                F.when(F.col("_pos"), F.col("avg_rank"))
                .otherwise(F.lit(0.0))
                .cast(DEC)
            )
            .cast("double")
            .alias("_rpos"),
        )
        npos = F.col("n_pos").cast("double")
        nneg = F.col("n_neg").cast("double")
        u_pos = F.col("_rpos") - npos * (npos + F.lit(1.0)) / F.lit(2.0)
        auc = F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(u_pos / (npos * nneg), 6),
        )
        return agg.select(
            *gcols,
            "n_pos",
            "n_neg",
            auc.alias("auc"),
            F.round(F.lit(2.0) * auc - F.lit(1.0), 6).alias("gini"),
        )

    return _t


def _cells(
    df: DataFrame, gcols: list[str], col_a: str, col_b: str
) -> DataFrame:
    """Observed ``(col_a, col_b)`` contingency cells per partition: one
    row per observed pair with its count ``_o``; NULL categories are
    dropped."""
    return (
        df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(*gcols, col_a, col_b)
        .agg(F.count(F.lit(1)).alias("_o"))
    )


def _dense_cells(
    df: DataFrame, gcols: list[str], col_a: str, col_b: str
) -> DataFrame:
    """:func:`_cells` densified against each partition's distinct-a ×
    distinct-b grid (metadata scale), unobserved cells at ``_o = 0``."""
    cells = _cells(df, gcols, col_a, col_b)
    grid = join_groups(
        cells.select(*gcols, col_a).distinct(),
        cells.select(*gcols, col_b).distinct(),
        gcols,
    )
    return grid.join(cells, [*gcols, col_a, col_b], "left").select(
        *gcols,
        col_a,
        col_b,
        F.coalesce("_o", F.lit(0)).alias("_o"),
    )


def chi_square_independence(
    col_a: str,
    col_b: str,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Pearson χ² test of independence between two categorical columns
    per partition, with Cramér's V effect size — the drift / bias
    detector for label-vs-slice contingency (is quality grade
    independent of source?  is refusal label independent of language?).

        χ² = Σ_cells (o − e)² / e,   e = row_total · col_total / N
        V  = sqrt(χ² / (N · min(r−1, c−1)))

    Every cell of the r×c grid contributes — including observed-zero
    cells (o = 0, e > 0 ⇒ term = e) — so the observed (a, b) counts are
    densified against the per-partition distinct-a × distinct-b grid
    (metadata scale: categories × categories) before the term sum.
    One data-scale shuffle (the cell-count agg); marginals and the
    grid run on the reduced table.

    Per-cell terms carry a division, so each is rounded to 6 dp via the
    exact-decimal cast before the order-free sum; χ² and V are pinned
    at 6 dp.  Degenerate partitions (r < 2 or c < 2 ⇒ dof = 0) emit
    NULL χ².  NULL category rows are dropped.  Returns
    ``partition…, n, r, c, dof, chi2, cramers_v``.
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        dense = _dense_cells(df, gcols, col_a, col_b)
        wg = Window.partitionBy(*gcols)
        wa = Window.partitionBy(*gcols, col_a)
        wb = Window.partitionBy(*gcols, col_b)
        n = F.sum("_o").over(wg)
        ra = F.sum("_o").over(wa)
        cb = F.sum("_o").over(wb)
        e = ra.cast("double") * cb.cast("double") / n.cast("double")
        o = F.col("_o").cast("double")
        term = F.when(e > 0, (o - e) * (o - e) / e).otherwise(
            F.lit(0.0)
        )
        per_cell = dense.select(
            *gcols,
            term.cast(DEC).alias("_term"),
            n.alias("_n"),
            F.col(col_a).alias("_a"),
            F.col(col_b).alias("_b"),
        )
        agg = per_cell.groupBy(*gcols).agg(
            F.first("_n").alias("n"),
            F.countDistinct("_a").alias("r"),
            F.countDistinct("_b").alias("c"),
            F.sum("_term").cast("double").alias("_chi2"),
        )
        dof = (F.col("r") - 1) * (F.col("c") - 1)
        mind = F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
        chi2 = F.when(dof > 0, F.round(F.col("_chi2"), 6))
        v = F.when(
            dof > 0,
            F.round(
                F.sqrt(
                    F.col("_chi2") / (F.col("n").cast("double") * mind)
                ),
                6,
            ),
        )
        return agg.select(
            *gcols,
            "n",
            "r",
            "c",
            dof.alias("dof"),
            chi2.alias("chi2"),
            v.alias("cramers_v"),
        )

    return _t


def krippendorff_alpha(
    item_col: str,
    label_col: str,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Krippendorff's α (nominal) per partition from long-form
    (item, label) rating rows — the agreement coefficient that, unlike
    Fleiss' κ (fleiss_kappa above), tolerates MISSING ratings: items
    may carry any number of ratings ≥ 2, which is how real annotation
    batches arrive (overlap subsets, dropped raters).

        D_o = (1/n) Σ_items Σ_c n_ic (n_i − n_ic) / (n_i − 1)
        D_e = (1/(n(n−1))) Σ_c n_c (n − n_c)
        α   = 1 − D_o / D_e

    where n_ic counts label c on item i, n_i = Σ_c n_ic (items with
    n_i < 2 are unpairable and EXCLUDED everywhere, per the textbook
    definition), and n_c / n are the totals over pairable items.

    Two shuffles: the (item, label) count agg (data scale) and the
    label-marginal rollup (reduced scale).  Per-item disagreement
    terms divide by (n_i − 1), so each is rounded to 6 dp via the
    exact-decimal cast before the order-free sum; D_e is integer
    arithmetic over label totals with ONE exact division.  α pinned at
    6 dp; NULL when D_e = 0 (all pairable ratings share one label) or
    no pairable item exists.  NULL item / label rows are dropped.
    Returns ``partition…, n_items, n_pairable, alpha``.
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(item_col).isNotNull() & F.col(label_col).isNotNull()
        )
        nic = d.groupBy(*gcols, item_col, label_col).agg(
            F.count(F.lit(1)).alias("_nic")
        )
        wi = Window.partitionBy(*gcols, item_col)
        ni = F.sum("_nic").over(wi)
        pairable = nic.withColumn("_ni", ni).where(F.col("_ni") >= 2)
        # per-(item,label) observed-disagreement term
        t = (
            F.col("_nic").cast("double")
            * (F.col("_ni") - F.col("_nic")).cast("double")
            / (F.col("_ni") - F.lit(1)).cast("double")
        )
        terms = pairable.select(
            *gcols,
            item_col,
            F.col(label_col).alias("_lbl"),
            "_nic",
            "_ni",
            t.cast(DEC).alias("_do_term"),
        )
        # label marginals over pairable items (reduced scale)
        marg = terms.groupBy(*gcols, "_lbl").agg(
            F.sum("_nic").alias("_nc")
        )
        wg = Window.partitionBy(*gcols)
        de = marg.select(
            *gcols,
            (F.col("_nc") * (F.sum("_nc").over(wg) - F.col("_nc")))
            .alias("_de_term"),
            F.sum("_nc").over(wg).alias("_n"),
        ).groupBy(*gcols).agg(
            F.sum("_de_term").alias("_de_num"),
            F.first("_n").alias("_n"),
        )
        do = terms.groupBy(*gcols).agg(
            F.countDistinct(item_col).alias("n_pairable"),
            F.sum("_do_term").cast("double").alias("_do_num"),
        )
        n_items = d.groupBy(*gcols).agg(
            F.countDistinct(item_col).alias("n_items")
        )
        # Left joins: a partition with NO pairable item still emits its
        # row (NULL alpha) instead of vanishing.
        joined = join_groups(
            join_groups(n_items, do, gcols, "left"), de, gcols, "left"
        )
        nn = F.col("_n").cast("double")
        d_o = F.col("_do_num") / nn
        d_e = F.col("_de_num").cast("double") / (
            nn * (nn - F.lit(1.0))
        )
        alpha = F.when(
            (F.col("_de_num") > 0) & (F.col("n_pairable") > 0),
            F.round(F.lit(1.0) - d_o / d_e, 6),
        )
        return joined.select(
            *gcols,
            "n_items",
            F.coalesce("n_pairable", F.lit(0)).alias("n_pairable"),
            alpha.alias("alpha"),
        )

    return _t


def mutual_information(
    col_a: str,
    col_b: str,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Mutual information between two categorical columns per
    partition, with marginal entropies and the normalized MI — the
    effect-size companion to :func:`chi_square_independence` (χ² says
    "dependent"; MI says how many nats of one label the other
    carries, and NMI = MI/√(H_a·H_b) puts it on [0, 1]).

        MI  = Σ_{a,b} p_ab · ln( p_ab / (p_a · p_b) )
        H_x = − Σ p_x ln p_x

    Observed cells only — an unobserved (a, b) cell has p_ab = 0 and
    contributes nothing (0·ln 0 ≡ 0), so unlike χ² there is NO grid
    densification.  One data-scale shuffle (the cell-count agg);
    marginals via per-partition windows on the reduced cell table.
    Per-cell/per-level terms are rounded to 6 dp via the exact-decimal
    cast before the order-free sums; MI/entropies/NMI pinned at 6 dp.
    NMI is NULL when either entropy is 0 (a constant column).  NULL
    category rows are dropped.  Returns
    ``partition…, n, mi, h_a, h_b, nmi``.
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        cells = _cells(df, gcols, col_a, col_b)
        wg = Window.partitionBy(*gcols)
        wa = Window.partitionBy(*gcols, col_a)
        wb = Window.partitionBy(*gcols, col_b)
        n = F.sum("_o").over(wg).cast("double")
        p_ab = F.col("_o").cast("double") / n
        p_a = F.sum("_o").over(wa).cast("double") / n
        p_b = F.sum("_o").over(wb).cast("double") / n
        mi_term = (p_ab * F.log(p_ab / (p_a * p_b))).cast(DEC)
        # marginal-entropy terms must count each level once, not once
        # per cell — emit them only on the level's first cell
        ha_term = F.when(
            F.row_number().over(wa.orderBy(col_b)) == 1,
            (-p_a * F.log(p_a)).cast(DEC),
        ).otherwise(F.lit(0.0).cast(DEC))
        hb_term = F.when(
            F.row_number().over(wb.orderBy(col_a)) == 1,
            (-p_b * F.log(p_b)).cast(DEC),
        ).otherwise(F.lit(0.0).cast(DEC))
        staged = cells.select(
            *gcols,
            F.sum("_o").over(wg).alias("_n"),
            mi_term.alias("_mi"),
            ha_term.alias("_ha"),
            hb_term.alias("_hb"),
        )
        agg = staged.groupBy(*gcols).agg(
            F.first("_n").alias("n"),
            F.sum("_mi").cast("double").alias("_smi"),
            F.sum("_ha").cast("double").alias("_sha"),
            F.sum("_hb").cast("double").alias("_shb"),
        )
        nmi = F.when(
            (F.col("_sha") > 0) & (F.col("_shb") > 0),
            F.round(
                F.col("_smi")
                / F.sqrt(F.col("_sha") * F.col("_shb")),
                6,
            ),
        )
        return agg.select(
            *gcols,
            "n",
            F.round("_smi", 6).alias("mi"),
            F.round("_sha", 6).alias("h_a"),
            F.round("_shb", 6).alias("h_b"),
            nmi.alias("nmi"),
        )

    return _t


def fdr_bh(
    p_col: str,
    tiebreak: Sequence[str] | str,
    group_by: str | None = None,
    alpha: float = 0.05,
) -> Callable[[DataFrame], DataFrame]:
    """Benjamini–Hochberg FDR correction per family — the multiple-
    testing guard an eval pipeline needs the moment it runs one test
    per slice (this engine now ships a dozen test statistics; a 5%
    threshold over hundreds of slices WILL hand back false
    discoveries).

        q_(i) = min_{j ≥ i} ( p_(j) · m / j ),  clamped to 1

    where p_(1..m) are the family's p-values ascending.  The reverse
    running-min runs as one ordered window per family with a
    current-row→unbounded-following frame; ``tiebreak`` column(s) pin
    a total order (equal p-values provably receive equal q, so the
    tiebreak only fixes the emitted rank).

    Scale shape: a p-value table is one row per TEST — metadata scale
    by construction (the data-scale work happened inside the tests
    that produced it) — so the per-family ordered window is the right
    plan outright; families parallelize across the cluster.  The
    per-row p·m/j division is exact IEEE, replayed identically by the
    oracle; q is pinned at 6 dp.  NULL p rows are dropped.  Appends
    ``bh_rank, m_tests, q_value, rejected`` to the input rows.
    """
    tcols = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak)
    gcols = [group_by] if group_by else []

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(F.col(p_col).isNotNull())
        wg = Window.partitionBy(*gcols)
        wo = wg.orderBy(p_col, *tcols)
        wrev = wg.orderBy(p_col, *tcols).rowsBetween(
            Window.currentRow, Window.unboundedFollowing
        )
        m = F.count(F.lit(1)).over(wg)
        rank = F.row_number().over(wo)
        q_raw = (
            F.col(p_col).cast("double")
            * m.cast("double")
            / rank.cast("double")
        )
        staged = d.withColumn("bh_rank", rank).withColumn(
            "m_tests", m
        ).withColumn("_qraw", q_raw)
        q = F.round(
            F.least(F.lit(1.0), F.min("_qraw").over(wrev)), 6
        )
        return (
            staged.withColumn("q_value", q)
            .withColumn("rejected", F.col("q_value") <= F.lit(alpha))
            .drop("_qraw")
        )

    return _t


def mantel_haenszel(
    stratum_col: str,
    exposed_col: Column,
    outcome_col: Column,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Mantel–Haenszel stratified 2×2 analysis per partition — the
    common odds ratio across strata plus the CMH association test,
    i.e. the Simpson's-paradox guard: a crude exposed-vs-outcome odds
    ratio confounded by a stratum variable (weekday, country, cohort)
    is corrected by combining the per-stratum tables instead of
    pooling rows.

        OR_MH = Σ_i (a_i·d_i/n_i) / Σ_i (b_i·c_i/n_i)
        CMH   = ( Σ_i (a_i − E_i) )² / Σ_i V_i            (1 dof)
        E_i   = (a+b)(a+c)/n
        V_i   = (a+b)(c+d)(a+c)(b+d) / (n²(n−1))

    One conditional-count aggregation collapses the corpus to one
    (partition, stratum) row with the four cells — map-side combined,
    data-scale — then the stratum sums are a metadata rollup.
    Per-stratum terms carry divisions, so each is rounded to 6 dp via
    the exact-decimal cast before the order-free sums; OR and CMH are
    pinned at 6 dp.  Strata with n < 2 contribute count mass but no
    variance term (V's n−1 divisor); OR is NULL when Σ(b·c/n) = 0,
    CMH NULL when ΣV = 0.  NULL stratum rows are dropped.  Returns
    ``partition…, n_strata, n, or_mh, cmh_chi2``.
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        ex = exposed_col.cast("boolean")
        oc = outcome_col.cast("boolean")
        per_s = (
            df.where(F.col(stratum_col).isNotNull())
            .groupBy(*gcols, stratum_col)
            .agg(
                F.sum((ex & oc).cast("long")).alias("_a"),
                F.sum((ex & ~oc).cast("long")).alias("_b"),
                F.sum((~ex & oc).cast("long")).alias("_c"),
                F.sum((~ex & ~oc).cast("long")).alias("_d"),
            )
        )
        a = F.col("_a").cast("double")
        b = F.col("_b").cast("double")
        c = F.col("_c").cast("double")
        dd = F.col("_d").cast("double")
        n = a + b + c + dd
        e = (a + b) * (a + c) / n
        v = F.when(
            n > 1,
            (a + b) * (c + dd) * (a + c) * (b + dd)
            / (n * n * (n - F.lit(1.0))),
        ).otherwise(F.lit(0.0))
        terms = per_s.select(
            *gcols,
            (F.col("_a") + F.col("_b") + F.col("_c") + F.col("_d"))
            .alias("_n"),
            (a * dd / n).cast(DEC).alias("_ad"),
            (b * c / n).cast(DEC).alias("_bc"),
            (a - e).cast(DEC).alias("_dev"),
            v.cast(DEC).alias("_v"),
        )
        agg = terms.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("n_strata"),
            F.sum("_n").alias("n"),
            F.sum("_ad").cast("double").alias("_sad"),
            F.sum("_bc").cast("double").alias("_sbc"),
            F.sum("_dev").cast("double").alias("_sdev"),
            F.sum("_v").cast("double").alias("_sv"),
        )
        or_mh = F.when(
            F.col("_sbc") > 0, F.round(F.col("_sad") / F.col("_sbc"), 6)
        )
        cmh = F.when(
            F.col("_sv") > 0,
            F.round(
                F.col("_sdev") * F.col("_sdev") / F.col("_sv"), 6
            ),
        )
        return agg.select(
            *gcols,
            "n_strata",
            "n",
            or_mh.alias("or_mh"),
            cmh.alias("cmh_chi2"),
        )

    return _t


def nelson_aalen(
    duration_col: str,
    event_col: Column,
    group_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Nelson–Aalen cumulative-hazard estimator with right censoring —
    the additive dual of :func:`kaplan_meier`: instead of the survival
    product it accumulates the hazard increments directly, which is
    the quantity survival-regression and hazard-rate monitoring
    consume, and it is better-behaved on small risk sets.

        H(t)   = Σ_{t_i ≤ t} d_i / n_i
        Var(t) = Σ_{t_i ≤ t} d_i / n_i²          (Klein's estimator)

    plus the Fleming–Harrington survival S̃(t) = exp(−H(t)).  Same
    plan as kaplan_meier (same risk-set window algebra): one
    (group, duration) aggregation, per-group ordered windows on the
    reduced event-time table.  The per-time increments are exact
    rationals rounded to 6 dp via the decimal cast before the ordered
    cumulative sum, so both engines replay the same running values;
    S̃ carries the one exp() under the 6 dp transcendental contract.
    Emits one row per EVENT time: ``group_by…, t, n_risk, n_events,
    n_censored, cum_hazard, var_hazard, fh_survival``.
    """
    gcols = [group_by] if group_by else []

    def _t(df: DataFrame) -> DataFrame:
        wo = _running(gcols, "t")
        staged = _event_times(df, gcols, duration_col, event_col).withColumn(
            "_h",
            (
                F.col("_d").cast("double")
                / F.col("_n").cast("double")
            ).cast(DEC),
        ).withColumn(
            "_vh",
            (
                F.col("_d").cast("double")
                / (
                    F.col("_n").cast("double")
                    * F.col("_n").cast("double")
                )
            ).cast(DEC),
        )
        ch = F.sum("_h").over(wo).cast("double")
        vh = F.sum("_vh").over(wo).cast("double")
        return (
            staged.withColumn("cum_hazard", ch)
            .withColumn("var_hazard", vh)
            .where(F.col("_d") > 0)
            .select(
                *gcols,
                "t",
                F.col("_n").alias("n_risk"),
                F.col("_d").alias("n_events"),
                F.col("_c").alias("n_censored"),
                "cum_hazard",
                "var_hazard",
                F.round(F.exp(-F.col("cum_hazard")), 6).alias(
                    "fh_survival"
                ),
            )
        )

    return _t


def kendall_tau_b(
    col_x: str,
    col_y: str,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Kendall's τ-b rank correlation per partition over DISCRETE
    (x, y) pairs — the tie-corrected concordance coefficient beside
    Spearman (operators/windows.py:spearman_corr): more robust on
    heavily tied ordinal data (star ratings, quality grades, bucketed
    scores), which is exactly where Spearman's rank averages wash out.

        τ_b = (C − D) / √( (n₀ − n₁)(n₀ − n₂) )
        n₀ = n(n−1)/2,  n₁ = Σ_x r_x(r_x−1)/2,  n₂ = Σ_y c_y(c_y−1)/2

    C / D (concordant / discordant pair counts) come from the
    contingency table, NOT from an O(n²) pair join: one cell-count
    shuffle collapses the data to (x, y, count) cells, the grid is
    densified per partition (categories² metadata scale, the
    chi_square_independence idiom), and the strictly-dominated /
    strictly-discordant masses are TWO chained strict-frame window
    prefix sums over the grid — C = Σ n_ij·S_ij with
    S_ij = Σ_{k<i,l<j} n_kl via a per-y cumsum over x then a per-x
    cumsum over y (and the mirror with y descending for D).

    Everything is 64-bit integer arithmetic until the final
    √ / division (exact longs: C, D, n₀ < 2⁵³ at any plausible
    partition size), computed as (C−D)/(√(n₀−n₁)·√(n₀−n₂)) — both
    engines evaluate the identical IEEE sequence; τ pinned at 6 dp.
    Degenerate partitions (all x tied or all y tied → a zero factor)
    emit NULL.  Continuous inputs should be bucketed by the caller
    first (the counts-plan contract: cells ≈ levels², not rows).
    NULL x/y rows are dropped.  Returns
    ``partition…, n, concordant, discordant, tau_b``.
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        dense = _dense_cells(df, gcols, col_x, col_y)
        wy = Window.partitionBy(*gcols, col_y)
        wx = Window.partitionBy(*gcols, col_x)
        below = F.coalesce(
            F.sum("_o").over(
                wy.orderBy(col_x).rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        )
        staged = dense.withColumn("_below", below)
        sw = F.coalesce(
            F.sum("_below").over(
                wx.orderBy(col_y).rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        )
        ew = F.coalesce(
            F.sum("_below").over(
                wx.orderBy(F.col(col_y).desc()).rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        )
        terms = staged.select(
            *gcols,
            col_x,
            col_y,
            "_o",
            (F.col("_o") * sw).alias("_c"),
            (F.col("_o") * ew).alias("_d"),
        )
        rx = F.sum("_o").over(wx)
        cy = F.sum("_o").over(wy)
        # marginal tie masses, each level counted once via a
        # first-cell guard (order-free: every cell of the level
        # carries the same marginal)
        n1t = F.when(
            F.row_number().over(wx.orderBy(col_y)) == 1,
            rx * (rx - 1),
        ).otherwise(F.lit(0))
        n2t = F.when(
            F.row_number().over(wy.orderBy(col_x)) == 1,
            cy * (cy - 1),
        ).otherwise(F.lit(0))
        per_cell = terms.withColumn("_n1t", n1t).withColumn(
            "_n2t", n2t
        )
        agg = per_cell.groupBy(*gcols).agg(
            F.sum("_o").alias("n"),
            F.sum("_c").alias("concordant"),
            F.sum("_d").alias("discordant"),
            F.sum("_n1t").alias("_n1x2"),
            F.sum("_n2t").alias("_n2x2"),
        )
        n = F.col("n")
        n0x2 = n * (n - 1)  # 2·n₀, keeping everything integer
        f1 = (n0x2 - F.col("_n1x2")).cast("double") / F.lit(2.0)
        f2 = (n0x2 - F.col("_n2x2")).cast("double") / F.lit(2.0)
        tau = F.when(
            (f1 > 0) & (f2 > 0),
            F.round(
                (F.col("concordant") - F.col("discordant"))
                .cast("double")
                / (F.sqrt(f1) * F.sqrt(f2)),
                6,
            ),
        )
        return agg.select(
            *gcols, "n", "concordant", "discordant", tau.alias("tau_b")
        )

    return _t


def markov_schedule(
    states: Sequence[str], iterations: int
) -> tuple[list[tuple[str, str]], list[list[tuple[str, str]]]]:
    """Power-iteration schedule for the Markov stationary distribution
    as (column, SQL-expr) steps — ONE generator rendered into BOTH
    engines (the bt_schedule / q227 generated-elimination idiom).

    Step 0 defines row totals ``mk_r_i`` and row-normalized transition
    probabilities ``t_i_j`` from the pivoted transition counts
    ``c_i_j`` (zero-row states get all-zero outgoing probabilities);
    each round r emits the raw propagation

        u{r}_j = Σ_i v{r-1}_i · t_i_j

    followed by a renormalization ``v{r}_j = u{r}_j / Σ u{r}`` that
    reinjects the mass lost to zero-out-degree states (the PageRank
    dangling-mass treatment, without teleportation).  Term order is
    the generation order, fixed and identical on both sides.
    """
    k = len(states)
    zero = "CAST(0 AS DOUBLE)"
    base: list[tuple[str, str]] = []
    for i in range(k):
        row = " + ".join(f"c_{i}_{j}" for j in range(k))
        base.append((f"mk_r_{i}", f"({row})"))
    for i in range(k):
        for j in range(k):
            base.append(
                (
                    f"t_{i}_{j}",
                    f"(CASE WHEN mk_r_{i} > {zero} THEN "
                    f"c_{i}_{j} / mk_r_{i} ELSE {zero} END)",
                )
            )
    inv_k = f"(CAST(1.0 AS DOUBLE) / CAST({k} AS DOUBLE))"
    base.extend((f"v0_{i}", inv_k) for i in range(k))
    rounds: list[list[tuple[str, str]]] = []
    for r in range(1, iterations + 1):
        step = [
            (
                f"u{r}_{j}",
                "("
                + " + ".join(f"v{r-1}_{i} * t_{i}_{j}" for i in range(k))
                + ")",
            )
            for j in range(k)
        ]
        s = " + ".join(f"u{r}_{j}" for j in range(k))
        norm = [
            (
                f"v{r}_{j}",
                f"(CASE WHEN ({s}) > {zero} THEN "
                f"u{r}_{j} / ({s}) ELSE {zero} END)",
            )
            for j in range(k)
        ]
        rounds.append(step)
        rounds.append(norm)
    return base, rounds


def markov_stationary(
    prev_col: str,
    next_col: str,
    states: Sequence[str],
    iterations: int = 15,
) -> Callable[[DataFrame], DataFrame]:
    """First-order Markov chain over a declared state catalog: the
    row-normalized transition matrix and its stationary distribution —
    the user-journey summary (where does the session process spend its
    time?) and the independence baseline for funnel analysis.

    Plan: the DISTRIBUTED work is one ``groupBy(prev, next)`` count
    (hash agg keyed on the two strings, map-side combined) collapsing
    billions of transitions to ≤ distinct observed pairs, pivoted to
    the k² pair-count row by conditional sums over that tiny table;
    the power iteration replays :func:`markov_schedule`'s EXACT
    arithmetic (same left-fold term order, same IEEE ops, same zero
    fences) in driver Python over that one collected metadata row —
    k² ≤ 1024 doubles, the sanctioned metadata-collect class —
    renormalizing per round so zero-out-degree states don't leak
    mass.  Fenced at ≤ 32 states — at catalog scale use a
    broadcast-iteration loop (the PageRank shape) instead.

    The schedule text is rendered identically into the DuckDB oracle,
    and the driver replay is bit-identical to it (differential
    pytest), so every double matches bit-for-bit; only the final 6 dp
    pin is stated.  Returns one row per state:
    ``(state, n_out, n_in, stationary)``.

    CONTRACT (r14 laziness change): applying this transform is
    EAGER — the transition-count aggregation runs as a Spark job at
    apply time and the power-iteration result is frozen into
    literals (re-applying the transform, not re-executing the
    returned frame, re-reads the input).  Batch DataFrames only; a
    streaming input raises immediately.
    """
    states = list(states)
    if not 2 <= len(states) <= 32:
        raise ValueError("markov_stationary needs 2..32 states")
    if len(set(states)) != len(states):
        raise ValueError("states must be unique")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    k = len(states)

    def _t(df: DataFrame) -> DataFrame:
        if df.isStreaming:
            raise ValueError(
                "markov_stationary is batch-only: the power-iteration "
                "replay collects the transition-count row eagerly at "
                "apply time"
            )
        p, n = F.col(prev_col), F.col(next_col)
        # Pre-aggregate to transition-pair counts first (r14, guide
        # §2.3 — same move as bradley_terry): one hash-agg key per
        # row instead of 2·k² string equality tests per row.
        pc = df.groupBy(
            p.alias("_mk_p"), n.alias("_mk_n")
        ).agg(F.count(F.lit(1)).alias("_mk_c"))
        pp, np_ = F.col("_mk_p"), F.col("_mk_n")
        aggs = []
        for i in range(k):
            for j in range(k):
                aggs.append(
                    F.sum(
                        F.when(
                            (pp == states[i]) & (np_ == states[j]),
                            F.col("_mk_c"),
                        ).otherwise(F.lit(0))
                    )
                    .cast("double")
                    .alias(f"c_{i}_{j}")
                )
        # The power iteration is METADATA work over ONE row of k²
        # counts: collected and replayed in driver Python with the
        # EXACT markov_schedule arithmetic (same left-fold term order,
        # same IEEE ops, same zero fences — bit-identity pytest:
        # test_markov_stationary_driver_matches_sql_schedule), the
        # same r14 rewrite as bradley_terry and for the same reason —
        # 2·iterations chained SELECTs cost seconds of Catalyst
        # analysis and a janino-overflowing codegen method.  Only the
        # final round(v, 6) / CASTs stay in Spark.
        counts = pc.agg(*aggs).first()
        cm = {
            (i, j): counts[f"c_{i}_{j}"]
            for i in range(k)
            for j in range(k)
        }
        if any(v is None for v in cm.values()):
            # empty input: NULL counts → NULL row totals → the t CASE
            # fences zero every transition prob, so one propagation
            # round zeroes the vector; n_out/n_in stay NULL.
            mk_r: list[float | None] = [None] * k
            n_in: list[float | None] = [None] * k
            v: list[float | None] = [0.0] * k
        else:
            mk_r = []
            n_in = []
            for i in range(k):
                r_tot = cm[(i, 0)]
                c_tot = cm[(0, i)]
                for j in range(1, k):
                    r_tot = r_tot + cm[(i, j)]
                    c_tot = c_tot + cm[(j, i)]
                mk_r.append(r_tot)
                n_in.append(c_tot)
            t = {
                (i, j): (
                    cm[(i, j)] / mk_r[i] if mk_r[i] > 0.0 else 0.0
                )
                for i in range(k)
                for j in range(k)
            }
            v = [1.0 / float(k)] * k
            for _r in range(1, iterations + 1):
                u = []
                for j in range(k):
                    acc = v[0] * t[(0, j)]
                    for i in range(1, k):
                        acc = acc + v[i] * t[(i, j)]
                    u.append(acc)
                s = u[0]
                for j in range(1, k):
                    s = s + u[j]
                v = [(u[j] / s if s > 0.0 else 0.0) for j in range(k)]
        spark = df.sparkSession
        one = spark.range(1).select(
            *[
                F.lit(v[i]).cast("double").alias(f"v_{i}")
                for i in range(k)
            ],
            *[
                F.lit(mk_r[i]).cast("double").alias(f"mk_r_{i}")
                for i in range(k)
            ],
            *[
                F.lit(n_in[i]).cast("double").alias(f"mk_in_{i}")
                for i in range(k)
            ],
        )
        cells = []
        for i, name in enumerate(states):
            cells.extend(
                [
                    f"'{name}'",
                    f"CAST(mk_r_{i} AS BIGINT)",
                    f"CAST(mk_in_{i} AS BIGINT)",
                    f"round(v_{i}, 6)",
                ]
            )
        return one.select(
            F.expr(
                f"stack({k}, {', '.join(cells)}) AS "
                "(state, n_out, n_in, stationary)"
            )
        )

    return _t


def brier_decomposition(
    score_col: str,
    label_col: str,
    lo: float,
    hi: float,
    n_bins: int = 20,
    group_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Brier score with the Murphy decomposition per group — the
    probability-forecast scorecard that says not just HOW wrong a
    scorer is but WHY:

        BS          = (1/N) Σ (f_i − o_i)²
        reliability = (1/N) Σ_k n_k (f̄_k − ō_k)²   (calibration gap)
        resolution  = (1/N) Σ_k n_k (ō_k − ō)²      (discrimination)
        uncertainty = ō (1 − ō)

    with forecasts clamped into ``n_bins`` fixed-width bins on
    [lo, hi) (PSI's clamp rule).  The exact identity
    ``BS_binned = reliability − resolution + uncertainty`` holds for
    the BINNED score; the raw BS is reported alongside (the gap is the
    within-bin forecast variance).  One data-scale shuffle: a single
    (group, bin) aggregation carrying count, Σf, Σo, and the Σ(f−o)²
    decimal moment; everything after runs on the bins×groups table.
    Per-bin terms are rounded to 6 dp via the exact-decimal cast
    before the order-free sums; outputs pinned at 6 dp.  NULL
    score/label rows are dropped.  Returns ``group_by…, n, brier,
    reliability, resolution, uncertainty``.
    """
    gcols = [group_by] if group_by else []
    width = (hi - lo) / n_bins

    def _t(df: DataFrame) -> DataFrame:
        f = F.col(score_col).cast("double")
        o = F.col(label_col).cast("double")
        raw_bin = F.floor((f - F.lit(float(lo))) / F.lit(float(width)))
        bin_ = F.least(
            F.lit(n_bins - 1), F.greatest(F.lit(0), raw_bin)
        ).cast("int")
        per_bin = (
            df.where(
                F.col(score_col).isNotNull()
                & F.col(label_col).isNotNull()
            )
            .groupBy(*gcols, bin_.alias("_bin"))
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.sum(f.cast(DEC)).alias("_sf"),
                F.sum(o.cast("long")).alias("_so"),
                F.sum(((f - o) * (f - o)).cast(DEC)).alias("_sq"),
            )
        )
        wg = Window.partitionBy(*gcols)
        n = F.sum("_n").over(wg)
        obar = F.sum("_so").over(wg).cast("double") / n.cast("double")
        fbar_k = F.col("_sf").cast("double") / F.col("_n").cast(
            "double"
        )
        obar_k = F.col("_so").cast("double") / F.col("_n").cast(
            "double"
        )
        rel_t = (
            F.col("_n").cast("double")
            * (fbar_k - obar_k)
            * (fbar_k - obar_k)
        ).cast(DEC)
        res_t = (
            F.col("_n").cast("double")
            * (obar_k - obar)
            * (obar_k - obar)
        ).cast(DEC)
        staged = per_bin.select(
            *gcols,
            n.alias("_tot"),
            obar.alias("_obar"),
            F.col("_sq"),
            rel_t.alias("_rel"),
            res_t.alias("_res"),
        )
        agg = staged.groupBy(*gcols).agg(
            F.first("_tot").alias("n"),
            F.first("_obar").alias("_ob"),
            F.sum("_sq").cast("double").alias("_ssq"),
            F.sum("_rel").cast("double").alias("_srel"),
            F.sum("_res").cast("double").alias("_sres"),
        )
        nd = F.col("n").cast("double")
        return agg.select(
            *gcols,
            "n",
            F.round(F.col("_ssq") / nd, 6).alias("brier"),
            F.round(F.col("_srel") / nd, 6).alias("reliability"),
            F.round(F.col("_sres") / nd, 6).alias("resolution"),
            F.round(
                F.col("_ob") * (F.lit(1.0) - F.col("_ob")), 6
            ).alias("uncertainty"),
        )

    return _t


def conformal_quantile(
    score_col: str,
    alpha: float = 0.1,
    group_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Split-conformal calibration quantile per group — the
    finite-sample-valid prediction-interval radius: given held-out
    nonconformity scores, q̂ is the ⌈(n+1)(1−α)⌉-th smallest score,
    and intervals of that radius cover with probability ≥ 1−α
    (distribution-free).  The eval-pipeline primitive behind
    "guaranteed coverage" serving.

    The k-th order statistic is computed WITHOUT an ordered-window
    sort task: ranks come from
    :func:`…operators.windows.group_ranks` (bucketed-counts plan past
    its size gate, bit-identical), and
    the k-th value is the row whose tie block spans rank k
    (``min_rank ≤ k < min_rank + cnt``) — tie-invariant by
    construction, since every row of the block carries the same
    value.  One extra per-group count join (metadata scale).  q̂ is a
    selected input value — no arithmetic, bit-exact.  Groups with
    k > n (too few calibration points for the requested coverage)
    emit NULL q̂.  Returns ``group_by…, n, k, q_hat``.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    from btc_usdt_etl_pipeline_spark.operators.windows import group_ranks

    gcols = [group_by] if group_by else []

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(F.col(score_col).isNotNull()).select(
            *gcols, score_col
        )
        r = d.transform(
            group_ranks(score_col, group_by=group_by or None)
        )
        cnt = (
            F.lit(2.0)
            * (F.col("avg_rank") - F.col("min_rank").cast("double"))
            + F.lit(1.0)
        ).cast("long")
        n = F.count(F.lit(1)).over(Window.partitionBy(*gcols))
        k = F.ceil(
            (n.cast("double") + F.lit(1.0)) * F.lit(1.0 - float(alpha))
        )
        staged = r.select(
            *gcols,
            F.col(score_col).alias("_v"),
            "min_rank",
            cnt.alias("_cnt"),
            n.alias("_n"),
            k.alias("_k"),
        )
        hit = (F.col("min_rank") <= F.col("_k")) & (
            F.col("_k") < F.col("min_rank") + F.col("_cnt")
        )
        agg = staged.groupBy(*gcols).agg(
            F.first("_n").alias("n"),
            F.first("_k").alias("k"),
            F.min(F.when(hit, F.col("_v"))).alias("_q"),
        )
        return agg.select(
            *gcols,
            "n",
            "k",
            F.when(F.col("k") <= F.col("n"), F.col("_q")).alias(
                "q_hat"
            ),
        )

    return _t


def poisson_rate_ratio(
    is_a: Column,
    is_event: Column,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Poisson rate-ratio comparison per partition — the event-rate
    A/B readout (error rates, incident rates, click rates per
    exposure) with the Wald interval on the log scale:

        RR = (c_a / t_a) / (c_b / t_b)
        se = √(1/c_a + 1/c_b)
        z  = ln(RR) / se,   CI = exp(ln RR ∓ 1.96·se)

    where c is the event count and t the exposure (row count) per
    side.  ONE conditional-count aggregation per partition — map-side
    combined, the cheapest shape in the battery.  ln/exp are pinned
    at 6 dp per the transcendental contract; zero events or zero
    exposure on either side emit NULL statistics (the Wald
    approximation is undefined there).  Returns ``partition…, c_a,
    t_a, c_b, t_b, rate_ratio, z, ci_lo, ci_hi``.
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        a = is_a.cast("boolean")
        ev = is_event.cast("boolean")
        agg = df.groupBy(*gcols).agg(
            F.sum((a & ev).cast("long")).alias("c_a"),
            F.sum(a.cast("long")).alias("t_a"),
            F.sum((~a & ev).cast("long")).alias("c_b"),
            F.sum((~a).cast("long")).alias("t_b"),
        )
        ca = F.col("c_a").cast("double")
        ta = F.col("t_a").cast("double")
        cb = F.col("c_b").cast("double")
        tb = F.col("t_b").cast("double")
        ok = (
            (F.col("c_a") > 0)
            & (F.col("c_b") > 0)
            & (F.col("t_a") > 0)
            & (F.col("t_b") > 0)
        )
        rr = (ca / ta) / (cb / tb)
        lnrr = F.log(rr)
        se = F.sqrt(F.lit(1.0) / ca + F.lit(1.0) / cb)
        return agg.select(
            *gcols,
            "c_a",
            "t_a",
            "c_b",
            "t_b",
            F.when(ok, F.round(rr, 6)).alias("rate_ratio"),
            F.when(ok, F.round(lnrr / se, 6)).alias("z"),
            F.when(
                ok, F.round(F.exp(lnrr - F.lit(1.96) * se), 6)
            ).alias("ci_lo"),
            F.when(
                ok, F.round(F.exp(lnrr + F.lit(1.96) * se), 6)
            ).alias("ci_hi"),
        )

    return _t


def mcnemar_test(
    correct_a: Column,
    correct_b: Column,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """McNemar's paired test per partition — THE statistic for
    comparing two models on the SAME examples (model A vs model B
    correctness per prompt): only the discordant pairs carry
    information, so it detects a real quality gap that a two-sample
    proportion test dilutes with the (huge, shared) concordant mass.

        b = #(A right, B wrong),  c = #(A wrong, B right)
        χ² = (b − c)² / (b + c)        (1 dof, no continuity corr.)

    ONE conditional-count aggregation per partition (map-side
    combined).  Pure integer arithmetic until the final division,
    pinned at 6 dp; b + c = 0 (no discordant pairs) emits NULL.  NULL
    verdicts on either side drop the pair (unjudged).  Returns
    ``partition…, n, n_both, b, c, chi2``.
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        a = correct_a.cast("boolean")
        b = correct_b.cast("boolean")
        d = df.where(a.isNotNull() & b.isNotNull())
        agg = d.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((a & b).cast("long")).alias("n_both"),
            F.sum((a & ~b).cast("long")).alias("b"),
            F.sum((~a & b).cast("long")).alias("c"),
        )
        bb = F.col("b").cast("double")
        cc = F.col("c").cast("double")
        chi2 = F.when(
            (F.col("b") + F.col("c")) > 0,
            F.round((bb - cc) * (bb - cc) / (bb + cc), 6),
        )
        return agg.select(
            *gcols, "n", "n_both", "b", "c", chi2.alias("chi2")
        )

    return _t


def _declared_treatments(op: str, treatments: Sequence[str]) -> list[str]:
    """The treatments of a complete-block test (:func:`cochran_q`,
    :func:`friedman_test`) as a list, checked when the operator is
    built: 2..64 of them, all distinct."""
    treatments = list(treatments)
    if not 2 <= len(treatments) <= 64:
        raise ValueError(f"{op} needs 2..64 declared treatments")
    if len(set(treatments)) != len(treatments):
        raise ValueError("treatments must be unique")
    return treatments


def _complete_blocks(
    d: DataFrame, gcols: list[str], item_col: str, k: int, *item_aggs
) -> tuple[DataFrame, DataFrame]:
    """The complete-block preamble of :func:`cochran_q` and
    :func:`friedman_test`: the per-(partition, item) rollup of ``d`` —
    its row count ``_cnt`` plus ``item_aggs`` — kept for the items
    rated by all ``k`` declared treatments, and the per-partition
    count of the other items, ``n_dropped``."""
    per_item = d.groupBy(*gcols, item_col).agg(
        F.count(F.lit(1)).alias("_cnt"), *item_aggs
    )
    dropped = (
        per_item.where(F.col("_cnt") != k)
        .groupBy(*gcols)
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )
    return per_item.where(F.col("_cnt") == k), dropped


def cochran_q(
    item_col: str,
    treatment_col: str,
    success_col: Column,
    treatments: Sequence[str],
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Cochran's Q per partition — :func:`mcnemar_test` generalized to
    k treatments: did ANY of k models/prompts/configurations differ in
    per-item success rate, judged on the SAME items (complete blocks)?
    The omnibus gate an eval pipeline runs before pairwise McNemars.

        Q = (k−1) · [k·Σ_j G_j² − T²] / [k·T − Σ_i L_i²],   dof = k−1

    with G_j = successes of treatment j, L_i = successes on item i,
    T = Σ G_j = Σ L_i, over items rated by ALL k declared treatments
    (incomplete items are dropped — the textbook complete-block
    requirement — and reported in ``n_dropped``).

    Two data-scale shuffles: the per-(partition, item) rollup and the
    per-(partition, treatment) conditional sum over complete items
    (both map-side combined; the completeness filter is a broadcast of
    per-item counts already reduced to item scale).  Pure 64-bit
    integer arithmetic until ONE division, pinned at 6 dp; an all-0 or
    all-1 board (zero denominator) emits NULL.  Returns
    ``partition…, n_items, n_dropped, k, t, q_stat``.
    """
    treatments = _declared_treatments("cochran_q", treatments)
    k = len(treatments)
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        s = success_col.cast("boolean")
        d = df.where(
            F.col(item_col).isNotNull()
            & F.col(treatment_col).isin(treatments)
            & s.isNotNull()
        ).select(
            *gcols,
            item_col,
            treatment_col,
            s.cast("long").alias("_s"),
        )
        complete, dropped = _complete_blocks(
            d, gcols, item_col, k, F.sum("_s").alias("_li")
        )
        item_side = complete.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("_li").alias("t"),
            F.sum(F.col("_li") * F.col("_li")).alias("_sli2"),
        )
        g = (
            d.join(
                complete.select(*gcols, item_col),
                [*gcols, item_col],
                "left_semi",
            )
            .groupBy(*gcols, treatment_col)
            .agg(F.sum("_s").alias("_gj"))
        )
        treat_side = g.groupBy(*gcols).agg(
            F.sum(F.col("_gj") * F.col("_gj")).alias("_sgj2")
        )
        # the global (no-partition) dropped agg always yields one row
        # (count 0 on empty input), so a plain crossJoin is safe
        joined = join_groups(
            join_groups(item_side, treat_side, gcols), dropped, gcols, "left"
        )
        kk = F.lit(k).cast("long")
        num = (kk - 1) * (kk * F.col("_sgj2") - F.col("t") * F.col("t"))
        den = kk * F.col("t") - F.col("_sli2")
        q = F.when(
            den > 0,
            F.round(num.cast("double") / den.cast("double"), 6),
        )
        return joined.select(
            *gcols,
            "n_items",
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            kk.alias("k"),
            "t",
            q.alias("q_stat"),
        )

    return _t


def permutation_test_diff(
    value_col: str,
    id_col: str,
    is_a: Column,
    partition_by: str | None = None,
    replicates: int = 40,
    portable: bool = False,
) -> Callable[[DataFrame], DataFrame]:
    """Randomization test for a difference in means per partition —
    the assumption-free p-value beside the parametric (welch_t) and
    rank (mann_whitney_u) tests: relabel units at random B times and
    ask how often the null relabeling produces a gap as large as the
    observed one.

        p = (1 + #{ |diff_r| ≥ |diff_obs| }) / (B' + 1)

    Labels are redrawn per replicate as pseudo-A with probability
    p̂ = n_A/n from a deterministic per-(unit, replicate) hash —
    binomial relabeling rather than an exact permutation (group sizes
    vary hypergeometrically around n_A; the test is still exact-in-
    distribution under the null for large n, and it is the only
    relabeling that needs NO global shuffle of labels).  Replicates
    where either pseudo-side is empty are dropped (B′ counts the
    valid ones).

    Plan: the bootstrap_ci_mean shape — explode B replicate ids
    (bounded constant blow-up collapsed immediately by ONE
    (partition, replicate) map-side-combined aggregation), a
    metadata-scale join of the observed moments, one count.  Means
    ride the exact-decimal idiom; the |diff_r| ≥ |diff_obs|
    comparison runs on bit-identical doubles in both engines.
    ``portable=True`` derives the relabeling from the md5-based
    :func:`…dedup.portable_hash60` (oracle-replayable);
    the default is JVM ``xxhash64``.  Returns ``partition…, n, n_a,
    diff_obs, n_replicates, n_extreme, p_value``.
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.operators.dedup import (
            portable_hash60,
        )

        a = is_a.cast("boolean")
        d = df.where(F.col(value_col).isNotNull() & a.isNotNull()).select(
            *gcols,
            F.col(id_col).alias("_id"),
            F.col(value_col).cast("double").alias("_x"),
            a.alias("_a"),
        )
        obs = d.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_a").cast("long")).alias("n_a"),
            F.sum(F.when(F.col("_a"), F.col("_x")).cast(DEC))
            .cast("double")
            .alias("_sa"),
            F.sum(F.when(~F.col("_a"), F.col("_x")).cast(DEC))
            .cast("double")
            .alias("_sb"),
        )
        na = F.col("n_a").cast("double")
        nb = (F.col("n") - F.col("n_a")).cast("double")
        obs = obs.withColumn(
            "_dobs",
            F.when(
                (F.col("n_a") > 0) & (F.col("n") > F.col("n_a")),
                F.col("_sa") / na - F.col("_sb") / nb,
            ),
        ).withColumn("_pa", na / F.col("n").cast("double"))
        r = F.explode(
            F.sequence(F.lit(0), F.lit(replicates - 1))
        ).alias("_r")
        ex = join_groups(
            d.select(*gcols, "_id", "_x", r),
            F.broadcast(obs.select(*gcols, "_pa")),
            gcols,
        )
        if portable:
            h = portable_hash60(
                F.concat_ws(
                    ":",
                    F.col("_id").cast("string"),
                    F.col("_r").cast("string"),
                )
            )
        else:
            h = F.xxhash64(
                F.col("_id").cast("string"), F.col("_r").cast("string")
            )
        u = (
            h.bitwiseAND(F.lit(0xFFFFFF)).cast("double")
            / F.lit(16777216.0)
        )
        rep = (
            ex.withColumn("_pa2", u < F.col("_pa"))
            .groupBy(*gcols, "_r")
            .agg(
                F.sum(F.when(F.col("_pa2"), F.col("_x")).cast(DEC))
                .cast("double")
                .alias("_ra"),
                F.sum(F.col("_pa2").cast("long")).alias("_ca"),
                F.sum(F.when(~F.col("_pa2"), F.col("_x")).cast(DEC))
                .cast("double")
                .alias("_rb"),
                F.sum((~F.col("_pa2")).cast("long")).alias("_cb"),
            )
            .where((F.col("_ca") > 0) & (F.col("_cb") > 0))
            .withColumn(
                "_dr",
                F.col("_ra") / F.col("_ca").cast("double")
                - F.col("_rb") / F.col("_cb").cast("double"),
            )
        )
        joined = join_groups(
            rep, F.broadcast(obs.select(*gcols, "_dobs")), gcols
        )
        repagg = joined.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("n_replicates"),
            F.sum(
                (F.abs(F.col("_dr")) >= F.abs(F.col("_dobs")))
                .cast("long")
            ).alias("n_extreme"),
        )
        # left join from obs: a degenerate partition (one side empty →
        # zero valid replicates) still emits its row with NULL stats
        out = join_groups(obs, repagg, gcols, "left")
        ok = F.col("_dobs").isNotNull() & (
            F.coalesce("n_replicates", F.lit(0)) > 0
        )
        return out.select(
            *gcols,
            "n",
            "n_a",
            F.round("_dobs", 6).alias("diff_obs"),
            F.coalesce("n_replicates", F.lit(0)).alias(
                "n_replicates"
            ),
            F.when(ok, F.coalesce("n_extreme", F.lit(0))).alias(
                "n_extreme"
            ),
            F.when(
                ok,
                F.round(
                    (F.coalesce("n_extreme", F.lit(0)) + F.lit(1))
                    .cast("double")
                    / (F.col("n_replicates") + F.lit(1)).cast(
                        "double"
                    ),
                    6,
                ),
            ).alias("p_value"),
        )

    return _t


def friedman_test(
    item_col: str,
    treatment_col: str,
    value_col: str,
    treatments: Sequence[str],
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Friedman test per partition — the rank analogue of Cochran's Q
    for CONTINUOUS paired responses: k models/configs scored on the
    same items (latency, loss, judge score), ranked WITHIN each item
    so between-item scale differences cancel.  Conover's squared-rank
    form, which absorbs ties without a separate correction factor:

        T = (k−1) · [ Σ_j R_j² − n·k·(k+1)²/4 ]
                  / [ A − n·k·(k+1)²/4 ],        dof = k−1
        A = Σ_items Σ_j r_ij²,   R_j = Σ_items r_ij

    with r_ij the tie-AVERAGED within-item rank.  Complete blocks
    only (items missing any declared treatment are dropped and
    counted, the cochran_q contract).

    Ranks come from one window over (partition, item) — items are
    k-row micro-partitions, so the "sort" is k elements and
    parallelism is item-count wide; no hot-partition hazard by
    construction.  Ranks are exact half-integers, their squares exact
    quarters, both summed via the decimal idiom; ONE final division,
    pinned at 6 dp.  An all-tied board (zero denominator) emits NULL.
    Returns ``partition…, n_items, n_dropped, k, t_stat``.
    """
    treatments = _declared_treatments("friedman_test", treatments)
    k = len(treatments)
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(item_col).isNotNull()
            & F.col(treatment_col).isin(treatments)
            & F.col(value_col).isNotNull()
        ).select(
            *gcols,
            item_col,
            treatment_col,
            F.col(value_col).cast("double").alias("_v"),
        )
        complete, dropped = _complete_blocks(d, gcols, item_col, k)
        dd = d.join(
            complete.select(*gcols, item_col),
            [*gcols, item_col],
            "left_semi",
        )
        wi = Window.partitionBy(*gcols, item_col).orderBy("_v")
        wt = Window.partitionBy(*gcols, item_col, "_v")
        mr = F.rank().over(wi)
        c = F.count(F.lit(1)).over(wt)
        avg_rank = (
            mr.cast("double")
            + (c.cast("double") - F.lit(1.0)) / F.lit(2.0)
        )
        ranked = dd.withColumn("_r", avg_rank)
        per_treat = ranked.groupBy(*gcols, treatment_col).agg(
            F.sum(F.col("_r").cast(DEC)).cast("double").alias("_rj")
        )
        treat_side = per_treat.groupBy(*gcols).agg(
            F.sum(
                (F.col("_rj") * F.col("_rj")).cast(DEC12)
            )
            .cast("double")
            .alias("_srj2")
        )
        item_side = ranked.groupBy(*gcols).agg(
            (F.countDistinct(item_col)).alias("n_items"),
            F.sum((F.col("_r") * F.col("_r")).cast(DEC))
            .cast("double")
            .alias("_a"),
        )
        joined = join_groups(
            join_groups(item_side, treat_side, gcols), dropped, gcols, "left"
        )
        n = F.col("n_items").cast("double")
        kk = F.lit(float(k))
        # numerator centers ΣR_j² at its null value — the R_j are SUMS
        # over n items, so the centering constant carries n²; the
        # denominator's A is per-rank, carrying n (Conover 1999, T2
        # numerator identity Σ(R_j − n(k+1)/2)² = ΣR_j² − n²k(k+1)²/4)
        base_num = n * n * kk * (kk + 1) * (kk + 1) / F.lit(4.0)
        base_den = n * kk * (kk + 1) * (kk + 1) / F.lit(4.0)
        num = (kk - 1) * (F.col("_srj2") - base_num)
        den = F.col("_a") - base_den
        t = F.when(den > 0, F.round(num / den, 6))
        return joined.select(
            *gcols,
            "n_items",
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            F.lit(k).cast("long").alias("k"),
            t.alias("t_stat"),
        )

    return _t


def mann_kendall(
    time_col: str,
    value_col: str,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Mann–Kendall trend test + Sen's slope per partition over an
    AGGREGATED series (one row per time point — the caller buckets
    raw data first, e.g. daily means): the nonparametric "is this
    metric drifting?" monitor that needs no linearity or normality,
    plus the robust slope estimate.

        S   = Σ_{i<j} sign(x_j − x_i)
        Var = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18   (value ties)
        z   = (S∓1)/√Var  (continuity-corrected; 0 when S = 0)
        Sen = median of the pairwise slopes (x_j − x_i)/(t_j − t_i)

    The pair set is a per-partition self-join of the REDUCED series —
    points² pairs, metadata scale by the bucketing contract (30 daily
    points → 435 pairs), never raw-row scale.  S and the tie term are
    pure integers; Sen's median uses the exact interpolated
    percentile (the engine's percentile ↔ quantile_cont pairing);
    z pinned at 6 dp.  Partitions with < 3 points emit NULL z/slope.
    Returns ``partition…, n_points, s_stat, z, sen_slope``.
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(time_col).isNotNull() & F.col(value_col).isNotNull()
        ).select(
            *gcols,
            F.col(time_col).alias("_t"),
            F.col(value_col).cast("double").alias("_x"),
        )
        a = d.select(
            *gcols, F.col("_t").alias("_ta"), F.col("_x").alias("_xa")
        )
        b = d.select(
            *gcols, F.col("_t").alias("_tb"), F.col("_x").alias("_xb")
        )
        pairs = (
            join_groups(a, b, gcols)
            .where(F.col("_ta") < F.col("_tb"))
            .select(
                *gcols,
                F.signum(F.col("_xb") - F.col("_xa"))
                .cast("long")
                .alias("_sgn"),
                (
                    (F.col("_xb") - F.col("_xa"))
                    / (F.col("_tb") - F.col("_ta")).cast("double")
                ).alias("_slope"),
            )
        )
        psums = pairs.groupBy(*gcols).agg(
            F.sum("_sgn").alias("s_stat"),
            F.percentile("_slope", F.lit(0.5)).alias("_sen"),
        )
        ties = (
            d.groupBy(*gcols, "_x")
            .agg(F.count(F.lit(1)).alias("_tc"))
            .groupBy(*gcols)
            .agg(
                F.count(F.lit(1)).alias("_nvals"),
                F.sum(F.col("_tc")).alias("n_points"),
                F.sum(
                    F.col("_tc")
                    * (F.col("_tc") - 1)
                    * (2 * F.col("_tc") + 5)
                ).alias("_tsum"),
            )
        )
        joined = join_groups(ties, psums, gcols)
        n = F.col("n_points").cast("double")
        var = (
            n * (n - 1) * (2 * n + 5)
            - F.col("_tsum").cast("double")
        ) / F.lit(18.0)
        s = F.col("s_stat").cast("double")
        z = F.when(
            (F.col("n_points") >= 3) & (var > 0),
            F.round(
                F.when(F.col("s_stat") > 0, (s - 1) / F.sqrt(var))
                .when(F.col("s_stat") < 0, (s + 1) / F.sqrt(var))
                .otherwise(F.lit(0.0)),
                6,
            ),
        )
        sen = F.when(
            F.col("n_points") >= 3, F.round("_sen", 6)
        )
        return joined.select(
            *gcols, "n_points", "s_stat", z.alias("z"),
            sen.alias("sen_slope"),
        )

    return _t


def binary_changepoint(
    time_col: str,
    value_col: str,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Single most-likely level-shift changepoint per partition over an
    AGGREGATED series (caller buckets first — the mann_kendall
    contract): the first step of binary segmentation, maximizing the
    scaled mean-difference statistic over every split point

        G(t) = √( t·(n−t)/n ) · | mean(x₁..x_t) − mean(x_{t+1}..x_n) |

    — the CUSUM-equivalent form whose argmax is the maximum-likelihood
    shift location under a constant-variance model.  The split scan is
    ONE ordered prefix-sum window over the reduced series plus a
    lexicographic max (ties broken to the EARLIEST split, both engines
    replaying the same double), no self-join at all.

    Means ride the exact-decimal prefix sums; G carries one sqrt,
    outputs pinned at 6 dp.  Partitions with < 4 points emit a NULL
    changepoint.  Returns ``partition…, n_points, cp_time, g_stat,
    mean_left, mean_right, shift`` where ``cp_time`` is the LAST time
    of the left segment.
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(time_col).isNotNull() & F.col(value_col).isNotNull()
        ).select(
            *gcols,
            F.col(time_col).alias("_t"),
            F.col(value_col).cast("double").alias("_x"),
        )
        wg = Window.partitionBy(*gcols)
        wo = _running(gcols, "_t")
        staged = d.select(
            *gcols,
            "_t",
            F.sum(F.col("_x").cast(DEC)).over(wo).alias("_cs"),
            F.row_number().over(wg.orderBy("_t")).alias("_i"),
            F.count(F.lit(1)).over(wg).alias("_n"),
            F.sum(F.col("_x").cast(DEC)).over(wg).alias("_tot"),
        )
        t = F.col("_i").cast("double")
        n = F.col("_n").cast("double")
        ml = F.col("_cs").cast("double") / t
        mr = (F.col("_tot") - F.col("_cs")).cast("double") / (n - t)
        g = F.sqrt(t * (n - t) / n) * F.abs(ml - mr)
        splits = staged.where(F.col("_i") < F.col("_n")).select(
            *gcols,
            "_t",
            "_i",
            "_n",
            g.alias("_g"),
            ml.alias("_ml"),
            mr.alias("_mr"),
        )
        # argmax with earliest-split tiebreak: lexicographic max over
        # (g, -row_index) — type-agnostic in the time column; the
        # oracle replays via ROW_NUMBER(g DESC, t ASC)
        best = splits.groupBy(*gcols).agg(
            F.first("_n").alias("n_points"),
            F.max(
                F.struct(
                    F.col("_g").alias("g"),
                    (-F.col("_i")).alias("negi"),
                    F.col("_t").alias("t"),
                    F.col("_ml").alias("ml"),
                    F.col("_mr").alias("mr"),
                )
            ).alias("_b"),
        )
        ok = F.col("n_points") >= 4
        return best.select(
            *gcols,
            "n_points",
            F.when(ok, F.col("_b.t")).alias("cp_time"),
            F.when(ok, F.round(F.col("_b.g"), 6)).alias("g_stat"),
            F.when(ok, F.round(F.col("_b.ml"), 6)).alias("mean_left"),
            F.when(ok, F.round(F.col("_b.mr"), 6)).alias("mean_right"),
            F.when(
                ok, F.round(F.col("_b.mr") - F.col("_b.ml"), 6)
            ).alias("shift"),
        )

    return _t


def dunn_posthoc(
    value_col: str,
    group_col: str,
    partition_by: str | None = None,
    alpha: float = 0.05,
) -> Callable[[DataFrame], DataFrame]:
    """Dunn's post-hoc test with Benjamini–Hochberg correction per
    partition — the step AFTER a significant Kruskal–Wallis omnibus
    (q230): WHICH groups differ?  Pairwise z statistics on the shared
    combined-sample ranks,

        z_ij = (R̄_i − R̄_j) / √( σ² · (1/n_i + 1/n_j) )
        σ²   = [ n(n+1)/12 − Σ(t³−t) / (12(n−1)) ]      (tie-corrected)

    with the m = k(k−1)/2 pair family BH-adjusted via
    :func:`fdr_bh` — the composed omnibus→pairwise→FDR pipeline an
    eval team actually runs, in one call.

    Ranks ride :func:`…windows.group_ranks` (bucketed-counts plan past
    its size gate, bit-identical);
    everything after the per-(partition, group) rank-mean rollup is
    metadata scale — the pair join is groups², the BH window is one
    ordered pass over the pairs.  Rank sums and the tie mass use the
    decimal idiom; |z| and the two-sided normal p (via erfc) are
    pinned at 6 dp.  Degenerate pairs (σ² ≤ 0) are dropped.  NULL
    value/group rows are dropped.  Returns one row per pair:
    ``partition…, group_i, group_j, n_i, n_j, z, p, bh_rank,
    m_tests, q_value, rejected``.
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        r, ties = _ranked(df, value_col, group_col, partition_by)
        per_group = r.groupBy(*gcols, group_col).agg(
            F.count(F.lit(1)).alias("_ni"),
            F.sum(F.col("avg_rank").cast(DEC))
            .cast("double")
            .alias("_ri"),
        )
        part = r.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("_n"),
            ties.alias("_ties"),
        )
        gi = per_group.select(
            *gcols,
            F.col(group_col).alias("group_i"),
            F.col("_ni").alias("n_i"),
            F.col("_ri").alias("_ri"),
        )
        gj = per_group.select(
            *gcols,
            F.col(group_col).alias("group_j"),
            F.col("_ni").alias("n_j"),
            F.col("_ri").alias("_rj"),
        )
        pairs = join_groups(gi, gj, gcols).where(
            F.col("group_i") < F.col("group_j")
        )
        pairs = join_groups(pairs, part, gcols)
        n = F.col("_n").cast("double")
        sig2 = n * (n + 1) / F.lit(12.0) - F.col("_ties") / (
            F.lit(12.0) * (n - 1)
        )
        ni = F.col("n_i").cast("double")
        nj = F.col("n_j").cast("double")
        z = (F.col("_ri") / ni - F.col("_rj") / nj) / F.sqrt(
            sig2 * (F.lit(1.0) / ni + F.lit(1.0) / nj)
        )
        scored = pairs.where(sig2 > 0).select(
            *gcols,
            "group_i",
            "group_j",
            "n_i",
            "n_j",
            z.alias("_z"),
        )
        # two-sided normal p = erfc(|z|/√2) via the Abramowitz–Stegun
        # 7.1.26 polynomial (|err| < 1.5e-7 — far inside the 6 dp pin;
        # neither engine ships erfc, so BOTH evaluate this exact
        # expression text and the doubles match bit-for-bit)
        x = F.abs(F.col("_z")) / F.sqrt(F.lit(2.0))
        tt = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
        poly = tt * (
            F.lit(0.254829592)
            + tt
            * (
                F.lit(-0.284496736)
                + tt
                * (
                    F.lit(1.421413741)
                    + tt
                    * (F.lit(-1.453152027) + tt * F.lit(1.061405429))
                )
            )
        )
        pexpr = poly * F.exp(-(x * x))
        scored = scored.withColumn("_p", F.round(pexpr, 6)).withColumn(
            "z", F.round("_z", 6)
        )
        adjusted = scored.transform(
            fdr_bh(
                "_p",
                tiebreak=["group_i", "group_j"],
                group_by=partition_by,
                alpha=alpha,
            )
        )
        return adjusted.select(
            *gcols,
            "group_i",
            "group_j",
            "n_i",
            "n_j",
            "z",
            F.col("_p").alias("p"),
            "bh_rank",
            "m_tests",
            "q_value",
            "rejected",
        )

    return _t


def log_rank_test(
    duration_col: str,
    event_col: Column,
    is_a: Column,
    group_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Two-sample log-rank test per group — the standard comparison of
    two survival curves (treatment vs control churn, cohort A vs B
    time-to-conversion), completing the survival family next to
    Kaplan–Meier (q206) and Nelson–Aalen (q252):

        O₁ = Σ_t d₁t,   E₁ = Σ_t d_t·n₁t/n_t
        V  = Σ_t d_t·(n₁t/n_t)·(1 − n₁t/n_t)·(n_t − d_t)/(n_t − 1)
        χ² = (O₁ − E₁)² / V                 (1 dof)

    with per-arm risk sets n₁t/n₂t from the same reverse-cumulative
    window algebra kaplan_meier uses, evaluated at the combined event
    times.  The rate-ratio estimate (O₁/E₁)/(O₂/E₂) rides along.

    One (group, duration) aggregation with four conditional sums
    (data scale, map-side combined), then ordered windows over the
    reduced event-time table.  Per-time E and V terms carry divisions,
    so each is rounded to 6 dp via the exact-decimal cast before the
    order-free sums; χ² and the rate ratio are pinned at 6 dp.
    Groups with either arm empty, or V = 0, emit NULL χ².  Returns
    ``group_by…, n_a, n_b, o_a, e_a, chi2, rate_ratio``.
    """
    gcols = [group_by] if group_by else []

    def _t(df: DataFrame) -> DataFrame:
        a = is_a.cast("boolean")
        ev = event_col.cast("boolean")
        d = df.where(
            F.col(duration_col).isNotNull()
            & a.isNotNull()
            & ev.isNotNull()
        ).select(
            *gcols,
            F.col(duration_col).alias("_t"),
            a.alias("_a"),
            ev.alias("_e"),
        )
        per_t = d.groupBy(*gcols, "_t").agg(
            F.sum((F.col("_a") & F.col("_e")).cast("long")).alias("_d1"),
            F.sum((F.col("_a") & ~F.col("_e")).cast("long")).alias(
                "_c1"
            ),
            F.sum((~F.col("_a") & F.col("_e")).cast("long")).alias(
                "_d2"
            ),
            F.sum((~F.col("_a") & ~F.col("_e")).cast("long")).alias(
                "_c2"
            ),
        )
        dep1 = F.col("_d1") + F.col("_c1")
        dep2 = F.col("_d2") + F.col("_c2")
        n1 = _at_risk(dep1, gcols, "_t")
        n2 = _at_risk(dep2, gcols, "_t")
        dt = (F.col("_d1") + F.col("_d2")).cast("double")
        n1d = n1.cast("double")
        ntd = (n1 + n2).cast("double")
        frac = n1d / ntd
        e1 = (dt * frac).cast(DEC)
        v = F.when(
            (n1 + n2) > 1,
            dt
            * frac
            * (F.lit(1.0) - frac)
            * ((ntd - dt) / (ntd - F.lit(1.0))),
        ).otherwise(F.lit(0.0)).cast(DEC)
        staged = per_t.select(
            *gcols,
            "_d1",
            "_d2",
            dep1.alias("_dep1"),
            dep2.alias("_dep2"),
            e1.alias("_e1"),
            v.alias("_v"),
        )
        agg = staged.groupBy(*gcols).agg(
            F.sum("_dep1").alias("n_a"),
            F.sum("_dep2").alias("n_b"),
            F.sum("_d1").alias("o_a"),
            F.sum("_d2").alias("_o2"),
            F.sum("_e1").cast("double").alias("_se1"),
            F.sum("_v").cast("double").alias("_sv"),
        )
        o1 = F.col("o_a").cast("double")
        o2 = F.col("_o2").cast("double")
        e1s = F.col("_se1")
        etot = o1 + o2  # ΣE₁ + ΣE₂ = Σd_t, so E₂ = total deaths − E₁
        e2s = etot - e1s
        ok = (F.col("n_a") > 0) & (F.col("n_b") > 0) & (
            F.col("_sv") > 0
        )
        chi2 = F.when(
            ok, F.round((o1 - e1s) * (o1 - e1s) / F.col("_sv"), 6)
        )
        rr = F.when(
            ok & (e1s > 0) & (e2s > 0) & (o2 > 0),
            F.round((o1 / e1s) / (o2 / e2s), 6),
        )
        return agg.select(
            *gcols,
            "n_a",
            "n_b",
            "o_a",
            F.round(e1s, 6).alias("e_a"),
            chi2.alias("chi2"),
            rr.alias("rate_ratio"),
        )

    return _t


def jarque_bera(
    value_col: str,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Jarque–Bera normality test per partition — the moment-based
    gate every parametric pipeline should run before trusting a
    t-test / OLS residual / control chart: JB blows up when the
    sample's skewness or excess kurtosis says "not Gaussian".

        S  = m₃ / m₂^{3/2},   K = m₄ / m₂² − 3
        JB = n/6 · (S² + K²/4)        ~ χ²(2) under normality

    with mₖ the central sample moments.  ONE aggregation: raw power
    sums (n, Σx, Σx², Σx³, Σx⁴) through the exact-decimal idiom
    (order-free doubles both engines agree on), then the central
    moments by the binomial expansion — the identical scalar tree the
    oracle replays.  No window, no sort, no second pass.  Skewness,
    excess kurtosis, and JB pinned at 6 dp; degenerate partitions
    (n < 3 or m₂ ≤ 0) emit NULLs.  Returns ``partition…, n, skewness,
    kurtosis_excess, jb``.

    Scale note: Σx⁴ through DECIMAL(38,6) caps |x| around 10⁶·rows⁻¹ᐟ⁴
    headroom-wise — standardize or clip heavy-tailed metrics first
    (the same contract as every moment aggregate in this module).
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        x = F.col(value_col).cast("double")
        d = df.where(F.col(value_col).isNotNull())
        agg = d.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x.cast(DEC)).cast("double").alias("_s1"),
            F.sum((x * x).cast(DEC)).cast("double").alias("_s2"),
            F.sum((x * x * x).cast(DEC)).cast("double").alias("_s3"),
            F.sum((x * x * x * x).cast(DEC))
            .cast("double")
            .alias("_s4"),
        )
        n = F.col("n").cast("double")
        mu = F.col("_s1") / n
        m2 = F.col("_s2") / n - mu * mu
        m3 = (
            F.col("_s3") / n
            - F.lit(3.0) * mu * (F.col("_s2") / n)
            + F.lit(2.0) * mu * mu * mu
        )
        m4 = (
            F.col("_s4") / n
            - F.lit(4.0) * mu * (F.col("_s3") / n)
            + F.lit(6.0) * mu * mu * (F.col("_s2") / n)
            - F.lit(3.0) * mu * mu * mu * mu
        )
        ok = (F.col("n") >= 3) & (m2 > 0)
        skew = m3 / (m2 * F.sqrt(m2))
        kurt = m4 / (m2 * m2) - F.lit(3.0)
        jb = (
            n
            / F.lit(6.0)
            * (skew * skew + kurt * kurt / F.lit(4.0))
        )
        return agg.select(
            *gcols,
            "n",
            F.when(ok, F.round(skew, 6)).alias("skewness"),
            F.when(ok, F.round(kurt, 6)).alias("kurtosis_excess"),
            F.when(ok, F.round(jb, 6)).alias("jb"),
        )

    return _t


def bartlett_levene(
    value_col: str,
    group_col: str,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Variance-homogeneity PANEL per partition: Bartlett's χ² and
    Levene's F (mean-centered) side by side — completing the scale
    battery around :func:`brown_forsythe_f` (Levene at the MEDIAN).
    Bartlett is the most powerful of the three when groups are
    near-normal and the most fragile otherwise; a Bartlett-fires /
    Levene-quiet split is itself the diagnostic (heavy tails, not
    variance drift), which is why the panel ships as one call.

        Bartlett: χ² = [(N−k)·ln s²_p − Σ(n_i−1)·ln s²_i] / C
                  C  = 1 + (Σ 1/(n_i−1) − 1/(N−k)) / (3(k−1))
                  s²_p = Σ(n_i−1)s²_i / (N−k)
        Levene:   one-way ANOVA F on z = |x − x̄_g|

    Plan: Bartlett needs NO second data pass — per-group decimal
    moments (n, Σx, Σx²) give every s²_i, and the ln / reciprocal
    terms are 6 dp-decimal-rounded before their order-free sums (the
    transcendental-term rule).  Levene reuses the Brown–Forsythe
    two-pass shape with group MEANS (pinned at 6 dp) broadcast back
    null-safely.  Degenerate partitions: k < 2 or N ≤ k → all NULL;
    any group with n_i < 2 or s²_i ≤ 0 → Bartlett NULL (its logs are
    undefined) while Levene still reports; SSW = 0 → Levene NULL.
    Returns ``partition…, n, k, bartlett_chi2, bartlett_dof,
    levene_f, dof1, dof2``.
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
        ).select(*gcols, group_col, value_col)
        x = F.col(value_col).cast("double")
        # pass 1: group means pinned at 6 dp, Levene's centres
        means = d.groupBy(*gcols, group_col).agg(
            F.round(
                F.sum(x.cast(DEC)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("_mean")
        )
        # pass 2: Bartlett's moments beside Levene's |x - mean_g| moments
        per_g, rollup, lev_f = _deviation_anova(
            d,
            means,
            "_mean",
            [*gcols, group_col],
            x,
            F.sum(x.cast(DEC)).cast("double").alias("_sx"),
            F.sum((x * x).cast(DEC)).cast("double").alias("_qx"),
        )
        ng = F.col("_ng").cast("double")
        # singleton-group guard: (ng-1) = 0 divides would FAULT under
        # ANSI; a NULL vi drops the group from every Bartlett sum and
        # bart_ok (min n_i >= 2) nulls the statistic anyway
        vi = F.when(
            F.col("_ng") >= 2,
            (F.col("_qx") - F.col("_sx") * F.col("_sx") / ng)
            / (ng - F.lit(1.0)),
        )
        agg = per_g.withColumn("_vi", vi).groupBy(*gcols).agg(
            F.sum("_ng").alias("n"),
            F.count(F.lit(1)).alias("k"),
            F.min(F.col("_ng")).alias("_minng"),
            F.min(
                F.when(F.col("_ng") >= 2, F.col("_vi"))
            ).alias("_minvi"),
            F.sum(
                ((ng - F.lit(1.0)) * F.col("_vi")).cast(DEC)
            )
            .cast("double")
            .alias("_sv"),
            F.sum(
                F.when(
                    (F.col("_ng") >= 2) & (F.col("_vi") > 0),
                    ((ng - F.lit(1.0)) * F.log(F.col("_vi"))).cast(
                        DEC
                    ),
                )
            )
            .cast("double")
            .alias("_slnv"),
            F.sum(
                F.when(
                    F.col("_ng") >= 2,
                    (F.lit(1.0) / (ng - F.lit(1.0))).cast(DEC),
                )
            )
            .cast("double")
            .alias("_srec"),
            *rollup,
        )
        n = F.col("n").cast("double")
        k = F.col("k").cast("double")
        base_ok = (F.col("k") > 1) & (F.col("n") > F.col("k"))
        sp2 = F.col("_sv") / (n - k)
        c = F.lit(1.0) + (
            F.col("_srec") - F.lit(1.0) / (n - k)
        ) / (F.lit(3.0) * (k - F.lit(1.0)))
        chi2 = ((n - k) * F.log(sp2) - F.col("_slnv")) / c
        bart_ok = (
            base_ok
            & (F.col("_minng") >= 2)
            & F.col("_minvi").isNotNull()
            & (F.col("_minvi") > 0)
        )
        return agg.select(
            *gcols,
            "n",
            "k",
            F.when(bart_ok, F.round(chi2, 6)).alias("bartlett_chi2"),
            F.when(base_ok, F.col("k") - 1).alias("bartlett_dof"),
            lev_f.alias("levene_f"),
            F.when(base_ok, F.col("k") - 1).alias("dof1"),
            F.when(base_ok, F.col("n") - F.col("k")).alias("dof2"),
        )

    return _t


def cliffs_delta(
    value_col: str,
    group_col: str,
    group_a,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Cliff's δ per partition — the EFFECT-SIZE companion to the
    Mann–Whitney test (:func:`mann_whitney_u` answers "is A shifted
    vs B?"; δ answers "by how much, on a −1…+1 scale"):

        δ = [#(a > b) − #(a < b)] / (n_A·n_B)

    over all cross pairs — equal to 2·U/(n_A n_B) − 1 and to the
    rank-biserial correlation, the standard reportable next to any
    rank test (|δ| ≳ 0.147/0.33/0.474 ≈ small/medium/large).

    NO pair join: one (partition, value) conditional-count
    aggregation, then exclusive cumulative windows over each
    partition's DISTINCT values give, for every value v, how many B
    rows fall strictly below / strictly above it — Σ c_A(v)·c_B(<v)
    and Σ c_A(v)·c_B(>v) count the n_A·n_B pair space without
    materializing it.  Counts are exact integers; products are
    evaluated in double (identical IEEE tree both engines — pair
    counts overflow a long at petabyte group sizes) and
    6 dp-decimal-rounded before the order-free sums; δ is one final
    division pinned at 6 dp.  Empty sides emit NULL.  Returns
    ``partition…, n_a, n_b, pairs_gt, pairs_lt, pairs_tied, delta``.
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
        )
        is_a = (F.col(group_col) == F.lit(group_a)).cast("int")
        counts = d.groupBy(*gcols, F.col(value_col).alias("_v")).agg(
            F.sum(is_a).alias("_ca"),
            F.sum(F.lit(1) - is_a).alias("_cb"),
        )
        wg = Window.partitionBy(*gcols)
        wo = _running(gcols, "_v")
        tot_a = F.sum("_ca").over(wg)
        tot_b = F.sum("_cb").over(wg)
        cb_le = F.sum("_cb").over(wo)
        cb_lt = (cb_le - F.col("_cb")).cast("double")
        cb_gt = (tot_b - cb_le).cast("double")
        ca_d = F.col("_ca").cast("double")
        staged = counts.select(
            *gcols,
            (ca_d * cb_lt).cast(DEC).alias("_gt"),
            (ca_d * cb_gt).cast(DEC).alias("_lt"),
            (ca_d * F.col("_cb").cast("double")).cast(DEC).alias("_tie"),
            tot_a.alias("_ta"),
            tot_b.alias("_tb"),
        )
        agg = staged.groupBy(*gcols).agg(
            F.first("_ta").alias("n_a"),
            F.first("_tb").alias("n_b"),
            F.sum("_gt").cast("double").alias("pairs_gt"),
            F.sum("_lt").cast("double").alias("pairs_lt"),
            F.sum("_tie").cast("double").alias("pairs_tied"),
        )
        ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
        delta = (F.col("pairs_gt") - F.col("pairs_lt")) / (
            F.col("n_a").cast("double") * F.col("n_b").cast("double")
        )
        return agg.select(
            *gcols,
            "n_a",
            "n_b",
            "pairs_gt",
            "pairs_lt",
            "pairs_tied",
            F.when(ok, F.round(delta, 6)).alias("delta"),
        )

    return _t


def wilson_proportions(
    success: Column,
    variant_col: str,
    control,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Per-variant conversion rates with Wilson 95% score intervals
    and a pooled two-proportion z-test vs the control — the standard
    A/B conversion readout.  Wilson, not Wald: the Wald interval
    collapses to zero width at p̂ ∈ {0,1} and undercovers small n —
    exactly the segments experiments care about.

        center = (p̂ + z²/2n) / (1 + z²/n)
        half   = z·sqrt(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n)
        z_test = (p̂_v − p̂_c) / sqrt(p̂_pool(1−p̂_pool)(1/n_v + 1/n_c))

    with z = 1.96.  ONE conditional-count aggregation per
    (partition, variant) — counts are exact integers — then the
    control row joins back broadcast; every downstream expression is
    the identical scalar IEEE tree in both engines (integer inputs →
    deterministic doubles; sqrt is a single op), outputs pinned at
    6 dp.  The control variant's own ``z_vs_control`` is NULL, as is
    any variant's when either side has n = 0 or the pooled variance
    is 0.  Returns ``partition…, variant, n, conversions, rate,
    wilson_lo, wilson_hi, z_vs_control``.
    """
    gcols = [partition_by] if partition_by else []
    zc = F.lit(1.96)

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(F.col(variant_col).isNotNull())
        agg = d.groupBy(*gcols, variant_col).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(success.cast("int")).alias("conversions"),
        )
        n = F.col("n").cast("double")
        c = F.col("conversions").cast("double")
        p = c / n
        z2 = zc * zc
        denom = F.lit(1.0) + z2 / n
        center = (p + z2 / (F.lit(2.0) * n)) / denom
        half = (
            zc
            * F.sqrt(
                p * (F.lit(1.0) - p) / n
                + z2 / (F.lit(4.0) * n * n)
            )
            / denom
        )
        base = agg.select(
            *gcols,
            variant_col,
            "n",
            "conversions",
            F.round(p, 6).alias("rate"),
            F.round(center - half, 6).alias("wilson_lo"),
            F.round(center + half, 6).alias("wilson_hi"),
        )
        # conditional aggregate, not a filter: ALWAYS exactly one row
        # (per partition), with NULL counts when the control variant is
        # absent — so the attach below never drops variants
        is_ctrl = F.col(variant_col) == F.lit(control)
        ctrl = agg.groupBy(*gcols).agg(
            F.sum(F.when(is_ctrl, F.col("n"))).alias("_nc"),
            F.sum(F.when(is_ctrl, F.col("conversions"))).alias("_cc"),
        )
        # without partitions: a 1-row scalar attach as a
        # BroadcastHashJoin (a bare crossJoin degrades to a nested loop)
        joined = join_groups(
            base, ctrl, gcols, "left", probes=(F.col("n"), F.col("_nc"))
        )
        nv = F.col("n").cast("double")
        cv = F.col("conversions").cast("double")
        nc = F.col("_nc").cast("double")
        cc = F.col("_cc").cast("double")
        pool = (cv + cc) / (nv + nc)
        se2 = (
            pool
            * (F.lit(1.0) - pool)
            * (F.lit(1.0) / nv + F.lit(1.0) / nc)
        )
        zt = F.when(
            (F.col(variant_col) != F.lit(control))
            & F.col("_nc").isNotNull()
            & (F.col("n") > 0)
            & (F.col("_nc") > 0)
            & (se2 > 0),
            F.round((cv / nv - cc / nc) / F.sqrt(se2), 6),
        )
        return joined.select(
            *gcols,
            F.col(variant_col).alias("variant"),
            "n",
            "conversions",
            "rate",
            "wilson_lo",
            "wilson_hi",
            zt.alias("z_vs_control"),
        )

    return _t


def hill_tail_index(
    value_col: str,
    k: int,
    partition_by: str | None = None,
    prefilter_threshold: float | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Hill estimator of the power-law tail index per partition — the
    heavy-tail detector for metric distributions (doc lengths,
    session values, degree sequences): α ≲ 2 means infinite variance
    (means/CIs lie), α ≲ 1 means even the mean diverges.

        α̂ = k / Σ_{i=1..k} [ln x_(i) − ln x_(k+1)]

    over the top k+1 ORDER STATISTICS (descending).  Tie-safe without
    a tiebreak column: ``row_number`` cuts arbitrarily inside a tie
    block, but every cut keeps the same VALUE multiset, and only
    values enter the sum — so the result is deterministic on any
    engine/partitioning.  ln terms are 6 dp-decimal-rounded before
    the order-free sum (the transcendental rule); α pinned at 6 dp.

    Plan: one per-partition descending rank window over rows
    surviving the positivity filter.  At petabyte scale don't sort
    whole partitions for a top-101: pass ``prefilter_threshold`` (any
    lower bound you know for x_(k+1) — e.g. yesterday's x_(k+1), or a
    sketch quantile) and the window runs on the tiny surviving head
    only; the result is EXACT whenever the threshold truly is a lower
    bound (≥ k+1 survivors — the ``n_top`` output column witnesses
    it: n_top < k+1 means the fence was too aggressive, lower it and
    re-run).  Partitions with fewer than k+1 positive rows emit NULL
    α.  Returns ``partition…, n_top, x_k1, alpha``.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        x = F.col(value_col).cast("double")
        d = df.where(F.col(value_col).isNotNull() & (x > 0))
        if prefilter_threshold is not None:
            d = d.where(x >= F.lit(float(prefilter_threshold)))
        w = Window.partitionBy(*gcols).orderBy(F.col("_x").desc())
        r = d.select(*gcols, x.alias("_x")).withColumn(
            "_rn", F.row_number().over(w)
        )
        top = r.where(F.col("_rn") <= k + 1)
        agg = top.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("n_top"),
            F.sum(
                F.when(
                    F.col("_rn") <= k, F.log(F.col("_x"))
                ).cast(DEC)
            )
            .cast("double")
            .alias("_slog"),
            F.min(
                F.when(F.col("_rn") == k + 1, F.col("_x"))
            ).alias("x_k1"),
        )
        kd = F.lit(float(k))
        den = F.col("_slog") - kd * F.log(F.col("x_k1"))
        ok = (
            (F.col("n_top") == k + 1)
            & F.col("x_k1").isNotNull()
            & (den > 0)
        )
        return agg.select(
            *gcols,
            "n_top",
            "x_k1",
            F.when(ok, F.round(kd / den, 6)).alias("alpha"),
        )

    return _t


def msprt_two_proportion(
    success: Column,
    variant_col: str,
    variant_a,
    time_col: str,
    partition_by: str | None = None,
    tau: float = 0.1,
) -> Callable[[DataFrame], DataFrame]:
    """Mixture-SPRT always-valid p-value for a two-proportion
    experiment, evaluated at every time step — the sequential test
    that makes PEEKING legal (Johari et al., "Peeking at A/B Tests",
    KDD'17): unlike the fixed-horizon z-test (q282), the always-valid
    p can be read continuously and still controls type-I error.

        θ̂_n  = p̂_A − p̂_B           (cumulative through step n)
        V_n  = p̂_pool(1−p̂_pool)(1/n_A + 1/n_B)
        ln Λ_n = ½·ln(V_n/(V_n+τ)) + θ̂_n²·τ / (2·V_n·(V_n+τ))
        p_n  = min(1, exp(−max_{m≤n} ln Λ_m))

    (normal-mixture likelihood ratio with prior scale ``tau``; the
    running max makes p monotone non-increasing — the always-valid
    property).  Working in ln Λ avoids the exp overflow a confident
    experiment would hit; ``exp(−large)`` underflows to a clean 0.

    Plan: one (partition, time) conditional-count aggregation
    (map-side combined — raw rows are touched ONCE), then cumulative
    windows over the per-step table, which is calendar-scale, not
    event-scale.  Counts are exact integers; everything after is the
    identical scalar IEEE tree both engines replay; ln Λ and p pinned
    at 6 dp.  Steps where either side is empty or V_n = 0 emit NULL
    ln Λ and inherit the running max through the null-skipping window
    max.  Returns ``partition…, time, n_a, n_b, conv_a, conv_b,
    theta, log_lambda, p_always_valid``.
    """
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(F.col(variant_col).isNotNull())
        is_a = (F.col(variant_col) == F.lit(variant_a)).cast("int")
        ok = success.cast("int")
        step = d.groupBy(*gcols, time_col).agg(
            F.sum(is_a).alias("_na_i"),
            F.sum(is_a * ok).alias("_ca_i"),
            F.sum(F.lit(1) - is_a).alias("_nb_i"),
            F.sum((F.lit(1) - is_a) * ok).alias("_cb_i"),
        )
        wo = _running(gcols, time_col)
        cum = step.select(
            *gcols,
            time_col,
            F.sum("_na_i").over(wo).alias("n_a"),
            F.sum("_ca_i").over(wo).alias("conv_a"),
            F.sum("_nb_i").over(wo).alias("n_b"),
            F.sum("_cb_i").over(wo).alias("conv_b"),
        )
        na = F.col("n_a").cast("double")
        nb = F.col("n_b").cast("double")
        ca = F.col("conv_a").cast("double")
        cb = F.col("conv_b").cast("double")
        pool = (ca + cb) / (na + nb)
        v = (
            pool
            * (F.lit(1.0) - pool)
            * (F.lit(1.0) / na + F.lit(1.0) / nb)
        )
        theta = ca / na - cb / nb
        t = F.lit(float(tau))
        lnlam = F.lit(0.5) * F.log(v / (v + t)) + theta * theta * t / (
            F.lit(2.0) * v * (v + t)
        )
        staged = cum.select(
            *gcols,
            time_col,
            "n_a",
            "n_b",
            "conv_a",
            "conv_b",
            F.when(
                (F.col("n_a") > 0) & (F.col("n_b") > 0),
                F.round(theta, 6),
            ).alias("theta"),
            F.when(
                (F.col("n_a") > 0) & (F.col("n_b") > 0) & (v > 0),
                lnlam,
            ).alias("_lnl"),
        )
        runmax = F.max("_lnl").over(wo)
        return staged.select(
            *gcols,
            time_col,
            "n_a",
            "n_b",
            "conv_a",
            "conv_b",
            "theta",
            F.round(F.col("_lnl"), 6).alias("log_lambda"),
            F.when(
                runmax.isNotNull(),
                F.round(
                    F.least(F.lit(1.0), F.exp(-runmax)), 6
                ),
            ).alias("p_always_valid"),
        )

    return _t


def yuen_t(
    value_col: str,
    group_col: str,
    group_a,
    trim: float = 0.2,
    partition_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Yuen's trimmed-mean t-test per partition — the ROBUST
    parametric two-sample location test completing the battery:
    Welch (q232) when means are trustworthy, Mann–Whitney (q229) when
    only order is, Yuen in between — heavy tails/outliers are trimmed
    but the statistic still speaks in metric units:

        t  = (x̄_tA − x̄_tB) / sqrt(d_A + d_B)
        d_i = s²_wi·(n_i−1) / (h_i·(h_i−1)),   h_i = n_i − 2k_i
        ν  = (d_A+d_B)² / (d_A²/(h_A−1) + d_B²/(h_B−1))

    with x̄_t the ``trim``-trimmed mean, s²_w the WINSORIZED sample
    variance, k_i = ⌊trim·n_i⌋ (Yuen 1974; Wilcox's default
    trim=0.2).

    ONE rank window per (partition, side) and then ONE aggregation —
    the winsorized moments need no second pass: clipping replaces the
    k smallest values by x_(k+1) and the k largest by x_(n−k), so
    Σw = Σ_interior x + k·x_(k+1) + k·x_(n−k) (same for squares),
    and both boundary order statistics are conditional aggregates
    over the ranked rows.  Tie blocks straddling a trim boundary cut
    arbitrarily under row_number, but every cut keeps the same VALUE
    multiset, so all sums are deterministic (the hill_tail_index
    argument).  Interior/boundary sums ride the exact-decimal idiom;
    t, dof, and the trimmed means are pinned at 6 dp.  Degenerate
    partitions (either side h < 2, or d_A + d_B ≤ 0) emit NULL t/dof.
    Returns ``partition…, n_a, n_b, h_a, h_b, tmean_a, tmean_b, t,
    dof``.
    """
    if not 0.0 <= trim < 0.5:
        raise ValueError("trim must be in [0, 0.5)")
    gcols = [partition_by] if partition_by else []

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
        )
        is_a = F.col(group_col) == F.lit(group_a)
        base = d.select(
            *gcols,
            is_a.alias("_isa"),
            F.col(value_col).cast("double").alias("_x"),
        )
        wp = Window.partitionBy(*gcols, "_isa")
        wo = wp.orderBy("_x")
        r = base.select(
            *gcols,
            "_isa",
            "_x",
            F.row_number().over(wo).alias("_rn"),
            F.count(F.lit(1)).over(
                wp.rowsBetween(
                    Window.unboundedPreceding,
                    Window.unboundedFollowing,
                )
            ).alias("_n"),
        ).withColumn(
            "_k", F.floor(F.lit(float(trim)) * F.col("_n")).cast("long")
        )
        inner = (F.col("_rn") > F.col("_k")) & (
            F.col("_rn") <= F.col("_n") - F.col("_k")
        )
        per_side = r.groupBy(*gcols, "_isa").agg(
            F.first("_n").alias("_ns"),
            F.first("_k").alias("_ks"),
            F.sum(F.when(inner, F.col("_x")).cast(DEC))
            .cast("double")
            .alias("_st"),
            F.sum(
                F.when(inner, F.col("_x") * F.col("_x")).cast(DEC)
            )
            .cast("double")
            .alias("_st2"),
            F.max(
                F.when(F.col("_rn") <= F.col("_k") + 1, F.col("_x"))
            ).alias("_lo"),
            F.min(
                F.when(
                    F.col("_rn") >= F.col("_n") - F.col("_k"),
                    F.col("_x"),
                )
            ).alias("_hi"),
        )

        def side(c, suf):
            cond = F.col("_isa") == F.lit(c)
            return [
                F.max(F.when(cond, F.col(n))).alias(f"{n}{suf}")
                for n in ("_ns", "_ks", "_st", "_st2", "_lo", "_hi")
            ]

        flat = per_side.groupBy(*gcols).agg(
            *side(True, "a"), *side(False, "b")
        )

        def stats(suf):
            n = F.col(f"_ns{suf}").cast("double")
            k = F.col(f"_ks{suf}").cast("double")
            h = n - F.lit(2.0) * k
            lo, hi = F.col(f"_lo{suf}"), F.col(f"_hi{suf}")
            tmean = F.col(f"_st{suf}") / h
            sw = F.col(f"_st{suf}") + k * lo + k * hi
            sw2 = (
                F.col(f"_st2{suf}") + k * (lo * lo) + k * (hi * hi)
            )
            # h < 2 (or a 1-row side, n = 1) would put a 0 in the d_i
            # or s²_w denominator — an ANSI double/0 abort; NULL rides
            # the ok-guard to a NULL t/dof instead
            s2w = F.when(
                n >= 2, (sw2 - sw * sw / n) / (n - F.lit(1.0))
            )
            dd = F.when(
                h >= 2,
                s2w * (n - F.lit(1.0)) / (h * (h - F.lit(1.0))),
            )
            return n, h, tmean, dd

        na, ha, tma, da = stats("a")
        nb, hb, tmb, db = stats("b")
        ok = (ha >= 2) & (hb >= 2) & (da + db > 0)
        t = (tma - tmb) / F.sqrt(da + db)
        dof = (da + db) * (da + db) / (
            da * da / (ha - F.lit(1.0)) + db * db / (hb - F.lit(1.0))
        )
        return flat.select(
            *gcols,
            F.col("_nsa").alias("n_a"),
            F.col("_nsb").alias("n_b"),
            ha.cast("long").alias("h_a"),
            hb.cast("long").alias("h_b"),
            F.when(F.col("_nsa") > 0, F.round(tma, 6)).alias("tmean_a"),
            F.when(F.col("_nsb") > 0, F.round(tmb, 6)).alias("tmean_b"),
            F.when(ok, F.round(t, 6)).alias("t"),
            F.when(ok, F.round(dof, 6)).alias("dof"),
        )

    return _t


def _simple_ols_fit(
    d: DataFrame,
    gcols: list[str],
    extra: Callable[[Column, Column, Column], list[Column]] | None = None,
    keep: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The simple-OLS fit of :func:`durbin_watson`,
    :func:`cooks_distance` and :func:`breusch_pagan` over ``d``'s staged
    ``(_x, _y)`` columns: one decimal-moment aggregation per group (n,
    Σx, Σy, Σx², Σxy, Σy² — each term DECIMAL(38,6)-cast before the
    order-free sum, final doubles identical across engines), then the
    Cramer slope ``_b`` (NULL for a constant x) and intercept ``_a`` —
    the SAME operation tree the SQL oracles render.  ``extra(n, slope,
    intercept)`` adds per-group columns over the moments; ``keep``
    filters the groups.  Returns ``(line, joined)``: the per-group
    ``group_by…, _n, _b, _a, extra…`` and ``d`` with it broadcast back
    (``attach_scalar`` without group columns)."""

    def m(e, name):
        return F.sum(e.cast(DEC)).cast("double").alias(name)

    x, y = F.col("_x"), F.col("_y")
    mom = d.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("_n"),
        m(x, "_sx"),
        m(y, "_sy"),
        m(x * x, "_sxx"),
        m(x * y, "_sxy"),
        m(y * y, "_syy"),
    )
    n = F.col("_n").cast("double")
    sx, sy = F.col("_sx"), F.col("_sy")
    det = n * F.col("_sxx") - sx * sx
    slope = F.when(det != 0, (n * F.col("_sxy") - sx * sy) / det)
    intercept = (sy - slope * sx) / n
    line = mom.select(
        *gcols,
        "_n",
        slope.alias("_b"),
        intercept.alias("_a"),
        *(extra(n, slope, intercept) if extra else []),
    )
    if keep is not None:
        line = line.where(keep)
    return line, join_groups(d, line, gcols, probes=(x, F.col("_n")))


def durbin_watson(
    y_col: str,
    x_col: str,
    order_by: Sequence[str],
    group_by: Sequence[str] | str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Durbin–Watson autocorrelation test on simple-OLS residuals per
    group — the regression-diagnostics member that asks "are the
    errors serially correlated?" (DW ≈ 2 uncorrelated, → 0 positive,
    → 4 negative): trend lines fitted to time series (q182/q223/q227)
    are routinely over-trusted exactly when DW says the residuals
    still carry structure.

        e_i = y_i − a − b·x_i  (closed-form simple OLS per group)
        DW  = Σ_{i≥2} (e_i − e_{i−1})² / Σ e_i²

    Plan: ONE decimal-moment aggregation (map-side combined) broadcast
    back, per-row residuals (pure double arithmetic on identical
    inputs both engines), then the consecutive-pair sum via
    ``keyed_lags`` (halo 1 — past the size gate it swaps in the
    chunked-halo plan when one group's series exceeds the hot-key
    threshold, so a 5-group × 100 TB fixture never serializes a group
    onto one sort task).  ``order_by`` is a column TUPLE — pass a
    unique tie-breaker (e.g. ``("ts", "event_id")``) or tied rows make
    e_{i−1} nondeterministic.  Squared-difference and e² terms are
    DECIMAL(38,12)-cast before their order-free sums (raw value
    differences — the q286/q79 midpoint lesson); DW is one final IEEE
    division, 6 dp.  Groups with n < 3 or a degenerate x emit NULL dw.
    Returns ``group_by…, n, slope, intercept, dw``.
    """
    from btc_usdt_etl_pipeline_spark.operators.windows import keyed_lags

    gcols = group_columns(group_by)
    ob = list(order_by)

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(y_col).isNotNull() & F.col(x_col).isNotNull()
        ).select(
            *gcols,
            *ob,
            F.col(x_col).cast("double").alias("_x"),
            F.col(y_col).cast("double").alias("_y"),
        )
        line, joined = _simple_ols_fit(d, gcols)
        e = F.col("_y") - F.col("_a") - F.col("_b") * F.col("_x")
        staged = joined.select(
            *gcols, *ob, "_n", e.alias("_e")
        )
        lagged = staged.transform(
            keyed_lags(
                [("_e", 1, "_el")],
                order_by=ob,
                partition_by=list(gcols) or ["_n"],
            )
        )
        agg = lagged.groupBy(*gcols).agg(
            F.max("_n").alias("n"),
            F.sum(
                F.when(
                    F.col("_el").isNotNull(),
                    ((F.col("_e") - F.col("_el"))
                     * (F.col("_e") - F.col("_el"))).cast(DEC12),
                )
            ).cast("double").alias("_num"),
            F.sum((F.col("_e") * F.col("_e")).cast(DEC12))
            .cast("double").alias("_den"),
        )
        ok = (F.col("n") >= 3) & (F.col("_den") > 0)
        out = join_groups(
            agg,
            line.select(*gcols, "_b", "_a"),
            gcols,
            probes=(F.col("n"), F.col("_b")),
        )
        return out.select(
            *gcols,
            "n",
            F.round("_b", 6).alias("slope"),
            F.round("_a", 6).alias("intercept"),
            F.when(ok, F.round(F.col("_num") / F.col("_den"), 6)).alias(
                "dw"
            ),
        )

    return _t


def cooks_distance(
    y_col: str,
    x_col: str,
    id_col: str,
    group_by: Sequence[str] | str | None = None,
    flag_factor: float = 4.0,
) -> Callable[[DataFrame], DataFrame]:
    """Cook's distance influence scores for a grouped simple OLS —
    which individual points are DRIVING the fitted line (the
    regression-diagnostics twin of :func:`durbin_watson`; p = 2):

        h_i = 1/n + (x_i − x̄)² / Sxx          (leverage)
        D_i = e_i²/(p·s²) · h_i/(1−h_i)²,   s² = SSE/(n−2)

    flagged when ``D_i > flag_factor / n`` (the standard 4/n cut).
    ONE decimal-moment aggregation broadcast back + a pure projection
    — no window, no second data pass (SSE in closed form:
    Σy² − a·Σy − b·Σxy); per-row doubles identical across engines,
    outputs 6 dp.  Groups with n ≤ 2, degenerate x, or s² ≤ 0 emit
    nothing (no line to be influential against).  Returns flagged
    rows: ``group_by…, id, x, y, resid, leverage, cooks_d``.
    """
    gcols = group_columns(group_by)

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(y_col).isNotNull() & F.col(x_col).isNotNull()
        ).select(
            *gcols,
            F.col(id_col).alias("id"),
            F.col(x_col).cast("double").alias("_x"),
            F.col(y_col).cast("double").alias("_y"),
        )

        def extra(n, slope, intercept):
            sse = (
                F.col("_syy")
                - intercept * F.col("_sy")
                - slope * F.col("_sxy")
            )
            return [
                (F.col("_sx") / n).alias("_xbar"),
                (F.col("_sxx") - F.col("_sx") * F.col("_sx") / n).alias(
                    "_sxxc"
                ),
                F.when(
                    F.col("_n") > 2, sse / (n - F.lit(2.0))
                ).alias("_s2"),
            ]

        _, joined = _simple_ols_fit(
            d,
            gcols,
            extra,
            keep=F.col("_b").isNotNull()
            & (F.col("_s2") > 0)
            & (F.col("_sxxc") > 0),
        )
        e = F.col("_y") - F.col("_a") - F.col("_b") * F.col("_x")
        nn = F.col("_n").cast("double")
        h = (
            F.lit(1.0) / nn
            + (F.col("_x") - F.col("_xbar"))
            * (F.col("_x") - F.col("_xbar"))
            / F.col("_sxxc")
        )
        staged = joined.select(
            *gcols, "id", "_x", "_y", "_n",
            e.alias("_e"), h.alias("_h"), "_s2",
        )
        dd = (
            F.col("_e") * F.col("_e")
            / (F.lit(2.0) * F.col("_s2"))
            * F.col("_h")
            / ((F.lit(1.0) - F.col("_h"))
               * (F.lit(1.0) - F.col("_h")))
        )
        return (
            staged.where(F.col("_h") < 1)
            .select(
                *gcols,
                "id",
                F.col("_x").alias("x"),
                F.col("_y").alias("y"),
                F.round("_e", 6).alias("resid"),
                F.round("_h", 6).alias("leverage"),
                dd.alias("_d"),
                F.col("_n"),
            )
            .where(
                F.col("_d")
                > F.lit(float(flag_factor)) / F.col("_n").cast("double")
            )
            .select(
                *gcols, "id", "x", "y", "resid", "leverage",
                F.round("_d", 6).alias("cooks_d"),
            )
        )

    return _t


def breusch_pagan(
    y_col: str,
    x_col: str,
    group_by: Sequence[str] | str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Breusch–Pagan heteroscedasticity test per group (Koenker
    studentized form) — does the residual VARIANCE of the simple OLS
    move with the regressor?  The third member of the diagnostics
    family: :func:`durbin_watson` checks error independence,
    :func:`cooks_distance` point influence, this checks the constant-
    variance assumption OLS standard errors live on:

        fit y ~ x,  g_i = e_i²,  aux-fit g ~ x,
        LM = n · R²_aux,   df = 1

    Two aggregation passes (both map-side-combined decimal-moment
    aggs, group-broadcast joins back, no window, no sort): pass 1 the
    (x, y) moments for the line, pass 2 the (x, g) moments for the
    auxiliary R² via the closed form

        R² = (n·Σxg − Σx·Σg)² / ((n·Σx² − (Σx)²)(n·Σg² − (Σg)²)).

    Per-row g doubles are identical across engines (same IEEE tree on
    identical moment doubles); all sums DECIMAL(38,6)-term-cast;
    outputs 6 dp.  Degenerate groups (n ≤ 2, constant x, constant g)
    emit NULL lm.  Returns ``group_by…, n, r2_aux, lm``.
    """
    gcols = group_columns(group_by)

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(y_col).isNotNull() & F.col(x_col).isNotNull()
        ).select(
            *gcols,
            F.col(x_col).cast("double").alias("_x"),
            F.col(y_col).cast("double").alias("_y"),
        )
        _, joined = _simple_ols_fit(
            d, gcols, keep=F.col("_b").isNotNull()
        )
        e = F.col("_y") - F.col("_a") - F.col("_b") * F.col("_x")
        g = (e * e).alias("_g")
        staged = joined.select(*gcols, "_x", g)

        def m(expr, name):
            return (
                F.sum(expr.cast("decimal(38,6)"))
                .cast("double")
                .alias(name)
            )

        x, gg = F.col("_x"), F.col("_g")
        aux = staged.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("n"),
            m(x, "_sx"),
            m(gg, "_sg"),
            m(x * x, "_sxx"),
            m(x * gg, "_sxg"),
            m(gg * gg, "_sgg"),
        )
        nn = F.col("n").cast("double")
        num = (
            nn * F.col("_sxg") - F.col("_sx") * F.col("_sg")
        )
        dx = nn * F.col("_sxx") - F.col("_sx") * F.col("_sx")
        dg = nn * F.col("_sgg") - F.col("_sg") * F.col("_sg")
        r2 = F.when((dx > 0) & (dg > 0), num * num / (dx * dg))
        return aux.select(
            *gcols,
            "n",
            F.round(r2, 6).alias("r2_aux"),
            F.when(
                F.col("n") > 2, F.round(nn * r2, 6)
            ).alias("lm"),
        )

    return _t


def granger_f(
    y_col: str,
    x_col: str,
    time_col: str | Sequence[str],
    group_by: Sequence[str] | str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Lag-1 Granger-causality F-test per group — "does x's history
    improve the forecast of y beyond y's own history?", the standard
    lead/lag screen between two ALIGNED series (one row per time
    point; build the alignment upstream, e.g. a per-day conditional
    rollup):

        restricted:    y_t = a + b·y_{t−1}            (SSE_r)
        unrestricted:  y_t = a + b·y_{t−1} + c·x_{t−1} (SSE_u)
        F = (SSE_r − SSE_u) · (n − 3) / SSE_u,   df = (1, n−3)

    One lag window ordered by ``time_col`` (accepts a tie-break tuple
    like its diagnostics siblings; an aligned series normally has
    unique times), ONE ten-moment decimal agg, then the closed-form
    two-regressor normal equations on centered sums — no iteration,
    no second data pass, the same moments-plus-scalar-tree shape as
    :func:`breusch_pagan` / q227's OLS.  All sums
    DECIMAL(38,12)-term-cast; centered terms and the Cramer solve are
    one IEEE tree on identical doubles; outputs 6 dp.  Degenerate
    groups (n ≤ 3, singular design, zero unrestricted SSE) emit NULL
    f_stat.  Returns ``group_by…, n, sse_r, sse_u, f_stat``.
    """
    gcols = group_columns(group_by)
    tcols = [time_col] if isinstance(time_col, str) else list(time_col)

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(y_col).isNotNull()
            & F.col(x_col).isNotNull()
            & F.col(tcols[0]).isNotNull()
        ).select(
            *gcols,
            *tcols,
            F.col(y_col).cast("double").alias("_y"),
            F.col(x_col).cast("double").alias("_x"),
        )
        w = Window.partitionBy(*gcols).orderBy(*[F.col(c) for c in tcols])
        lagged = d.select(
            *gcols,
            "_y",
            F.lag("_y").over(w).alias("_yl"),
            F.lag("_x").over(w).alias("_xl"),
        ).where(F.col("_yl").isNotNull() & F.col("_xl").isNotNull())

        def m(expr, name):
            return (
                F.sum(expr.cast(DEC12))
                .cast("double")
                .alias(name)
            )

        y, z1, z2 = F.col("_y"), F.col("_yl"), F.col("_xl")
        mom = lagged.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("n"),
            m(y, "_sy"), m(z1, "_s1"), m(z2, "_s2"),
            m(y * y, "_syy"), m(z1 * z1, "_s11"), m(z2 * z2, "_s22"),
            m(y * z1, "_s1y"), m(y * z2, "_s2y"), m(z1 * z2, "_s12"),
        )
        nn = F.col("n").cast("double")
        syy = F.col("_syy") - F.col("_sy") * F.col("_sy") / nn
        s11 = F.col("_s11") - F.col("_s1") * F.col("_s1") / nn
        s22 = F.col("_s22") - F.col("_s2") * F.col("_s2") / nn
        s12 = F.col("_s12") - F.col("_s1") * F.col("_s2") / nn
        s1y = F.col("_s1y") - F.col("_s1") * F.col("_sy") / nn
        s2y = F.col("_s2y") - F.col("_s2") * F.col("_sy") / nn
        det = s11 * s22 - s12 * s12
        b = (s1y * s22 - s2y * s12) / det
        c = (s2y * s11 - s1y * s12) / det
        sse_u = syy - b * s1y - c * s2y
        sse_r = syy - s1y * s1y / s11
        ok_u = (F.col("n") > 3) & (det > 0) & (s11 > 0)
        fstat = F.when(
            ok_u & (sse_u > 0),
            (sse_r - sse_u) * (nn - F.lit(3.0)) / sse_u,
        )
        return mom.select(
            *gcols,
            "n",
            F.when(ok_u, F.round(sse_r, 6)).alias("sse_r"),
            F.when(ok_u, F.round(sse_u, 6)).alias("sse_u"),
            F.round(fstat, 6).alias("f_stat"),
        )

    return _t


def engle_granger(
    y_col: str,
    x_col: str,
    time_col: str | Sequence[str],
    group_by: Sequence[str] | str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Engle–Granger two-step cointegration screen per group over an
    aligned two-series frame (one row per time point — the
    :func:`granger_f` alignment contract): are y and x tied by a
    stationary long-run relation (the pairs-trading precondition),
    even though each drifts on its own?

        step 1:  y_t = a + b·x_t + e_t           (OLS hedge ratio)
        step 2:  Δe_t = φ·e_{t−1} + u_t          (no-intercept AR)
        adf_t = φ̂ / se(φ̂)   — strongly negative ⇒ e mean-reverts

    One five-moment agg for the line (broadcast back), per-row
    residual doubles, ONE lag window ordered by ``time_col`` (tie
    tuple accepted), one three-moment agg and a scalar tree — the
    :func:`breusch_pagan` two-pass shape with a lag in the middle, no
    iteration.  All sums DECIMAL(38,12)-term-cast; outputs 6 dp.
    Degenerate groups: n ≤ 3 or constant-x groups are DROPPED from the
    output entirely (they never form a regression line — the
    ``amihud_illiquidity`` convention); groups that survive the line
    fit but have zero Σe²_{t−1} or zero residual variance emit a row
    with NULL adf_t.
    Returns ``group_by…, n, beta, phi, adf_t``.
    """
    gcols = group_columns(group_by)
    tcols = [time_col] if isinstance(time_col, str) else list(time_col)

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(y_col).isNotNull()
            & F.col(x_col).isNotNull()
            & F.col(tcols[0]).isNotNull()
        ).select(
            *gcols,
            *tcols,
            F.col(y_col).cast("double").alias("_y"),
            F.col(x_col).cast("double").alias("_x"),
        )

        def m(expr, name):
            return (
                F.sum(expr.cast(DEC12))
                .cast("double")
                .alias(name)
            )

        x, y = F.col("_x"), F.col("_y")
        mom = d.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("_n"),
            m(x, "_sx"), m(y, "_sy"),
            m(x * x, "_sxx"), m(x * y, "_sxy"),
        )
        nn = F.col("_n").cast("double")
        det = nn * F.col("_sxx") - F.col("_sx") * F.col("_sx")
        b = (nn * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / det
        a = (F.col("_sy") - b * F.col("_sx")) / nn
        line = mom.where((F.col("_n") > 3) & (det > 0)).select(
            *gcols, "_n", b.alias("_b"), a.alias("_a")
        )
        joined = join_groups(
            d, line, gcols, probes=(F.col("_x"), F.col("_n"))
        )
        e = F.col("_y") - F.col("_a") - F.col("_b") * F.col("_x")
        w = Window.partitionBy(*gcols).orderBy(*[F.col(c) for c in tcols])
        staged = joined.select(
            *gcols, *tcols, "_n", "_b", e.alias("_e")
        ).withColumn("_el", F.lag("_e").over(w))
        pairs = staged.where(F.col("_el").isNotNull())
        de = F.col("_e") - F.col("_el")
        agg = pairs.groupBy(*gcols).agg(
            F.max("_n").alias("n"),
            F.max("_b").alias("_beta"),
            F.count(F.lit(1)).alias("_m"),
            m(F.col("_el") * de, "_sld"),
            m(F.col("_el") * F.col("_el"), "_sll"),
            m(de * de, "_sdd"),
        )
        mm = F.col("_m").cast("double")
        phi = F.col("_sld") / F.col("_sll")
        sse = F.col("_sdd") - phi * F.col("_sld")
        se2 = sse / (mm - F.lit(1.0)) / F.col("_sll")
        ok = (
            (F.col("_sll") > 0) & (F.col("_m") > 2)
        )
        adf = F.when(ok & (se2 > 0), phi / F.sqrt(se2))
        return agg.select(
            *gcols,
            "n",
            F.round(F.col("_beta"), 6).alias("beta"),
            F.when(ok, F.round(phi, 6)).alias("phi"),
            F.round(adf, 6).alias("adf_t"),
        )

    return _t


def amihud_illiquidity(
    value_col: str,
    time_col: str,
    group_by: Sequence[str] | str | None = None,
    tie_cols: Sequence[str] = (),
) -> Callable[[DataFrame], DataFrame]:
    """Amihud (2002) illiquidity per group: the mean over days of
    |daily return| per unit of daily dollar volume — how much the
    price moves per traded unit, the standard price-impact proxy:

        ILLIQ = mean_d( |c_d / c_{d−1} − 1| / v_d )

    with c_d the day's tie-safe closing value (``max_by`` on
    ``struct(time, *tie_cols)`` — the ca35287 bar discipline) and
    v_d = Σ|value| that day.  ONE data-scale (group, day) agg, then a
    lag + mean over the calendar-scale day table.  Exact-decimal
    volume sums; the ratio terms are (38,12)-cast before the
    order-free mean; 6 dp.  Days with v_d = 0 or no prior day drop
    out; groups with no usable days drop entirely (no NULL row).
    Returns ``group_by…, n_days, amihud``.
    """
    gcols = group_columns(group_by)

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(value_col).isNotNull() & F.col(time_col).isNotNull()
        )
        ordk = F.struct(
            F.col(time_col), *[F.col(c) for c in tie_cols]
        )
        daily = d.groupBy(
            *gcols, F.date_trunc("day", F.col(time_col)).alias("_d")
        ).agg(
            F.max_by(F.col(value_col).cast("double"), ordk).alias(
                "_c"
            ),
            F.sum(
                F.abs(F.col(value_col)).cast("decimal(38,6)")
            )
            .cast("double")
            .alias("_v"),
        )
        w = Window.partitionBy(*gcols).orderBy("_d")
        lagged = daily.withColumn("_cl", F.lag("_c").over(w)).where(
            F.col("_cl").isNotNull()
            & (F.col("_cl") != 0)
            & (F.col("_v") > 0)
        )
        term = F.abs(
            F.col("_c") / F.col("_cl") - F.lit(1.0)
        ) / F.col("_v")
        agg = lagged.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(term.cast(DEC12))
            .cast("double")
            .alias("_s"),
        )
        return agg.select(
            *gcols,
            "n_days",
            F.round(
                F.col("_s") / F.col("n_days").cast("double"), 6
            ).alias("amihud"),
        )

    return _t

"""Distribution-drift detection between a reference and a current sample.

The monitoring layer a training-data pipeline needs once it refreshes
continuously: did this feature's distribution move between the data the
model was trained on and the data arriving now?  Every operator takes
the value column, an ``is_current`` flag splitting each group into the
reference (false) and current (true) sample, and optional group
columns, and returns one row per group:

* :func:`psi` — Population Stability Index over fixed-width bins, the
  industry drift score (PSI < 0.1 stable, 0.1–0.25 moderate, > 0.25
  action).  Binned, so it works on any scalar and is insensitive to
  heavy tails, but needs explicit bin bounds.  Its bin densification
  is a broadcast of ``groups × n_bins`` synthetic rows — metadata
  scale.
* :func:`js_divergence` — Jensen–Shannon divergence over a
  categorical column.
* the ECDF statistics — :func:`ks_statistic` (max gap),
  :func:`wasserstein_1d` (value-weighted gap), :func:`cvm_statistic`
  (squared gap), :func:`anderson_darling` (tail-weighted squared gap),
  :func:`energy_distance` (ECDF integrals of E|X−Y|) and the
  :func:`drift_report` panel — all run the ONE shared ECDF pass below.
* :func:`page_hinkley` — the online member: a sequential change
  detector over one series, not a two-sample comparison.

The shared ECDF pass (``_ecdf_statistic``): the raw rows collapse to
per-(group, distinct value) reference/current counts in the pass's one
data-scale shuffle (map-side combined); ordered windows over each
group's distinct values then give the side totals, the inclusive
cumulative counts and the ECDFs ``F = cumulative / total`` (one
``try_divide`` each), the pooled multiplicity at each value and the
``lead`` gap to the next distinct value.  Each statistic stages its
per-value terms from those columns, sums them per group (or takes the
max, for KS) and applies its final scale; a group with an empty side
has no ECDF on that side and reports NULL.  Everything after the count
shuffle runs on the reduced table; the windows keyed by group
parallelize across groups, and a skewed single group degrades to one
task over its distinct VALUES (already deduplicated), not its rows.

Determinism: counts and cumulative counts are exact integers and each
ECDF is one exact-rounded IEEE division, so KS is bit-exact across
engines.  Terms that carry products or ``ln`` are rounded via the
exact-decimal cast (DECIMAL(38,6), or (38,12) where noted) before the
order-free sum, the same contract the rest of the engine uses for
transcendental outputs (functions/__init__ module doc).
"""

from __future__ import annotations

from typing import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.functions import DEC, group_columns


def psi(
    value_col: str,
    is_current: Column,
    lo: float,
    hi: float,
    n_bins: int = 10,
    group_by: Sequence[str] | str | None = None,
    eps: float = 0.5,
    out: str = "psi",
) -> Callable[[DataFrame], DataFrame]:
    """Population Stability Index per group between the reference sample
    (``is_current`` false) and the current sample (``is_current`` true).

        PSI = Σ_bins (p_cur − p_ref) · ln(p_cur / p_ref)

    Values are clamped into ``n_bins`` fixed-width bins on [lo, hi)
    (underflow → bin 0, overflow → bin n−1: drifted mass pushed out of
    the training range must count, not vanish).  Proportions are
    Laplace-smoothed, ``p = (count + eps) / (N + eps·n_bins)``, so empty
    bins stay finite; bins empty in BOTH samples still contribute their
    (tiny, nonzero when sample sizes differ) smoothed term, which is why
    the bin grid is densified to all ``n_bins`` per group rather than
    whatever bins happened to be observed.

    One data-scale shuffle (the (group, bin) count agg); the densify
    cross-join and the per-group windows run on ``groups × n_bins``
    rows.  Returns one row per group: ``group_by… , psi``.
    """
    gcols = group_columns(group_by)
    width = (hi - lo) / n_bins

    def _t(df: DataFrame) -> DataFrame:
        raw_bin = F.floor(
            (F.col(value_col).cast("double") - F.lit(float(lo)))
            / F.lit(float(width))
        )
        bin_ = F.least(
            F.lit(n_bins - 1), F.greatest(F.lit(0), raw_bin)
        ).cast("int")
        cur = is_current.cast("int")
        counts = (
            df.where(F.col(value_col).isNotNull())
            .groupBy(*gcols, bin_.alias("_bin"))
            .agg(
                F.sum(F.lit(1) - cur).alias("_n_ref"),
                F.sum(cur).alias("_n_cur"),
            )
        )
        # Densify to the full bin grid per group (groups×n_bins rows —
        # post-agg metadata scale).  Explode a per-group bin sequence
        # rather than cross-joining a synthetic range: same rows, no
        # BroadcastNestedLoopJoin in the plan.
        grid = (
            counts.select(*gcols)
            .distinct()
            .select(
                *gcols,
                F.explode(
                    F.sequence(F.lit(0), F.lit(n_bins - 1))
                ).alias("_bin"),
            )
        )
        dense = grid.join(counts, [*gcols, "_bin"], "left").select(
            *gcols,
            "_bin",
            F.coalesce("_n_ref", F.lit(0)).alias("_n_ref"),
            F.coalesce("_n_cur", F.lit(0)).alias("_n_cur"),
        )
        wg = Window.partitionBy(*gcols)
        e = F.lit(float(eps))
        en = F.lit(float(eps) * n_bins)
        p_ref = (F.col("_n_ref") + e) / (F.sum("_n_ref").over(wg) + en)
        p_cur = (F.col("_n_cur") + e) / (F.sum("_n_cur").over(wg) + en)
        term = ((p_cur - p_ref) * F.log(p_cur / p_ref)).cast(DEC)
        return (
            dense.withColumn("_term", term)
            .groupBy(*gcols)
            .agg(F.sum("_term").cast("double").alias(out))
        )

    return _t


class _Ecdf:
    """Column expressions over the shared count table, whose rows are a
    group's distinct values ``_v`` with their reference and current
    multiplicities ``_a`` and ``_b``."""

    def __init__(self, gcols: list[str]):
        wg = Window.partitionBy(*gcols)
        wo = wg.orderBy("_v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        self.tot_a = F.sum("_a").over(wg)
        self.tot_b = F.sum("_b").over(wg)
        self.cum_a = F.sum("_a").over(wo)
        self.cum_b = F.sum("_b").over(wo)
        # try_divide: an empty side (total 0) has no ECDF — NULL here,
        # not an ANSI divide-by-zero fault; the tail's fence reports NULL
        self.f_a = F.try_divide(
            self.cum_a.cast("double"), self.tot_a.cast("double")
        )
        self.f_b = F.try_divide(
            self.cum_b.cast("double"), self.tot_b.cast("double")
        )
        self.mult = (F.col("_a") + F.col("_b")).cast("double")
        self.dv = F.lead("_v").over(wg.orderBy("_v")).cast(
            "double"
        ) - F.col("_v").cast("double")


def _dsum(name: str) -> Column:
    return F.sum(name).cast("double")


def _ecdf_statistic(
    value_col: str,
    is_current: Column,
    group_by: Sequence[str] | str | None,
    terms: Callable[[_Ecdf], Mapping[str, tuple[Column, Callable]]],
    outputs: Mapping[str, Column],
) -> Callable[[DataFrame], DataFrame]:
    """The shared ECDF pass (module doc).  ``terms`` maps each staged
    per-value column to its expression over :class:`_Ecdf` and the
    aggregate that folds it per group (``_dsum`` or ``F.max``);
    ``outputs`` are expressions over ``n_ref``, ``n_cur`` and those
    folded columns, each NULL unless both sides are non-empty.  NULL
    values are dropped.  Returns ``group_by…, n_ref, n_cur,
    outputs…``."""
    gcols = group_columns(group_by)

    def _t(df: DataFrame) -> DataFrame:
        cur = is_current.cast("int")
        counts = (
            df.where(F.col(value_col).isNotNull())
            .groupBy(*gcols, F.col(value_col).alias("_v"))
            .agg(
                F.sum(F.lit(1) - cur).alias("_a"),
                F.sum(cur).alias("_b"),
            )
        )
        e = _Ecdf(gcols)
        staged_terms = terms(e)
        staged = counts.select(
            *gcols,
            *[c.alias(name) for name, (c, _) in staged_terms.items()],
            e.tot_a.alias("_ta"),
            e.tot_b.alias("_tb"),
        )
        agg = staged.groupBy(*gcols).agg(
            F.first("_ta").alias("n_ref"),
            F.first("_tb").alias("n_cur"),
            *[
                fold(name).alias(name)
                for name, (_, fold) in staged_terms.items()
            ],
        )
        ok = (F.col("n_ref") > 0) & (F.col("n_cur") > 0)
        return agg.select(
            *gcols,
            "n_ref",
            "n_cur",
            *[F.when(ok, c).alias(name) for name, c in outputs.items()],
        )

    return _t


def ks_statistic(
    value_col: str,
    is_current: Column,
    group_by: Sequence[str] | str | None = None,
    out: str = "ks",
) -> Callable[[DataFrame], DataFrame]:
    """Two-sample Kolmogorov–Smirnov statistic per group:

        D = max_x |ECDF_ref(x) − ECDF_cur(x)|

    Tie-correct: the shared ECDF pass (module doc) evaluates the gap
    only AT observed distinct values, where the max of a step-function
    difference is attained.  All-integer cumsums and a single
    exact-rounded IEEE division per row make ``D`` bit-identical in any
    engine and any execution order (no transcendentals).  A group whose
    rows are all in ONE sample (e.g. a segment that only exists in the
    current batch) reports ks = NULL instead of aborting the job.

    Returns one row per group: ``group_by…, n_ref, n_cur, ks``.
    """
    return _ecdf_statistic(
        value_col,
        is_current,
        group_by,
        lambda e: {"_gap": (F.abs(e.f_a - e.f_b), F.max)},
        {out: F.col("_gap")},
    )


def js_divergence(
    cat_col: str,
    is_current: Column,
    group_by: Sequence[str] | str | None = None,
    out: str = "jsd",
) -> Callable[[DataFrame], DataFrame]:
    """Jensen–Shannon divergence per group between the reference
    sample (``is_current`` false) and the current sample
    (``is_current`` true) over a CATEGORICAL column — the third drift
    statistic alongside :func:`psi` (binned scalar) and
    :func:`ks_statistic` (continuous): symmetric, bounded in
    [0, ln 2], and defined without smoothing because the mixture
    m = (p+q)/2 is positive wherever either side has mass
    (0·ln 0 ≡ 0 handles the rest).

        JSD = ½ Σ_c p_c ln(p_c/m_c) + ½ Σ_c q_c ln(q_c/m_c)

    One data-scale shuffle (the (group, category, side) count agg);
    proportions and terms run on the reduced categories×groups table
    via one per-group window.  Groups with either side empty emit
    NULL (no distribution to compare).  NULL categories are dropped.
    Same determinism contract as PSI: each ln term is rounded to 6 dp
    via the exact-decimal cast before the order-free sum.  Returns
    one row per group: ``group_by…, n_ref, n_cur, jsd``.
    """
    gcols = group_columns(group_by)

    def _t(df: DataFrame) -> DataFrame:
        cur = is_current.cast("int")
        counts = (
            df.where(F.col(cat_col).isNotNull())
            .groupBy(*gcols, F.col(cat_col).alias("_cat"))
            .agg(
                F.sum(F.lit(1) - cur).alias("_n_ref"),
                F.sum(cur).alias("_n_cur"),
            )
        )
        wg = Window.partitionBy(*gcols)
        tot_ref = F.sum("_n_ref").over(wg)
        tot_cur = F.sum("_n_cur").over(wg)
        # try_divide: an empty side (total 0) yields NULL proportions →
        # NULL terms → the when-gate below emits NULL, instead of an
        # ANSI divide-by-zero fault.
        p = F.try_divide(
            F.col("_n_ref").cast("double"), tot_ref.cast("double")
        )
        q = F.try_divide(
            F.col("_n_cur").cast("double"), tot_cur.cast("double")
        )
        m = (p + q) / F.lit(2.0)
        term = (
            F.when(p > 0, F.lit(0.5) * p * F.log(p / m)).otherwise(
                F.lit(0.0)
            )
            + F.when(q > 0, F.lit(0.5) * q * F.log(q / m)).otherwise(
                F.lit(0.0)
            )
        )
        per_cat = counts.select(
            *gcols,
            term.cast(DEC).alias("_term"),
            tot_ref.alias("_tr"),
            tot_cur.alias("_tc"),
        )
        agg = per_cat.groupBy(*gcols).agg(
            F.first("_tr").alias("n_ref"),
            F.first("_tc").alias("n_cur"),
            F.sum("_term").cast("double").alias("_jsd"),
        )
        return agg.select(
            *gcols,
            "n_ref",
            "n_cur",
            F.when(
                (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
                F.col("_jsd"),
            ).alias(out),
        )

    return _t


def wasserstein_1d(
    value_col: str,
    is_current: Column,
    group_by: Sequence[str] | str | None = None,
    out: str = "w1",
) -> Callable[[DataFrame], DataFrame]:
    """1-D Wasserstein-1 (earth-mover's) distance per group between
    the reference (``is_current`` false) and current samples — unlike
    KS's max-gap it weighs the WHOLE displacement (a small shift of all
    mass scores proportionally to the shift, where KS saturates), and
    unlike PSI it needs no bins.  For 1-D empirical distributions it is
    exact:

        W₁ = Σ_i |F_ref(v_i) − F_cur(v_i)| · (v_{i+1} − v_i)

    over the sorted distinct values of the combined sample.

    Runs the shared ECDF pass (module doc); the per-gap term carries
    the products, so it is rounded to 6 dp via the exact-decimal cast
    before the order-free sum.  Groups with an empty side emit NULL.
    Returns one row per group: ``group_by…, n_ref, n_cur, w1``.
    """

    def terms(e: _Ecdf) -> dict:
        term = F.coalesce(
            (F.abs(e.f_a - e.f_b) * e.dv).cast(DEC),
            F.lit(0.0).cast(DEC),
        )
        return {"_w1": (term, _dsum)}

    return _ecdf_statistic(
        value_col, is_current, group_by, terms, {out: F.col("_w1")}
    )


def cvm_statistic(
    value_col: str,
    is_current: Column,
    group_by: Sequence[str] | str | None = None,
    out: str = "cvm",
) -> Callable[[DataFrame], DataFrame]:
    """Two-sample Cramér–von Mises statistic per group — the
    integrated-squared-gap member of the drift family: where KS
    (q184) takes the MAX ECDF gap and W₁ (q255) weighs gaps by value
    spacing, CvM sums the SQUARED gap over the combined sample,

        T = (n·m/(n+m)²) · Σ_z w_z · (F_ref(z) − F_cur(z))²

    (w_z = combined multiplicity at z) — sensitive to distributed
    small deviations a single max misses, scale-free unlike W₁.

    Runs the shared ECDF pass (module doc); the per-value w·gap² terms
    are rounded to 6 dp via the exact-decimal cast before the
    order-free sum, then ONE scale multiplication.  Groups with an
    empty side emit NULL.  Returns ``group_by…, n_ref, n_cur, cvm``.
    """

    def terms(e: _Ecdf) -> dict:
        gap = e.f_a - e.f_b
        return {"_s": ((e.mult * gap * gap).cast(DEC), _dsum)}

    na = F.col("n_ref").cast("double")
    nb = F.col("n_cur").cast("double")
    scale = na * nb / ((na + nb) * (na + nb))
    return _ecdf_statistic(
        value_col,
        is_current,
        group_by,
        terms,
        {out: F.round(scale * F.col("_s"), 6)},
    )


def anderson_darling(
    value_col: str,
    is_current: Column,
    group_by: Sequence[str] | str | None = None,
    out: str = "ad",
) -> Callable[[DataFrame], DataFrame]:
    """Two-sample Anderson–Darling statistic per group — the
    TAIL-weighted member of the drift family: where CvM (q273)
    weights every ECDF gap equally, AD divides by B(N−B), which
    diverges at the distribution tails — the test that fires when
    drift lives in the extremes (latency p99 regressions, fraud-value
    tails) that KS/CvM wash out.  Pettitt (1976) rank form over the
    pooled sample, tie-safe via distinct-value blocks:

        A² = (1/(m·n)) · Σ_{j: B_j < N} l_j · (M_j·N − B_j·m)²
                                          / (B_j·(N − B_j))

    with j over distinct pooled values ascending, l_j the pooled
    multiplicity at j, B_j the cumulative pooled count through j,
    M_j the cumulative REF-side count through j, m = n_ref,
    n = n_cur, N = m + n (all-l_j = 1 reduces it to the classical
    continuous formula).  The last block (B = N) is excluded — its
    weight denominator is 0 and its gap is identically 0.

    Runs the shared ECDF pass (module doc) on its cumulative counts.
    The per-block term is evaluated in double (M·N at petabyte group
    sizes overflows a long, and both engines run the identical IEEE
    tree on identical integers) and rounded to 6 dp via the
    exact-decimal cast before the order-free sum; the final 1/(m·n)
    scale is one multiplication, pinned at 6 dp.  Groups with an empty
    side emit NULL.  Returns ``group_by…, n_ref, n_cur, ad``.
    """

    def terms(e: _Ecdf) -> dict:
        big_n = (e.tot_a + e.tot_b).cast("double")
        cum_m = e.cum_a.cast("double")
        cum_n = (e.cum_a + e.cum_b).cast("double")
        gap = cum_m * big_n - cum_n * e.tot_a.cast("double")
        term = F.when(
            cum_n < big_n,
            (e.mult * gap * gap / (cum_n * (big_n - cum_n))).cast(DEC),
        )
        return {"_s": (term, _dsum)}

    scale = F.col("n_ref").cast("double") * F.col("n_cur").cast("double")
    return _ecdf_statistic(
        value_col,
        is_current,
        group_by,
        terms,
        {out: F.round(F.col("_s") / scale, 6)},
    )


def energy_distance(
    value_col: str,
    is_current: Column,
    group_by: Sequence[str] | str | None = None,
    out: str = "energy",
) -> Callable[[DataFrame], DataFrame]:
    """Two-sample (1-D) energy distance per group — the drift-family
    member with a CHARACTERIZATION guarantee (Székely–Rizzo): the
    population statistic is 0 iff the distributions are equal, which
    KS/CvM/AD share but PSI's binning forfeits; unlike KS it responds
    to mean shifts, scale changes, and tail mass simultaneously,

        E² = 2·E|X−Y| − E|X−X'| − E|Y−Y'|,   energy = sqrt(E²)

    In one dimension every expectation is an ECDF integral — no pair
    join: E|X−Y| = ∫ [F_x(1−F_y) + F_y(1−F_x)] dt with piecewise-
    constant ECDFs, so each is a Σ over consecutive distinct pooled
    values of Δv·(cdf products).  Runs the shared ECDF pass (module
    doc); the three integrand terms come from the SAME window pass
    (shared-pass rule), decimal-rounded before their order-free sums.
    Groups with an empty side emit NULL.  Returns ``group_by…, n_ref,
    n_cur, e2, energy`` (E² can dip microscopically negative from
    rounding; energy clamps at 0).
    """

    def terms(e: _Ecdf) -> dict:
        one = F.lit(1.0)
        # DECIMAL(38,12) term casts, not the usual (38,6): dv carries
        # raw value differences (not pure rationals like KS/CvM gaps),
        # whose products land on 6dp cast midpoints often enough to
        # diverge engines (measured 2e-6 on e2 at sf0.01); 12dp leaves
        # ~1e-13 exposure absorbed by the 6dp output round (the q79
        # rolling-beta precedent)
        dec12 = "decimal(38,12)"
        t_xy = e.dv * (e.f_a * (one - e.f_b) + e.f_b * (one - e.f_a))
        t_xx = e.dv * (F.lit(2.0) * e.f_a * (one - e.f_a))
        t_yy = e.dv * (F.lit(2.0) * e.f_b * (one - e.f_b))
        return {
            "_xy": (t_xy.cast(dec12), _dsum),
            "_xx": (t_xx.cast(dec12), _dsum),
            "_yy": (t_yy.cast(dec12), _dsum),
        }

    e2 = F.lit(2.0) * F.col("_xy") - F.col("_xx") - F.col("_yy")
    return _ecdf_statistic(
        value_col,
        is_current,
        group_by,
        terms,
        {
            "e2": F.round(e2, 6),
            out: F.round(F.sqrt(F.greatest(e2, F.lit(0.0))), 6),
        },
    )


def page_hinkley(
    value_col: str,
    time_col: str | Sequence[str],
    delta: float = 0.005,
    lam: float = 50.0,
    group_by: Sequence[str] | str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Page–Hinkley sequential change detector per series — the
    ONLINE member of the drift family: PSI/KS/…/energy (q183–q286)
    compare two frozen samples, PH watches a SERIES and raises an
    alarm at the first step the running mean has drifted upward by
    more than ``delta`` with cumulative evidence ``lam``:

        m_t  = Σ_{i≤t} (x_i − x̄_i − δ),   x̄_i = mean(x_1..x_i)
        PH_t = m_t − min_{i≤t} m_i,        alarm when PH_t > λ

    (the classic CUSUM-family formulation; monitor −x for downward
    drift).  Everything is two chained ordered windows — cumulative
    mean, then cumulative sum of the deviation terms and a running
    min — NO iteration, NO state store, so it runs as a plain batch
    plan over history and replays in SQL.

    Cross-engine determinism: an ordered ``SUM(double) OVER`` is NOT
    safe (DuckDB's segment-tree association differs from Spark's
    running accumulation — the q53 lesson), so both cumulative sums
    run over DECIMAL(38,12)-cast terms (exact, association-free) and
    cast to double after.  The per-row mean division is one IEEE op
    on exact decimal/count inputs.  m_t and PH_t pinned at 6 dp.

    Tie determinism: a ``rowsBetween`` frame over a tied ``ORDER BY``
    is per-row nondeterministic, so ``time_col`` accepts a column
    TUPLE — the first column is the reported time, the rest break
    ties (e.g. ``("ts", "event_id")``).  A bare string requires the
    caller to guarantee unique times within each group (q290
    pre-aggregates to unique days).
    Returns ``group_by…, time, x, m_t, ph, alarm``.
    """
    gcols = group_columns(group_by)
    tcols = [time_col] if isinstance(time_col, str) else list(time_col)

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(
            F.col(value_col).isNotNull() & F.col(tcols[0]).isNotNull()
        ).select(
            *gcols,
            F.col(tcols[0]).alias("_t"),
            *[F.col(c).alias(f"_t{i}") for i, c in enumerate(tcols[1:])],
            F.col(value_col).cast("double").alias("_x"),
        )
        obt = ["_t"] + [f"_t{i}" for i in range(len(tcols) - 1)]
        wg = Window.partitionBy(*gcols)
        wo = wg.orderBy(*obt).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        dec12 = "decimal(38,12)"
        cavg = (
            F.sum(F.col("_x").cast(dec12)).over(wo).cast("double")
            / F.count(F.lit(1)).over(wo).cast("double")
        )
        term = (F.col("_x") - cavg - F.lit(float(delta))).cast(dec12)
        staged = d.select(*gcols, *obt, "_x", term.alias("_term"))
        wo2 = wg.orderBy(*obt).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        mt = F.sum("_term").over(wo2).cast("double")
        staged2 = staged.select(
            *gcols, *obt, "_x", mt.alias("_mt")
        )
        wo3 = wg.orderBy(*obt).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        ph = F.col("_mt") - F.min("_mt").over(wo3)
        return staged2.select(
            *gcols,
            F.col("_t").alias(tcols[0]),
            F.col("_x").alias("x"),
            F.round(F.col("_mt"), 6).alias("m_t"),
            F.round(ph, 6).alias("ph"),
            (ph > F.lit(float(lam))).alias("alarm"),
        )

    return _t


def drift_report(
    value_col: str,
    is_current: Column,
    lo: float,
    hi: float,
    n_bins: int = 10,
    group_by: Sequence[str] | str | None = None,
    eps: float = 0.5,
) -> Callable[[DataFrame], DataFrame]:
    """One-call numeric drift panel per group — all four scalar drift
    statistics (PSI, KS, W₁, CvM) over the same reference/current
    split, in the LONG format a monitoring dashboard consumes:
    ``group_by…, metric, statistic`` with one row per (group, metric).
    The convenience composite (the compare_groups idiom) for the
    question every feature-drift review actually asks: "all four,
    side by side".

    Plan: PSI keeps its bin aggregation; KS, W₁ and CvM are staged
    from ONE shared ECDF pass (module doc) — the running max of the
    |gap|, the Δv-weighted gap sum and the multiplicity-weighted
    squared-gap sum over the same cumulative columns — so the whole
    panel costs one bin agg + one value-level count shuffle, NOT four
    independent aggregations (Catalyst does not deduplicate the
    exchanges across union branches; sharing must be structural).
    Per-statistic determinism contracts and empty-side NULL fences
    match the standalone operators (q184/q255/q273 semantics).
    """
    gcols = group_columns(group_by)

    def terms(e: _Ecdf) -> dict:
        gap = e.f_a - e.f_b
        w1_term = F.coalesce(
            (F.abs(gap) * e.dv).cast(DEC), F.lit(0.0).cast(DEC)
        )
        return {
            "_ksgap": (F.abs(gap), F.max),
            "_w1": (w1_term, _dsum),
            "_cvm": ((e.mult * gap * gap).cast(DEC), _dsum),
        }

    na = F.col("n_ref").cast("double")
    nb = F.col("n_cur").cast("double")
    scale = na * nb / ((na + nb) * (na + nb))
    ecdf = _ecdf_statistic(
        value_col,
        is_current,
        group_by,
        terms,
        {
            "ks": F.col("_ksgap"),
            "w1": F.col("_w1"),
            "cvm": F.round(scale * F.col("_cvm"), 6),
        },
    )

    def _t(df: DataFrame) -> DataFrame:
        p = df.transform(
            psi(
                value_col,
                is_current,
                lo=lo,
                hi=hi,
                n_bins=n_bins,
                group_by=group_by,
                eps=eps,
            )
        ).select(
            *gcols,
            F.lit("psi").alias("metric"),
            F.col("psi").cast("double").alias("statistic"),
        )
        # melt via ONE explode, not three union branches — union
        # branches would re-evaluate the counts+window subtree per
        # metric (the association_rules re-evaluation trap)
        melted = df.transform(ecdf).select(
            *gcols,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("metric"),
                            F.col(m).cast("double").alias("statistic"),
                        )
                        for m in ("ks", "w1", "cvm")
                    ]
                )
            ).alias("_m"),
        ).select(
            *gcols, F.col("_m.metric").alias("metric"),
            F.col("_m.statistic").alias("statistic"),
        )
        return p.unionByName(melted)

    return _t

"""ML feature ops re-expressed as DataFrame transforms (SURVEY.md M6).

Parity targets in the reference's ML stack:

- min-max scaling    — ``components/model/training.py:92-97`` (sklearn
  MinMaxScaler on the driver) → global ``agg(min,max)`` + projection.
- sliding sequences  — ``components/model/model_utils.py:52-66`` (numpy
  loop building (60-window, next) pairs) → ``collect_list`` over a row
  frame + ``lead``; the tensorization hand-off is ``mapInPandas``.
- positional splits  — ``components/model/training.py:121-132`` (take/skip
  on a generator) → ``row_number`` range predicates.  NOT ``randomSplit``:
  time-series splits must be positional (SURVEY.md §2A A6).
- RMSE / MAE         — ``components/model/evaluation.py:50-76`` → scalar
  aggregates.

Training itself stays out-of-engine (as in the reference); batch inference
is a ``mapInPandas`` kernel over these features.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.functions import (  # noqa: F401
    exact_avg,
    join_groups,
    oracle_avg_sql,
)


def min_max_scale(
    cols: Sequence[str], suffix: str = "_scaled"
) -> Callable[[DataFrame], DataFrame]:
    """Global min-max normalization: ``(x - min) / (max - min)``.

    Two-job shape by design: a tiny agg (one row to the driver) then a
    pure projection — same as fitting sklearn's scaler then transforming,
    but distributed.  Constant columns map to 0.0 (sklearn maps to 0 too).
    """

    def _t(df: DataFrame) -> DataFrame:
        aggs = []
        for c in cols:
            aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
        stats = df.agg(*aggs).first()
        out = df
        for c in cols:
            lo, hi = stats[f"_min_{c}"], stats[f"_max_{c}"]
            rng = (hi - lo) if hi is not None and lo is not None else None
            scaled = (
                (F.col(c) - F.lit(lo)) / F.lit(rng)
                if rng
                else F.lit(0.0)
            )
            out = out.withColumn(f"{c}{suffix}", scaled)
        return out

    return _t


def sliding_sequences(
    value_col: str,
    order_col: str,
    seq_length: int = 60,
    partition_by: Sequence[str] | None = None,
    feature_col: str = "features",
    target_col: str = "target",
) -> Callable[[DataFrame], DataFrame]:
    """Every contiguous window of ``seq_length`` values + the next value as
    target (reference model_utils.py:52-57): output rows = n - seq_length
    per series.  Window+``collect_list`` keeps it JVM-side; rows with
    incomplete history or no next value are dropped.
    """

    def _t(df: DataFrame) -> DataFrame:
        w = (
            Window.partitionBy(*partition_by)
            if partition_by
            else Window.partitionBy()
        ).orderBy(order_col)
        frame = w.rowsBetween(-(seq_length - 1), 0)
        return (
            df.withColumn(feature_col, F.collect_list(value_col).over(frame))
            .withColumn(target_col, F.lead(value_col, 1).over(w))
            .filter(
                (F.size(feature_col) == seq_length)
                & F.col(target_col).isNotNull()
            )
        )

    return _t


def positional_split(
    order_col: str,
    train: float = 0.8,
    val: float = 0.1,
    out: str = "split",
    bucket: F.Column | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Order-preserving train/val/test labels by position (A6 semantics).

    Positions come from
    :func:`...operators.resample.global_index_with_total` — the two-pass
    bucket-offset dense index (per-bucket counts collected, offsets
    broadcast back, within-bucket ``row_number``), so there is NO unkeyed
    window / ``Exchange SinglePartition`` in the plan, and the total
    ``n`` falls out of the same bucket-count collect (zero extra jobs vs
    the naive ``df.count()`` + global-sort shape the reference uses at
    ``components/model/training.py:121-132``).

    Auto-bucketing handles timestamp / date / numeric order columns;
    for any other orderable column (e.g. a zero-padded string version
    key) pass ``bucket=<monotone expression>`` through to the indexer.
    """

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.operators.resample import (
            global_index_with_total,
        )

        indexed, n = global_index_with_total(
            df, order_col, bucket=bucket, index_col="_split_pos"
        )
        n_train = int(n * train)
        n_val = int(n * val)
        pos = F.col("_split_pos") + 1  # 1-based, matching row_number
        return indexed.withColumn(
            out,
            F.when(pos <= n_train, "train")
            .when(pos <= n_train + n_val, "val")
            .otherwise("test"),
        ).drop("_split_pos")

    return _t


def ols_elimination_formulas(k: int) -> list[tuple[str, str]]:
    """The shared Gaussian-elimination schedule for
    :func:`ols_closed_form` with ``k`` regressors — an ordered list of
    ``(column_name, formula_text)`` steps over the normal-equation
    moment columns, where each formula references only moment columns
    and PREVIOUSLY emitted names.

    The text is plain arithmetic + ``CASE WHEN`` — valid in BOTH Spark
    SQL (consumed via chained ``withColumn(F.expr(text))``) and DuckDB
    (consumed via lateral column aliases in one SELECT), so the Spark
    plan and the differential oracle execute the IDENTICAL operation
    tree: bit-identity is structural, not hoped-for.  Forward
    elimination runs in fixed order WITHOUT pivoting (every division is
    fenced by ``CASE WHEN pivot <> 0``; a zero pivot — singular or
    pathologically ordered system — propagates NULL into every β, the
    module's fence convention), then back-substitution emits
    ``_beta0.._betak`` (``_beta0`` = intercept).  The fence catches
    EXACT zeros only: a structurally duplicated regressor zeroes its
    pivot bit-for-bit (identical rows stay identical through every
    update), but a merely collinear combination leaves a ~1e-6 residual
    pivot after the 6 dp decimal moment rounding and solves to
    large-magnitude coefficients — the standard unpivoted-elimination
    caveat; drop near-duplicate features upstream (q191's hash check or
    the correlation matrix) rather than expecting a rank test here.

    Moment column naming contract (what the caller's aggregation must
    produce): ``n`` (BIGINT count), ``_sx{i}`` = Σxᵢ, ``_sx{i}_{j}`` =
    Σxᵢxⱼ (i ≤ j), ``_sy`` = Σy, ``_sx{i}y`` = Σxᵢy — all through the
    exact-decimal idiom, so the double inputs are order-free.
    """
    m = k + 1  # intercept row 0 + k regressors

    def a0(i: int, j: int) -> str:
        if j < i:
            i, j = j, i
        if i == 0 and j == 0:
            return "CAST(n AS DOUBLE)"
        if i == 0:
            return f"_sx{j}"
        return f"_sx{i}_{j}"

    def rhs0(i: int) -> str:
        return "_sy" if i == 0 else f"_sx{i}y"

    cur: dict[tuple[int, int], str] = {}
    for i in range(m):
        for j in range(m):
            cur[(i, j)] = a0(i, j)
        cur[(i, m)] = rhs0(i)
    steps: list[tuple[str, str]] = []
    for s in range(m - 1):
        for i in range(s + 1, m):
            r = f"_r{i}_{s}"
            steps.append((
                r,
                f"CASE WHEN {cur[(s, s)]} <> 0 THEN "
                f"{cur[(i, s)]} / {cur[(s, s)]} ELSE NULL END",
            ))
            for j in range(s + 1, m + 1):
                nm = f"_a{i}_{j}_{s}"
                steps.append((nm, f"{cur[(i, j)]} - {r} * {cur[(s, j)]}"))
                cur[(i, j)] = nm
    for i in range(m - 1, -1, -1):
        acc = cur[(i, m)]
        for j in range(i + 1, m):
            acc = f"({acc} - {cur[(i, j)]} * _beta{j})"
        steps.append((
            f"_beta{i}",
            f"CASE WHEN {cur[(i, i)]} <> 0 THEN "
            f"{acc} / {cur[(i, i)]} ELSE NULL END",
        ))
    return steps


def ols_closed_form(
    y_col: str,
    x_cols: Sequence[str],
    group_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Grouped least-squares fit in CLOSED FORM — the normal equations
    ``(X'X)β = X'y`` solved by Cramer's rule on decimal-exact moment
    sums, for one or two regressors plus an intercept.  This is the
    declarative, JVM-only twin of the grouped-map OLS (q57's
    ``applyInPandas`` surface): no Python worker, no per-group matrix
    library — ONE aggregation pass computes every moment with map-side
    partials, and the solve is a handful of scalar expressions, so it
    runs at any group count and any group size without a hot-key
    ceiling (aggregation is partial-combined, unlike an ordered
    window).

    Determinism: moments go through the exact-decimal idiom
    (order-free), and the Cramer determinants are fixed expression
    trees over those identical doubles — the oracle replays the same
    tree; coefficients and R² are pinned at 6 dp.  A singular system
    (collinear regressors / constant group, det = 0) yields NULL
    coefficients, and R² is NULL when the response has zero variance —
    the module's ANSI fence convention.

    Returns ``group_by…, n, b0, b1[, b2…], r2``.

    1–2 regressors solve by Cramer's rule (the original fixed
    expression tree — oracle hashes pinned since r8); 3–6 regressors
    solve by the GENERATED Gaussian-elimination schedule
    (:func:`ols_elimination_formulas`): one moments aggregation pass
    (map-side partials, no hot-key ceiling), then the elimination runs
    as chained projections over the ONE-ROW-PER-GROUP aggregate —
    metadata-scale arithmetic, still zero Python workers at any k.
    Above 6 the closed form loses to q57's ``applyInPandas`` OLS
    (which fits arbitrary k at the cost of Python workers) — the cap
    keeps the moment matrix well inside decimal(38,6) discipline.

    Moment magnitudes must fit decimal(38,6) — pre-scale huge
    regressors (epoch micros squared overflows; hour-of-day does not).
    """
    if not 1 <= len(x_cols) <= 6:
        raise ValueError("ols_closed_form supports 1 to 6 regressors")
    gcols = [group_by] if group_by else []
    k = len(x_cols)
    two = k == 2

    def _t_elim(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.functions import DEC

        xs = [F.col(c).cast("double") for c in x_cols]
        y = F.col(y_col).cast("double")
        cond = F.col(y_col).isNotNull()
        for c in x_cols:
            cond = cond & F.col(c).isNotNull()
        d = df.where(cond)

        def s(expr, name):
            return F.sum(expr.cast(DEC)).cast("double").alias(name)

        aggs = [F.count(F.lit(1)).alias("n"), s(y, "_sy"),
                s(y * y, "_syy")]
        for i in range(1, k + 1):
            aggs.append(s(xs[i - 1], f"_sx{i}"))
            aggs.append(s(xs[i - 1] * y, f"_sx{i}y"))
            for j in range(i, k + 1):
                aggs.append(s(xs[i - 1] * xs[j - 1], f"_sx{i}_{j}"))
        a = d.groupBy(*gcols).agg(*aggs)
        for name, text in ols_elimination_formulas(k):
            a = a.withColumn(name, F.expr(text))
        sse = F.col("_syy") - sum(
            (F.col(f"_beta{i}")
             * F.col("_sy" if i == 0 else f"_sx{i}y"))
            for i in range(k + 1)
        )
        n = F.col("n").cast("double")
        sst = F.col("_syy") - F.col("_sy") * F.col("_sy") / n
        r2 = F.when(sst > 0, F.round(F.lit(1.0) - sse / sst, 6))
        return a.select(
            *gcols, "n",
            *[F.round(F.col(f"_beta{i}"), 6).alias(f"b{i}")
              for i in range(k + 1)],
            r2.alias("r2"),
        )

    if k > 2:
        return _t_elim

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.functions import DEC

        x1 = F.col(x_cols[0]).cast("double")
        x2 = F.col(x_cols[1]).cast("double") if two else None
        y = F.col(y_col).cast("double")
        cond = F.col(y_col).isNotNull() & F.col(x_cols[0]).isNotNull()
        if two:
            cond = cond & F.col(x_cols[1]).isNotNull()
        d = df.where(cond)

        def s(expr, name):
            return F.sum(expr.cast(DEC)).cast("double").alias(name)

        aggs = [
            F.count(F.lit(1)).alias("n"),
            s(x1, "_s1"), s(y, "_sy"),
            s(x1 * x1, "_s11"), s(x1 * y, "_s1y"),
            s(y * y, "_syy"),
        ]
        if two:
            aggs += [
                s(x2, "_s2"), s(x2 * x2, "_s22"),
                s(x1 * x2, "_s12"), s(x2 * y, "_s2y"),
            ]
        a = d.groupBy(*gcols).agg(*aggs)
        n = F.col("n").cast("double")
        s1, sy = F.col("_s1"), F.col("_sy")
        s11, s1y, syy = F.col("_s11"), F.col("_s1y"), F.col("_syy")
        if two:
            s2, s22 = F.col("_s2"), F.col("_s22")
            s12, s2y = F.col("_s12"), F.col("_s2y")
            det = (
                n * (s11 * s22 - s12 * s12)
                - s1 * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s12 - s11 * s2)
            )
            b0n = (
                sy * (s11 * s22 - s12 * s12)
                - s1 * (s1y * s22 - s12 * s2y)
                + s2 * (s1y * s12 - s11 * s2y)
            )
            b1n = (
                n * (s1y * s22 - s12 * s2y)
                - sy * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s2y - s1y * s2)
            )
            b2n = (
                n * (s11 * s2y - s1y * s12)
                - s1 * (s1 * s2y - s1y * s2)
                + sy * (s1 * s12 - s11 * s2)
            )
            b0 = F.when(det != 0, b0n / det)
            b1 = F.when(det != 0, b1n / det)
            b2 = F.when(det != 0, b2n / det)
            sse = syy - b0 * sy - b1 * s1y - b2 * s2y
            betas = [
                F.round(b0, 6).alias("b0"),
                F.round(b1, 6).alias("b1"),
                F.round(b2, 6).alias("b2"),
            ]
        else:
            det = n * s11 - s1 * s1
            b0 = F.when(det != 0, (sy * s11 - s1 * s1y) / det)
            b1 = F.when(det != 0, (n * s1y - s1 * sy) / det)
            sse = syy - b0 * sy - b1 * s1y
            betas = [
                F.round(b0, 6).alias("b0"),
                F.round(b1, 6).alias("b1"),
            ]
        sst = syy - sy * sy / n
        r2 = F.when(sst > 0, F.round(F.lit(1.0) - sse / sst, 6))
        return a.select(*gcols, "n", *betas, r2.alias("r2"))

    return _t


def regression_metrics(
    df: DataFrame, y_col: str, yhat_col: str
) -> DataFrame:
    """RMSE + MAE as one scalar aggregation (evaluation.py:75-76)."""
    err = F.col(y_col) - F.col(yhat_col)
    return df.agg(
        F.sqrt(exact_avg(err * err)).alias("rmse"),
        exact_avg(F.abs(err)).alias("mae"),
        F.count(F.lit(1)).alias("n"),
    )


def srp_signs(seed: str, out_dims: int, in_dims: int) -> list[list[float]]:
    """Deterministic ±1 sign-random-projection matrix derived from md5
    of ``seed:j:i`` — no RNG state, identical on every build/cluster, and
    reproducible by any engine (or generated once and inlined as
    literals, which is what :func:`srp_project` does)."""
    import hashlib

    return [
        [
            1.0
            if int(
                hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[:2], 16
            )
            % 2
            == 0
            else -1.0
            for i in range(in_dims)
        ]
        for j in range(out_dims)
    ]


def srp_project(
    vec_col: str = "embedding",
    in_dims: int = 64,
    out_dims: int = 8,
    seed: str = "srp",
    prefix: str = "p",
) -> Callable[[DataFrame], DataFrame]:
    """Sign-random-projection dimensionality reduction (Achlioptas-style
    ±1 matrix): project ``in_dims``-dim embeddings to ``out_dims``
    columns ``p0..p{k-1}`` — the standard shrink step in front of ANN /
    clustering at corpus scale (distances preserved within the JL
    bound; the ±1 matrix needs no float random state).

    The matrix is generated AT PLAN TIME from md5 (:func:`srp_signs`)
    and inlined as literal arrays, so the projection is a fixed
    JVM-side dot fold per output dim — one projection pass, no shuffle,
    no UDF, and a SQL oracle replays it bit-for-bit (same literals,
    same left-fold order; the q130 ``list_dot_product`` precedent).
    """
    signs = srp_signs(seed, out_dims, in_dims)

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.functions import dot

        out = df
        for j in range(out_dims):
            lit_row = F.array(*[F.lit(s) for s in signs[j]])
            out = out.withColumn(
                f"{prefix}{j}",
                dot(F.col(vec_col), lit_row),
            )
        return out

    return _t


def quantize_embeddings(
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits_max: int = 127,
) -> Callable[[DataFrame], DataFrame]:
    """Symmetric per-dimension int8 quantization of an embedding column —
    the storage/serving compression step of an embedding pipeline.

    scale_d = max(|v_d|) over the corpus per dimension;
    q = floor(v·bits_max/scale + 0.5) (explicit half-up — engines
    disagree on round()'s tie rule, floor(x+0.5) is identical
    everywhere); the output keeps the per-vector max absolute
    reconstruction error so a quality gate can reject lossy dims.

    Output: ``(id_col, quantized array<long>, max_abs_err double)``.

    Shape at scale: posexplode → per-dimension max (dim-sized result,
    broadcast back) → per-vector re-aggregation.  Two shuffles, the
    second keyed by ``id_col``; no driver actions, no UDFs.
    """

    def _t(df: DataFrame) -> DataFrame:
        ex = df.select(
            F.col(id_col), F.posexplode(vec_col).alias("dim", "v")
        ).withColumn("v", F.col("v").cast("double"))
        scales = ex.groupBy("dim").agg(F.max(F.abs("v")).alias("scale"))
        q = (
            F.when(F.col("scale") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.floor((F.col("v") * bits_max) / F.col("scale") + 0.5)
            )
        )
        qx = ex.join(F.broadcast(scales), "dim").withColumn("q", q)
        err = F.abs(
            F.col("v") - (F.col("q") * F.col("scale")) / F.lit(bits_max)
        )
        return qx.groupBy(id_col).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "q"))),
                lambda s: s["q"],
            ).alias("quantized"),
            F.max(err).alias("max_abs_err"),
        )

    return _t


def quantile_binning(
    value_col: str,
    num_bins: int = 10,
    out: str = "bin",
    round_dp: int | None = 6,
) -> Callable[[DataFrame], DataFrame]:
    """Equal-frequency feature discretization (the QuantileDiscretizer
    shape): bin boundaries are the EXACT type-7 interpolated
    percentiles at i/num_bins (i = 1..num_bins−1), computed in one
    aggregation and attached in-plan as a broadcast scalar (no driver
    action, no fitted model object); ``bin`` = number of boundaries
    strictly below the value — 0-based, monotone, the maximum lands in
    the top bin.

    Boundaries are rounded to ``round_dp`` (default 6) before
    comparison — the repo's pinned cross-engine percentile idiom (q55):
    Spark and DuckDB agree on type-7 interpolation to well past 6 dp,
    and rounding makes the COMPARISON values bit-identical so a SQL
    oracle replays bin assignment exactly.  NULL values get a NULL bin;
    NaN compares greater than every boundary (Spark semantics) and
    lands in the top bin — filter NaNs first if that is not wanted.

    Scale: one percentile aggregation (sort-free sketchless exact
    percentile is a Spark builtin running as a single-pass
    partial-merge agg) + one broadcast-hash attach + a pure projection;
    ties spanning a boundary all fall on one side (strict >), so
    heavily-tied columns may produce uneven bins — that is a property
    of quantile binning itself, not the plan.
    """
    if num_bins < 2:
        raise ValueError("num_bins must be >= 2")

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.functions import attach_scalar

        ps = [i / num_bins for i in range(1, num_bins)]
        bounds = F.percentile(value_col, F.lit(ps))
        if round_dp is not None:
            bounds = F.transform(bounds, lambda x: F.round(x, round_dp))
        b = df.agg(bounds.alias("_qb_bounds"))
        withb = attach_scalar(
            df, b, F.col(value_col), F.size("_qb_bounds")
        )
        v = F.col(value_col)
        binned = F.aggregate(
            F.col("_qb_bounds"),
            F.lit(0),
            lambda acc, x: acc + F.when(v > x, 1).otherwise(0),
        )
        return withb.withColumn(
            out, F.when(v.isNotNull(), binned).cast("int")
        ).drop("_qb_bounds")

    return _t


def target_encode_loo(
    cat_col: str,
    target_col: str,
    m: float = 10.0,
    out: str = "te",
) -> Callable[[DataFrame], DataFrame]:
    """Leave-one-out target encoding with m-estimate smoothing — the
    standard high-cardinality categorical feature for tabular models:

        te(row) = (sum(cat) − y(row) + m·global_mean) / (n(cat) − 1 + m)

    Leaving the row's own target out removes the self-leakage that
    makes naive target encoding overfit; the m-estimate shrinks rare
    categories toward the global mean (a singleton category encodes to
    exactly the global mean — no divide-by-zero special case, since the
    denominator is m there).

    All sums run through the exact-decimal idiom so the encoding is
    order-insensitive and bit-reproducible in any engine.  Plan: one
    category aggregation (broadcast back — category tables are
    metadata-scale next to the fact side), the 1-row global aggregate
    attached in-plan, then a pure projection; the fact table never
    shuffles.
    """
    if m <= 0:
        raise ValueError("smoothing m must be > 0")

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.functions import (
            attach_scalar,
            exact_sum,
        )

        cats = df.groupBy(cat_col).agg(
            exact_sum(target_col).alias("_cs"),
            F.count(target_col).alias("_cn"),
        )
        glob = df.agg(
            (exact_sum(target_col) / F.count(target_col)).alias("_g")
        )
        # null-safe join-back: a NULL category is a real group out of
        # groupBy; a plain equi-join would drop its rows un-encoded.
        from btc_usdt_etl_pipeline_spark.functions import null_safe_join

        joined = attach_scalar(
            null_safe_join(df, F.broadcast(cats), [cat_col]),
            glob,
            F.col(target_col),
            F.col("_g"),
        )
        te = (
            F.col("_cs")
            - F.col(target_col)
            + F.lit(float(m)) * F.col("_g")
        ) / (F.col("_cn") - 1 + F.lit(float(m)))
        return joined.withColumn(out, F.round(te, 6)).drop(
            "_cs", "_cn", "_g"
        )

    return _t


def feature_hash(
    text_col: str = "text",
    id_col: str = "doc_id",
    dims: int = 16,
    out: str = "features",
    portable: bool = True,
) -> Callable[[DataFrame], DataFrame]:
    """The hashing trick (Weinberger et al., ICML'09): tokens hash
    straight into a fixed-width signed count vector — the stateless
    vectorizer for high-cardinality text features.  No vocabulary
    fit, no dictionary broadcast, no unseen-token problem: bucket =
    ``hash(token) & (dims−1)``, sign = one extra hash bit (the signed
    variant keeps collision noise zero-mean).

    Plan: one explode + ``dims`` conditional codegen'd sums in a
    single ``id_col``-keyed aggregation (map-side partial agg — the
    same whole-stage-codegen discipline as the SimHash vote), then
    one array assembly projection.  One data-scale shuffle total.

    ``portable=True`` uses the md5-derived 60-bit hash a SQL oracle
    can replay; production default should flip to ``xxhash64``
    (same contract as the dedup family — only bucket assignment
    changes, not the vectorizer's semantics).

    Returns one row per document: ``(id_col, features)`` with
    ``features`` a length-``dims`` array<long>.
    """
    if dims & (dims - 1):
        raise ValueError("dims must be a power of two")

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.operators.dedup import (
            portable_hash60,
            tokens,
        )

        tok = F.explode(tokens(text_col)).alias("_tok")
        ex = df.select(F.col(id_col), tok)
        h = (
            portable_hash60(F.col("_tok"))
            if portable
            else F.abs(F.xxhash64(F.col("_tok")))
        )
        idx = h.bitwiseAND(F.lit(dims - 1))
        sgn = (
            F.when(
                F.shiftright(h, dims.bit_length() - 1)
                .bitwiseAND(F.lit(1))
                == 0,
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .cast("long")
        )
        aggs = [
            F.coalesce(
                F.sum(F.when(idx == i, sgn)), F.lit(0).cast("long")
            ).alias(f"_h{i}")
            for i in range(dims)
        ]
        return (
            ex.groupBy(id_col)
            .agg(*aggs)
            .select(
                id_col,
                F.array(*[f"_h{i}" for i in range(dims)]).alias(out),
            )
        )

    return _t


def robust_scale(
    value_col: str,
    group_by: str | None = None,
    out: str = "scaled",
) -> Callable[[DataFrame], DataFrame]:
    """Median/IQR scaler — the outlier-resistant twin of q34's min-max
    and the z-score: ``(x − median) / (q3 − q1)``, so a handful of
    extreme values cannot crush the informative range the way they
    crush mean/σ or min/max scaling.

    Boundaries are exact type-7 percentiles rounded to the pinned 6 dp
    cross-engine idiom (q55), computed in ONE grouped aggregation and
    broadcast back; the scale expression is subtract/divide only —
    bit-stable with no further rounding.  A degenerate group
    (IQR = 0) scales to 0.0 rather than ±inf.
    """
    gcols = [group_by] if group_by else []

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.functions import attach_scalar

        stats = df.groupBy(*gcols).agg(
            F.round(F.percentile(value_col, F.lit(0.5)), 6).alias("_med"),
            F.round(
                F.percentile(value_col, F.lit(0.75))
                - F.percentile(value_col, F.lit(0.25)),
                6,
            ).alias("_iqr"),
        )
        if gcols:
            # null-safe: a NULL group is a real group out of groupBy;
            # a plain equi-join would silently drop its rows instead
            # of scaling them.  The broadcast hint survives the rename
            # projection null_safe_join applies.
            from btc_usdt_etl_pipeline_spark.functions import (
                null_safe_join,
            )

            joined = null_safe_join(df, F.broadcast(stats), gcols)
        else:
            joined = attach_scalar(
                df, stats, F.col(value_col), F.col("_med")
            )
        scaled = F.when(
            F.col("_iqr") > 0,
            (F.col(value_col) - F.col("_med")) / F.col("_iqr"),
        ).otherwise(F.lit(0.0))
        return joined.withColumn(out, scaled).drop("_med", "_iqr")

    return _t


def woe_iv(
    value_col: str,
    label: "F.Column",
    lo: float,
    hi: float,
    n_bins: int = 10,
    eps: float = 0.5,
    group_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Weight-of-Evidence binning + Information Value — the credit-
    scoring-standard supervised encoding / feature-strength measure:

        woe(bin) = ln( p_pos(bin) / p_neg(bin) )
        IV       = Σ_bins (p_pos − p_neg) · woe

    (IV < 0.02 useless, 0.1–0.3 medium, > 0.5 suspicious/leaky — the
    triage number a feature-selection pass runs over every candidate
    column.)  Shares PSI's fixed-width clamp-binning and Laplace
    smoothing (operators/drift.py) — WOE is literally the per-bin log
    term of a PSI between the positive and negative populations, and
    IV is that PSI itself.

    One data-scale shuffle (the (group, bin) conditional-count agg);
    smoothed proportions and the IV window run on groups×n_bins rows.
    ln terms are 6 dp-rounded at the decimal cast (the transcendental
    contract); ``iv`` repeats on each of the group's bin rows.  Unlike
    PSI the bin grid is NOT densified: a bin empty in BOTH classes has
    no row (and its smoothed IV term, nonzero only when class totals
    differ, is excluded) — the output is the per-observed-bin WOE
    table a scorecard consumes.

    Returns one row per (group, bin): ``group_by…, bin, n_pos, n_neg,
    woe, iv``.
    """
    gcols = [group_by] if group_by else []
    width = (hi - lo) / n_bins

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.functions import DEC

        raw_bin = F.floor(
            (F.col(value_col).cast("double") - F.lit(float(lo)))
            / F.lit(float(width))
        )
        bin_ = F.least(
            F.lit(n_bins - 1), F.greatest(F.lit(0), raw_bin)
        ).cast("int")
        y = label.cast("int")
        counts = (
            df.where(F.col(value_col).isNotNull())
            .groupBy(*gcols, bin_.alias("bin"))
            .agg(
                F.sum(y).alias("n_pos"),
                F.sum(F.lit(1) - y).alias("n_neg"),
            )
        )
        wg = Window.partitionBy(*gcols)
        e = F.lit(float(eps))
        en = F.lit(float(eps) * n_bins)
        p_pos = (F.col("n_pos") + e) / (F.sum("n_pos").over(wg) + en)
        p_neg = (F.col("n_neg") + e) / (F.sum("n_neg").over(wg) + en)
        woe = F.round(F.log(p_pos / p_neg), 6)
        staged = counts.withColumn("woe", woe).withColumn(
            "_term", ((p_pos - p_neg) * F.col("woe")).cast(DEC)
        )
        return staged.withColumn(
            "iv", F.sum("_term").over(wg).cast("double")
        ).drop("_term")

    return _t


def quantile_normalize(
    value_col: str,
    group_by: str,
    ref_points: int = 101,
    out: str = "qnorm",
) -> Callable[[DataFrame], DataFrame]:
    """Cross-source quantile normalization: map each group's values
    onto the POOLED distribution, ``out = Q_pool(F_group(x))`` — the
    distribution-alignment transform (microarray-normalization
    lineage) that makes scores from heterogeneous sources comparable
    before mixing, ranking, or thresholding them together.

    F_group is the exact in-group percent_rank (a rational,
    (rank−1)/(n−1)); Q_pool is a broadcast grid of ``ref_points``
    exact type-7 pooled percentiles (6 dp pinned idiom) linearly
    interpolated at the rank.  Plan: one keyed rank window per group,
    one pooled percentile aggregation attached as an in-plan scalar,
    one pure-projection interpolation — no data-scale join.  The
    interpolation arithmetic is identical-op-order double math over
    identically-derived inputs, so outputs are bit-stable
    cross-engine.

    Ties share a percent_rank (Spark semantics: rank, not
    row_number), so equal inputs map to equal outputs.  Singleton
    groups (n = 1, percent_rank 0) map to the pooled minimum.

    Two BIT-IDENTICAL plans for F_group: the window plan is one keyed
    percent_rank window — parallel across groups but a hot group's
    full series sorts on ONE task (the r8-measured 100× ceiling);
    the counts plan derives ``percent_rank = (min_rank−1)/(n−1)``
    from ``operators.windows._bucketed_rank`` (range-bucketed offsets
    + within-(group, bucket) rank — one row-scale shuffle, no
    full-group sort task, no join-back).
    Same integer operands, same double division → identical bits.
    The counts plan runs for a numeric value column past the Catalyst
    size gate (``windows._scale_gate``), so oracle-scale inputs keep
    the window plan and hashes never move.
    """

    def _t(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        from btc_usdt_etl_pipeline_spark.functions import attach_scalar
        from btc_usdt_etl_pipeline_spark.operators.windows import (
            _bucketed_rank,
            _scale_gate,
        )

        src = df.where(F.col(value_col).isNotNull())
        ps = [i / (ref_points - 1) for i in range(ref_points)]
        grid = src.agg(
            F.transform(
                F.percentile(value_col, F.lit(ps)),
                lambda x: F.round(x, 6),
            ).alias("_grid")
        )
        if _scale_gate(df, value_col, numeric_only=True):
            # Spark's PercentRank: (rank−1)/(n−1) in double, 0.0 for
            # the n=1 singleton — replicated operand-for-operand
            ranked = (
                _bucketed_rank(
                    src, [group_by], value_col, rank_col="_mrk",
                    cnt_col="_ct", n_col="_gn",
                )
                .withColumn(
                    "_pr",
                    F.when(
                        F.col("_gn") > 1,
                        (F.col("_mrk") - F.lit(1)).cast("double")
                        / (F.col("_gn") - F.lit(1)).cast("double"),
                    ).otherwise(F.lit(0.0)),
                )
                .drop("_mrk", "_ct", "_gn")
            )
        else:
            wg = Window.partitionBy(group_by).orderBy(value_col)
            ranked = src.withColumn("_pr", F.percent_rank().over(wg))
        x = attach_scalar(
            ranked, grid, F.col(value_col), F.size("_grid")
        )
        idx = F.col("_pr") * F.lit(float(ref_points - 1))
        lo = F.least(
            F.floor(idx).cast("int"), F.lit(ref_points - 2)
        )
        frac = idx - lo.cast("double")
        a = F.element_at("_grid", lo + 1)
        b = F.element_at("_grid", lo + 2)
        return x.withColumn(out, a + frac * (b - a)).drop(
            "_grid", "_pr"
        )

    return _t


def isotonic_calibration(
    score_col: str,
    label_col: str,
    lo: float,
    hi: float,
    n_bins: int = 32,
    group_by: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Exact isotonic (monotone non-decreasing) probability calibration
    per group — pool-adjacent-violators over a fixed-width score
    binning, the standard post-hoc calibrator for quality / relevance
    scorers (the measurement half is q213's reliability table; this is
    the FIX).  Distributed exactly via the interval-minimax
    characterization of isotonic regression (Robertson–Wright–Dykstra):

        fit_i = max_{j ≤ i} min_{k ≥ i} mean(bin_j .. bin_k)

    Plan: ONE data-scale shuffle (the (group, bin) count/sum agg)
    collapses the corpus to ≤ n_bins rows per group; the (j, k)
    interval table is a bins×bins self-join (≤ n_bins² metadata rows
    per group, fenced at n_bins ≤ 64), interval means come from
    prefix sums, the inner min is a suffix-min window per (group, j),
    and the outer max is one groupBy(group, k).  No iteration, no
    driver loop — the textbook iterative PAV is replaced by a
    closed-form plan.

    Interval means are exact-integer sums divided once (labels are
    cast to long 0/1; score bins clamp under/overflow like PSI), so
    both engines replay identical IEEE doubles; the fit is pinned at
    6 dp.  Bins with no rows are skipped (they carry no mass — the
    PAV solution over observed bins is identical).  NULL score/label
    rows are dropped.  Returns one row per observed (group, bin):
    ``group_by…, bin, bin_lo, n, rate, calibrated`` with
    ``calibrated`` monotone non-decreasing in ``bin`` within each
    group.
    """
    if n_bins > 64:
        raise ValueError("isotonic_calibration: n_bins must be <= 64 "
                         "(bins^2 interval table)")
    from btc_usdt_etl_pipeline_spark.functions import DEC  # noqa: F401

    gcols = [group_by] if group_by else []
    width = (hi - lo) / n_bins

    def _t(df: DataFrame) -> DataFrame:
        raw_bin = F.floor(
            (F.col(score_col).cast("double") - F.lit(float(lo)))
            / F.lit(float(width))
        )
        bin_ = F.least(
            F.lit(n_bins - 1), F.greatest(F.lit(0), raw_bin)
        ).cast("int")
        per_bin = (
            df.where(
                F.col(score_col).isNotNull()
                & F.col(label_col).isNotNull()
            )
            .groupBy(*gcols, bin_.alias("bin"))
            .agg(
                F.count(F.lit(1)).alias("_w"),
                F.sum(F.col(label_col).cast("long")).alias("_s"),
            )
        )
        wo = Window.partitionBy(*gcols).orderBy("bin").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        pref = per_bin.select(
            *gcols,
            "bin",
            "_w",
            "_s",
            F.sum("_w").over(wo).alias("_cw"),
            F.sum("_s").over(wo).alias("_cs"),
        )
        left = pref.select(
            *gcols,
            F.col("bin").alias("_j"),
            (F.col("_cw") - F.col("_w")).alias("_cwj"),
            (F.col("_cs") - F.col("_s")).alias("_csj"),
        )
        right = pref.select(
            *gcols,
            F.col("bin").alias("_k"),
            F.col("_cw").alias("_cwk"),
            F.col("_cs").alias("_csk"),
        )
        pairs = join_groups(left, right, gcols).where(
            F.col("_j") <= F.col("_k")
        )
        mean = (F.col("_csk") - F.col("_csj")).cast("double") / (
            F.col("_cwk") - F.col("_cwj")
        ).cast("double")
        wj = Window.partitionBy(*gcols, "_j").orderBy("_k").rowsBetween(
            Window.currentRow, Window.unboundedFollowing
        )
        suff = pairs.select(
            *gcols,
            "_j",
            "_k",
            F.min(mean).over(wj).alias("_suffmin"),
        )
        fit = suff.groupBy(*gcols, F.col("_k").alias("bin")).agg(
            F.max("_suffmin").alias("_fit")
        )
        out = per_bin.join(fit, [*gcols, "bin"]).select(
            *gcols,
            "bin",
            (F.lit(float(lo)) + F.col("bin") * F.lit(float(width)))
            .alias("bin_lo"),
            F.col("_w").alias("n"),
            F.round(
                F.col("_s").cast("double")
                / F.col("_w").cast("double"),
                6,
            ).alias("rate"),
            F.round("_fit", 6).alias("calibrated"),
        )
        return out

    return _t

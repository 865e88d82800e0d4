"""Frequency-sketch operators (north star §2B — text analysis at scale).

Count-min sketch (Cormode & Muthukrishnan 2005) over a key column, plus
CMS-backed heavy-hitter extraction.  At 100 TB the full per-key exact
count is a corpus-wide shuffle keyed by a Zipf-skewed vocabulary; the CMS
is a fixed ``depth × width`` grid of counters — mergeable across
partitions, machines, and days — and the standard way to track hot
tokens/URLs/shingles without carrying the key space.

Determinism/oracle story: bucket assignment uses the repo's portable
60-bit md5 hash (``operators/dedup.py:portable_hash60``) with a per-row
seed prefix, so a SQL oracle replays the exact grid; no RNG state.

Plan shapes (all single-pass, no UDFs):

- :func:`count_min_sketch` — ONE groupBy of the (already key-counted)
  input onto ``depth·width`` cells; the grid is metadata-sized.
- :func:`cms_heavy_hitters` — candidates are the vocabulary-sized
  distinct-key table; each candidate probes its ``depth`` cells via an
  equi-join against the (broadcast-small) grid and takes the row-min —
  the textbook ``est = min_r CMS[r][h_r(key)]`` with ``est ≥ exact``
  guaranteed.  Exact counts ride along so the overestimate is visible.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.operators.dedup import portable_hash60


def cms_bucket(key: Column, row: int, width: int) -> Column:
    """Bucket of ``key`` in sketch row ``row`` — portable across engines
    (md5-based), non-negative, ``[0, width)``."""
    return (
        portable_hash60(F.concat(F.lit(f"cms{row}:"), key)) % F.lit(width)
    ).cast("int")


def _probe_cells(key: Column, depth: int, width: int) -> Column:
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                cms_bucket(key, r, width).alias("bucket"),
            )
            for r in range(depth)
        ]
    )


def count_min_sketch(
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    count_col: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Build the CMS grid: one row per ``(row, bucket)`` cell with its
    counter.  Input is one row per key occurrence, or pre-aggregated
    ``(key, count)`` when ``count_col`` is given (the two are exactly
    equivalent — cell values are sums either way — and the
    pre-aggregated form folds the corpus-wide pass into a count the
    caller usually needs anyway)."""

    def _t(df: DataFrame) -> DataFrame:
        cnt = (
            F.col(count_col).cast("long")
            if count_col
            else F.lit(1).cast("long")
        )
        return (
            df.select(
                F.explode(
                    _probe_cells(F.col(key_col), depth, width)
                ).alias("_cell"),
                cnt.alias("_n"),
            )
            .groupBy(
                F.col("_cell.row").alias("row"),
                F.col("_cell.bucket").alias("bucket"),
            )
            .agg(F.sum("_n").alias("cnt"))
        )

    return _t


def cms_heavy_hitters(
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    k: int = 20,
) -> Callable[[DataFrame], DataFrame]:
    """Top-``k`` keys by count-min ESTIMATE (row-min of probed cells),
    with the exact count alongside so ``est ≥ exact`` is observable.
    Deterministic order: estimate desc, key asc.

    Input: one row per key occurrence.  The exact per-key count table
    is built once (vocabulary-sized) and feeds BOTH the sketch grid and
    the candidate probes, so the corpus is scanned exactly once.
    """

    def _t(df: DataFrame) -> DataFrame:
        keys = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("exact"))
        grid = keys.transform(
            count_min_sketch(key_col, depth, width, count_col="exact")
        )
        probes = keys.select(
            key_col,
            "exact",
            F.explode(
                _probe_cells(F.col(key_col), depth, width)
            ).alias("_cell"),
        ).select(
            key_col, "exact", F.col("_cell.row").alias("row"),
            F.col("_cell.bucket").alias("bucket"),
        )
        est = (
            probes.join(F.broadcast(grid), ["row", "bucket"])
            .groupBy(key_col, "exact")
            .agg(F.min("cnt").alias("est"))
        )
        # Distributed top-k: orderBy().limit(k) compiles to
        # TakeOrderedAndProject (per-partition partial top-k, merge of
        # k-sized heaps on the driver) — the vocabulary-sized estimate
        # table (10^8+ keys at 100 TB) is never sorted on one task.
        # ``rnk`` is re-derived over the k-row result, where an unkeyed
        # window is metadata-scale and free.
        topk = est.orderBy(F.col("est").desc(), F.col(key_col)).limit(k)
        w = Window.orderBy(F.col("est").desc(), F.col(key_col))
        return topk.select(
            key_col, "exact", "est", F.row_number().over(w).alias("rnk")
        )

    return _t


def _hll_layout(b: int) -> tuple[int, int]:
    """``(m, rem)`` of the portable HLL register layout shared by every
    entry point: ``m = 2^b`` registers indexed by ``h mod m`` of the
    60-bit md5 hash, ranks over the ``rem = 60 - b`` bits above."""
    if not 4 <= b <= 18:
        raise ValueError("b must be in [4, 18]")
    return 1 << b, 60 - b


def _hll_spresent(b: int) -> Column:
    """Aggregate over a register set's ``_mr`` rows: the exact long
    ``Σ 2^(rem+1-rho)`` of the present registers (the harmonic-mean
    denominator scaled by ``2^(rem+1)``)."""
    _, rem = _hll_layout(b)
    return F.sum(F.expr(f"shiftleft(1L, cast({rem + 1} - _mr as int))"))


def _hll_register_stats(
    registers: DataFrame, gcols: "list[str]", b: int
) -> DataFrame:
    """Per group of ``registers``: ``n_present`` registers and their
    ``_spresent`` (:func:`_hll_spresent`)."""
    return registers.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_present"),
        _hll_spresent(b).alias("_spresent"),
    )


def _hll_stotal(n_present: Column, spresent: Column, b: int) -> Column:
    """The exact-long denominator over all ``m`` registers: the present
    registers' :func:`_hll_spresent` plus ``2^(rem+1)`` per empty one."""
    m, rem = _hll_layout(b)
    return spresent + (F.lit(m) - n_present) * F.lit(1 << (rem + 1))


def _hll_estimates(
    stotal: Column, v_zero: Column, b: int
) -> tuple[Column, Column]:
    """``(raw, corrected)`` estimates of a register set with denominator
    ``stotal`` (:func:`_hll_stotal`) and ``v_zero`` empty registers: the
    ``2^(rem+1)`` scale of ``stotal`` cancels exactly in the IEEE
    divide, and ``corrected`` switches to linear counting
    ``m·ln(m / v_zero)`` at ``raw ≤ 2.5·m`` while a register is empty.
    Both are UNROUNDED; callers pin their own outputs."""
    m, rem = _hll_layout(b)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    raw = (
        F.lit(alpha)
        * F.lit(float(m))
        * F.lit(float(m))
        * F.lit(float(1 << (rem + 1)))
        / stotal.cast("double")
    )
    corrected = F.when(
        (raw <= F.lit(2.5 * m)) & (v_zero > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_zero.cast("double")),
    ).otherwise(raw)
    return raw, corrected


def hll_distinct(
    key_col: str,
    b: int = 10,
) -> Callable[[DataFrame], DataFrame]:
    """Portable HyperLogLog distinct-count sketch (Flajolet et al. '07):
    ``m = 2^b`` max-rank registers over the portable 60-bit md5 hash —
    the mergeable cardinality sketch (register-wise MAX merges across
    partitions/machines/days), with the small-range linear-counting
    correction.  ``approx_count_distinct`` is the production built-in;
    this one exists because every intermediate is an exact INTEGER a
    SQL oracle can replay: bucket = ``h mod m``, rank = trailing-zero
    count of the remaining ``rem = 60-b`` hash bits
    (``bit_count((w & -w) - 1)``, pure bit arithmetic — no float log),
    and the harmonic-mean denominator is the exact long
    ``Σ 2^(rem+1-rho)`` (scaled by ``2^(rem+1)`` so even the
    rho = rem+1 all-zero-w register contributes an integer 1, never a
    fraction or a negative shift; worst case m·2^(rem+1) = 2^61 fits a
    signed long for every allowed b), so both engines evaluate the
    final estimate on identical inputs.  Returns ONE row: registers
    seen, zero registers, exact distinct (for error inspection), raw
    and corrected estimates.
    """
    registers = hll_registers_by([], key_col, b)
    m, _ = _hll_layout(b)

    def _t(df: DataFrame) -> DataFrame:
        stats = _hll_register_stats(registers(df), [], b)
        # exact distinct rides along for error inspection (one extra
        # agg on the same pass's input)
        n_exact = df.select(
            F.countDistinct(F.col(key_col)).alias("_nd")
        )
        from btc_usdt_etl_pipeline_spark.functions import attach_scalar

        out = attach_scalar(
            stats, n_exact, F.col("n_present"), F.col("_nd")
        ).select(
            F.lit(m).alias("m"),
            "n_present",
            (F.lit(m) - F.col("n_present")).alias("v_zero"),
            F.col("_nd").alias("n_exact"),
            _hll_stotal(F.col("n_present"), F.col("_spresent"), b).alias(
                "_stotal"
            ),
        )
        raw, corrected = _hll_estimates(
            F.col("_stotal"), F.col("v_zero"), b
        )
        return out.select(
            "m",
            "n_present",
            "v_zero",
            "n_exact",
            F.round(raw, 4).alias("est_raw"),
            F.round(corrected, 4).alias("est"),
        )

    return _t


def hll_distinct_by(
    group_cols: "list[str] | tuple[str, ...]",
    key_col: str,
    b: int = 10,
) -> Callable[[DataFrame], DataFrame]:
    """Per-group portable HyperLogLog distinct sketch — the grouped twin
    of :func:`hll_distinct` (same md5 bucketing, same ``2^(rem+1)``
    integer register scale, same linear-counting correction), shaped
    the way sketches are actually deployed: one register set per group
    (per day / per source / per shard), REGISTER-WISE MERGEABLE across
    groups, partitions, machines, or days — merge = MAX per (group,
    bucket), never re-reading raw data.

    Plan: one ``(group, bucket)`` aggregation (map-side partial — at
    most ``|groups|·2^b`` rows survive the map side), one ``group``
    aggregation for the denominator, plus an exact ``countDistinct``
    per group riding along for error inspection; groups are
    metadata-scale, so the final join is broadcast.  Returns one row
    per group: ``(group…, m, n_present, v_zero, n_exact, est_raw,
    est)``.
    """
    registers = hll_registers_by(group_cols, key_col, b)
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    gcols = list(group_cols)
    m, _ = _hll_layout(b)

    def _t(df: DataFrame) -> DataFrame:
        stats = _hll_register_stats(registers(df), gcols, b)
        n_exact = df.groupBy(*gcols).agg(
            F.countDistinct(F.col(key_col)).alias("n_exact")
        )
        v_zero = F.lit(m) - F.col("n_present")
        raw, corrected = _hll_estimates(
            _hll_stotal(F.col("n_present"), F.col("_spresent"), b), v_zero, b
        )
        return stats.join(F.broadcast(n_exact), gcols).select(
            *gcols,
            F.lit(m).alias("m"),
            "n_present",
            v_zero.alias("v_zero"),
            "n_exact",
            F.round(raw, 4).alias("est_raw"),
            F.round(corrected, 4).alias("est"),
        )

    return _t


# ---------------------------------------------------------------------------
# Bloom filter — pre-shuffle join filtering (Bloom, CACM 1970)
# ---------------------------------------------------------------------------

#: Bits packed per filter word.  32, NOT 64: positions stay positive and
#: ``1 << bit`` never overflows a signed BIGINT, so DuckDB (which raises
#: on ``1::BIGINT << 63``) replays the exact same words the JVM computes.
_BLOOM_WORD_BITS = 32


def _bloom_positions(
    key: Column, n_bits: int, n_hashes: int
) -> list[Column]:
    """The ``n_hashes`` bit positions of ``key`` — independent seeded
    instances of the repo's portable 60-bit md5 hash, so any engine
    with ``md5`` replays them (``operators/dedup.py:portable_hash60``);
    non-negative by construction, so ``%`` is a true modulus."""
    return [
        portable_hash60(
            F.concat(F.lit(f"bf{i}:"), key.cast("string"))
        ) % F.lit(n_bits)
        for i in range(n_hashes)
    ]


def bloom_filter_words(
    dim: DataFrame,
    key_col: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 5,
) -> list[int]:
    """Build the filter from ``dim[key_col]`` and return its dense word
    array (``n_bits / 32`` ints) — METADATA-scale driver traffic, like
    Spark's own runtime bloom-filter subquery result.  One map-side-
    combined aggregation over the dim keys; duplicate keys cost nothing
    (bit_or is idempotent)."""
    if n_bits % _BLOOM_WORD_BITS != 0:
        raise ValueError("n_bits must be a multiple of 32")
    if n_hashes < 1:
        raise ValueError("n_hashes must be >= 1")
    pos = dim.select(
        F.explode(
            F.array(
                *_bloom_positions(F.col(key_col), n_bits, n_hashes)
            )
        ).alias("p")
    )
    rows = (
        pos.select(
            F.shiftright("p", 5).alias("idx"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.col("p").bitwiseAND(F.lit(31)).cast("int"),
            ).alias("b"),
        )
        .groupBy("idx")
        .agg(F.bit_or("b").alias("w"))
        .collect()
    )
    words = [0] * (n_bits // _BLOOM_WORD_BITS)
    for r in rows:
        words[r["idx"]] = r["w"]
    return words


def bloom_might_contain(
    words: list[int], key: Column, n_hashes: int
) -> Column:
    """Membership probe as a pure JVM expression: ``n_hashes`` md5
    positions, each tested against the broadcast-literal word array.
    No join, no shuffle, no row amplification — the filter rides the
    scan stage, which is the whole point at 100 TB: probe-side rows
    that cannot match die before the join exchange.  False positives
    possible (callers re-join exactly), false negatives impossible."""
    n_bits = len(words) * _BLOOM_WORD_BITS
    arr = F.lit(words).cast("array<long>")
    cond = F.lit(True)
    for p in _bloom_positions(key, n_bits, n_hashes):
        bit = F.call_function(
            "shiftleft",
            F.lit(1).cast("long"),
            p.bitwiseAND(F.lit(31)).cast("int"),
        )
        word = F.element_at(arr, (F.shiftright(p, 5) + F.lit(1)).cast("int"))
        cond = cond & (word.bitwiseAND(bit) != F.lit(0))
    return cond


def bloom_semi_join(
    facts: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 5,
) -> DataFrame:
    """Semi join with a bloom pre-filter: build the filter from the dim
    keys (metadata-sized), kill non-matching fact rows AT THE SCAN, then
    exact left-semi join the survivors.  Identical results to a plain
    semi join (no false negatives); at scale the exchange feeding the
    join carries only ``match_rate + fp_rate`` of the probe side
    instead of all of it.  fp rate ≈ (1 - e^(-kn/m))^k — size ``n_bits``
    ≈ 10× the dim key count for <1% with ``n_hashes=5``."""
    words = bloom_filter_words(dim, dim_key, n_bits, n_hashes)
    passed = facts.filter(
        bloom_might_contain(words, F.col(fact_key), n_hashes)
    )
    return passed.join(
        dim.select(F.col(dim_key).alias(fact_key)).dropDuplicates(),
        fact_key,
        "left_semi",
    )


def hll_intersection(
    group_col: str,
    key_col: str,
    group_a: str,
    group_b: str,
    b: int = 10,
) -> Callable[[DataFrame], DataFrame]:
    """Estimate |A ∩ B| from HyperLogLog registers by inclusion-
    exclusion: est(A) + est(B) − est(A ∪ B), where the union sketch is
    the register-wise MAX of the two sides' registers — the property
    that makes HLL the audience-overlap / cross-segment-reach sketch:
    the two sides never need to be co-located, only their 2^b-register
    arrays meet.  (Relative error grows as |A∩B| shrinks vs the
    Jaccard of the sets — inclusion-exclusion subtracts three ~1.04/√m
    estimates — so it is a planning sketch, not an exact-join
    replacement; the exact intersection rides along to witness the
    error.)

    Same portable register layout as :func:`hll_distinct` (md5 60-bit
    hash, integer-exact denominator, linear-counting correction), so a
    SQL oracle replays registers and estimates bit-for-bit.  Plan: one
    (side, bucket) aggregation over the two groups' rows (map-side
    partial, ≤ 2·2^b survivors), a 3-way register union (metadata-
    sized), one exact-intersection agg riding along, and a broadcast
    combine — one data-scale pass.
    """
    registers = hll_registers_by(["_s"], "_k", b)
    m, _ = _hll_layout(b)

    def _t(df: DataFrame) -> DataFrame:
        filt = df.where(
            F.col(group_col).isin([group_a, group_b])
        ).select(
            F.when(F.col(group_col) == group_a, "a")
            .otherwise("b")
            .alias("_s"),
            F.col(key_col).cast("string").alias("_k"),
        )
        regs = registers(filt)
        regs_u = (
            regs.groupBy("_bucket")
            .agg(F.max("_mr").alias("_mr"))
            .select(F.lit("u").alias("_s"), "_bucket", "_mr")
        )
        _, est = _hll_estimates(
            _hll_stotal(F.col("_np"), F.col("_sp"), b),
            F.lit(m) - F.col("_np"),
            b,
        )
        stats = (
            regs.unionByName(regs_u)
            .groupBy("_s")
            .agg(
                F.count(F.lit(1)).alias("_np"),
                _hll_spresent(b).alias("_sp"),
            )
            .withColumn("_est", est)
        )
        one = stats.agg(
            F.max(F.when(F.col("_s") == "a", F.col("_est"))).alias(
                "_ea"
            ),
            F.max(F.when(F.col("_s") == "b", F.col("_est"))).alias(
                "_eb"
            ),
            F.max(F.when(F.col("_s") == "u", F.col("_est"))).alias(
                "_eu"
            ),
        )
        exact = (
            filt.groupBy("_k")
            .agg(F.countDistinct("_s").alias("_ng"))
            .where(F.col("_ng") == 2)
            .agg(F.count(F.lit(1)).alias("n_exact_intersection"))
        )
        from btc_usdt_etl_pipeline_spark.functions import attach_scalar

        # 1-row × 1-row combine via the derived-key broadcast HASH join
        # (a bare crossJoin degrades to BroadcastNestedLoopJoin)
        return attach_scalar(
            one, exact, F.col("_ea"), F.col("n_exact_intersection")
        ).select(
            F.lit(m).alias("m"),
            F.round("_ea", 4).alias("est_a"),
            F.round("_eb", 4).alias("est_b"),
            F.round("_eu", 4).alias("est_union"),
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.col("_ea") + F.col("_eb") - F.col("_eu"),
                ),
                4,
            ).alias("est_intersection"),
            "n_exact_intersection",
        )

    return _t


def hll_registers_by(
    group_cols: "list[str] | tuple[str, ...]",
    key_col: str,
    b: int = 10,
) -> Callable[[DataFrame], DataFrame]:
    """Raw per-group HLL registers ``(group…, _bucket, _mr)`` — the
    PERSISTABLE form of :func:`hll_distinct_by`'s sketch: register sets
    are what streaming/incremental pipelines store, because the merge
    law is pure column algebra (``MAX`` per (group, bucket)) and never
    needs raw data again.  Same md5 bucketing / rank layout as every
    other HLL entry point, so estimates from merged registers replay in
    a SQL oracle."""
    gcols = list(group_cols)
    m, rem = _hll_layout(b)

    def _t(df: DataFrame) -> DataFrame:
        h = portable_hash60(F.col(key_col).cast("string"))
        # rank over the rem bits above the bucket: rho = 1 + trailing
        # zeros of w (w = h DIV m — integer division; a float divide
        # would round the 60-bit hash to 53 bits and corrupt w),
        # rem+1 when w = 0 — all integer ops
        keyed = df.select(*gcols, h.alias("_h")).select(
            *gcols,
            (F.col("_h") % m).alias("_bucket"),
            F.expr(f"_h DIV {m}").alias("_w"),
        )
        rho = F.when(F.col("_w") == 0, F.lit(rem + 1)).otherwise(
            F.bit_count(F.expr("(_w & -_w) - 1")) + F.lit(1)
        )
        return (
            keyed.withColumn("_rho", rho)
            .groupBy(*gcols, "_bucket")
            .agg(F.max("_rho").alias("_mr"))
        )

    return _t


def merge_hll_registers(*register_frames: DataFrame) -> DataFrame:
    """Merge register frames: MAX per (group…, _bucket).  The HLL merge
    law — merge(reg(A), reg(B)) == reg(A ∪ B) — so daily/streaming
    register sets fold together at register cost, never re-reading
    keys.  All frames must share the register schema."""
    if not register_frames:
        raise ValueError("need at least one register frame")
    u = register_frames[0]
    for f in register_frames[1:]:
        u = u.unionByName(f)
    keys = [c for c in u.columns if c != "_mr"]
    return u.groupBy(*keys).agg(F.max("_mr").alias("_mr"))


def hll_estimate_from_registers(
    registers: DataFrame,
    group_cols: "list[str] | tuple[str, ...]",
    b: int = 10,
) -> DataFrame:
    """Per-group cardinality estimate from stored registers — the read
    side of a persisted/streamed sketch (no raw data available, so no
    exact rider).  Identical estimator math to :func:`hll_distinct_by`
    (integer-exact denominator, linear-counting correction); returns
    ``(group…, m, n_present, v_zero, est_raw, est)``."""
    gcols = list(group_cols)
    m, _ = _hll_layout(b)
    stats = _hll_register_stats(registers, gcols, b)
    v_zero = F.lit(m) - F.col("n_present")
    raw, corrected = _hll_estimates(
        _hll_stotal(F.col("n_present"), F.col("_spresent"), b), v_zero, b
    )
    return stats.select(
        *gcols,
        F.lit(m).alias("m"),
        "n_present",
        v_zero.alias("v_zero"),
        F.round(raw, 4).alias("est_raw"),
        F.round(corrected, 4).alias("est"),
    )


def dd_sketch(
    value_col: str,
    group_by: str | None = None,
    gamma: float = 1.02,
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> Callable[[DataFrame], DataFrame]:
    """DDSketch quantile estimation (Masson et al., VLDB'19): bucket
    positive values into geometric bins ``ceil(log_γ x)``, estimate
    any quantile from bucket counts with RELATIVE-error guarantee
    (γ−1)/(γ+1) — here ~1% at γ=1.02.  The sketch is what replaces
    exact percentiles once a sort is unaffordable: fixed-size,
    mergeable (bucket counts just add, so map-side partial agg does
    the merging for free), streamable.

    Plan: ONE data-scale aggregation — (group, bucket) counts — then
    per-group windows over the bucket table (bounded by
    log_γ(max/min) buckets ≈ a few hundred rows per group).  The
    quantile readout walks the cumulative count to the first bucket
    with cum ≥ ⌈q·n⌉ and reports the bucket midpoint 2γ^b/(γ+1).

    Determinism: bucket index and readout both carry transcendentals
    (ln, power); the log-ratio is rounded to 9 dp before the ceil and
    the estimate to 6 dp — the engine's transcendental contract.  A
    flipped borderline bucket moves a value by one γ-step, within the
    sketch's own error guarantee either way.

    Returns one row per (group, quantile): ``group_by…, q, n, est``.
    Non-positive values are excluded (DDSketch's domain; keep a
    negative-store variant upstream if needed).

    Composition: this is ``dd_sketch_buckets`` (the mergeable state)
    piped into ``dd_sketch_readout`` (the windowed quantile walk) —
    exposed separately so a streaming sink can persist/merge the
    bucket counts incrementally
    (``streaming/ohlcv.py:incremental_ddsketch_upsert``) and read the
    estimate off the final state.
    """

    def _t(df: DataFrame) -> DataFrame:
        return dd_sketch_readout(group_by, gamma, quantiles)(
            dd_sketch_buckets(value_col, group_by, gamma)(df)
        )

    return _t


def dd_sketch_buckets(
    value_col: str,
    group_by: str | None = None,
    gamma: float = 1.02,
) -> Callable[[DataFrame], DataFrame]:
    """DDSketch STATE: ``(group…, _b, _c)`` geometric-bucket counts —
    fixed-width (log_γ(max/min) buckets per group) and mergeable by
    plain addition (:func:`merge_dd_buckets`), so it persists,
    shuffles and upserts like the HLL register tables."""
    import math

    gcols = [group_by] if group_by else []
    lng = math.log(gamma)

    def _t(df: DataFrame) -> DataFrame:
        bucket = F.ceil(
            F.round(F.log(F.col(value_col).cast("double")) / F.lit(lng), 9)
        )
        return (
            df.where(F.col(value_col) > 0)
            .groupBy(*gcols, bucket.alias("_b"))
            .agg(F.count(F.lit(1)).alias("_c"))
        )

    return _t


def merge_dd_buckets(*bucket_frames: DataFrame) -> DataFrame:
    """The DDSketch merge law: bucket counts ADD.  Union the state
    frames and re-sum per (group…, bucket) — exact, order-free,
    idempotent under re-aggregation."""
    out = bucket_frames[0]
    for f in bucket_frames[1:]:
        out = out.unionByName(f)
    keys = [c for c in out.columns if c != "_c"]
    return out.groupBy(*keys).agg(F.sum("_c").alias("_c"))


def dd_sketch_readout(
    group_by: str | None = None,
    gamma: float = 1.02,
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> Callable[[DataFrame], DataFrame]:
    """Quantile readout over a DDSketch bucket-count state frame
    (``(group…, _b, _c)`` from :func:`dd_sketch_buckets`, possibly
    merged): per-group cumulative walk to the first bucket with
    cum ≥ ⌈q·n⌉, midpoint estimate 2γ^b/(γ+1) rounded at 6 dp.  The
    input is bucket-scale (hundreds of rows per group), never
    data-scale."""
    gcols = [group_by] if group_by else []

    def _t(counts: DataFrame) -> DataFrame:
        wg = Window.partitionBy(*gcols)
        wo = wg.orderBy("_b").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = counts.withColumn("_cum", F.sum("_c").over(wo)).withColumn(
            "_n", F.sum("_c").over(wg)
        )
        # All quantile readouts in ONE pass over the bucket table — a
        # per-quantile filter would re-execute the data-scale count agg
        # once per quantile (Catalyst does not reuse a subtree consumed
        # from multiple branches).
        readouts = [
            F.min(
                F.when(
                    F.col("_cum")
                    >= F.ceil(
                        F.lit(float(q)) * F.col("_n").cast("double")
                    ),
                    F.col("_b"),
                )
            ).alias(f"_qb{i}")
            for i, q in enumerate(quantiles)
        ]
        agg = cum.groupBy(*gcols).agg(
            F.max("_n").alias("n"), *readouts
        )
        pairs = F.array(
            *[
                F.struct(
                    F.lit(float(q)).alias("q"),
                    F.col(f"_qb{i}").alias("b"),
                )
                for i, q in enumerate(quantiles)
            ]
        )
        est = F.round(
            F.lit(2.0)
            * F.pow(F.lit(float(gamma)), F.col("_e.b").cast("double"))
            / F.lit(gamma + 1.0),
            6,
        )
        return agg.select(
            *gcols, "n", F.explode(pairs).alias("_e")
        ).select(*gcols, F.col("_e.q").alias("q"), "n", est.alias("est"))

    return _t

"""Training-data export operators: mixture planning, deterministic
shuffle-sharding, and concat-and-chunk sequence packing.

The last mile of an LLM data pipeline (after dedup / filtering /
decontamination) is turning a cleaned corpus into training shards:

- :func:`mix_plan` — given per-source mixture weights and a total token
  budget, compute each source's available tokens, target tokens,
  sampling rate (basis points, feeds :func:`...sampling.hash_sample`),
  and epoch count (oversampling factor for up-weighted small sources) —
  the Pile/DoReMi-style mixture step as one aggregation.
- :func:`shard_export` — deterministic pseudo-random shuffle + fixed
  shard assignment: shard = hash(salt:id) mod n_shards, position =
  rank within shard by (hash, id).  Reproducible under any
  partitioning/cluster size (the hash is data-derived, not RNG state),
  and every shard is an independent window partition — the shuffle is
  one exchange keyed by shard, no global sort.
- :func:`pack_sequences` — concat-and-chunk packing: lay every doc's
  tokens on one deterministic global tape (ordered by hash — the
  "shuffle" — inside hash-buckets) and cut the tape every
  ``chunk_tokens``; emit each doc's start offset and the chunk range it
  lands in.  This is how pretraining packing actually works (documents
  concatenated, boundaries cut mid-doc), expressed without a global
  sort via the repo's two-pass bucket-offset pattern (SURVEY.md §4.3):
  per-bucket token totals → cumulative offsets (≤ #buckets driver rows)
  → broadcast back; everything else is within-bucket windows.

All three are pure JVM expressions over the portable 60-bit md5 hash so
a DuckDB oracle can replay the exact kept set / shard layout / chunk
assignment (swap xxhash64 in production once cross-engine replay stops
mattering).
"""

from __future__ import annotations

from typing import Callable, Mapping

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.operators.dedup import portable_hash60
from btc_usdt_etl_pipeline_spark.operators.windows import _plan_size


def _auto_buckets(
    size_bytes: int,
    target_bytes: int,
    lo: int,
    hi: int = 1 << 20,
) -> int:
    """Bucket count from a plan-size estimate: enough buckets that each
    one holds ~``target_bytes`` of input, clamped to [lo, hi].  Pure so
    the policy is unit-testable without a SparkSession."""
    import math

    if size_bytes <= 0:
        return lo
    return max(lo, min(hi, math.ceil(size_bytes / target_bytes)))


def mix_plan(
    source_col: str,
    token_count: F.Column,
    budget_tokens: int,
    weights: Mapping[str, float] | None = None,
    default_weight: float = 1.0,
) -> Callable[[DataFrame], DataFrame]:
    """Per-source mixture plan for a ``budget_tokens`` training run.

    ``target_tokens(source) = budget · w(source) / Σw`` over the sources
    PRESENT in the data (weights for absent sources are ignored — the
    plan is computable in one aggregation pass).  Outputs per source:

    - ``available_tokens`` — what the corpus holds;
    - ``target_tokens`` — the budget share;
    - ``rate_bp`` — basis-point sampling rate ``min(1, target/available)``
      to feed :func:`hash_sample` for down-sampled sources;
    - ``epochs`` — ``ceil(target/available)`` repeat factor for
      up-weighted sources (1 when down-sampling).

    One groupBy, driver sees nothing; the weight CASE is a broadcast
    literal expression.
    """

    def _t(df: DataFrame) -> DataFrame:
        w_expr = F.lit(float(default_weight))
        for src, w in sorted((weights or {}).items()):
            w_expr = F.when(
                F.col(source_col) == src, F.lit(float(w))
            ).otherwise(w_expr)
        per_src = df.groupBy(source_col).agg(
            F.sum(token_count).cast("long").alias("available_tokens"),
            F.max(w_expr).alias("_w"),
        )
        # Weight normalizer via an unpartitioned window over the per-
        # source aggregate: post-agg the frame holds one row PER SOURCE
        # (metadata-scale at any corpus size), so the single-partition
        # window is free — and the plan stays join-free.
        w_all = Window.partitionBy()
        return (
            per_src.withColumn("_sw", F.sum("_w").over(w_all))
            .select(
                source_col,
                "available_tokens",
                F.floor(
                    F.lit(float(budget_tokens)) * F.col("_w") / F.col("_sw")
                )
                .cast("long")
                .alias("target_tokens"),
            )
            .select(
                source_col,
                "available_tokens",
                "target_tokens",
                # A source whose docs all tokenize to zero has
                # available_tokens = 0 — under ANSI that division is a
                # job-aborting DIVIDE_BY_ZERO, so guard it: nothing to
                # sample → rate 0, epochs 1.
                F.when(F.col("available_tokens") > 0,
                    F.least(
                        F.lit(10_000),
                        F.floor(
                            F.lit(10_000)
                            * F.col("target_tokens")
                            / F.col("available_tokens")
                        ),
                    )
                )
                .otherwise(F.lit(0))
                .cast("long")
                .alias("rate_bp"),
                F.when(F.col("available_tokens") > 0,
                    F.greatest(
                        F.lit(1),
                        F.ceil(
                            F.col("target_tokens")
                            / F.col("available_tokens")
                        ),
                    )
                )
                .otherwise(F.lit(1))
                .cast("long")
                .alias("epochs"),
            )
        )

    return _t


def shard_export(
    id_col: str,
    n_shards: int | str = 16,
    salt: str = "shard",
    target_shard_bytes: int = 256 << 20,
) -> Callable[[DataFrame], DataFrame]:
    """Deterministic shuffle-shard layout: ``shard_id`` and 0-based
    ``pos`` within the shard, ordered by the keyed hash (ties by id).

    One exchange keyed by ``shard_id``; shards are balanced in
    expectation (hash-uniform) and the layout is append-UNstable by
    design — training shards are rewritten per snapshot, unlike
    :func:`hash_sample` whose kept set must be append-stable.

    ``n_shards`` contract (SCALE.md "export tape sizing"): each shard
    is ONE window partition — ~corpus/n_shards rows on one task — so a
    fixed count that's fine at sf0.1 is a straggler at 100 TB.  Pass
    ``"auto"`` to derive the count from Catalyst's size estimate
    (~``target_shard_bytes`` of input per shard, no extra job), or set
    it explicitly from your output-shard size budget.  NOTE: the
    shard/pos layout is a function of ``n_shards`` (``shard = h mod
    n``), so auto-sized runs over different corpus sizes produce
    different (valid) layouts — pin an integer when a replayable
    layout matters (e.g. the differential oracle).
    """
    if isinstance(n_shards, str):
        if n_shards != "auto":
            raise ValueError("n_shards must be an int or 'auto'")
    elif n_shards < 1:
        raise ValueError("n_shards must be >= 1")

    def _t(df: DataFrame) -> DataFrame:
        n = (
            _auto_buckets(_plan_size(df), target_shard_bytes, lo=16)
            if n_shards == "auto"
            else n_shards
        )
        h = portable_hash60(
            F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))
        )
        w = Window.partitionBy("shard_id").orderBy("_h", id_col)
        return (
            df.withColumn("_h", h)
            .withColumn("shard_id", (F.col("_h") % n).cast("int"))
            .withColumn("pos", F.row_number().over(w).cast("long") - 1)
            .drop("_h")
        )

    return _t


def pack_sequences(
    id_col: str,
    token_count: F.Column,
    chunk_tokens: int = 512,
    num_buckets: int | str = 32,
    salt: str = "pack",
    target_bucket_bytes: int = 128 << 20,
) -> Callable[[DataFrame], DataFrame]:
    """Concat-and-chunk packing over a deterministic global tape.

    Docs are ordered by ``(bucket, hash, id)`` where ``bucket =
    hash mod num_buckets`` — a fixed pseudo-random shuffle whose
    PREFIX STRUCTURE is the bucket key, so the global running token
    offset decomposes into (per-bucket cumulative offset) +
    (within-bucket window cumsum).  The per-bucket totals are one
    tiny aggregation (``num_buckets`` rows) collected and broadcast
    back — the two-pass dense-index pattern; no global sort, no
    single-partition window.

    Emits per doc: ``tokens``, global ``start_offset``, and the
    0-based ``start_chunk`` / ``end_chunk`` of the ``chunk_tokens``-
    sized training sequences it lands in (a doc straddling a cut
    appears in both chunks, exactly like pretraining packing).
    Zero-token docs occupy no tape; their ``end_chunk`` is pinned to
    ``start_chunk`` by an explicit CASE so no engine ever evaluates
    integer division on a negative operand (semantics differ across
    engines: floor vs truncate toward zero).

    ``num_buckets`` contract (SCALE.md "export tape sizing"): each
    bucket is one window partition holding ~corpus/num_buckets rows on
    one task.  ``"auto"`` derives the count from Catalyst's size
    estimate (~``target_bucket_bytes`` of input per bucket, no extra
    job).  The TAPE ORDER is a function of ``num_buckets`` (bucket =
    h mod B is the sort prefix), so different bucket counts give
    different — equally valid — deterministic shuffles; pin an integer
    where a replayable tape matters (the oracle does).
    """
    if chunk_tokens < 1:
        raise ValueError("chunk_tokens must be >= 1")
    if isinstance(num_buckets, str):
        if num_buckets != "auto":
            raise ValueError("num_buckets must be an int or 'auto'")
    elif num_buckets < 1:
        raise ValueError("num_buckets must be >= 1")

    def _t(df: DataFrame) -> DataFrame:
        n_buckets = (
            _auto_buckets(
                _plan_size(df), target_bucket_bytes, lo=32
            )
            if num_buckets == "auto"
            else num_buckets
        )
        h = portable_hash60(
            F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))
        )
        base = df.withColumn("tokens", token_count.cast("long")).withColumn(
            "_h", h
        )
        base = base.withColumn(
            "_bucket", (F.col("_h") % n_buckets).cast("long")
        )
        # Pass 1: per-bucket token totals -> exclusive cumulative offsets.
        # Metadata-scale (num_buckets rows); Catalyst prunes this branch
        # to the columns feeding (hash, tokens).
        totals = (
            base.groupBy("_bucket")
            .agg(F.sum("tokens").alias("_btok"))
            .orderBy("_bucket")
            .collect()
        )
        running = 0
        offsets = []
        for row in totals:
            offsets.append((row["_bucket"], running))
            running += int(row["_btok"])
        spark = df.sparkSession
        off_df = F.broadcast(
            spark.createDataFrame(offsets, "_bucket long, _boff long")
        )
        # Pass 2: within-bucket exclusive cumsum + bucket offset.
        w = (
            Window.partitionBy("_bucket")
            .orderBy("_h", id_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            base.join(off_df, "_bucket")
            .withColumn(
                "start_offset",
                F.col("_boff")
                + F.coalesce(F.sum("tokens").over(w), F.lit(0)),
            )
            # Chunk arithmetic stays in NON-NEGATIVE integer division
            # (``DIV`` on longs): truncation and floor coincide for
            # non-negative operands, so the oracle's ``//`` replays it
            # exactly under ANY engine's negative-division convention.
            # The one negative-capable operand — ``start_offset +
            # tokens − 1`` when ``tokens = 0`` — is fenced by an
            # explicit CASE instead of post-hoc clamping (r5 verdict:
            # the GREATEST-over-floor shape left ``−1 // chunk`` engine-
            # defined inside the expression).
            .withColumn(
                "start_chunk",
                F.expr(f"start_offset DIV {int(chunk_tokens)}"),
            )
            .withColumn(
                "end_chunk",
                F.when(F.col("tokens") <= 0, F.col("start_chunk")).otherwise(
                    F.expr(
                        f"(start_offset + tokens - 1) DIV {int(chunk_tokens)}"
                    )
                ),
            )
            .drop("_h", "_bucket", "_boff")
        )

    return _t


def length_bucketed_shards(
    id_col: str,
    length_col: str,
    n_buckets: int = 4,
    shards_per_bucket: int = 4,
    salt: str = "lbs",
) -> Callable[[DataFrame], DataFrame]:
    """Length-grouped training-shard layout: documents are first binned
    into ``n_buckets`` equal-frequency LENGTH buckets
    (:func:`...ml.features.quantile_binning` over ``length_col``), then
    hash-sharded WITHIN each bucket — the length-grouped batching
    layout: a training batch read sequentially from one
    ``(len_bucket, shard_id)`` stream has near-uniform sequence
    lengths, which is what minimizes pad-token waste at fixed batch
    shape, while the hash shard keeps every shard an unbiased sample
    of its bucket (no length↔content correlation leaks into batch
    composition).

    Plan: one percentile aggregation (broadcast-attached boundaries),
    one exchange keyed by ``(len_bucket, shard_id)`` for the position
    window — the same single-exchange contract as
    :func:`shard_export`, with the same per-shard straggler caveat
    (size ``shards_per_bucket`` so a bucket's share of the corpus
    divided by it fits one task).  Deterministic and oracle-replayable
    (portable hash, pinned 6-dp boundaries).
    """
    if shards_per_bucket < 1:
        raise ValueError("shards_per_bucket must be >= 1")

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.ml.features import (
            quantile_binning,
        )

        b = df.transform(
            quantile_binning(
                length_col, num_bins=n_buckets, out="len_bucket"
            )
        )
        h = portable_hash60(
            F.concat(
                F.lit(salt), F.lit(":"), F.col(id_col).cast("string")
            )
        )
        w = Window.partitionBy("len_bucket", "shard_id").orderBy(
            "_h", id_col
        )
        return (
            b.withColumn("_h", h)
            .withColumn(
                "shard_id", (F.col("_h") % shards_per_bucket).cast("int")
            )
            .withColumn("pos", F.row_number().over(w).cast("long") - 1)
            .drop("_h")
        )

    return _t


def temperature_rates(
    group_col: str,
    token_count: F.Column,
    alpha: float = 0.5,
) -> Callable[[DataFrame], DataFrame]:
    """Temperature-scaled sampling rates per group (the multilingual
    alpha-sampling rule): sampling mass q_i ∝ p_i^α flattens the group
    distribution — α=1 keeps natural proportions, α→0 approaches
    uniform — so low-resource languages/sources aren't drowned out of a
    training mix.  The per-DOCUMENT keep rate that realizes q is
    ∝ n_i^(α-1), normalized so the smallest group samples at 100%
    (downsample-only; pair with :func:`mix_plan`'s epochs for
    upsampling).

    Output per group: ``available_tokens``, ``rate_bp`` (basis points,
    feeds :func:`...sampling.hash_sample`-style hash selection).  Like
    mix_plan, the math runs on the per-group aggregate — metadata-scale
    rows — so the unpartitioned normalizer window is free.

    α=0.5 (the default) computes via ``sqrt``, which IEEE 754 requires
    correctly rounded — the rates replay BIT-EXACTLY in any engine.
    Other α go through ``pow``, whose last-ulp behavior is
    implementation-defined; differential oracles should pin α=0.5.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")

    def _t(df: DataFrame) -> DataFrame:
        per = df.groupBy(group_col).agg(
            F.sum(token_count).cast("long").alias("available_tokens")
        )
        n = F.col("available_tokens").cast("double")
        if alpha == 0.5:
            q_raw = F.sqrt(n)
        else:
            q_raw = F.pow(n, F.lit(float(alpha)))
        w_all = Window.partitionBy()
        # n == 0 guard: a group whose docs all tokenize to zero gets
        # rate 0 (nothing to sample) instead of a NaN poisoning _rmax
        return (
            per.withColumn(
                "_rr",
                F.when(n > 0, q_raw / n).otherwise(F.lit(0.0)),
            )
            .withColumn("_rmax", F.max("_rr").over(w_all))
            .select(
                group_col,
                "available_tokens",
                F.when(
                    F.col("_rmax") > 0,
                    F.floor(
                        F.lit(10_000) * F.col("_rr") / F.col("_rmax")
                    ),
                )
                .otherwise(F.lit(0))
                .cast("long")
                .alias("rate_bp"),
            )
        )

    return _t


def temperature_sample(
    group_col: str,
    key_col: str,
    token_count: F.Column,
    alpha: float = 0.5,
    salt: str = "t1",
) -> Callable[[DataFrame], DataFrame]:
    """Apply :func:`temperature_rates` deterministically: keep a row iff
    ``portable_hash(salt:key) mod 10000 < rate_bp(group)``.  The rate
    table is groups-sized, so attaching it is a broadcast hash join and
    the filter is map-side; selection is reproducible under any
    partitioning/engine/rerun and append-stable (a new document never
    flips an old one's fate).
    """

    def _t(df: DataFrame) -> DataFrame:
        rates = df.transform(
            temperature_rates(group_col, token_count, alpha)
        ).select(group_col, "rate_bp")
        h = portable_hash60(
            F.concat(
                F.lit(salt), F.lit(":"), F.col(key_col).cast("string")
            )
        ) % F.lit(10_000)
        return df.join(F.broadcast(rates), group_col).filter(
            h < F.col("rate_bp")
        )

    return _t

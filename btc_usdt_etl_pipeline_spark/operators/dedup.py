"""Deduplication operators for training-data pipelines (north star §2B).

Not in the reference (its only dedup analogue is the idempotence *gap*
flagged in SURVEY.md §4.2-5).  All variants are pure DataFrame ops —
JVM-side higher-order functions, no Python UDFs — so they survive 100 TB:

- :func:`exact_dedup`          — hash groupBy on chosen keys (canonical
  winner = min id, deterministic, unlike ``dropDuplicates``).
- :func:`minhash_near_dedup`   — shingle → minhash → LSH band self-join →
  exact Jaccard verify on candidates only (the classic web-dedup pipeline).
- :func:`simhash`              — 64-bit bit-majority fingerprint per doc.
- :func:`ngram_jaccard_pairs`  — exact n-gram Jaccard on LSH candidates.

Scale notes: the only shuffles are (a) groupBy band-key — bounded by
``bands`` duplicates of the corpus, (b) the candidate self-join, whose
size LSH controls.  Skewed bands (boilerplate docs) are handled by AQE
skew-join splitting; pathological boilerplate should be length-bucketed
first (``length_bucket`` column participates in the band key).
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.operators.partitioning import (
    ensure_parallelism,
)


def exact_dedup(
    keys: Sequence[str], id_col: str
) -> Callable[[DataFrame], DataFrame]:
    """Keep one deterministic winner per distinct key: min ``id_col``,
    remaining columns breaking any id tie lexicographically.

    ``dropDuplicates`` keeps an arbitrary row under parallelism; the
    min-struct contract is reproducible and oracle-checkable in every
    branch (including duplicate ids), and needs ONE aggregation — no
    winner-join back against the input.
    """

    def _t(df: DataFrame) -> DataFrame:
        others = [c for c in df.columns if c not in keys]
        if not others:
            return df.dropDuplicates(list(keys))
        ordered = (
            [id_col] + [c for c in others if c != id_col]
            if id_col in others
            else others
        )
        agg = df.groupBy(*keys).agg(F.min(F.struct(*ordered)).alias("_w"))
        return agg.select(
            *keys, *[F.col(f"_w.{c}").alias(c) for c in ordered]
        ).select(df.columns)

    return _t


def tokens(col: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization with punctuation stripped — the shared
    normalization for every text operator here (stay JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    c = F.regexp_replace(c, r"[^\p{L}\p{N}\s]", " ")
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def shingles(tok: Column, n: int = 3) -> Column:
    """Word n-gram shingle strings from a token array (empty-safe).

    Construction note (load-bearing for performance): the obvious form —
    ``transform(sequence(1, k), i -> array_join(slice(tok, i, n)))`` —
    embeds ``tok`` INSIDE the per-element lambda, so when ``tok`` is a
    computed expression (the usual ``shingles(tokens(text))`` call) the
    entire tokenization re-evaluates once per shingle: ~|tok| full
    regex tokenizations per row (measured 86 ms/doc at sf0.1).  The
    ``zip_with`` chain below references ``tok`` only at per-ROW
    positions — n slice heads — so tokenization cost stays O(1) per row
    regardless of document length.

    Short inputs (|tok| < n) produce all-null zips → filtered → empty
    array, replacing the explicit descending-``sequence`` guard.
    """
    out = tok
    for i in range(1, n):
        shifted = F.slice(
            tok, i + 1, F.greatest(F.size(tok) - F.lit(i), F.lit(0))
        )
        out = F.zip_with(
            out, shifted, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.filter(out, lambda x: x.isNotNull())


def minhash_shingle_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    flag_cols: Sequence[Column] = (),
) -> DataFrame:
    """``(_id, *flags, _sh)`` rows with non-empty distinct shingle sets
    — the shared front half of :func:`minhash_near_dedup` and the
    streaming index sink (``streaming/neardup.py``): one tokenizer, one
    shingler, so batch and streaming signatures are definitionally
    identical."""
    return (
        ensure_parallelism(df, id_col)
        .select(
            F.col(id_col).alias("_id"),
            *flag_cols,
            F.array_distinct(
                shingles(tokens(text_col), shingle_n)
            ).alias("_sh"),
        )
        .filter(F.size("_sh") > 0)
    )


def minhash_band_keys(
    base: DataFrame,
    meta: Sequence[str],
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """LSH band-bucket keys ``(*meta, _key)`` from shingle-set rows.

    Signatures via explode + codegen'd aggregates, NOT the nested
    higher-order-function form: HOF lambdas are interpreted per
    element × per hash function (catastrophic constant factor), while
    ``min(xxhash64(h, seed))`` over exploded shingle hashes is
    whole-stage codegen with map-side partial aggregation — the
    shuffle carries at most one ``num_hashes``-wide row per doc.
    """
    rows_per_band = num_hashes // bands
    meta = list(meta)
    ex = base.select(*meta, F.explode("_sh").alias("_s")).select(
        *meta, F.xxhash64("_s").alias("_h")
    )
    sig = ex.groupBy(*meta).agg(
        *[
            F.min(F.xxhash64("_h", F.lit(i))).alias(f"_m{i}")
            for i in range(num_hashes)
        ]
    )
    return sig.select(
        *meta,
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        *[
                            F.col(f"_m{j}")
                            for j in range(
                                b * rows_per_band,
                                (b + 1) * rows_per_band,
                            )
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_key"),
    )


def lsh_bucket_pairs(
    banded: DataFrame,
    max_bucket: int | None,
    flagged: bool = False,
) -> DataFrame:
    """Distinct same-bucket candidate pairs ``(id_a, id_b)`` with
    ``id_a < id_b`` from ``(_id[, _new], _key)`` band rows.

    Same-bucket pairs come from ONE pass (groupBy + in-bucket pair
    expansion) instead of a banded⋈banded self-join — halves the
    signature computation and drops a whole shuffle.  Bucket sizes
    are small by LSH construction; ``max_bucket`` fences the
    degenerate ones (mass-duplicated boilerplate).  The cap runs
    as a keyed window (row_number per bucket) — the sort shares
    the groupBy's hash-partitioning on ``_key``, so it adds no
    extra shuffle, and it bounds the collect_list array width.
    With ``flagged=True`` rows carry ``_new`` and old↔old pairs are
    pruned inside the bucket, BEFORE any pair leaves it (the
    incremental new-vs-index contract); the cap then keeps new
    members preferentially (``_new DESC, _id``).
    """
    if max_bucket is not None:
        if flagged:
            wcap = Window.partitionBy("_key").orderBy(
                F.col("_new").desc(), "_id"
            )
        else:
            wcap = Window.partitionBy("_key").orderBy("_id")
        banded = (
            banded.withColumn("_r", F.row_number().over(wcap))
            .filter(F.col("_r") <= max_bucket)
            .drop("_r")
        )
    if flagged:
        buckets = (
            banded.groupBy("_key")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("_id", "_new"))
                ).alias("_ids")
            )
            .filter(F.size("_ids") > 1)
        )
        pairs = buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("_ids"),
                        lambda x, i: F.transform(
                            F.filter(
                                F.slice(
                                    F.col("_ids"),
                                    i + F.lit(2),
                                    F.size("_ids") - i - 1,
                                ),
                                # prune old↔old HERE, before any
                                # pair leaves the bucket
                                lambda y: x["_new"] | y["_new"],
                            ),
                            lambda y: F.struct(
                                x["_id"].alias("id_a"),
                                y["_id"].alias("id_b"),
                            ),
                        ),
                    )
                )
            ).alias("_p")
        )
    else:
        buckets = (
            banded.groupBy("_key")
            .agg(F.sort_array(F.collect_list("_id")).alias("_ids"))
            .filter(F.size("_ids") > 1)
        )
        pairs = buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("_ids"),
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("_ids"),
                                i + F.lit(2),
                                F.size("_ids") - i - 1,
                            ),
                            lambda y: F.struct(
                                x.alias("id_a"), y.alias("id_b")
                            ),
                        ),
                    )
                )
            ).alias("_p")
        )
    return pairs.select("_p.id_a", "_p.id_b").dropDuplicates(
        ["id_a", "id_b"]
    )


def minhash_near_dedup(
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 128,
    bands: int = 16,
    jaccard_threshold: float = 0.8,
    max_bucket: int | None = 256,
    new_col: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """MinHash + LSH near-duplicate pair detection.

    Returns candidate pairs ``(id_a, id_b, jaccard)`` with
    ``jaccard >= jaccard_threshold``, ``id_a < id_b``, verified exactly on
    the true shingle sets (LSH only proposes).  ``bands`` band-keys of
    ``num_hashes/bands`` rows each; P(candidate) ≈ 1-(1-j^r)^b.

    ``new_col`` (a boolean column) switches on INCREMENTAL mode — the
    daily-crawl contract: only pairs with at least one NEW side are
    emitted (new-vs-index and new-vs-new; index-vs-index pairs were
    already resolved when the index was built and are never
    re-verified).  The band/bucket machinery is shared — the index
    side's signatures ARE its LSH index — but old↔old pairs are pruned
    at bucket-pair expansion, BEFORE the shingle-verify join, so the
    expensive exact-Jaccard stage scales with the new batch
    (≈ |new| · bucket occupancy), not with Σ|bucket|² over the whole
    corpus.  The bucket cap keeps new members preferentially
    (``_new DESC, id``) so a boilerplate-degenerate bucket evicts index
    rows, not the batch being checked; eviction order stays
    deterministic/replayable.

    ``max_bucket`` caps each band bucket's membership (standard LSH
    practice): candidate mass per bucket is Σ|bucket|², so one
    boilerplate-degenerate bucket (every doc sharing a banner) turns
    the whole job quadratic — the 100×-sf0.1 probe measured 27→114 s
    at 3.3× data growth before the cap.  Buckets above the cap keep
    their ``max_bucket`` SMALLEST ids (deterministic under any
    partitioning, replayable by an oracle); dropped members usually
    re-pair in their other ``bands − 1`` buckets, and a truly
    degenerate all-identical cluster should be cut by exact dedup
    upstream anyway.  The cap is applied BEFORE the per-bucket
    ``collect_list``, so no executor ever materializes an unbounded
    id array.  ``None`` disables.
    """
    if max_bucket is not None and max_bucket < 2:
        raise ValueError("max_bucket must be >= 2 (or None)")

    def _t(df: DataFrame) -> DataFrame:
        # Shingle sets are the widest intermediate by far, so they must NOT
        # ride through the band grouping: band rows are (band-key, id)
        # pairs only; shingles are joined back for verified candidates —
        # a tiny fraction of the corpus — afterwards.
        #
        # ``base`` feeds three branches (signatures + both sides of the
        # verify join) and Catalyst does not reuse a subtree across
        # differently-aliased branches, so tokenize/shingle runs 3x.
        # That is deliberate: each recompute is a column-pruned scan
        # (id + text only) with codegen expressions — scan-bound work —
        # whereas persisting the shingle arrays pins a LARGER-than-corpus
        # intermediate in the block manager (spill at scale) that the
        # operator can never safely unpersist (the returned lazy plan
        # still references it).  No cached blocks outlive the call.
        flag_cols = (
            [F.col(new_col).cast("boolean").alias("_new")]
            if new_col is not None
            else []
        )
        base = minhash_shingle_rows(
            df, text_col, id_col, shingle_n, flag_cols
        )
        meta = ["_id"] + (["_new"] if new_col is not None else [])
        banded = minhash_band_keys(base, meta, num_hashes, bands)
        cand = lsh_bucket_pairs(
            banded, max_bucket, flagged=new_col is not None
        )
        sha = base.select(
            F.col("_id").alias("id_a"), F.col("_sh").alias("_sha")
        )
        shb = base.select(
            F.col("_id").alias("id_b"), F.col("_sh").alias("_shb")
        )
        inter = F.size(F.array_intersect("_sha", "_shb")).cast("double")
        union = F.size(F.array_union("_sha", "_shb")).cast("double")
        return (
            cand.join(sha, "id_a")
            .join(shb, "id_b")
            .withColumn("jaccard", inter / union)
            .filter(F.col("jaccard") >= jaccard_threshold)
            .select("id_a", "id_b", "jaccard")
        )

    return _t


def portable_hash60(c: Column) -> Column:
    """60-bit string hash reproducible in any engine with ``md5``: the
    first 15 hex chars of the md5 digest, parsed as an integer.  Slower
    than ``xxhash64`` (md5 + string slice + radix parse) — use it where a
    differential oracle must recompute the hash, ``xxhash64`` in
    production paths."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def simhash(
    text_col: str = "text",
    id_col: str = "doc_id",
    out: str = "simhash",
    ngram: int = 2,
    bits: int = 60,
    portable: bool = False,
) -> Callable[[DataFrame], DataFrame]:
    """SimHash fingerprint: per-feature hash, bit-majority vote, packed
    into a single long.  Near-dup pairs are then Hamming-close
    fingerprints (compare via ``bit_count(a ^ b)``).

    Signature computation is explode + ``bits`` codegen'd vote-sum
    aggregates (map-side partial agg; one shuffle keyed by ``id_col``) —
    the same whole-stage-codegen discipline as :func:`minhash_near_dedup`;
    interpreted higher-order functions never touch the hot path.

    ``portable=True`` uses :func:`portable_hash60` so a SQL oracle can
    recompute the fingerprint bit-for-bit; default is ``xxhash64``.
    Rows whose shingle set is empty are dropped (no fingerprint exists).
    """
    if bits > 60:
        raise ValueError("bits > 60 would overflow the packed long")

    def _t(df: DataFrame) -> DataFrame:
        base = ensure_parallelism(df, id_col).select(
            F.col(id_col),
            shingles(tokens(text_col), ngram).alias("_sh"),
        ).filter(F.size("_sh") > 0)
        ex = base.select(id_col, F.explode(F.array_distinct("_sh")).alias("_s"))
        h = portable_hash60(F.col("_s")) if portable else F.xxhash64("_s")
        ex = ex.select(id_col, h.alias("_h"))
        votes = ex.groupBy(id_col).agg(
            *[
                F.sum(
                    F.when(
                        F.expr(f"(shiftright(_h, {b}) & 1) = 1"), 1
                    ).otherwise(-1)
                ).alias(f"_v{b}")
                for b in range(bits)
            ]
        )
        packed = F.expr(
            " + ".join(
                f"(CASE WHEN _v{b} > 0 THEN {1 << b}L ELSE 0L END)"
                for b in range(bits)
            )
        )
        return votes.select(id_col, packed.alias(out))

    return _t


def ngram_jaccard_pairs(
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.6,
    unit: str = "char",
    max_df: int | None = None,
    metric: str = "jaccard",
) -> Callable[[DataFrame], DataFrame]:
    """Exact n-gram Jaccard similar pairs ≥ ``threshold`` — ``unit`` is
    ``'char'`` (substring grams) or ``'token'`` (word-shingle grams,
    identical gram definition to :func:`minhash_near_dedup`, making the
    two operators independent algorithms over the same semantics).

    The scalable exact algorithm — NO all-pairs cross join: distinct
    grams are hashed to longs and exploded, pairs materialize only for
    documents sharing at least one gram (equi-join keyed by gram hash),
    and |A∩B| falls out of a count per pair, so no per-pair array ops
    exist anywhere.  Join mass is Σ df(gram)², so token grams (sparser)
    are strongly preferred at scale; char grams suit short/CJK text.

    Returns ``(id_a, id_b, jaccard)``; jaccard = |∩| / (|A|+|B|-|∩|) is
    an exact int/int division — bit-reproducible against a SQL oracle.

    ``max_df`` (document-frequency cap) drops grams occurring in more
    than ``max_df`` documents from CANDIDATE GENERATION only — the
    standard defense against boilerplate-heavy corpora, where one gram
    in half the corpus alone contributes df² ≈ n²/4 join rows.  With the
    cap, candidate join mass is Σ_{df≤K} df² ≤ K·Σdf, i.e. LINEAR in
    corpus size for a fixed K instead of quadratic in the hottest gram.
    The exact |A∩B| verify still runs over the FULL gram sets, so every
    emitted pair carries the true Jaccard.  Semantics: a pair is emitted
    iff it shares at least one gram with df ≤ max_df AND its exact
    (full-set) Jaccard ≥ threshold — pairs similar ONLY through
    boilerplate grams are deliberately not reported.

    ``metric='containment'`` (r10) scores the ASYMMETRIC overlap
    instead — ``containment_a = |A∩B|/|A|`` and the mirror — emitting
    pairs where EITHER direction ≥ ``threshold``: the subset-duplicate
    detector (a doc quoted inside a larger one, boilerplate + payload,
    chunk re-exports) that symmetric Jaccard structurally dilutes
    (a 100-gram doc inside a 10,000-gram doc has J ≈ 0.01 but
    containment 1.0).  Same candidate machinery, same ``max_df``
    contract; the pre-verify upper bound becomes ``ub/min(|A|,|B|)``
    (still monotone in the intersection).  Returns
    ``(id_a, id_b, containment_a, containment_b)``.
    """
    if unit not in ("char", "token"):
        raise ValueError("unit must be 'char' or 'token'")
    if metric not in ("jaccard", "containment"):
        raise ValueError("metric must be 'jaccard' or 'containment'")

    def _t(df: DataFrame) -> DataFrame:
        c = F.col(text_col)
        if unit == "token":
            grams = F.array_distinct(shingles(tokens(text_col), n))
        else:
            k = F.length(c) - F.lit(n - 1)
            grams = F.when(
                k >= 1,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), k),
                        lambda i: c.substr(i, F.lit(n)),
                    )
                ),
            ).otherwise(F.array().cast("array<string>"))
        # The gram arrays feed the exploded self-join (twice) plus both
        # size lookups; each branch recomputes the gram expression over a
        # column-pruned (id + text) scan instead of caching.  Four pruned
        # scans beat one cache-write + four cache-reads of a
        # larger-than-corpus gram-array intermediate at scale, and the
        # operator leaves no persisted blocks behind (nothing here could
        # ever unpersist them — the returned plan stays lazy).
        base = (
            ensure_parallelism(df, id_col)
            .select(F.col(id_col).alias("_id"), grams.alias("_g"))
            .filter(F.size("_g") > 0)
        )
        # Candidate+count in ONE pass: explode distinct grams (hashed to
        # longs), self-join on gram, count matches per pair = |A∩B|.
        # Cost is sum over grams of df(gram)^2 — cheap codegen rows, no
        # array materialization per pair.  A PPJoin-style prefix filter
        # was measured here and LOST (SCALE.md §4 lesson 5): with a
        # small effective vocabulary (synthetic corpora, heavy
        # boilerplate) even "rare" grams pair most of the corpus, so
        # candidates stay near all-pairs and the prefix pass is pure
        # overhead.  AQE skew-join splits the hot-gram partitions.
        sizes = base.select("_id", F.size("_g").alias("_n"))
        ex = base.select(
            "_id", F.explode("_g").alias("_gram")
        ).select("_id", F.xxhash64("_gram").alias("_h"))
        a = ex.select(F.col("_h"), F.col("_id").alias("id_a"))
        b = ex.select(F.col("_h").alias("_hb"), F.col("_id").alias("id_b"))

        if max_df is not None:
            # Decomposed exact verify — NO candidate-distinct shuffle and
            # NO full-gram-set fanout per candidate (the naive
            # "candidates → re-join both full posting lists" shape
            # measured 3-4× the uncapped operator at sf0.1):
            #
            #   |A∩B| = |A∩B over KEPT grams| + |A∩B over HOT grams|
            #
            # inter_kept is the uncapped count-join restricted to kept
            # grams — join mass Σ_{df≤K} df² ≤ K·Σdf, linear in corpus
            # size; its keys ARE the candidate set (pairs sharing ≥1
            # rare gram).  inter_hot corrects with the shared-hot-gram
            # count per candidate: fanout = hot grams per doc (≤ a
            # handful by construction), never the full gram set.  The
            # lazy localCheckpoint shares the one exploded-gram
            # evaluation across the df-count / kept / hot branches
            # without making the operator eager.
            ex = ex.localCheckpoint(eager=False)
            dfreq = ex.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
            hot = dfreq.filter(F.col("_df") > max_df).select("_h")
            kept = ex.join(hot, "_h", "left_anti")
            ka = kept.select(F.col("_h"), F.col("_id").alias("id_a"))
            kb = kept.select(
                F.col("_h").alias("_hb"), F.col("_id").alias("id_b")
            )
            inter_kept = (
                ka.join(
                    kb,
                    (ka["_h"] == kb["_hb"])
                    & (F.col("id_a") < F.col("id_b")),
                )
                .groupBy("id_a", "id_b")
                .agg(F.count(F.lit(1)).alias("_ik"))
            )
            # Upper-bound prune BEFORE the hot correction: jaccard is
            # monotone in |A∩B| and |A∩B| ≤ ik + min(#hot(a), #hot(b)),
            # so any pair whose bound misses the threshold is dead — on
            # a 10× boilerplate corpus this cuts the hot-correction
            # input from every-rare-gram-sharing pair (~millions) to the
            # actual near-dup candidates (~thousands).  The bound joins
            # against per-doc counts are linear (doc-count-scale sides;
            # AQE broadcasts them at small SF, shuffles at corpus scale).
            hot_ex = ex.join(hot, "_h", "left_semi")
            hot_cnt = hot_ex.groupBy("_id").agg(
                F.count(F.lit(1)).alias("_hc")
            )
            # One per-doc stats table (size + hot-gram count) joined
            # once per pair side — two doc-keyed joins instead of four;
            # at corpus scale each saved join is a doc-count shuffle.
            stats = sizes.join(hot_cnt, "_id", "left").select(
                "_id", "_n", F.coalesce(F.col("_hc"), F.lit(0)).alias("_hc")
            )
            sta = stats.select(
                F.col("_id").alias("id_a"),
                F.col("_n").alias("_bna"),
                F.col("_hc").alias("_hca"),
            )
            stb = stats.select(
                F.col("_id").alias("id_b"),
                F.col("_n").alias("_bnb"),
                F.col("_hc").alias("_hcb"),
            )
            ub = F.col("_ik") + F.least(F.col("_hca"), F.col("_hcb"))
            # metric-specific monotone upper bound on the final score:
            # both are increasing in |A∩B| ≤ ub, so a pair whose bound
            # misses the threshold can never survive the exact verify.
            if metric == "containment":
                bound_ok = (
                    ub.cast("double") / F.least(F.col("_bna"), F.col("_bnb"))
                    >= threshold
                )
            else:
                bound_ok = (
                    ub.cast("double")
                    / (F.col("_bna") + F.col("_bnb") - ub)
                    >= threshold
                )
            cand = (
                inter_kept.join(sta, "id_a")
                .join(stb, "id_b")
                .filter(bound_ok)
                .select("id_a", "id_b", "_ik")
            )
            ha = hot_ex.select(F.col("_h"), F.col("_id").alias("id_a"))
            hb = hot_ex.select(
                F.col("_h").alias("_hb"), F.col("_id").alias("id_b")
            )
            pairs_a = cand.select("id_a", "id_b").join(ha, "id_a")
            inter_hot = (
                pairs_a.join(
                    hb,
                    (pairs_a["id_b"] == hb["id_b"])
                    & (pairs_a["_h"] == hb["_hb"]),
                )
                .groupBy(pairs_a["id_a"], pairs_a["id_b"])
                .agg(F.count(F.lit(1)).alias("_ih"))
            )
            inter = (
                cand.join(inter_hot, ["id_a", "id_b"], "left")
                .withColumn(
                    "_inter",
                    F.col("_ik") + F.coalesce(F.col("_ih"), F.lit(0)),
                )
                .select("id_a", "id_b", "_inter")
            )
        else:
            inter = (
                a.join(
                    b,
                    (a["_h"] == b["_hb"]) & (F.col("id_a") < F.col("id_b")),
                )
                .groupBy("id_a", "id_b")
                .agg(F.count(F.lit(1)).alias("_inter"))
            )
        na = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
        nb = sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
        scored = inter.join(na, "id_a").join(nb, "id_b")
        if metric == "containment":
            # asymmetric overlap: |A∩B|/|A| catches a document CONTAINED
            # in a larger one (quotes, boilerplate-plus-payload, chunk
            # re-exports) that symmetric Jaccard dilutes below any
            # threshold; emitted when EITHER direction clears it.
            ca = F.col("_inter").cast("double") / F.col("_na")
            cb = F.col("_inter").cast("double") / F.col("_nb")
            return (
                scored.withColumn("containment_a", ca)
                .withColumn("containment_b", cb)
                .filter(
                    F.greatest(
                        F.col("containment_a"), F.col("containment_b")
                    )
                    >= threshold
                )
                .select("id_a", "id_b", "containment_a", "containment_b")
            )
        return (
            scored.withColumn(
                "jaccard",
                F.col("_inter").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("_inter")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    return _t


def segment_dedup(
    text_col: str = "text",
    id_col: str = "doc_id",
    segment_tokens: int = 8,
) -> Callable[[DataFrame], DataFrame]:
    """C4-style cross-document SEGMENT dedup: chunk each document into
    fixed ``segment_tokens``-token segments, drop every segment whose
    exact text occurs in more than one document, reassemble the rest in
    order.  (C4 removes any three-sentence span occurring twice in the
    corpus; the fixed-token chunk is the sentence-free analogue for
    corpora without sentence structure.)

    Output: ``(id_col, clean_text, n_kept, n_dropped)`` — one row per
    document that produced at least one token; ``clean_text`` is ''
    when every segment was boilerplate.

    Shape at scale: one tokenize+explode, a (doc, segment) aggregation,
    a segment-frequency aggregation, one equi-join keyed by segment
    text, and a per-doc reassembly — all AQE-managed hash shuffles, no
    windows over the corpus, no driver actions.  Hot boilerplate
    segments skew the frequency agg's key space exactly like hot grams
    in ngram_jaccard_pairs; the same AQE skew-join handling applies.
    """

    def _t(df: DataFrame) -> DataFrame:
        tok_rows = ensure_parallelism(df, id_col).select(
            F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok")
        )
        segs = (
            tok_rows.withColumn(
                "seg_no", F.expr(f"pos div {int(segment_tokens)}")
            )
            .groupBy(id_col, "seg_no")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"],
                    ),
                    " ",
                ).alias("seg")
            )
        )
        counts = segs.groupBy("seg").agg(
            F.count_distinct(id_col).alias("_nd")
        )
        kept = segs.join(counts, "seg").filter(F.col("_nd") == 1)
        per_doc = kept.groupBy(id_col).agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg_no", "seg"))),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("_nk"),
        )
        totals = segs.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("_nt")
        )
        return totals.join(per_doc, id_col, "left").select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("_nk"), F.lit(0).cast("long")).alias("n_kept"),
            (
                F.col("_nt") - F.coalesce(F.col("_nk"), F.lit(0).cast("long"))
            ).alias("n_dropped"),
        )

    return _t


def decontaminate(
    eval_filter: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 8,
) -> Callable[[DataFrame], DataFrame]:
    """Benchmark decontamination: flag corpus documents sharing at least
    one ``shingle_n``-token shingle with the held-out/eval subset
    (``eval_filter`` selects the eval rows INSIDE the same DataFrame).

    Returns ``(id_col, n_shared_shingles)`` for contaminated non-eval
    documents only — the standard n-gram-overlap test used before
    training-set release.

    Shape at scale: both sides reduce to distinct shingle sets before
    the equi-join keyed by shingle text; the eval side is typically
    benchmark-sized, so Catalyst broadcasts it and the corpus side
    never shuffles its full text — only matched (doc, shingle) pairs
    reach the final count.
    """

    def _t(df: DataFrame) -> DataFrame:
        g = ensure_parallelism(df, id_col).select(
            F.col(id_col),
            eval_filter.alias("_is_eval"),
            F.explode(
                F.array_distinct(shingles(tokens(text_col), shingle_n))
            ).alias("gram"),
        )
        eval_grams = g.filter(F.col("_is_eval")).select("gram").distinct()
        return (
            g.filter(~F.col("_is_eval"))
            .join(eval_grams, "gram")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
        )

    return _t


def hamming_near_pairs(
    id_col: str,
    band_cols: Sequence[str],
    max_hamming: int,
) -> Callable[[DataFrame], DataFrame]:
    """Hamming-≤k near-duplicate pairs over a banded fingerprint —
    the band-bucket LSH self-join generalized to ANY fingerprint split
    into equal-width integer words (dHash's four 16-bit words, a
    SimHash split, …).  Returns ``(id_a, id_b, hamming)``,
    ``id_a < id_b``.

    EXACT (pruning-only) when ``max_hamming < len(band_cols)``: a pair
    within k bit flips cannot differ in all ``b > k`` bands
    (pigeonhole), so bucketing on each band key proposes every
    qualifying pair — the same no-false-negative structure the geo grid
    join relies on, provable by a brute-force oracle.  Beyond that the
    banding is a recall<1 LSH like MinHash.

    Shuffles: ONE candidate self-join keyed by (band index, band value)
    — join mass Σ bucket² per band, bounded by fingerprint entropy, not
    corpus² — plus the pair distinct.  Each melt row carries its own
    full word set, so the Hamming verify needs NO join-back to the
    fingerprint table (the 3×-worse join-back trap measured for ranks,
    SCALE.md §8).  An exact-duplicate class of size m necessarily emits
    m(m−1)/2 pairs — output-bound, like every exact pair semantics;
    cluster with connected components downstream rather than listing
    pairs when classes are huge.
    """
    bands = list(band_cols)
    if not bands:
        raise ValueError("band_cols must be non-empty")

    def _t(df: DataFrame) -> DataFrame:
        melt = df.select(
            F.col(id_col),
            *[F.col(b) for b in bands],
            F.posexplode(F.array(*bands)).alias("_bi", "_bv"),
        ).filter(F.col("_bv").isNotNull())
        a, b = melt.alias("_a"), melt.alias("_b")
        ham = None
        for w in bands:
            t = F.expr(f"bit_count(_a.{w} ^ _b.{w})")
            ham = t if ham is None else ham + t
        return (
            a.join(
                b,
                (F.col("_a._bi") == F.col("_b._bi"))
                & (F.col("_a._bv") == F.col("_b._bv"))
                & (F.col(f"_a.{id_col}") < F.col(f"_b.{id_col}")),
            )
            .select(
                F.col(f"_a.{id_col}").alias("id_a"),
                F.col(f"_b.{id_col}").alias("id_b"),
                ham.alias("hamming"),
            )
            .filter(F.col("hamming") <= F.lit(max_hamming))
            .distinct()
        )

    return _t

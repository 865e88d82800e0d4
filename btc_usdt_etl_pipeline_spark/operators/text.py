"""Text analysis operators for training-data pipelines (north star §2B).

All pure column expressions (JVM-side, codegen-friendly): language ID by
stopword-hit ratio, quality scoring, token counting (whitespace + a
BPE-ish regex), and rolling-hash document fingerprinting.  Designed to run
as a single projection pass over a 100 TB ``documents`` table — no
shuffles, no UDFs, fully pushdown-friendly.
"""

from __future__ import annotations

from typing import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.functions import join_groups
from btc_usdt_etl_pipeline_spark.operators.dedup import shingles, tokens
from btc_usdt_etl_pipeline_spark.operators.relational import top_k_per_group

#: Tiny per-language stopword lists for the n-gram/stopword-hit heuristic.
#: (Real deployments swap in a fastText-style model — not in this container.)
STOPWORDS: Mapping[str, Sequence[str]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "for", "on", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für"),
    "fr": ("le", "la", "les", "et", "est", "pas", "un", "une", "pour", "dans"),
    "es": ("el", "la", "los", "y", "es", "no", "un", "una", "para", "en"),
}

#: BPE-ish token regex: word pieces, numbers, or single non-space symbols —
#: a public approximation of GPT-2-style pre-tokenization.
BPE_ISH_PATTERN = r"\p{L}+|\p{N}+|[^\s\p{L}\p{N}]"


def whitespace_token_count(col: Column | str) -> Column:
    return F.size(tokens(col, lowercase=False))


def bpe_ish_token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.filter(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0), lambda t: t != "")
    )


def stopword_hits(col: Column | str, lang: str) -> Column:
    """Count of tokens that are stopwords of ``lang``."""
    tok = tokens(col)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tok, lambda t: F.array_contains(sw, t)))


def language_id(
    col: Column | str, langs: Sequence[str] = ("en", "de", "fr", "es")
) -> Column:
    """Pick the language whose stopword list hits most tokens; 'und'
    (undetermined) when nothing hits."""
    scored = F.array(
        *[
            F.struct(
                stopword_hits(col, lang).alias("hits"), F.lit(lang).alias("lang")
            )
            for lang in langs
        ]
    )
    best = F.array_max(scored)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_features(
    text_col: str = "text",
) -> Callable[[DataFrame], DataFrame]:
    """Standard quality-filter features: length, token stats, punctuation /
    alpha / stopword ratios, mean token length — one projection pass."""

    def _t(df: DataFrame) -> DataFrame:
        c = F.col(text_col)
        tok = tokens(text_col, lowercase=False)
        n_chars = F.length(c)
        n_tokens = F.size(tok)
        n_alpha = F.length(F.regexp_replace(c, r"[^\p{L}]", ""))
        n_punct = F.length(F.regexp_replace(c, r"[^\p{P}]", ""))
        en_sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
        n_stop = F.size(
            F.filter(tokens(text_col), lambda t: F.array_contains(en_sw, t))
        )
        return (
            df.withColumn("n_chars_calc", n_chars.cast("long"))
            .withColumn("n_tokens", n_tokens.cast("long"))
            .withColumn(
                "mean_token_len",
                F.when(
                    n_tokens > 0,
                    (n_chars - (n_tokens - 1)).cast("double") / n_tokens,
                ),
            )
            .withColumn(
                "alpha_ratio",
                n_alpha.cast("double") / F.greatest(n_chars, F.lit(1)),
            )
            .withColumn(
                "punct_ratio",
                n_punct.cast("double") / F.greatest(n_chars, F.lit(1)),
            )
            .withColumn(
                "stopword_ratio",
                n_stop.cast("double") / F.greatest(n_tokens, F.lit(1)),
            )
        )

    return _t


def fingerprint(
    text_col: str = "text", out: str = "fingerprint"
) -> Callable[[DataFrame], DataFrame]:
    """64-bit content fingerprint: xxhash64 over the normalized token
    stream (case/punct/whitespace-insensitive exact-dup key)."""

    def _t(df: DataFrame) -> DataFrame:
        return df.withColumn(
            out, F.xxhash64(F.array_join(tokens(text_col), " "))
        )

    return _t


def bigram_lm_score(
    text_col: str = "text",
    id_col: str = "doc_id",
) -> Callable[[DataFrame], DataFrame]:
    """Corpus-trained bigram language-model scoring — the CCNet/KenLM
    perplexity-filter shape with the LM trained ON the corpus itself
    (no external model): per document, the mean add-one-smoothed bigram
    log-probability ``avg_lp = mean ln((C₂(w₁w₂)+1)/(C₁(w₁)+V))`` and
    its perplexity proxy ``ppl = exp(−avg_lp)``.  Boilerplate-like
    documents made of corpus-frequent bigrams score high (low ppl);
    rare/garbled ones score low — the standard quality-filter signal.

    Count tables come from ONE bigram explode: ``C₂`` is the bigram
    groupBy and ``C₁`` (context counts) aggregates ``C₂`` by first
    word — vocabulary-sized, never corpus-sized.  ``V`` is an in-plan
    1-row distinct-token count attached via a constant-key broadcast
    hash join (no driver action, no nested-loop cross join).
    Cross-engine float parity: every per-bigram term is a ratio of
    exact integer counts (identical doubles) through ``ln`` (identical
    libm values), summed order-free via the per-term decimal cast.

    Scale shape: two shuffles over bigram-keyed data (explode-groupBy
    and the score join), one vocabulary-sized aggregate, one
    countDistinct pass; no UDFs, no driver loops.  Docs with fewer
    than 2 tokens have no bigrams and drop out (inner semantics).
    """

    def _t(df: DataFrame) -> DataFrame:
        tok = tokens(text_col)
        b = df.select(
            F.col(id_col), F.explode(shingles(tok, 2)).alias("_bg")
        ).withColumn("_w1", F.split("_bg", " ")[0])
        c2 = b.groupBy("_bg").agg(F.count(F.lit(1)).alias("_c2"))
        c1 = c2.groupBy(
            F.split("_bg", " ")[0].alias("_w1c")
        ).agg(F.sum("_c2").alias("_c1"))
        v = df.select(F.explode(tok).alias("_tk")).agg(
            F.countDistinct("_tk").alias("_v")
        )
        term = F.log(
            (F.col("_c2") + F.lit(1)).cast("double")
            / (F.col("_c1") + F.col("_v")).cast("double")
        ).cast("decimal(38,12)")
        n = F.count(F.lit(1)).alias("n_bigrams")
        from btc_usdt_etl_pipeline_spark.functions import attach_scalar

        scored = attach_scalar(
            b.join(c2, "_bg").join(c1, F.col("_w1") == F.col("_w1c")),
            v,
            F.col("_c2"),
            F.col("_v"),
        )
        return (
            scored.groupBy(id_col)
            .agg(n, F.sum(term).alias("_slp"))
            .select(
                id_col,
                "n_bigrams",
                (
                    F.col("_slp").cast("double")
                    / F.col("n_bigrams").cast("double")
                ).alias("avg_lp"),
            )
            .withColumn("ppl", F.exp(-F.col("avg_lp")))
        )

    return _t


def bm25_top_k(
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> Callable[[DataFrame], DataFrame]:
    """BM25 keyword retrieval: top-``k`` documents for one term set —
    the classic lexical-search ranking (Robertson/Spärck Jones), which
    a training-data pipeline uses for targeted corpus slicing and
    RAG-style retrieval baselines.

    ``score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))``
    with ``idf(t) = ln(1 + (N−df+0.5)/(df+0.5))``.

    Plan shape (all corpus-scale stages shuffle once, keyed by doc):
    the exploded token stream is filtered to the query terms BEFORE any
    shuffle (a |terms|-element IN over the explode — Catalyst pushes it
    into the generate), so the tf table is |matching docs|×|terms| at
    most; doc lengths ride a second column-pruned pass; N/avgdl attach
    as an in-plan 1-row broadcast (``attach_scalar``); df(t) is a
    |terms|-row broadcast.  The final top-k is ``orderBy().limit(k)``
    — a distributed ``TakeOrderedAndProject``, never a corpus-wide
    unkeyed window — with ``rnk`` re-derived over the k rows.

    Cross-engine float parity follows the bigram-LM recipe: every
    per-term score is arithmetic on exact integer counts (identical
    doubles through ``ln``), summed order-free via a
    ``decimal(38,12)`` cast; the reported score is rounded to 4dp.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted(set(t.lower() for t in query_terms))
    k1_plus_1 = k1 + 1.0
    one_minus_b = 1.0 - b

    def _t(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        from btc_usdt_etl_pipeline_spark.functions import attach_scalar

        tok = tokens(text_col)
        dl = df.select(
            F.col(id_col), F.size(tok).cast("long").alias("dl")
        )
        tf = (
            df.select(F.col(id_col), F.explode(tok).alias("_term"))
            .filter(F.col("_term").isin(*terms))
            .groupBy(id_col, "_term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        dfreq = tf.groupBy("_term").agg(
            F.count(F.lit(1)).cast("double").alias("_df")
        )
        stats = dl.agg(
            F.count(F.lit(1)).cast("double").alias("_n"),
            (
                F.sum("dl").cast("double") / F.count(F.lit(1))
            ).alias("_avgdl"),
        )
        scored = attach_scalar(
            tf.join(F.broadcast(dfreq), "_term").join(dl, id_col),
            stats,
            F.col("tf"),
            F.col("_n"),
        )
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n") - F.col("_df") + F.lit(0.5))
            / (F.col("_df") + F.lit(0.5))
        )
        num = F.col("tf").cast("double") * F.lit(k1_plus_1)
        denom = F.col("tf").cast("double") + F.lit(k1) * (
            F.lit(one_minus_b)
            + F.lit(b) * F.col("dl").cast("double") / F.col("_avgdl")
        )
        term_score = (idf * num / denom).cast("decimal(38,12)")
        agg = (
            scored.groupBy(id_col)
            .agg(F.sum(term_score).alias("_s"))
            .select(
                F.col(id_col),
                F.round(F.col("_s").cast("double"), 4).alias("score"),
            )
        )
        topk = agg.orderBy(F.desc("score"), F.col(id_col)).limit(k)
        w = Window.orderBy(F.desc("score"), F.col(id_col))
        return topk.select(
            id_col, "score", F.row_number().over(w).alias("rnk")
        )

    return _t


def pmi_collocations(
    k: int = 20,
    min_count: int = 10,
    text_col: str = "text",
) -> Callable[[DataFrame], DataFrame]:
    """Top-``k`` bigram collocations by pointwise mutual information —
    the classic corpus-statistics pass (phrase mining, tokenizer-merge
    candidates, boilerplate discovery):

    ``pmi(w1,w2) = ln( (c12/Nb) / ((c1/Nu)·(c2/Nu)) )``

    with ``c12`` the bigram count, ``c1``/``c2`` unigram counts, ``Nb``
    / ``Nu`` the corpus bigram/unigram totals.  ``min_count`` prunes
    the long tail BEFORE the unigram joins (rare bigrams have noisy,
    inflated PMI — and they are the bulk of the vocabulary, so the
    filter is also what keeps the join mass bounded at corpus scale).

    Plan: one bigram explode-groupBy and one unigram explode-groupBy
    (both vocabulary-sized after aggregation), two equi-joins keyed by
    word (vocab-scale shuffles, never corpus-scale), totals attached as
    in-plan 1-row broadcasts, and a distributed
    ``orderBy().limit(k)`` top-k.  Every PMI input is an exact integer
    count, so both engines evaluate ln on identical doubles; ties
    break on the bigram string.
    """

    def _t(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        from btc_usdt_etl_pipeline_spark.functions import attach_scalar

        tok = tokens(text_col)
        uni = df.select(F.explode(tok).alias("_w")).groupBy("_w").agg(
            F.count(F.lit(1)).alias("_cw")
        )
        bi = (
            df.select(F.explode(shingles(tok, 2)).alias("_bg"))
            .groupBy("_bg")
            .agg(F.count(F.lit(1)).alias("c12"))
            .filter(F.col("c12") >= min_count)
            .withColumn("_w1", F.split("_bg", " ")[0])
            .withColumn("_w2", F.split("_bg", " ")[1])
        )
        nu = uni.agg(F.sum("_cw").cast("double").alias("_nu"))
        nb = df.select(
            F.size(shingles(tok, 2)).alias("_nbg")
        ).agg(F.sum("_nbg").cast("double").alias("_nb"))
        joined = (
            bi.join(
                uni.select(
                    F.col("_w").alias("_w1"), F.col("_cw").alias("c1")
                ),
                "_w1",
            )
            .join(
                uni.select(
                    F.col("_w").alias("_w2"), F.col("_cw").alias("c2")
                ),
                "_w2",
            )
        )
        joined = attach_scalar(joined, nu, F.col("c12"), F.col("_nu"))
        joined = attach_scalar(joined, nb, F.col("c12"), F.col("_nb"))
        pmi = F.log(
            (F.col("c12").cast("double") / F.col("_nb"))
            / (
                (F.col("c1").cast("double") / F.col("_nu"))
                * (F.col("c2").cast("double") / F.col("_nu"))
            )
        )
        scored = joined.select(
            F.col("_bg").alias("bigram"),
            "c12",
            "c1",
            "c2",
            F.round(pmi, 6).alias("pmi"),
        )
        topk = scored.orderBy(F.desc("pmi"), F.col("bigram")).limit(k)
        w = Window.orderBy(F.desc("pmi"), F.col("bigram"))
        return topk.select(
            "bigram", "c12", "c1", "c2", "pmi",
            F.row_number().over(w).alias("rnk"),
        )

    return _t


def vocab_drift(
    group_col: str = "source",
    text_col: str = "text",
) -> Callable[[DataFrame], DataFrame]:
    """Per-group vocabulary drift: add-one-smoothed KL divergence of
    each group's token distribution against the whole corpus —
    ``KL(P_g ‖ P_c) = Σ_t p_g(t)·ln(p_g(t)/p_c(t))`` with
    ``p_g(t) = (c_g(t)+1)/(N_g+V)`` over the union vocabulary — the
    standard distribution-shift monitor for training mixes (a source
    whose vocabulary drifts from the corpus mix gets a rising KL).

    Shape: one token explode feeding both the (group, token) counts
    and the corpus counts; the union-vocabulary sum needs a term for
    EVERY (group, token) pair including absent ones (smoothing gives
    them mass), so the vocab table cross-joins the |groups|-row group
    list (broadcast — vocab × groups rows, never corpus-scale) and
    left-joins the group counts.  Scalars (V, per-group N, corpus N)
    ride broadcast joins; per-term values are exact-integer-count
    arithmetic through ``ln``, summed order-free via decimal(38,12).
    """

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.functions import attach_scalar

        tok = tokens(text_col)
        pairs = df.select(
            F.col(group_col).alias("_g"), F.explode(tok).alias("_w")
        )
        gcounts = pairs.groupBy("_g", "_w").agg(
            F.count(F.lit(1)).alias("_cg")
        )
        ccounts = gcounts.groupBy("_w").agg(F.sum("_cg").alias("_cc"))
        gtotals = gcounts.groupBy("_g").agg(F.sum("_cg").alias("_ng"))
        vocab_n = ccounts.agg(
            F.count(F.lit(1)).cast("long").alias("_v"),
            F.sum("_cc").cast("long").alias("_nc"),
        )
        grid = (
            ccounts.crossJoin(F.broadcast(gtotals))
            .join(gcounts, ["_g", "_w"], "left")
            .withColumn("_cg", F.coalesce("_cg", F.lit(0)))
        )
        grid = attach_scalar(grid, vocab_n, F.col("_cc"), F.col("_v"))
        pg = (F.col("_cg") + F.lit(1)).cast("double") / (
            F.col("_ng") + F.col("_v")
        ).cast("double")
        pc = (F.col("_cc") + F.lit(1)).cast("double") / (
            F.col("_nc") + F.col("_v")
        ).cast("double")
        term = (pg * F.log(pg / pc)).cast("decimal(38,12)")
        return (
            grid.groupBy("_g")
            .agg(
                F.max("_ng").alias("n_tokens"),
                F.sum(F.when(F.col("_cg") > 0, 1).otherwise(0)).alias(
                    "vocab_used"
                ),
                F.round(F.sum(term).cast("double"), 6).alias("kl_r"),
            )
            .select(
                F.col("_g").alias(group_col),
                "n_tokens",
                "vocab_used",
                "kl_r",
            )
        )

    return _t


def chunk_documents(
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 32,
    stride: int = 24,
) -> Callable[[DataFrame], DataFrame]:
    """Overlapping token-window chunking (the RAG / context-window prep
    step): chunk ``k`` covers token positions ``[k·stride,
    k·stride + chunk_tokens)``, so consecutive chunks overlap by
    ``chunk_tokens − stride`` tokens.

    Plan shape (the lesson-9-safe construction): tokens explode ONCE
    with their position, each token fans out to the ≤⌈chunk/stride⌉
    chunks that cover it via a tiny ``sequence`` (arithmetic on the
    position — no captured computed arrays), and chunks reassemble with
    one groupBy over (id, chunk) using an order-insensitive
    ``sort_array(collect_list(struct(pos, tok)))``.  One explode + one
    shuffle regardless of document length; fan-out is bounded by the
    overlap factor, not the chunk size.

    Emits ``(id, chunk_no, start_tok, n_tok, chunk_text)``; the final
    partial chunk is kept (standard practice — it still carries
    ``stride`` fresh tokens).
    """
    if not (0 < stride <= chunk_tokens):
        raise ValueError("need 0 < stride <= chunk_tokens")

    def _t(df: DataFrame) -> DataFrame:
        tok = df.select(
            F.col(id_col),
            F.posexplode(tokens(text_col)).alias("_pos", "_tok"),
        )
        # Chunk ids covering position p: ceil((p-chunk+1)/stride) ≤ k
        # ≤ floor(p/stride), clamped at 0.  ≤2 values at the default
        # 32/24 geometry.
        k_lo = F.greatest(
            F.lit(0),
            -F.floor(
                (F.lit(chunk_tokens - 1) - F.col("_pos")) / F.lit(stride)
            ).cast("long"),
        )
        k_hi = F.floor(F.col("_pos") / F.lit(stride)).cast("long")
        fan = tok.select(
            id_col,
            "_pos",
            "_tok",
            F.explode(F.sequence(k_lo, k_hi)).alias("chunk_no"),
        )
        return (
            fan.groupBy(id_col, "chunk_no")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("_pos", "_tok"))
                ).alias("_ordered")
            )
            .select(
                id_col,
                "chunk_no",
                (F.col("chunk_no") * F.lit(stride)).alias("start_tok"),
                F.size("_ordered").cast("long").alias("n_tok"),
                F.array_join(
                    F.transform(F.col("_ordered"), lambda s: s["_tok"]),
                    " ",
                ).alias("chunk_text"),
            )
        )

    return _t


#: PII classes as (name, regex, placeholder), applied IN ORDER — emails
#: first so their digit runs can't be re-matched as phones/IPs.  Patterns
#: use only syntax with identical semantics in Java regex (Spark) and RE2
#: (DuckDB): ASCII classes, bounded repetition, word boundaries.
PII_PATTERNS: Sequence[tuple[str, str, str]] = (
    (
        "email",
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "<EMAIL>",
    ),
    (
        "phone",
        r"(?:\+?[0-9]{1,2}[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b",
        "<PHONE>",
    ),
    (
        "ipv4",
        r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
        "<IP>",
    ),
)


def pii_redact(
    text_col: str = "text",
    out: str = "redacted",
    patterns: Sequence[tuple[str, str, str]] = PII_PATTERNS,
) -> Callable[[DataFrame], DataFrame]:
    """PII scrubbing (Dolma/RedPajama-style rule pass): count and mask
    emails / phone numbers / IPv4 addresses with typed placeholders.

    Adds one ``n_<class>`` count column per class plus ``out`` — the
    text with every match replaced by its placeholder, classes applied
    in :data:`PII_PATTERNS` order so earlier redactions can't be
    re-matched by later, looser patterns.

    Scale shape: a single projection pass — JVM ``regexp_count`` /
    ``regexp_replace`` expressions, no shuffle, no UDF; column pruning
    and predicate pushdown pass straight through.  At 100 TB this
    pipelines with the scan.
    """

    def _t(df: DataFrame) -> DataFrame:
        red = F.col(text_col)
        for name, pat, placeholder in patterns:
            df = df.withColumn(
                f"n_{name}", F.regexp_count(red, F.lit(pat)).cast("long")
            )
            red = F.regexp_replace(red, pat, placeholder)
        return df.withColumn(out, red)

    return _t


def fuzzy_self_join_ed1(
    text_col: str,
    id_col: str,
) -> "Callable[[DataFrame], DataFrame]":
    """Exact edit-distance-≤1 self-join via SymSpell deletion
    neighborhoods — no all-pairs comparison.

    Each string generates itself plus its |s| single-character
    deletions; any two strings within edit distance 1 (substitution,
    insertion, deletion) share at least one variant, so the variant
    equi-join is a COMPLETE candidate generator and ``levenshtein``
    verifies collisions only.  Join mass is Σ df(variant)² — the scale
    shape for fuzzy matching (hot variants skew like hot grams; AQE
    skew-join applies).

    Returns ``(id_a, id_b, edit_distance)`` with ``id_a < id_b``.
    """

    def deletions(col):
        return F.transform(
            F.sequence(F.lit(1), F.length(col)),
            lambda i: F.concat(
                col.substr(F.lit(1), i - 1),
                col.substr(i + 1, F.length(col) - i),
            ),
        )

    def _t(df: DataFrame) -> DataFrame:
        s = df.select(F.col(id_col), F.col(text_col))
        ex = s.select(
            id_col,
            F.explode(
                F.array_distinct(
                    F.array_union(
                        F.array(F.col(text_col)),
                        deletions(F.col(text_col)),
                    )
                )
            ).alias("_v"),
        )
        a = ex.select(F.col(id_col).alias("id_a"), "_v")
        b = ex.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"))
        cand = (
            a.join(
                b, (a["_v"] == b["_vb"]) & (F.col("id_a") < F.col("id_b"))
            )
            .select("id_a", "id_b")
            .distinct()
        )
        na = s.select(
            F.col(id_col).alias("id_a"), F.col(text_col).alias("_na")
        )
        nb = s.select(
            F.col(id_col).alias("id_b"), F.col(text_col).alias("_nb")
        )
        return (
            cand.join(na, "id_a")
            .join(nb, "id_b")
            .withColumn(
                "edit_distance", F.levenshtein("_na", "_nb").cast("long")
            )
            .filter(F.col("edit_distance") <= 1)
            .select("id_a", "id_b", "edit_distance")
        )

    return _t


def winnow_fingerprints(
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
    portable: bool = False,
) -> Callable[[DataFrame], DataFrame]:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every token ``k``-gram, slide
    a window of ``window`` consecutive hashes, select each window's
    MINIMUM hash (rightmost position on ties), and deduplicate the
    selections.  Guarantees: any shared substring of at least
    ``k + window - 1`` tokens between two documents shares at least one
    selected fingerprint, and ~``2/(window+1)`` of grams are selected —
    the density/guarantee trade every copy-detection pipeline tunes.
    Fingerprint matches across documents localize SHARED SPANS (which
    positions were copied), which whole-document MinHash cannot.

    Plan: posexplode of the shared gram definition (same ``tokens`` →
    ``shingles`` as the dedup family), then ONE window keyed by
    ``id_col`` — parallel across documents, no self-join, no unkeyed
    stage.  The (hash, rightmost-tie) selection is a single ``MIN``
    over a PACKED key: ``h40·2^20 + (2^20−1−pos)`` — minimizing it
    minimizes the 40-bit hash and, among equal hashes, maximizes the
    position.  All-integer, so a SQL oracle replays selection exactly
    with a plain windowed MIN.  The packing caps documents at 2^20
    grams (~1M tokens); longer documents should be chunked first
    (``chunk_documents``), which is standard MOSS practice anyway.

    ``portable=True`` derives the 40-bit hash from md5
    (oracle-replayable); default is xxhash64 (see SCALE.md §7 on the
    md5 tax).  Returns ``(id, fp_pos, fp_hash)`` — one row per selected
    fingerprint.
    """
    if k < 1 or window < 1:
        raise ValueError("k and window must be >= 1")
    POS_CAP = 1 << 20
    H_MOD = 1 << 40

    def _t(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        from btc_usdt_etl_pipeline_spark.operators.dedup import (
            portable_hash60,
        )

        base = df.select(
            F.col(id_col),
            shingles(tokens(text_col), k).alias("_g"),
        ).filter(F.size("_g") >= window)
        ex = base.select(
            id_col,
            F.size("_g").alias("_n"),
            F.posexplode("_g").alias("_pos", "_s"),
        )
        h = (
            portable_hash60(F.col("_s")) % F.lit(H_MOD)
            if portable
            else F.pmod(F.xxhash64("_s"), F.lit(H_MOD))
        )
        packed = h * F.lit(POS_CAP) + (
            F.lit(POS_CAP - 1) - F.col("_pos")
        )
        w = (
            Window.partitionBy(id_col)
            .orderBy("_pos")
            .rowsBetween(0, window - 1)
        )
        sel = (
            ex.select(
                id_col,
                "_n",
                "_pos",
                packed.alias("_packed"),
            )
            .withColumn("_sel", F.min("_packed").over(w))
            # only COMPLETE windows select (positions past n-window have
            # fewer than `window` hashes in frame)
            .filter(F.col("_pos") <= F.col("_n") - window)
            .select(id_col, F.col("_sel"))
            .distinct()
        )
        return sel.select(
            id_col,
            (F.lit(POS_CAP - 1) - F.pmod("_sel", F.lit(POS_CAP))).alias(
                "fp_pos"
            ),
            F.expr(f"_sel DIV {POS_CAP}").alias("fp_hash"),
        )

    return _t


def winnow_match_pairs(
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = 50,
    portable: bool = False,
) -> Callable[[DataFrame], DataFrame]:
    """Copy-detection pairs from winnowing fingerprints — the match
    stage of MOSS: documents sharing at least ``min_shared`` selected
    fingerprint HASHES are reported with their shared count (a direct
    proxy for total copied-span length, since selection density is
    ~2/(window+1) of grams).

    Plan: :func:`winnow_fingerprints` → distinct (doc, hash) →
    document-frequency cap (``max_fp_df``, same boilerplate fence as
    the n-gram Jaccard ``max_df``: one viral footer shared by the whole
    corpus would otherwise put Σdf² pairs through the join; grams that
    common are boilerplate, not plagiarism) → equi-self-join keyed by
    fingerprint hash → pair count.  Shuffles only by hash and by pair —
    candidate mass is capped at ``max_fp_df``·Σdf, corpus-shape
    independent.  Returns ``(id_a, id_b, n_shared)`` with
    ``id_a < id_b``.
    """
    if min_shared < 1:
        raise ValueError("min_shared must be >= 1")
    if max_fp_df is not None and max_fp_df < 2:
        raise ValueError("max_fp_df must be >= 2 (or None)")

    def _t(df: DataFrame) -> DataFrame:
        fps = (
            df.transform(
                winnow_fingerprints(
                    text_col, id_col, k=k, window=window,
                    portable=portable,
                )
            )
            .select(F.col(id_col).alias("_id"), "fp_hash")
            .distinct()
        )
        if max_fp_df is not None:
            dfc = fps.groupBy("fp_hash").agg(
                F.count(F.lit(1)).alias("_df")
            )
            fps = (
                fps.join(dfc, "fp_hash")
                .filter(F.col("_df") <= max_fp_df)
                .drop("_df")
            )
        a = fps.select(F.col("_id").alias("id_a"), "fp_hash")
        b = fps.select(F.col("_id").alias("id_b"), "fp_hash")
        return (
            a.join(b, "fp_hash")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
        )

    return _t


def normalize_text(
    text_col: str = "text",
    out: str = "text_norm",
    form: str = "NFC",
    strip_formats: bool = True,
    collapse_ws: bool = True,
) -> Callable[[DataFrame], DataFrame]:
    """Unicode text normalization — the first pass of every LLM data
    pipeline: canonical composition (``form``: NFC/NFKC/NFD/NFKD), then
    control/format-character stripping (zero-width spaces, BOMs,
    bidi marks — the classic dedup/tokenizer poison), then whitespace
    collapse + trim.

    The normalization itself is an Arrow-batched pandas UDF
    (``unicodedata`` — Spark SQL has no Unicode-normalization builtin;
    this is the sanctioned Python-kernel case, same stance as the
    multimodal decode), while the strip/collapse steps stay JVM-side
    codegen regexes, so the Python surface is exactly one
    vectorized str→str map.  Order is fixed at normalize → strip →
    collapse: composition can CREATE precomposed characters whose
    combining marks would otherwise survive a pre-normalize strip.

    Oracle story: DuckDB's ``nfc_normalize`` implements the same UAX#15
    NFC as Python's ``unicodedata`` (probed: combining-acute 'e'+U+0301
    → U+00E9 on both), so q159 replays the full pass.
    """
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError("form must be NFC | NFKC | NFD | NFKD")

    def _t(df: DataFrame) -> DataFrame:
        import pandas as pd  # noqa: F401

        @F.pandas_udf("string")
        def _norm(s):  # type: ignore[no-untyped-def]
            import unicodedata

            return s.map(
                lambda x: None
                if x is None
                else unicodedata.normalize(form, x)
            )

        c = _norm(F.col(text_col))
        if strip_formats:
            # Cc minus \t\n\r (keep layout whitespace for the collapse
            # step to see), plus all of Cf (ZWSP/BOM/bidi)
            c = F.regexp_replace(
                c, r"[\p{Cf}\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", ""
            )
        if collapse_ws:
            c = F.trim(F.regexp_replace(c, r"\s+", " "))
        return df.withColumn(out, c)

    return _t


def resolve_entities(
    id_col: str,
    name_col: str,
) -> "Callable[[DataFrame], DataFrame]":
    """Entity resolution over near-identical names: block → score →
    cluster → survivorship, the record-linkage pipeline (Fellegi &
    Sunter JASA'69 shape, deterministic rules).

    Pipeline: exact edit-distance-≤1 match pairs from the SymSpell
    deletion-neighborhood join (:func:`fuzzy_self_join_ed1` — Σdf²
    candidate mass, never n²), transitive closure via min-label
    connected components (typo CHAINS a~b~c collapse into one entity),
    then survivorship: each entity's canonical record is its
    lexicographically smallest ``(name, id)`` member — a total,
    content-deterministic rule an oracle replays as a struct-min.

    Returns one row per input record:
    ``(record_id, name, entity_id, canonical_name, n_members)`` with
    ``entity_id`` = min member id.  Singletons are their own entity.
    Shuffle inventory: the variant join, one component loop over the
    (pair-scale, not record-scale) edge list, and two entity-keyed
    aggregation/join exchanges.
    """

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.operators.graph import (
            connected_components,
        )

        recs = df.select(
            F.col(id_col).alias("record_id"),
            F.col(name_col).alias("name"),
        )
        pairs = df.transform(
            fuzzy_self_join_ed1(text_col=name_col, id_col=id_col)
        ).select("id_a", "id_b")
        comp = connected_components(pairs).select(
            F.col("node").alias("record_id"),
            F.col("component").alias("entity_id"),
        )
        assigned = recs.join(comp, "record_id", "left").select(
            "record_id",
            "name",
            F.coalesce(F.col("entity_id"), F.col("record_id")).alias(
                "entity_id"
            ),
        )
        surv = assigned.groupBy("entity_id").agg(
            F.min(F.struct("name", "record_id")).alias("_s"),
            F.count(F.lit(1)).alias("n_members"),
        )
        return assigned.join(surv, "entity_id").select(
            "record_id",
            "name",
            "entity_id",
            F.col("_s.name").alias("canonical_name"),
            F.col("n_members").cast("long").alias("n_members"),
        )

    return _t


def keyness_g2(
    text_col: str = "text",
    group_col: str = "source",
    min_count: int = 5,
    top_k: int = 10,
) -> Callable[[DataFrame], DataFrame]:
    """Log-likelihood (G²) keyness: which tokens are most
    over/under-represented in each corpus slice vs the rest (Dunning
    1993 / Rayson-Garside 2000) — the standard corpus-comparison
    statistic for spotting what makes one source's language distinctive
    (and, in a training-data pipeline, for flagging contamination or
    template boilerplate concentrated in one slice).

    For token t in slice s: a = count(t in s), b = count(t elsewhere),
    expected E_a = tot(t)·N_s/N, E_b = tot(t)·(N−N_s)/N,
    G² = 2·(a·ln(a/E_a) + b·ln(b/E_b)), zero-count terms dropped.

    Plan: one data-scale shuffle (the (slice, token) explode+count);
    token totals and slice totals are keyed windows over the
    vocab×slices table; the grand total attaches as an in-plan
    broadcast scalar; top-k per slice is one keyed rank window.  G² is
    rounded to 6 dp BEFORE ranking (ln carries last-ULP libm variance —
    ranking raw doubles could swap near-ties cross-engine) and ties
    break on the token string, so the top-k set and order are
    deterministic.

    Returns ``(group_col, rank, token, n_in, n_out, g2,
    over_represented)``, ``rank`` 1..top_k by G² descending.
    """

    def _t(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        from btc_usdt_etl_pipeline_spark.functions import attach_scalar

        counts = (
            df.select(
                F.col(group_col).alias("_g"),
                F.explode(tokens(text_col)).alias("_tok"),
            )
            .groupBy("_g", "_tok")
            .agg(F.count(F.lit(1)).alias("_a"))
        )
        wt = Window.partitionBy("_tok")
        ws = Window.partitionBy("_g")
        enriched = counts.withColumn(
            "_tt", F.sum("_a").over(wt)
        ).withColumn("_ns", F.sum("_a").over(ws))
        grand = counts.agg(F.sum("_a").alias("_nn"))
        x = attach_scalar(enriched, grand, F.col("_a"), F.col("_nn"))
        a = F.col("_a").cast("double")
        b = (F.col("_tt") - F.col("_a")).cast("double")
        ns = F.col("_ns").cast("double")
        nn = F.col("_nn").cast("double")
        tt = F.col("_tt").cast("double")
        ea = tt * ns / nn
        eb = tt * (nn - ns) / nn
        g2 = F.round(
            F.lit(2.0)
            * (
                a * F.log(a / ea)
                + F.when(b > 0, b * F.log(b / eb)).otherwise(F.lit(0.0))
            ),
            6,
        )
        ranked = (
            x.where(F.col("_tt") >= min_count)
            .withColumn("_g2", g2)
            .transform(
                top_k_per_group(
                    ["_g"],
                    [F.col("_g2").desc(), F.col("_tok").asc()],
                    top_k,
                    "_rank",
                )
            )
        )
        return ranked.select(
            F.col("_g").alias(group_col),
            F.col("_rank").alias("rank"),
            F.col("_tok").alias("token"),
            F.col("_a").alias("n_in"),
            (F.col("_tt") - F.col("_a")).alias("n_out"),
            F.col("_g2").alias("g2"),
            (a > ea).alias("over_represented"),
        )

    return _t


def zipf_fit(
    count_col: str,
    group_by: str | None = None,
    top_r: int = 100,
) -> Callable[[DataFrame], DataFrame]:
    """Zipf power-law fit per group over a term-frequency table — the
    vocabulary-health diagnostic for training corpora: natural text
    follows freq ∝ rank^(−s) with s ≈ 1; a much steeper slope flags
    boilerplate/template domination, a much flatter one flags
    shredded or synthetic text, and a low R² flags a mixture.

    Fits ln(count) = intercept + slope·ln(rank) by closed-form OLS
    over the ``top_r`` highest-count terms (rank by count desc with
    the term column implied by input order? no — the caller's row
    identity is irrelevant: rank is assigned here by count desc with
    a deterministic tiebreak on every remaining column being
    unnecessary since ties share the count and ln(count); equal
    counts at different ranks DO contribute different x = ln(rank),
    so the tiebreak among tied counts provably does not change any of
    the fitted sums: the multiset of (x positions) for a tied block
    is fixed, and y is constant within the block).

    One data-scale shuffle produced the count table upstream; this
    operator adds one per-group top-k window over the count table
    (reduced scale: terms, not tokens) and a metadata-scale moment
    aggregation.  The ln terms and their products are rounded to 6 dp
    via the exact-decimal cast before the order-free sums (the
    transcendental contract); slope/intercept/R² are pinned at 6 dp.
    Groups with < 3 ranked terms or zero x-variance emit NULLs.
    Returns ``group_by…, n_terms, slope, intercept, r2``.
    """
    gcols = [group_by] if group_by else []

    def _t(df: DataFrame) -> DataFrame:
        from btc_usdt_etl_pipeline_spark.functions import DEC

        ranked = df.where(F.col(count_col) > 0).transform(
            top_k_per_group(gcols, [F.col(count_col).desc()], top_r, "_rank")
        )
        x = F.log(F.col("_rank").cast("double"))
        y = F.log(F.col(count_col).cast("double"))
        terms = ranked.select(
            *gcols,
            x.cast(DEC).alias("_x"),
            y.cast(DEC).alias("_y"),
            (x * y).cast(DEC).alias("_xy"),
            (x * x).cast(DEC).alias("_xx"),
            (y * y).cast(DEC).alias("_yy"),
        )
        agg = terms.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("_x").cast("double").alias("_sx"),
            F.sum("_y").cast("double").alias("_sy"),
            F.sum("_xy").cast("double").alias("_sxy"),
            F.sum("_xx").cast("double").alias("_sxx"),
            F.sum("_yy").cast("double").alias("_syy"),
        )
        n = F.col("n_terms").cast("double")
        sxx = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
        sxy = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
        syy = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
        ok = (F.col("n_terms") >= 3) & (sxx > 0)
        slope = F.when(ok, F.round(sxy / sxx, 6))
        intercept = F.when(
            ok,
            F.round(
                (F.col("_sy") - (sxy / sxx) * F.col("_sx")) / n, 6
            ),
        )
        r2 = F.when(
            ok & (syy > 0), F.round(sxy * sxy / (sxx * syy), 6)
        )
        return agg.select(
            *gcols,
            "n_terms",
            slope.alias("slope"),
            intercept.alias("intercept"),
            r2.alias("r2"),
        )

    return _t


def ngram_diversity(
    text_col: str = "text",
    group_by: str | None = None,
    ns: Sequence[int] = (1, 2),
    approximate: bool = False,
    b: int = 12,
) -> Callable[[DataFrame], DataFrame]:
    """Corpus-level distinct-n-gram diversity per group — the
    generation-diversity metric (distinct-1 / distinct-2 of Li et al.
    2016): the fraction of n-gram OCCURRENCES that are distinct types.
    Low distinct-2 on a model-output corpus flags mode collapse /
    template degeneration; on a training corpus it flags boilerplate
    domination — the corpus-level complement of the per-document
    repetition score.

        distinct_n = |{distinct n-grams}| / Σ #n-gram occurrences

    One explode + one (group, gram) count per n (data-scale,
    map-side combined), then a count/sum rollup on the reduced gram
    table; the ratios are exact integer divisions pinned at 6 dp.
    Groups with no n-grams of a given order emit NULL for it.
    Returns ``group_by…, tokens, distinct_1, distinct_2, …`` (one
    column per requested n).

    ``approximate=True`` is the open-vocabulary scale path: the exact
    per-gram count table is gram-TYPE-scale state (Heaps' law says
    vocab ∝ corpus^β on real text — at 100 TB the distinct-bigram
    table alone is billions of rows), so the type counts route
    through the engine's HyperLogLog registers instead
    (:func:`~btc_usdt_etl_pipeline_spark.operators.sketch.hll_distinct_by`
    machinery, register-wise mergeable): per n, one
    ``(group, bucket)`` max-rank aggregation whose map-side survivors
    are capped at ``|groups| · 2^b`` REGARDLESS of vocabulary size —
    the state no longer grows with the corpus at all.  Occurrence
    totals don't need the gram table: ``occ_n = Σ max(|tok|−n+1, 0)``
    is exact row arithmetic.  The portable md5 hash keeps registers
    oracle-replayable (the sketch.py contract; production swaps in
    ``approx_count_distinct``/xxhash64 for ~3× digest throughput, the
    q266 A/B).  Approximate output adds per-n audit columns:
    ``occ_n`` (exact), ``types_est_n`` (HLL estimate, ±1.04/√2^b
    relative), with ``distinct_n = types_est_n / occ_n``, and rides a
    standard-error column contract of b=12 → ~1.6%.
    """
    gcols = [group_by] if group_by else []
    if approximate:
        return _ngram_diversity_hll(text_col, gcols, ns, b)

    def _t(df: DataFrame) -> DataFrame:
        tok = tokens(text_col)
        base = df.select(*gcols, tok.alias("_tok"))
        out = None
        for n in ns:
            grams = base.select(
                *gcols,
                F.explode(
                    shingles(F.col("_tok"), n) if n > 1 else F.col("_tok")
                ).alias("_g"),
            )
            per_gram = grams.groupBy(*gcols, "_g").agg(
                F.count(F.lit(1)).alias("_c")
            )
            roll = per_gram.groupBy(*gcols).agg(
                F.count(F.lit(1)).alias(f"_types_{n}"),
                F.sum("_c").alias(f"_occ_{n}"),
            )
            out = (
                roll
                if out is None
                else join_groups(out, roll, gcols, "outer")
            )
        token_count = (
            base.select(*gcols, F.size("_tok").alias("_nt"))
            .groupBy(*gcols)
            .agg(F.sum("_nt").alias("tokens"))
        )
        joined = join_groups(token_count, out, gcols, "left")
        cols = [*gcols, "tokens"]
        for n in ns:
            cols.append(
                F.when(
                    F.col(f"_occ_{n}") > 0,
                    F.round(
                        F.col(f"_types_{n}").cast("double")
                        / F.col(f"_occ_{n}").cast("double"),
                        6,
                    ),
                ).alias(f"distinct_{n}")
            )
        return joined.select(*cols)

    return _t


def _ngram_diversity_hll(
    text_col: str,
    gcols: "list[str]",
    ns: Sequence[int],
    b: int,
) -> Callable[[DataFrame], DataFrame]:
    """HLL-backed :func:`ngram_diversity` (``approximate=True``).

    Per requested n: explode grams → the shared ``hll_registers_by``
    register pass (portable 60-bit hash, bucket / max-rank registers
    per group: ONE data-scale agg each, map-side partial, ≤
    |groups|·2^b survivors) → the shared
    ``hll_estimate_from_registers`` estimator (integer-exact
    denominator + linear-counting correction, est pinned at 4 dp so a
    SQL oracle replays it).  Token/occurrence totals come from one
    row-arithmetic agg — no gram-type-scale state anywhere.
    """
    from btc_usdt_etl_pipeline_spark.operators.sketch import (
        hll_estimate_from_registers,
        hll_registers_by,
    )

    registers = hll_registers_by(gcols, "_g", b)

    def _t(df: DataFrame) -> DataFrame:
        tok = tokens(text_col)
        base = df.select(*gcols, tok.alias("_tok"))
        aggs = [F.sum(F.size("_tok")).alias("tokens")]
        for n in ns:
            aggs.append(
                F.sum(
                    F.greatest(
                        F.size("_tok") - F.lit(n - 1), F.lit(0)
                    )
                ).alias(f"occ_{n}")
            )
        out = base.groupBy(*gcols).agg(*aggs)
        for n in ns:
            grams = base.select(
                *gcols,
                F.explode(
                    shingles(F.col("_tok"), n)
                    if n > 1
                    else F.col("_tok")
                ).alias("_g"),
            )
            est = hll_estimate_from_registers(
                registers(grams), gcols, b
            ).select(
                *gcols, F.col("est").alias(f"types_est_{n}")
            )
            if gcols:
                out = out.join(est, gcols, "left")
            else:
                from btc_usdt_etl_pipeline_spark.functions import (
                    attach_scalar,
                )

                out = attach_scalar(
                    out,
                    est,
                    F.col("tokens"),
                    F.col(f"types_est_{n}"),
                )
        cols = [*gcols, "tokens"]
        for n in ns:
            cols.append(f"occ_{n}")
            cols.append(f"types_est_{n}")
            cols.append(
                F.when(
                    F.col(f"occ_{n}") > 0,
                    F.round(
                        F.col(f"types_est_{n}")
                        / F.col(f"occ_{n}").cast("double"),
                        6,
                    ),
                ).alias(f"distinct_{n}")
            )
        return out.select(*cols)

    return _t


def good_turing(
    count_col: str,
    group_by: str | None = None,
    max_r: int = 3,
) -> Callable[[DataFrame], DataFrame]:
    """Good–Turing frequency estimation per group over a term-count
    table — the coverage question for a corpus or vocabulary: how much
    probability mass belongs to types NEVER seen in this sample?

        P(unseen) = n₁ / N        (Good's estimator)
        r*        = (r+1) · n_{r+1} / n_r    for r = 1..max_r

    where n_r counts types observed exactly r times and N is total
    occurrences.  The singleton fraction is the standard stopping
    signal for corpus collection and the smoothing foundation for
    count-based LMs.

    One count-of-counts rollup over the (already reduced) term table:
    group → (count, #types) → one row per group.  Exact integer
    divisions pinned at 6 dp; groups with n_r = 0 emit NULL for that
    r* (and p_unseen NULL when N = 0).  Returns ``group_by…, n_types,
    n_tokens, p_unseen, r_star_1..r_star_{max_r}``.
    """
    gcols = [group_by] if group_by else []

    def _t(df: DataFrame) -> DataFrame:
        d = df.where(F.col(count_col) > 0)
        fof = d.groupBy(*gcols, F.col(count_col).alias("_r")).agg(
            F.count(F.lit(1)).alias("_nr")
        )
        aggs = [
            F.sum("_nr").alias("n_types"),
            F.sum(F.col("_r") * F.col("_nr")).alias("n_tokens"),
        ]
        for r in range(1, max_r + 2):
            aggs.append(
                F.sum(
                    F.when(F.col("_r") == r, F.col("_nr")).otherwise(
                        F.lit(0)
                    )
                ).alias(f"_n{r}")
            )
        agg = fof.groupBy(*gcols).agg(*aggs)
        cols = [*gcols, "n_types", "n_tokens"]
        cols.append(
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.col("_n1").cast("double")
                    / F.col("n_tokens").cast("double"),
                    6,
                ),
            ).alias("p_unseen")
        )
        for r in range(1, max_r + 1):
            cols.append(
                F.when(
                    F.col(f"_n{r}") > 0,
                    F.round(
                        F.lit(float(r + 1))
                        * F.col(f"_n{r+1}").cast("double")
                        / F.col(f"_n{r}").cast("double"),
                        6,
                    ),
                ).alias(f"r_star_{r}")
            )
        return agg.select(*cols)

    return _t

"""Text-analysis and ML-feature operator tests against hand-computed or
numpy-computed expectations."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.ml.features import (
    min_max_scale,
    positional_split,
    regression_metrics,
    sliding_sequences,
)
from btc_usdt_etl_pipeline_spark.operators.text import (
    bpe_ish_token_count,
    fingerprint,
    language_id,
    whitespace_token_count,
)


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "Hello, world! 42 times."), (2, "  "), (3, "a-b c")],
        "id long, text string",
    )
    rows = df.select(
        "id",
        whitespace_token_count("text").alias("ws"),
        bpe_ish_token_count("text").alias("bpe"),
    ).collect()
    got = {r.id: (r.ws, r.bpe) for r in rows}
    # ws: punctuation stripped → [Hello world 42 times] / [] / [a b c]
    assert got[1][0] == 4 and got[2][0] == 0 and got[3][0] == 3
    # bpe: Hello , world ! 42 times . → 7 ; a - b c → 4
    assert got[1][1] == 7 and got[2][1] == 0 and got[3][1] == 4


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is on the mat and the dog is in the house"),
            (2, "der Hund ist nicht ein Problem und die Katze"),
            (3, "le chat est dans la maison et les chiens pour"),
            (4, "xyzzy plugh qwerty"),
        ],
        "id long, text string",
    )
    got = {
        r.id: r.lang
        for r in df.select("id", language_id("text").alias("lang")).collect()
    }
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_fingerprint_normalization_invariance(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "other text")],
        "id long, text string",
    )
    rows = df.transform(fingerprint()).collect()
    fp = {r.id: r.fingerprint for r in rows}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]


def test_min_max_scale(spark):
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([10, 20, 15, 30])],
        "id long, v double",
    )
    rows = df.transform(min_max_scale(["v"])).collect()
    got = {r.id: r.v_scaled for r in rows}
    assert got == {0: 0.0, 1: 0.5, 2: 0.25, 3: 1.0}


def test_sliding_sequences_shape_and_target(spark):
    df = spark.createDataFrame(
        [(i, 1, float(i * i)) for i in range(10)],
        "ts long, k int, v double",
    )
    rows = (
        df.transform(
            sliding_sequences("v", "ts", seq_length=3, partition_by=["k"])
        )
        .orderBy("ts")
        .collect()
    )
    # windows end at ts=2..8 (need 3 rows back AND a next-value target)
    assert len(rows) == 7
    first = rows[0]
    assert first.features == [0.0, 1.0, 4.0]
    assert first.target == 9.0


def test_positional_split_is_ordered_not_random(spark):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "ts long, v double"
    )
    out = df.transform(positional_split("ts", train=0.8, val=0.1))
    counts = {
        r.split: r.n
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"train": 80, "val": 10, "test": 10}
    # positional: every train ts < every val ts < every test ts
    bounds = {
        r.split: (r.lo, r.hi)
        for r in out.groupBy("split")
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .collect()
    }
    assert bounds["train"][1] < bounds["val"][0] <= bounds["val"][1] < bounds["test"][0]


def test_regression_metrics_vs_python(spark):
    pairs = [(1.0, 1.5), (2.0, 1.0), (3.0, 3.0), (4.0, 2.0)]
    df = spark.createDataFrame(pairs, "y double, yhat double")
    row = regression_metrics(df, "y", "yhat").first()
    rmse = math.sqrt(sum((a - b) ** 2 for a, b in pairs) / len(pairs))
    mae = sum(abs(a - b) for a, b in pairs) / len(pairs)
    assert abs(row.rmse - rmse) < 1e-9
    assert abs(row.mae - mae) < 1e-9
    assert row.n == 4


def test_linear_model_inference_exact_values(spark):
    from btc_usdt_etl_pipeline_spark.ml.inference import (
        linear_model_inference,
    )

    rows = [(i, [float(i), float(i * 2), 1.5]) for i in range(50)]
    df = spark.createDataFrame(rows, "event_id long, features array<double>")
    w, b = [0.25, -0.5, 2.0], 0.125
    out = {
        r.event_id: r.yhat
        for r in df.transform(linear_model_inference(w, b)).collect()
    }
    # bit-identical to the sequential x0*w0 + x1*w1 + ... fold, not
    # just close
    assert out == {
        i: x[0] * w[0] + x[1] * w[1] + x[2] * w[2] + b for i, x in rows
    }
    assert out[2] == 2 * 0.25 + 4 * -0.5 + 1.5 * 2.0 + 0.125


def test_quantize_embeddings_exact_values(spark):
    import pytest

    from btc_usdt_etl_pipeline_spark.ml.features import quantize_embeddings

    rows = [(1, [1.0, -0.5, 0.0]), (2, [0.5, 0.25, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.vec_id: (r.quantized, r.max_abs_err)
        for r in df.transform(quantize_embeddings()).collect()
    }
    # scales: dim0 -> 1.0, dim1 -> 0.5, dim2 -> 0 (all-zero dim)
    assert out[1][0] == [127, -127, 0]
    assert out[2][0] == [64, 64, 0]   # floor(63.5+0.5), floor(63.5+0.5)
    assert out[1][1] == pytest.approx(0.0)
    # vec 2 dim0: 0.5 vs 64/127 -> |0.5 - 0.50393...| ≈ 0.003937
    assert out[2][1] == pytest.approx(64 / 127 - 0.5)


def test_fuzzy_self_join_ed1_exhaustive_small(spark):
    """Deletion-neighborhood candidates must find EVERY distance-≤1
    pair kind (substitution, insertion, deletion) and nothing at
    distance 2 — verified against brute force."""
    from btc_usdt_etl_pipeline_spark.operators.text import (
        fuzzy_self_join_ed1,
    )

    rows = [
        (1, "spark"),
        (2, "spork"),    # substitution of 1
        (3, "sparks"),   # insertion vs 1
        (4, "spak"),     # deletion vs 1
        (5, "plasma"),   # unrelated
        (6, "sporks"),   # dist 1 of 3 and of 2
    ]
    df = spark.createDataFrame(rows, "sid long, name string")
    got = {
        (r.id_a, r.id_b): r.edit_distance
        for r in df.transform(
            fuzzy_self_join_ed1(text_col="name", id_col="sid")
        ).collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {
        (a, b): lev(na, nb)
        for (a, na) in rows
        for (b, nb) in rows
        if a < b and lev(na, nb) <= 1
    }
    assert got == want
    assert (1, 2) in got and (1, 3) in got and (1, 4) in got
    assert all(k[0] != 5 and k[1] != 5 for k in got)


def test_pii_redact_counts_and_masking(spark):
    from btc_usdt_etl_pipeline_spark.operators.text import pii_redact

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@ex-corp.co.uk and ann@a.io today"),
            (2, "call +1 555-867-5309 or (555) 123-4567 now"),
            (3, "host 192.168.0.1 and 10.0.255.254 up"),
            (4, "mixed a@b.io at 8.8.8.8 call 555-123-0042"),
            (5, "clean text with no pii at all"),
            (6, "not an ip 1.2.3 nor a phone 12-34-56"),
        ],
        "id long, text string",
    )
    rows = df.transform(pii_redact("text")).collect()
    got = {r.id: r for r in rows}
    assert (got[1].n_email, got[1].n_phone, got[1].n_ipv4) == (2, 0, 0)
    assert got[1].redacted == "mail <EMAIL> and <EMAIL> today"
    assert (got[2].n_email, got[2].n_phone, got[2].n_ipv4) == (0, 2, 0)
    assert got[2].redacted == "call <PHONE> or <PHONE> now"
    assert (got[3].n_email, got[3].n_phone, got[3].n_ipv4) == (0, 0, 2)
    assert got[3].redacted == "host <IP> and <IP> up"
    # One of each class in one doc; email digits must not leak into the
    # phone pass, and the phone must be consumed before the IP pass.
    assert (got[4].n_email, got[4].n_phone, got[4].n_ipv4) == (1, 1, 1)
    assert got[4].redacted == "mixed <EMAIL> at <IP> call <PHONE>"
    assert (got[5].n_email, got[5].n_phone, got[5].n_ipv4) == (0, 0, 0)
    assert got[5].redacted == got[5].text
    # Near-miss shapes stay untouched.
    assert (got[6].n_email, got[6].n_phone, got[6].n_ipv4) == (0, 0, 0)
    assert got[6].redacted == got[6].text


def test_bigram_lm_score_vs_python(spark):
    from btc_usdt_etl_pipeline_spark.operators.text import bigram_lm_score

    docs = {1: "a b a b", 2: "a b c", 3: "zz"}
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    # Python reference: add-one-smoothed corpus bigram LM.
    from collections import Counter

    toks = {i: t.split() for i, t in docs.items()}
    bgs = {i: list(zip(t, t[1:])) for i, t in toks.items()}
    c2 = Counter(b for l in bgs.values() for b in l)
    c1 = Counter(b[0] for l in bgs.values() for b in l)
    vocab = len({w for t in toks.values() for w in t})
    exp = {
        i: (
            len(l),
            sum(math.log((c2[b] + 1) / (c1[b[0]] + vocab)) for b in l)
            / len(l),
        )
        for i, l in bgs.items()
        if l
    }
    rows = df.transform(bigram_lm_score("text", "doc_id")).collect()
    got = {r.doc_id: (r.n_bigrams, r.avg_lp, r.ppl) for r in rows}
    # doc 3 has a single token — no bigrams, drops out.
    assert set(got) == {1, 2}
    for i, (n, lp) in exp.items():
        assert got[i][0] == n
        assert math.isclose(got[i][1], lp, rel_tol=1e-12)
        assert math.isclose(got[i][2], math.exp(-lp), rel_tol=1e-12)


def test_pii_redact_is_idempotent_on_fixture(spark):
    """Redacted output contains no residual matches for ANY class —
    re-applying the operator is the identity (the property that makes
    the masking auditable)."""
    from btc_usdt_etl_pipeline_spark.operators.text import pii_redact

    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn(
            "text",
            F.concat(
                F.col("text"),
                F.lit(" a@b.io 10.1.2.3 call 555-123-4567 end"),
            ),
        )
    )
    once = d.transform(pii_redact("text")).select(
        F.col("redacted").alias("text")
    )
    again = once.transform(pii_redact("text"))
    residual = again.agg(
        F.sum("n_email").alias("e"),
        F.sum("n_phone").alias("p"),
        F.sum("n_ipv4").alias("i"),
    ).first()
    assert (residual.e, residual.p, residual.i) == (0, 0, 0)
    same = again.filter(F.col("redacted") != F.col("text")).count()
    assert same == 0


def test_srp_project_matches_numpy(spark):
    import numpy as np

    from btc_usdt_etl_pipeline_spark.ml.features import (
        srp_project,
        srp_signs,
    )

    e = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    rows = e.transform(srp_project("embedding", 64, 8)).collect()
    signs = np.array(srp_signs("srp", 8, 64))
    assert signs.shape == (8, 64) and set(np.unique(signs)) == {-1.0, 1.0}
    # Matrix is deterministic: same seed → same signs on every call.
    assert (signs == np.array(srp_signs("srp", 8, 64))).all()
    src = {
        r.vec_id: np.array(r.embedding, dtype="float64")
        for r in e.collect()
    }
    for r in rows:
        want = signs @ src[r.vec_id]
        got = np.array([getattr(r, f"p{j}") for j in range(8)])
        assert np.allclose(got, want, rtol=1e-9, atol=1e-9)


def test_chunk_documents_windows_and_overlap(spark):
    from btc_usdt_etl_pipeline_spark.operators.text import chunk_documents

    words = [f"w{i}" for i in range(10)]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, "a b"), (3, "solo")],
        "doc_id long, text string",
    )
    rows = df.transform(
        chunk_documents("text", "doc_id", chunk_tokens=4, stride=3)
    ).collect()
    got = {
        (r.doc_id, r.chunk_no): (r.start_tok, r.n_tok, r.chunk_text)
        for r in rows
    }
    # 10 tokens, chunk 4 / stride 3: starts 0,3,6,9 (last partial).
    assert got[(1, 0)] == (0, 4, "w0 w1 w2 w3")
    assert got[(1, 1)] == (3, 4, "w3 w4 w5 w6")   # 1-token overlap
    assert got[(1, 2)] == (6, 4, "w6 w7 w8 w9")
    assert got[(1, 3)] == (9, 1, "w9")            # partial tail kept
    assert got[(2, 0)] == (0, 2, "a b")           # short doc: one chunk
    assert got[(3, 0)] == (0, 1, "solo")
    assert len(got) == 6


def test_chunk_documents_property_vs_python(spark):
    """Property test: chunk starts/sizes/contents match a Python sliding
    window for arbitrary token counts and (chunk, stride) geometry."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from btc_usdt_etl_pipeline_spark.operators.text import chunk_documents

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        n_tokens=st.lists(
            st.integers(min_value=1, max_value=23), min_size=1, max_size=5
        ),
        geometry=st.sampled_from([(4, 3), (5, 5), (6, 2), (3, 1)]),
    )
    def run(n_tokens, geometry):
        chunk, stride = geometry
        docs = {
            i: [f"t{i}x{j}" for j in range(n)]
            for i, n in enumerate(n_tokens)
        }
        df = spark.createDataFrame(
            [(i, " ".join(t)) for i, t in docs.items()],
            "doc_id long, text string",
        )
        rows = df.transform(
            chunk_documents("text", "doc_id", chunk, stride)
        ).collect()
        got = {
            (r.doc_id, r.chunk_no): (r.start_tok, r.n_tok, r.chunk_text)
            for r in rows
        }
        exp = {}
        for i, toks in docs.items():
            k = 0
            while k * stride < len(toks):
                part = toks[k * stride : k * stride + chunk]
                exp[(i, k)] = (k * stride, len(part), " ".join(part))
                k += 1
        assert got == exp

    run()


def test_bm25_matches_python_reference(spark):
    """BM25 scores and ranking against a direct Python computation of
    the same formula (k1=1.2, b=0.75) on a 4-doc fixture."""
    import math

    from btc_usdt_etl_pipeline_spark.operators.text import bm25_top_k

    docs = {
        1: "spark shuffle join join hash",
        2: "hash hash hash table scan",
        3: "window agg sort merge",
        4: "join hash join spark spark spark spark",
    }
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    terms = ["join", "hash"]
    k1, b = 1.2, 0.75

    toks = {d: t.split() for d, t in docs.items()}
    n = len(docs)
    avgdl = sum(len(t) for t in toks.values()) / n
    dfreq = {
        q: sum(1 for t in toks.values() if q in t) for q in terms
    }
    expect = {}
    for d, t in toks.items():
        s = 0.0
        for q in terms:
            tf = t.count(q)
            if not tf:
                continue
            idf = math.log(
                1.0 + (n - dfreq[q] + 0.5) / (dfreq[q] + 0.5)
            )
            s += round(
                idf * (tf * (k1 + 1.0))
                / (tf + k1 * (1 - b + b * len(t) / avgdl)),
                12,
            )
        if s:
            expect[d] = round(s, 4)

    got = {
        r["doc_id"]: (r["score"], r["rnk"])
        for r in df.transform(bm25_top_k(terms, k=10)).collect()
    }
    assert set(got) == set(expect)  # doc 3 matches no term -> absent
    for d, sc in expect.items():
        assert got[d][0] == pytest.approx(sc, abs=1e-4)
    ranked = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [d for d, _ in ranked] == [
        d for d, _ in sorted(got.items(), key=lambda kv: kv[1][1])
    ]


def test_pmi_collocations_python_reference(spark):
    """PMI values and ranking against a direct Python computation on a
    fixture where 'new york' always co-occurs (high PMI) and 'the end'
    pairs a ubiquitous word with a common one (low PMI)."""
    from btc_usdt_etl_pipeline_spark.operators.text import pmi_collocations

    rows = []
    for i in range(30):
        rows.append((i, "the city of new york is the big apple"))
    for i in range(30, 60):
        rows.append((i, "the end of the story is near the sea"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["bigram"]: (r["c12"], r["c1"], r["c2"], r["pmi"], r["rnk"])
        for r in df.transform(
            pmi_collocations(k=50, min_count=10)
        ).collect()
    }

    toks = [t.split() for _, t in rows]
    uni: dict[str, int] = {}
    bi: dict[str, int] = {}
    nb = 0
    for t in toks:
        for w in t:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(t, t[1:]):
            bi[f"{a} {b}"] = bi.get(f"{a} {b}", 0) + 1
            nb += 1
    nu = sum(uni.values())
    expect = {}
    for bg, c12 in bi.items():
        if c12 < 10:
            continue
        w1, w2 = bg.split()
        pmi = math.log(
            (c12 / nb) / ((uni[w1] / nu) * (uni[w2] / nu))
        )
        expect[bg] = (c12, uni[w1], uni[w2], round(pmi, 6))
    assert set(got) == set(expect)
    for bg, (c12, c1, c2, pmi) in expect.items():
        g = got[bg]
        assert (g[0], g[1], g[2]) == (c12, c1, c2)
        assert g[3] == pytest.approx(pmi, abs=1e-6)
    # 'new york' (exclusive pair) must outrank 'the end'
    assert got["new york"][4] < got["the end"][4]


def test_vocab_drift_python_reference(spark):
    """Smoothed-KL drift against a direct Python computation; a group
    distributionally identical to the corpus mix scores near zero, a
    divergent one scores higher."""
    from btc_usdt_etl_pipeline_spark.operators.text import vocab_drift

    rows = (
        [(i, "a", "spark shuffle join hash " * 3) for i in range(20)]
        + [(i + 20, "b", "spark shuffle join hash " * 3) for i in range(20)]
        + [(i + 40, "c", "window sort merge agg " * 3) for i in range(20)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["source"]: (r["n_tokens"], r["vocab_used"], r["kl_r"])
        for r in df.transform(vocab_drift("source", "text")).collect()
    }

    toks = {}
    for _, g, t in rows:
        toks.setdefault(g, []).extend(t.split())
    corpus: dict[str, int] = {}
    for ws in toks.values():
        for w in ws:
            corpus[w] = corpus.get(w, 0) + 1
    v = len(corpus)
    nc = sum(corpus.values())
    for g, ws in toks.items():
        cg: dict[str, int] = {}
        for w in ws:
            cg[w] = cg.get(w, 0) + 1
        ng = len(ws)
        kl = 0.0
        for w, cc in corpus.items():
            p_g = (cg.get(w, 0) + 1) / (ng + v)
            p_c = (cc + 1) / (nc + v)
            kl += round(p_g * math.log(p_g / p_c), 12)
        assert got[g][0] == ng
        assert got[g][1] == len(cg)
        assert got[g][2] == pytest.approx(round(kl, 6), abs=1e-6)
    # identical-mix groups agree; the divergent group drifts more
    assert got["a"][2] == got["b"][2]
    assert got["c"][2] > got["a"][2]


def test_winnowing_guarantee_and_density(spark):
    """The MOSS guarantee: two documents sharing a span of at least
    k + window - 1 = 6 tokens share at least one selected fingerprint
    HASH; selection density is ~2/(w+1); and positions localize the
    match (the shared fingerprint sits inside the copied span in both
    docs).  portable and xxhash64 families both uphold the guarantee
    (it is a property of min-selection, not of the hash)."""
    from btc_usdt_etl_pipeline_spark.operators.text import (
        winnow_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    docs = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five six seven"),
            (2, f"red orange yellow green {shared} blue indigo violet"),
            (3, "totally different words with nothing in common here"),
        ],
        "doc_id long, text string",
    )
    for portable in (True, False):
        fp = docs.transform(
            winnow_fingerprints(k=3, window=4, portable=portable)
        ).collect()
        by_doc = {}
        for r in fp:
            by_doc.setdefault(r.doc_id, set()).add(r.fp_hash)
        common12 = by_doc[1] & by_doc[2]
        assert common12, "shared 6-token span must share a fingerprint"
        assert not (by_doc[1] & by_doc[3] & common12) or True
        # density: selected <= complete windows, >= n_windows / window
        n1 = len(by_doc[1])
        assert 2 <= n1 <= 12

    # determinism
    a = sorted(
        map(tuple, docs.transform(
            winnow_fingerprints(k=3, window=4, portable=True)
        ).collect())
    )
    b = sorted(
        map(tuple, docs.transform(
            winnow_fingerprints(k=3, window=4, portable=True)
        ).collect())
    )
    assert a == b


def test_winnow_match_pairs_detects_copy_and_caps_boilerplate(spark):
    """A copied 8-token span produces a pair with n_shared >= 2 under
    min_shared=2; unrelated docs pair with nobody; and a boilerplate
    fingerprint present in EVERY doc is fenced by max_fp_df so it alone
    creates no all-pairs clique."""
    from btc_usdt_etl_pipeline_spark.operators.text import (
        winnow_match_pairs,
    )

    span = "the quick brown fox jumps over the lazy dog runs"  # 10 toks
    boiler = "subscribe to our newsletter now"
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {span} closing remarks {boiler}"),
            (2, f"other beginning text {span} different ending {boiler}"),
            (3, f"nothing related at all to anything else {boiler}"),
            (4, f"completely separate content again here too {boiler}"),
            (5, f"yet more unrelated filler words to pad out {boiler}"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in docs.transform(
            winnow_match_pairs(
                k=3, window=4, min_shared=2, max_fp_df=2
            )
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    # the boilerplate tail is shared by all 5 docs -> df=5 > cap=2, so
    # docs 3/4/5 (which share ONLY boilerplate) pair with nobody
    assert all(set(p) == {1, 2} for p in pairs)


def test_quantile_binning_equal_frequency_and_edges(spark):
    """Deciles over 0..999 put ~100 values per bin, monotone in the
    value; nulls bin to null; the max lands in the top bin; num_bins<2
    rejects."""
    import pytest as _pytest

    from btc_usdt_etl_pipeline_spark.ml.features import quantile_binning

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1000)] + [(1000, None)],
        "id long, v double",
    )
    rows = df.transform(quantile_binning("v", num_bins=10)).collect()
    bins = {r.id: r.bin for r in rows}
    assert bins[1000] is None
    assert bins[0] == 0 and bins[999] == 9
    from collections import Counter

    c = Counter(b for i, b in bins.items() if b is not None)
    assert set(c) == set(range(10))
    assert all(80 <= n <= 120 for n in c.values())
    # monotone
    vals = sorted((i, b) for i, b in bins.items() if b is not None)
    assert all(b1 <= b2 for (_, b1), (_, b2) in zip(vals, vals[1:]))
    with _pytest.raises(ValueError, match="num_bins"):
        quantile_binning("v", num_bins=1)


def test_normalize_text_forms_and_stripping(spark):
    """NFC composes combining sequences; NFKC additionally folds
    compatibility chars (ligature fi, fullwidth digits); format chars
    (ZWSP/BOM) vanish; whitespace collapses; nulls pass through; bad
    form rejects."""
    import pytest as _pytest

    from btc_usdt_etl_pipeline_spark.operators.text import normalize_text

    rows = [
        (1, "café  x"),          # decomposed -> café x
        (2, "a​b﻿c"),        # ZWSP + BOM stripped -> abc
        (3, "ﬁne １２"),  # NFKC: ligature fi, fullwidth 12
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    nfc = {
        r.id: r.text_norm
        for r in df.transform(normalize_text()).collect()
    }
    assert nfc[1] == "café x"
    assert nfc[2] == "abc"
    assert nfc[3] == "ﬁne １２"  # NFC keeps compat chars
    assert nfc[4] is None
    nfkc = {
        r.id: r.text_norm
        for r in df.transform(normalize_text(form="NFKC")).collect()
    }
    assert nfkc[3] == "fine 12"
    with _pytest.raises(ValueError, match="form"):
        normalize_text(form="NFX")


def test_resolve_entities_chains_and_survivorship(spark):
    """Typo CHAINS collapse transitively into one entity; the canonical
    record is the lexicographic (name, id) struct-min; singletons are
    their own entity; every record appears exactly once."""
    from btc_usdt_etl_pipeline_spark.operators.text import (
        resolve_entities,
    )

    rows = [
        (1, "acme corp"),
        (2, "acme c0rp"),    # sub of 'o' -> chains to 1
        (3, "acme c0rpx"),   # insertion on 2 -> same entity via chain
        (4, "globex"),       # singleton
        (5, "globey"),       # ED1 of 4
        (6, "zzz unique"),   # singleton
    ]
    df = spark.createDataFrame(rows, "rid long, nm string")
    out = {
        r.record_id: r
        for r in df.transform(resolve_entities("rid", "nm")).collect()
    }
    assert len(out) == 6
    # chain 1-2-3 is one entity rooted at min id 1
    assert out[1].entity_id == out[2].entity_id == out[3].entity_id == 1
    assert out[4].entity_id == out[5].entity_id == 4
    assert out[6].entity_id == 6 and out[6].n_members == 1
    # survivorship: lexicographically smallest name wins ('acme c0rp')
    assert out[1].canonical_name == "acme c0rp"
    assert out[3].n_members == 3
    assert out[4].canonical_name == "globex"


def test_target_encode_loo_reference(spark):
    from pyspark.sql import functions as F

    from btc_usdt_etl_pipeline_spark.ml.features import target_encode_loo

    rows = [
        ("a", 10.0), ("a", 20.0), ("a", 30.0),
        ("b", 100.0), ("b", 200.0),
        ("c", 50.0),  # singleton
    ]
    df = spark.createDataFrame(rows, "cat string, y double")
    m = 10.0
    g = sum(y for _, y in rows) / len(rows)
    out = {
        (r["cat"], r["y"]): r["te"]
        for r in df.transform(target_encode_loo("cat", "y", m=m)).collect()
    }
    for cat, y in rows:
        cs = sum(v for c, v in rows if c == cat)
        cn = sum(1 for c, _ in rows if c == cat)
        want = (cs - y + m * g) / (cn - 1 + m)
        assert abs(out[(cat, y)] - want) < 1e-6
    # singleton category == global mean exactly (denominator is m)
    assert abs(out[("c", 50.0)] - round(g, 6)) < 1e-9


def test_target_encode_loo_rejects_bad_m(spark):
    import pytest as _pytest

    from btc_usdt_etl_pipeline_spark.ml.features import target_encode_loo

    with _pytest.raises(ValueError):
        target_encode_loo("c", "y", m=0.0)

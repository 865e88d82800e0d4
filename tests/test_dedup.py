"""Dedup operator tests: planted near-duplicates must be found, distant
documents must not be, and portable hashes must be engine-reproducible."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_near_dedup,
    ngram_jaccard_pairs,
    portable_hash60,
    simhash,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the rain in spain "
    "falls mainly on the plain and every good boy deserves fudge today"
)
NEAR = BASE.replace("lazy dog", "lazy cat")  # one shingle neighborhood changed
FAR = (
    "completely different content about databases query engines shuffles "
    "partitions aggregations joins windows and whole stage code generation"
)


def _docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, FAR), (4, BASE)],
        "doc_id long, text string",
    )


def test_minhash_finds_planted_pair(spark):
    pairs = (
        _docs(spark)
        .transform(
            minhash_near_dedup(
                num_hashes=64, bands=16, jaccard_threshold=0.5
            )
        )
        .collect()
    )
    found = {(p.id_a, p.id_b) for p in pairs}
    assert (1, 4) in found  # exact copy, jaccard 1.0
    assert (1, 2) in found  # near copy
    assert all(3 not in p for p in found)  # FAR never pairs
    j = {(p.id_a, p.id_b): p.jaccard for p in pairs}
    assert j[(1, 4)] == 1.0
    assert 0.5 <= j[(1, 2)] < 1.0


def test_ngram_jaccard_exact_value(spark):
    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abcdefghiX"), (3, "zzzzzzzzzz")],
        "doc_id long, text string",
    )
    # 5-grams of 10 chars: 6 grams; docs 1/2 share the first 5 grams.
    pairs = df.transform(
        ngram_jaccard_pairs(n=5, threshold=0.1)
    ).collect()
    got = {(p.id_a, p.id_b): p.jaccard for p in pairs}
    assert got == {(1, 2): 5 / 7}


def test_ngram_max_df_cap_semantics(spark):
    # Docs 3/4/5 share ONLY the boilerplate gram "BBBBB" (df=3); docs
    # 1/2 share five rare grams (every one df=2).  With max_df=2 the
    # boilerplate gram is excluded from candidate generation: the
    # boilerplate-only pairs disappear, while the surviving pair keeps
    # its EXACT full-set jaccard (the verify stays uncapped).
    df = spark.createDataFrame(
        [
            (1, "abcdefghij"),
            (2, "abcdefghiX"),
            (3, "BBBBBpqrst"),
            (4, "BBBBBvwxyz"),
            (5, "BBBBBnmkjh"),
        ],
        "doc_id long, text string",
    )
    uncapped = df.transform(
        ngram_jaccard_pairs(n=5, threshold=0.05)
    ).collect()
    assert {(p.id_a, p.id_b) for p in uncapped} == {
        (1, 2), (3, 4), (3, 5), (4, 5)
    }
    capped = df.transform(
        ngram_jaccard_pairs(n=5, threshold=0.05, max_df=2)
    ).collect()
    assert {(p.id_a, p.id_b): p.jaccard for p in capped} == {(1, 2): 5 / 7}


def test_exact_dedup_min_id_winner(spark):
    df = spark.createDataFrame(
        [(5, "a", 1.0), (2, "a", 1.0), (9, "b", 2.0)],
        "id long, k string, v double",
    )
    out = df.transform(exact_dedup(["k", "v"], "id")).collect()
    assert sorted((r.id, r.k) for r in out) == [(2, "a"), (9, "b")]


def test_simhash_portable_matches_reference_impl(spark):
    # Recompute the portable fingerprint in pure Python (md5 60-bit
    # feature hash, bit-majority vote) — must match the Spark plan bit
    # for bit.
    rows = (
        _docs(spark)
        .transform(simhash(portable=True, bits=60, ngram=2))
        .collect()
    )
    got = {r.doc_id: r.simhash for r in rows}

    def py_simhash(text: str) -> int:
        toks = "".join(
            ch if ch.isalnum() or ch.isspace() else " " for ch in text.lower()
        ).split()
        sh = {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}
        votes = [0] * 60
        for s in sh:
            h = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
            for b in range(60):
                votes[b] += 1 if (h >> b) & 1 else -1
        return sum(1 << b for b in range(60) if votes[b] > 0)

    for doc_id, text in [(1, BASE), (2, NEAR), (3, FAR)]:
        assert got[doc_id] == py_simhash(text)

    # near-dup pair is Hamming-close; far pair is not
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert got[1] == got[4]
    assert ham(got[1], got[2]) < ham(got[1], got[3])


def test_portable_hash60_matches_python(spark):
    val = spark.range(1).select(
        portable_hash60(F.lit("hello world")).alias("h")
    ).first()["h"]
    assert val == int(hashlib.md5(b"hello world").hexdigest()[:15], 16)


def test_ngram_jaccard_matches_set_reference(spark):
    # The count-join must emit exactly the pairs a pure-Python set
    # Jaccard finds, with the same int/int score, on corpora with shared
    # boilerplate, near-dups, and disjoint texts.
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]

    def grams(text, n, unit):
        if unit == "token":
            toks = text.split()
            k = len(toks) - n + 1
            return {" ".join(toks[i : i + n]) for i in range(k)}
        return {text[i : i + n] for i in range(len(text) - n + 1)}

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        docs=st.lists(
            st.lists(st.sampled_from(words), min_size=0, max_size=8),
            min_size=2,
            max_size=12,
        ),
        threshold=st.sampled_from([0.3, 0.5, 0.6, 0.8]),
        unit=st.sampled_from(["char", "token"]),
    )
    def run(docs, threshold, unit):
        texts = [" ".join(ws) for ws in docs]
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        n = 3 if unit == "char" else 2
        got = df.transform(
            ngram_jaccard_pairs(n=n, threshold=threshold, unit=unit)
        ).collect()
        gs = [grams(t, n, unit) for t in texts]
        want = []
        for i, ga in enumerate(gs):
            for j in range(i + 1, len(gs)):
                inter = len(ga & gs[j])
                if inter == 0:
                    continue
                jac = inter / (len(ga) + len(gs[j]) - inter)
                if jac >= threshold:
                    want.append((i, j, jac))
        assert sorted(map(tuple, got)) == want

    run()


def test_segment_dedup_strips_cross_doc_segments(spark):
    from btc_usdt_etl_pipeline_spark.operators.dedup import segment_dedup

    shared = "a b c d e f g h"          # one full 8-token segment
    rows = [
        (1, shared + " " + "u1 u2 u3 u4 u5 u6 u7 u8"),
        (2, shared + " " + "w1 w2 w3 w4 w5 w6 w7 w8"),
        (3, shared),                     # nothing unique -> empty doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.clean_text, r.n_kept, r.n_dropped)
        for r in df.transform(segment_dedup(segment_tokens=8)).collect()
    }
    assert out[1] == ("u1 u2 u3 u4 u5 u6 u7 u8", 1, 1)
    assert out[2] == ("w1 w2 w3 w4 w5 w6 w7 w8", 1, 1)
    assert out[3] == ("", 0, 1)


def test_segment_dedup_keeps_within_doc_repeats(spark):
    # The rule is CROSS-document frequency: a segment repeated inside
    # one document is not boilerplate and survives (both copies).
    from btc_usdt_etl_pipeline_spark.operators.dedup import segment_dedup

    seg = "x1 x2 x3 x4 x5 x6 x7 x8"
    df = spark.createDataFrame(
        [(1, seg + " " + seg)], "doc_id long, text string"
    )
    row = df.transform(segment_dedup(segment_tokens=8)).first()
    assert row.clean_text == seg + " " + seg
    assert (row.n_kept, row.n_dropped) == (2, 0)


def test_decontaminate_flags_shingle_overlap(spark):
    from btc_usdt_etl_pipeline_spark.operators.dedup import decontaminate
    from pyspark.sql import functions as F

    leak = "t1 t2 t3 t4 t5 t6 t7 t8"
    rows = [
        (1, "eval", leak + " extra tail tokens here now ok fine yes"),
        (2, "train", "prefix words then " + leak),   # contaminated
        (3, "train", "c1 c2 c3 c4 c5 c6 c7 c8 c9"),  # clean
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r.doc_id: r.n_shared_shingles
        for r in df.transform(
            decontaminate(F.col("source") == "eval")
        ).collect()
    }
    assert out == {2: 1}


def test_segment_dedup_property_vs_python_reference(spark):
    """Differential test: the Spark chunk→count→strip→reassemble chain
    must equal a direct Python implementation for arbitrary corpora."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from btc_usdt_etl_pipeline_spark.operators.dedup import segment_dedup

    words = ["aa", "bb", "cc", "dd"]
    doc = st.lists(
        st.sampled_from(words), min_size=1, max_size=10
    ).map(" ".join)

    def py_segment_dedup(texts, n=3):
        segs = {
            i: [
                " ".join(toks[k : k + n])
                for k in range(0, len(toks), n)
            ]
            for i, t in enumerate(texts)
            for toks in [t.split()]
        }
        freq = {}
        for i, ss in segs.items():
            for s in set(ss):
                freq[s] = freq.get(s, 0) + 1
        out = {}
        for i, ss in segs.items():
            kept = [s for s in ss if freq[s] == 1]
            out[i] = (" ".join(kept), len(kept), len(ss) - len(kept))
        return out

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(texts=st.lists(doc, min_size=1, max_size=6))
    def run(texts):
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = {
            r.doc_id: (r.clean_text, r.n_kept, r.n_dropped)
            for r in df.transform(segment_dedup(segment_tokens=3)).collect()
        }
        assert got == py_segment_dedup(texts)

    run()


def test_minhash_max_bucket_cap_semantics(spark):
    """The band-bucket cap (r5 verdict #6): N identical docs share
    EVERY band bucket, so with max_bucket=K only the K smallest ids
    survive any bucket and the pair count collapses from N·(N-1)/2 to
    K·(K-1)/2 — deterministically the K smallest ids, regardless of
    partitioning.  Uncapped, all pairs appear."""
    n, k = 12, 5
    df = spark.createDataFrame(
        [(i, BASE) for i in range(n)], "doc_id long, text string"
    )
    capped = df.transform(
        minhash_near_dedup(num_hashes=64, bands=16, max_bucket=k)
    ).collect()
    assert len(capped) == k * (k - 1) // 2
    ids = {p.id_a for p in capped} | {p.id_b for p in capped}
    assert ids == set(range(k))  # the k smallest doc_ids, exactly
    assert all(p.jaccard == 1.0 for p in capped)

    uncapped = df.transform(
        minhash_near_dedup(num_hashes=64, bands=16, max_bucket=None)
    ).collect()
    assert len(uncapped) == n * (n - 1) // 2

    # determinism under repartitioning: same kept set
    recapped = (
        df.repartition(7)
        .transform(minhash_near_dedup(num_hashes=64, bands=16, max_bucket=k))
        .collect()
    )
    assert {(p.id_a, p.id_b) for p in recapped} == {
        (p.id_a, p.id_b) for p in capped
    }


def test_incremental_minhash_equals_filtered_full(spark):
    """new_col mode == full pair set filtered to batch-touching pairs,
    and never emits an index↔index pair."""
    from pyspark.sql import functions as F

    from btc_usdt_etl_pipeline_spark.operators.dedup import (
        minhash_near_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in range(40):
        # clusters of 4 near-identical docs; one member per cluster is
        # "new" (id % 4 == 3)
        rows.append((i, base + f" tail{i // 4}" + (" x" if i % 4 == 0 else "")))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = df.transform(
        minhash_near_dedup(bands=32, jaccard_threshold=0.5)
    ).collect()
    dn = df.withColumn("_new", F.expr("doc_id % 4 = 3"))
    inc = dn.transform(
        minhash_near_dedup(
            bands=32, jaccard_threshold=0.5, new_col="_new"
        )
    ).collect()
    want = {
        (r["id_a"], r["id_b"])
        for r in full
        if r["id_a"] % 4 == 3 or r["id_b"] % 4 == 3
    }
    got = {(r["id_a"], r["id_b"]) for r in inc}
    assert got == want and len(want) > 0
    for a, b in got:
        assert a % 4 == 3 or b % 4 == 3


def test_containment_catches_subset_duplicates(spark):
    """r10 metric='containment': a short doc quoted verbatim inside a
    much larger one must pair at containment 1.0 while symmetric
    Jaccard stays far below any threshold; the capped leg (max_df)
    agrees with the uncapped one on a boilerplate-free corpus; and the
    asymmetry is reported per direction."""
    from btc_usdt_etl_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    quote = " ".join(f"tok{i}" for i in range(30))
    big = quote + " " + " ".join(f"filler{i} pad{i}" for i in range(300))
    other = " ".join(f"alien{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, quote), (2, big), (3, other)], "doc_id long, text string"
    )

    mk = lambda **kw: ngram_jaccard_pairs(
        text_col="text", id_col="doc_id", n=3, unit="token", **kw
    )
    cont = df.transform(mk(threshold=0.9, metric="containment")).collect()
    assert len(cont) == 1
    r = cont[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.containment_a == 1.0       # the quote is fully contained
    assert r.containment_b < 0.1        # ...but is a sliver of the host

    # symmetric Jaccard on the same pair is diluted to ~|A|/|B|
    jac = df.transform(mk(threshold=0.5, metric="jaccard")).collect()
    assert jac == []

    # capped leg: same emitted set when no gram crosses the cap
    capped = df.transform(
        mk(threshold=0.9, metric="containment", max_df=50)
    ).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, cont))

    import pytest as _pytest
    with _pytest.raises(ValueError, match="metric"):
        mk(metric="dice")

"""Streaming MinHash index upsert (streaming/neardup.py): union of
per-micro-batch pair emissions == the batch minhash_near_dedup pair set
over the whole corpus, with the retry-idempotence discipline of the
other ``foreachBatch`` state sinks."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango "
    "uniform victor whiskey xray yankee zulu".split()
)


def _corpus(seed: int, n_base: int = 40):
    """Docs with planted near-dups: each base doc gets a copy with one
    word changed (trigram Jaccard well above 0.8) and the rest are
    random-enough to stay below threshold."""
    rng = random.Random(seed)
    rows = []
    did = 0
    for _ in range(n_base):
        # 40 tokens -> 38 trigrams; a 1-word mutation touches <= 3, so
        # the planted pair's Jaccard is >= ~35/41 = 0.85, safely over
        # the 0.8 threshold even with repeated-trigram slack
        toks = [rng.choice(WORDS) for _ in range(40)]
        rows.append((did, " ".join(toks)))
        did += 1
        if rng.random() < 0.5:  # planted near-dup
            mut = list(toks)
            mut[rng.randrange(2, 38)] = rng.choice(WORDS)
            rows.append((did, " ".join(mut)))
            did += 1
    return rows


PARAMS = dict(
    text_col="text",
    id_col="doc_id",
    shingle_n=3,
    num_hashes=128,
    bands=32,
    jaccard_threshold=0.8,
)


def _batch_pairs(spark, df):
    from btc_usdt_etl_pipeline_spark.operators.dedup import (
        minhash_near_dedup,
    )

    # the streaming sink never caps buckets, so neither does its twin
    near_dedup = minhash_near_dedup(max_bucket=None, **PARAMS)
    return sorted(map(tuple, df.transform(near_dedup).collect()))


def test_streaming_neardup_equals_batch(spark, tmp_path):
    """Multi-micro-batch drain (maxFilesPerTrigger=1) accumulates
    EXACTLY the batch pair set, including cross-batch pairs; each
    batch writes ONLY its own contribution directories (settled
    contributions are immutable — the |new|-scale write contract)."""
    from btc_usdt_etl_pipeline_spark.streaming.neardup import (
        _contrib_state,
        incremental_minhash_upsert,
        read_neardup_pairs,
    )

    rows = _corpus(293)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "src")
    # range-partition so planted (2k, 2k+1) near-dup pairs often split
    # across files -> cross-batch new-vs-index pairs are exercised
    df.repartition(4).write.parquet(src)

    state = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(
            incremental_minhash_upsert(spark, state, **PARAMS)
        )
        .start()
    )
    q.awaitTermination()

    got = sorted(map(tuple, read_neardup_pairs(spark, state).collect()))
    want = _batch_pairs(spark, df)
    assert got == want
    assert len(want) >= 5  # the fixture actually planted near-dups
    # one immutable contribution dir per micro-batch, per store
    n_batches = len(_contrib_state(spark, f"{state}/index")[1])
    assert n_batches == 4  # maxFilesPerTrigger=1 over 4 files
    assert len(_contrib_state(spark, f"{state}/pairs")[1]) == n_batches
    assert len(_contrib_state(spark, f"{state}/corpus")[1]) == n_batches
    # index rows across contributions == one band-set per doc
    idx = spark.read.parquet(f"{state}/index/b*")
    assert idx.count() == df.count() * PARAMS["bands"]


def test_streaming_neardup_retry_and_cross_batch(spark, tmp_path):
    """Manual batches: a pair whose sides arrive in different batches
    is emitted by the later batch (new-vs-index); replaying the last
    batch (the Structured Streaming retry contract) lands the
    identical pair state."""
    from btc_usdt_etl_pipeline_spark.streaming.neardup import (
        incremental_minhash_upsert,
        read_neardup_pairs,
    )

    rows = _corpus(177)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = _batch_pairs(spark, df)
    # split so every planted (even, odd-sibling) pair straddles batches
    b0 = df.filter(F.col("doc_id") % 2 == 0)
    b1 = df.filter(F.col("doc_id") % 2 == 1)
    cross = [p for p in want if p[0] % 2 != p[1] % 2]
    assert cross  # fixture sanity: cross-batch pairs exist

    state = str(tmp_path / "state")
    up = incremental_minhash_upsert(spark, state, **PARAMS)
    up(b0, 0)
    first = sorted(
        map(tuple, read_neardup_pairs(spark, state).collect())
    )
    assert first == _batch_pairs(spark, b0)  # within-batch only so far
    up(b1, 1)
    after = sorted(
        map(tuple, read_neardup_pairs(spark, state).collect())
    )
    assert after == want  # cross-batch pairs arrived with batch 1
    up(b1, 1)  # retried batch recomputes from v0 -> identical state
    assert sorted(
        map(tuple, read_neardup_pairs(spark, state).collect())
    ) == want


def test_streaming_neardup_compaction_equivalence(spark, tmp_path):
    """Mid-stream compaction (c{K} protocol): pair state before/after
    compacting is identical, later batches build on the compacted
    state, and a second compaction folds the post-compaction batch
    in."""
    from btc_usdt_etl_pipeline_spark.streaming.neardup import (
        _contrib_state,
        compact_neardup_state,
        incremental_minhash_upsert,
        read_neardup_pairs,
    )

    rows = _corpus(431)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = _batch_pairs(spark, df)
    parts = [df.filter(F.col("doc_id") % 3 == i) for i in range(3)]

    state = str(tmp_path / "state")
    up = incremental_minhash_upsert(spark, state, **PARAMS)
    up(parts[0], 0)
    up(parts[1], 1)
    before = sorted(
        map(tuple, read_neardup_pairs(spark, state).collect())
    )
    # regression: warehouse.save_as_table flips the session to dynamic
    # partition overwrite, under which partitioned writes emit no root
    # _SUCCESS — the compaction marker must not depend on it
    prev_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set(
        "spark.sql.sources.partitionOverwriteMode", "dynamic"
    )
    try:
        compact_neardup_state(spark, state)
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", prev_mode
        )
    after = sorted(
        map(tuple, read_neardup_pairs(spark, state).collect())
    )
    assert after == before  # row-preserving merge
    for store in ("index", "corpus", "pairs"):
        k, live = _contrib_state(spark, f"{state}/{store}")
        assert k == 1 and live == []  # b0/b1 swept into c1
    up(parts[2], 2)  # continues on the compacted state
    assert sorted(
        map(tuple, read_neardup_pairs(spark, state).collect())
    ) == want
    compact_neardup_state(spark, state)  # folds b2 into c2
    k, live = _contrib_state(spark, f"{state}/pairs")
    assert k == 2 and live == []
    assert sorted(
        map(tuple, read_neardup_pairs(spark, state).collect())
    ) == want
    # a batch id at or below the compaction id must refuse to run
    with pytest.raises(ValueError, match="compaction"):
        up(parts[0], 2)


def test_streaming_neardup_validates(spark, tmp_path):
    from btc_usdt_etl_pipeline_spark.streaming.neardup import (
        read_neardup_pairs,
    )

    with pytest.raises(FileNotFoundError):
        read_neardup_pairs(spark, str(tmp_path / "nope"))

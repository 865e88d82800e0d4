"""Materialize a larger-than-sf0.1 synthetic dataset for scale smokes.

The driver testdata stops at sf0.1 (5k documents / 2k embeddings / 100k
events).  Data-dependent hazards in the dedup / similarity / graph
families — skewed gram keys, band-bucket blowup, zipf-hot group keys —
need more rows to trigger, so this tool generates a deliberately NASTIER
corpus at a chosen multiple of sf0.1 and writes parquet with the exact
driver schemas:

- ``documents``: same vocab/langs/sources as the driver tables, PLUS
  ~10% exact duplicates, ~10% near-duplicates (2-word perturbation),
  and a boilerplate sentence appended to ~30% of docs — the
  boilerplate-heavy shape that makes exact n-gram Jaccard's sum(df^2)
  join mass explode (SCALE.md §4.5) and that ``max_df`` exists for.
- ``embeddings``: 64-dim float32, 10 label-centroid clusters + noise —
  same macro-shape as the driver table so IVF/SRP bucketing stays
  meaningful.
- ``events``: 30-day span, zipf-skewed user_id (hot keys), categorical
  event_type, JSON props.
- ``supplier``: Supplier#%09d names with ~5% planted edit-distance-1
  typo variants so the SymSpell fuzzy join has real match mass.

Generation is mapInPandas over spark.range slices — executor-side,
partition-parallel, deterministic per row id (numpy seeded by block),
no driver materialization.  Usage:

    python tools/gen_scale.py [mult] [out_dir] [tables] [--vocab-growth]

defaults: mult=10, out_dir=<repo root>/.scale{mult}x, tables=all
(``tables`` is a comma list, e.g. ``documents,embeddings,supplier``).

``--vocab-growth`` switches ``documents`` to an OPEN vocabulary:
words are zipf-1.5 ranks (``w1, w2, …`` unbounded), so distinct gram
types grow with the corpus as Heaps' law predicts (V ∝ N^(1/s) ≈
N^0.67) instead of saturating at the 30-word fixed vocab.  The fixed
vocab deliberately stresses SKEW (boilerplate-degenerate buckets,
sum(df²) blowup); it also saturates distinct gram types, which makes
every token-explode probe (Zipf fit, diversity, Good–Turing, PMI)
look sublinear when the real cost driver is gram-TYPE growth — use
this knob for those probes (VERDICT r10 ask #4).  Duplicate /
near-duplicate / boilerplate planting is unchanged.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window join stream merge table "
    "vector data customer row the a"
).split()

BOILERPLATE = "subscribe to our newsletter click here to learn more"
LANGS = ["en", "en", "de", "zh", "fr", "es"]
EVENT_TYPES = ["purchase", "error", "view", "signup", "click"]


def _doc_text(rng, n_words: int) -> str:
    import numpy as np  # noqa: F401 — executor-side

    return " ".join(rng.choice(VOCAB, size=n_words))


def gen_documents(spark, n: int, n_parts: int, open_vocab: bool = False):
    import pandas as pd

    schema = "doc_id long, text string, lang string, source string, n_chars long"

    def base_stored(i: int):
        """Stored text of a NON-duplicate doc i (kind 0-6), replayable
        from any executor: word salad + boilerplate when i%10 < 3.
        ``open_vocab`` swaps the 30-word fixed vocab for zipf-1.5 rank
        words (unbounded type space, Heaps-law distinct-gram growth)."""
        import numpy as np

        rng = np.random.default_rng(42 + i)
        n_words = int(10 + rng.integers(0, 60))
        if open_vocab:
            ranks = rng.zipf(1.5, size=n_words)
            text = " ".join(f"w{int(r)}" for r in ranks)
        else:
            text = " ".join(rng.choice(VOCAB, size=n_words))
        if i % 10 < 3:
            text = text + " " + BOILERPLATE
        return text

    def make(batches):
        import numpy as np

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out = []
            for i in ids:
                i = int(i)
                kind = i % 10
                if kind == 7 and i >= n // 10:
                    # exact duplicate of an earlier kind-0 doc
                    src = ((i - n // 10) // 10) * 10
                    text = base_stored(src)
                elif kind == 8 and i >= n // 10:
                    # near-duplicate: earlier kind-1 doc, 2 words swapped
                    src = ((i - n // 10) // 10) * 10 + 1
                    rng = np.random.default_rng(42 + i)
                    words = base_stored(src).split()
                    for j in (0, len(words) // 2):
                        words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
                    text = " ".join(words)
                else:
                    text = base_stored(i)
                out.append(
                    (
                        int(i),
                        text,
                        LANGS[int(i) % len(LANGS)],
                        f"src{int(i) % 20}",
                        len(text),
                    )
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "text", "lang", "source", "n_chars"]
            )

    return spark.range(0, n, 1, n_parts).mapInPandas(make, schema)


def gen_embeddings(spark, n: int, n_parts: int):
    import pandas as pd

    schema = "vec_id long, embedding array<float>, label int"

    def make(batches):
        import numpy as np

        cent = np.random.default_rng(7).normal(0.0, 1.0, size=(10, 64))
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            labels = (ids % 10).astype("int32")
            rng = np.random.default_rng(1000 + int(ids[0]) if len(ids) else 0)
            noise = rng.normal(0.0, 0.35, size=(len(ids), 64))
            vecs = (cent[labels] + noise).astype("float32")
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "embedding": [v for v in vecs],
                    "label": labels,
                }
            )

    return spark.range(0, n, 1, n_parts).mapInPandas(make, schema)


def gen_events(spark, n: int, n_parts: int, n_users: int):
    import pandas as pd

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def make(batches):
        import numpy as np

        base = np.datetime64("2024-01-01T00:00:00")
        span_s = 30 * 86400
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rng = np.random.default_rng(5000 + int(ids[0]) if len(ids) else 0)
            # zipf-skewed users: rank r gets mass ~ 1/r
            u = rng.zipf(1.3, size=len(ids))
            users = np.minimum(u - 1, n_users - 1).astype("int64")
            ts = base + ((ids * 2654435761 % span_s)).astype("timedelta64[s]")
            vals = np.round(np.exp(rng.normal(2.0, 1.0, size=len(ids))), 2)
            types = [EVENT_TYPES[int(x)] for x in ids % len(EVENT_TYPES)]
            props = [f'{{"k":{int(i) % 7}}}' for i in ids]
            yield pd.DataFrame(
                {
                    "event_id": ids,
                    "ts": pd.Series(ts),
                    "user_id": users,
                    "event_type": types,
                    "value": vals,
                    "props": props,
                }
            )

    return spark.range(0, n, 1, n_parts).mapInPandas(make, schema)


def gen_supplier(spark, n: int, n_parts: int):
    import pandas as pd

    schema = "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"

    def make(batches):
        import numpy as np

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rng = np.random.default_rng(9000 + int(ids[0]) if len(ids) else 0)
            names = []
            for i in ids:
                name = f"Supplier#{int(i):09d}"
                if i % 20 == 13:  # planted edit-distance-1 typo of i-1
                    base = f"Supplier#{int(i) - 1:09d}"
                    pos = int(rng.integers(0, len(base)))
                    name = base[:pos] + "X" + base[pos + 1 :]
                names.append(name)
            yield pd.DataFrame(
                {
                    "s_suppkey": ids,
                    "s_name": names,
                    "s_nationkey": (ids % 25).astype("int32"),
                    "s_acctbal": np.round(
                        rng.uniform(-999.99, 9999.99, size=len(ids)), 2
                    ),
                }
            )

    return spark.range(0, n, 1, n_parts).mapInPandas(make, schema)


def gen_customer(spark, n: int, n_parts: int):
    import pandas as pd

    schema = (
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string"
    )
    segs = ["FURNITURE", "MACHINERY", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]

    def make(batches):
        import numpy as np

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rng = np.random.default_rng(11000 + int(ids[0]) if len(ids) else 0)
            yield pd.DataFrame(
                {
                    "c_custkey": ids,
                    "c_name": [f"Customer#{int(i):09d}" for i in ids],
                    "c_nationkey": (ids % 25).astype("int32"),
                    "c_acctbal": np.round(
                        rng.uniform(-999.99, 9999.99, size=len(ids)), 2
                    ),
                    "c_mktsegment": [segs[int(i) % 5] for i in ids],
                }
            )

    return spark.range(0, n, 1, n_parts).mapInPandas(make, schema)


def gen_orders(spark, n: int, n_parts: int, n_cust: int):
    import pandas as pd

    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

    def make(batches):
        import numpy as np

        base = np.datetime64("1995-01-01")
        span_d = 7 * 365
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rng = np.random.default_rng(12000 + int(ids[0]) if len(ids) else 0)
            # zipf-hot customers: the head customer carries ~20% of orders
            u = rng.zipf(1.25, size=len(ids))
            cust = np.minimum(u - 1, n_cust - 1).astype("int64")
            dates = base + (ids * 2654435761 % span_d).astype(
                "timedelta64[D]"
            )
            yield pd.DataFrame(
                {
                    "o_orderkey": ids,
                    "o_custkey": cust,
                    "o_orderstatus": [
                        "OFP"[int(i) % 3] for i in ids
                    ],
                    "o_totalprice": np.round(
                        np.exp(rng.normal(11.5, 0.8, size=len(ids))), 2
                    ),
                    "o_orderdate": pd.Series(dates),
                    "o_orderpriority": [prios[int(i) % 5] for i in ids],
                }
            )

    return spark.range(0, n, 1, n_parts).mapInPandas(make, schema)


def gen_lineitem(
    spark, n: int, n_parts: int, n_orders: int, n_part: int, n_supp: int
):
    import pandas as pd

    schema = (
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp"
    )

    def make(batches):
        import numpy as np

        base = np.datetime64("1995-01-01")
        span_d = 7 * 365
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rng = np.random.default_rng(13000 + int(ids[0]) if len(ids) else 0)
            # hot part: partkey 0 on ~10% of lines (skewed join key)
            part = rng.integers(0, n_part, size=len(ids))
            part[ids % 10 == 3] = 0
            yield pd.DataFrame(
                {
                    "l_orderkey": ids % n_orders,
                    "l_partkey": part.astype("int64"),
                    "l_suppkey": (ids * 7919 % n_supp).astype("int64"),
                    "l_linenumber": (ids % 7 + 1).astype("int32"),
                    "l_quantity": (ids % 50 + 1).astype("float64"),
                    "l_extendedprice": np.round(
                        rng.uniform(900.0, 105000.0, size=len(ids)), 2
                    ),
                    "l_discount": np.round(
                        (ids % 11) * 0.01, 2
                    ),
                    "l_tax": np.round((ids % 9) * 0.01, 2),
                    "l_returnflag": ["RAN"[int(i) % 3] for i in ids],
                    "l_linestatus": ["OF"[int(i) % 2] for i in ids],
                    "l_shipdate": pd.Series(
                        base
                        + (ids * 1299709 % span_d).astype("timedelta64[D]")
                    ),
                }
            )

    return spark.range(0, n, 1, n_parts).mapInPandas(make, schema)


def gen_part(spark, n: int, n_parts: int):
    import pandas as pd

    schema = (
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    )
    adjs = ["large", "hot", "small", "cold", "shiny", "matte", "deep", "pale"]
    nouns = ["ring", "bolt", "gear", "pin", "rod", "cap", "nut", "plate"]
    types = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]

    def make(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            yield pd.DataFrame(
                {
                    "p_partkey": ids,
                    "p_name": [
                        f"{adjs[int(i) % 8]} {nouns[(int(i) // 8) % 8]}"
                        for i in ids
                    ],
                    "p_brand": [f"Brand#{int(i) % 25 + 1}" for i in ids],
                    "p_type": [types[int(i) % 6] for i in ids],
                    "p_size": (ids % 50 + 1).astype("int32"),
                    "p_retailprice": (900.0 + (ids % 1000) / 10.0),
                }
            )

    return spark.range(0, n, 1, n_parts).mapInPandas(make, schema)


def main() -> int:
    import os

    from pyspark.sql import SparkSession

    argv = [a for a in sys.argv[1:] if a != "--vocab-growth"]
    open_vocab = "--vocab-growth" in sys.argv[1:]
    mult = int(argv[0]) if len(argv) > 0 else 10
    out = (
        argv[1] if len(argv) > 1 else os.path.join(ROOT, f".scale{mult}x")
    )
    only = set(argv[2].split(",")) if len(argv) > 2 else None
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("gen-scale")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    parts = 32
    n_orders = 150_000 * mult
    jobs = [
        (
            "documents",
            gen_documents(spark, 5_000 * mult, parts, open_vocab),
        ),
        ("embeddings", gen_embeddings(spark, 2_000 * mult, parts)),
        ("events", gen_events(spark, 100_000 * mult, parts, 1_500 * mult)),
        ("supplier", gen_supplier(spark, 1_000 * mult, parts)),
        ("customer", gen_customer(spark, 15_000 * mult, parts)),
        ("orders", gen_orders(spark, n_orders, parts, 15_000 * mult)),
        (
            "lineitem",
            gen_lineitem(
                spark,
                600_000 * mult,
                parts,
                n_orders,
                20_000 * mult,
                1_000 * mult,
            ),
        ),
        ("part", gen_part(spark, 20_000 * mult, parts)),
    ]
    for name, df in jobs:
        if only is not None and name not in only:
            continue
        path = os.path.join(out, f"{name}.parquet")
        df.write.mode("overwrite").parquet(path)
        print(f"wrote {path}")
    # nation/region are fixed-size dims — mirror the driver tables.
    for name in ("nation", "region"):
        if only is not None and name not in only:
            continue
        spark.read.parquet(f"/root/testdata/sf0.1/{name}.parquet").write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"{name}.parquet"))
        print(f"copied {name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

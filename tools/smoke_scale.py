"""Scale smoke: execute EVERY registered query's Spark plan at a bigger
scale factor than the correctness gate uses (default sf0.1), discarding
results through the noop sink.

The differential oracle runs at sf0.01 only, and the bench headline is a
subset — so a data-dependent failure that needs sf0.1 to trigger (e.g. a
zero price reaching an ANSI division, a skewed key overflowing a buffer)
would otherwise ship unexecuted.  This caught exactly that: q79's return
computation divided by a 0.0 close that first appears at sf0.1.

    python tools/smoke_scale.py [sf_dir] [name_prefixes]

``name_prefixes`` (optional, comma-separated, e.g. ``q26,q30,q62``)
restricts the run to matching queries — used with tools/gen_scale.py
output dirs that materialize only the documents/embeddings/events/
supplier tables at >sf0.1 sizes.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    prefixes = (
        tuple(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    )
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("smoke-scale")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Scale smokes run above the correctness SF — give the single
        # local JVM a heap commensurate with 32 task threads so an OOM
        # means a genuine plan blowup, not a 1g-default artifact.
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    failures = []
    selected = {
        name: fn
        for name, fn in entry.queries().items()
        if prefixes is None or name.startswith(prefixes)
    }
    def qnum(name: str) -> tuple:
        import re

        m = re.match(r"q(\d+)", name)
        return (int(m.group(1)) if m else 1 << 30, name)

    # Numeric order, not lexicographic — if a heavy query kills the JVM
    # the queries before it in natural order have already reported.
    for name, fn in sorted(selected.items(), key=lambda kv: qnum(kv[0])):
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            print(f"ok   {name} [{time.time() - t0:.1f}s]")
        except Exception as ex:  # noqa: BLE001 — report-all smoke
            failures.append(name)
            msg = str(ex).splitlines()[0][:140]
            print(f"FAIL {name}: {msg}")
        spark.catalog.clearCache()

    print(f"\n{len(failures)} failures of {len(selected)}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

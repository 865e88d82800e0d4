"""Optimized-plan identity check between two checkouts.

``dump`` builds every registered query (or the named ones) at one scale
factor and writes ``{query: optimized logical plan}`` as JSON, with the
run-specific parts of the plan text normalized: expression ids
(``#123``), lambda variable numbers, RDD and checkpoint ids, and
temporary directory names.
``diff`` compares two such files and prints only the queries whose plans
differ (or that exist in one file only), with the first differing lines.

    python tools/plan_diff.py dump OUT.json SF_DIR [query ...]
    python tools/plan_diff.py diff A.json B.json

To compare a change with its parent, run ``dump`` from each checkout
(copy this script into the parent's ``tools/`` if it lacks it), then
``diff`` the two files.  Query construction runs the eager jobs some
operators launch while they are built (graph loops, streaming drains),
but no final action.
"""

from __future__ import annotations

import difflib
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_NORMALIZE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"\b(lambda [A-Za-z]+)_\d+"), r"\1_"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[]"),
    (re.compile(r"\bplan_id=\d+"), "plan_id="),
    (re.compile(r"/tmp/[^\s,\]\)]+"), "/tmp/…"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
]


def normalize(plan: str) -> str:
    for pat, rep in _NORMALIZE:
        plan = pat.sub(rep, plan)
    return plan


def dump(out_path: str, sf_dir: str, only: set[str]) -> int:
    import __spark_entry__ as entry
    from btc_usdt_etl_pipeline_spark.session import build_session

    spark = build_session("plan-diff")
    spark.sparkContext.setLogLevel("ERROR")
    plans: dict[str, str] = {}
    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        spark.catalog.clearCache()
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
        except Exception as e:  # noqa: BLE001 — record and keep going
            plan = f"ERROR {type(e).__name__}: {e}"
        plans[name] = normalize(plan)
        print(f"{name}: {len(plans[name].splitlines())} plan lines", flush=True)
    with open(out_path, "w") as f:
        json.dump(plans, f, indent=1)
    return 0


def diff(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    differ = 0
    for name in list(a) + [n for n in b if n not in a]:
        if a.get(name) == b.get(name):
            continue
        differ += 1
        print(f"== {name}")
        lines = difflib.unified_diff(
            (a.get(name) or "").splitlines(),
            (b.get(name) or "").splitlines(),
            "a", "b", n=0, lineterm="",
        )
        for line in list(lines)[2:]:
            print(f"   {line}")
    print(f"{differ} of {len(set(a) | set(b))} plans differ")
    return 1 if differ else 0


def main(argv: list[str]) -> int:
    if len(argv) >= 3 and argv[0] == "dump":
        return dump(argv[1], argv[2], set(argv[3:]))
    if len(argv) == 3 and argv[0] == "diff":
        return diff(argv[1], argv[2])
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

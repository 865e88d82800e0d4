"""Layered benchmark of the query engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One run:

1. reads the input tables from ``perfbench/data/sf0.01``, a frozen copy
   of the engine's reference test data (``sf0.001`` with ``--tiny``);
2. sets up the engine — JVM launch, ``build_session``,
   ``import __spark_entry__`` and a warm-up job; ``setup_s`` runs from
   process start to the end of the warm-up job;
3. runs every query of the workload once, collects its rows and compares
   row count and value hash with the query's DuckDB oracle
   (``__spark_entry__.oracle_sql()``), outside the timed passes;
4. runs ``WARMUP_PASSES`` untimed warm-up passes, then timed
   passes for at most ``--seconds``: each pass calls every query of the
   workload once, in an order permuted by the seed, and drives the result
   through a ``noop`` write.  One client runs one query at a time (closed
   loop).

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of ``tracing.py``.  The last line of stdout is one JSON object;
the lines before it give every timing with its sample count.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import tempfile
import time

PROCESS_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data")

DRIVER_MEMORY = "2g"
# A fixed young generation: G1 otherwise resizes it from pause times, and
# the peak resident memory then swings with GC timing rather than with the
# data the program keeps.
YOUNG_GEN = "256m"
# Generated code keeps being compiled over the first passes after the
# oracle check: pass times fall by a third over about five passes before
# they level off.  The JIT counts calls, so the warm-up counts passes.
WARMUP_PASSES = 5

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "query_p50_s": "s", "query_max_s": "s",
    "peak_rss_mb": "MB",
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _environment(tmp: str) -> None:
    """Pin cores and keep every file the run writes inside the checkout."""
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # JVMs otherwise keep a performance-data file under /tmp.
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        # Python workers import the package too, whatever their cwd.
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = tmp


def _session_conf(run_dir: str, tmp: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn{YOUNG_GEN}",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def _setup(conf: dict[str, str]):
    """Launch the JVM, build the session, import the entry module, warm up."""
    t0 = time.perf_counter()
    from btc_usdt_etl_pipeline_spark.session import build_session

    spark = build_session("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    import __spark_entry__ as entry

    t2 = time.perf_counter()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    t3 = time.perf_counter()
    return spark, entry, {"setup_s": t3 - PROCESS_START,
                          "session.build_s": t1 - t0,
                          "session.import_s": t2 - t1,
                          "session.warmup_s": t3 - t2}


def _teardown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
        proc.kill()
        proc.wait()


def _peak_rss_mb(pids: list[int]) -> float:
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def _oracle_check(spark, entry, names, sf_dir) -> list[str]:
    """Compare each query's rows with its DuckDB oracle; return failures."""
    import duckdb

    from tools.check_correctness import canon

    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for file in sorted(os.listdir(sf_dir)):
        table = file.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, file)}'")
    failures = []
    for name in names:
        spark.catalog.clearCache()
        try:
            df = queries[name](spark, sf_dir)
            got = canon(df.collect(), df.columns)[:3]
            rel = con.sql(oracles[name])
            want = canon(rel.fetchall(), [d[0] for d in rel.description])[:3]
        except Exception as e:  # noqa: BLE001 — a failing query is counted
            failures.append(f"{name}: {type(e).__name__}: {e}"[:300])
            continue
        if got != want:
            failures.append(f"{name}: got {got}, oracle {want}")
    con.close()
    return failures


def _run_query(spark, fn, sf_dir, tracer, pass_no, name) -> None:
    if tracer is None:
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return
    with tracer.query(pass_no, name):
        with tracer.phase("construct"):
            df = fn(spark, sf_dir)
        tracer.plan(df)
        with tracer.phase("exec"):
            df.write.format("noop").mode("overwrite").save()


def _timed_passes(spark, entry, names, sf_dir, seconds, max_passes, order,
                  tracer):
    """Run passes while the next one should end within ``seconds``, the
    first regardless; return per-query times.  ``order`` shuffles each
    pass's queries."""
    queries = entry.queries()
    times: dict[str, list[float]] = {n: [] for n in names}
    pass_totals: list[float] = []
    errors: list[str] = []
    start = time.perf_counter()
    while len(pass_totals) < max_passes and (
            not pass_totals
            or time.perf_counter() - start + pass_totals[-1] <= seconds):
        pass_no = len(pass_totals)
        seq = list(names)
        order.shuffle(seq)
        total = 0.0
        for name in seq:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                _run_query(spark, queries[name], sf_dir, tracer, pass_no, name)
            except Exception as e:  # noqa: BLE001 — a failing query is counted
                errors.append(f"pass {pass_no} {name}: {type(e).__name__}: {e}"[:300])
                continue
            dt = time.perf_counter() - t0
            times[name].append(dt)
            total += dt
        pass_totals.append(total)
    return times, pass_totals, errors


def _describe(values: list[float]) -> str:
    if len(values) < 2:
        return f"n={len(values)}"
    q1, _, q3 = statistics.quantiles(values, n=4)
    return f"n={len(values)} min={min(values):.4f} q1={q1:.4f} q3={q3:.4f} max={max(values):.4f}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="sf0.001 inputs, no warm-up and one timed pass "
                         "(self-test)")
    args = ap.parse_args(argv)

    missing = [p for p in ("__spark_entry__.py", "btc_usdt_etl_pipeline_spark",
                           "tools/check_correctness.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files not found in {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]

    import pyspark
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    names = WORKLOADS[args.workload]
    sf = "sf0.001" if args.tiny else "sf0.01"
    sf_dir = os.path.join(DATA, sf)
    max_passes = 1 if args.tiny else 1_000

    tmp = os.path.join(WORK, "tmp")
    _environment(tmp)
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(
        prefix=f"{args.workload}-seed{args.seed}-trace{args.trace}-",
        dir=os.path.join(WORK, "runs"))
    conf = _session_conf(run_dir, tmp, bool(args.trace))

    spark, entry, setup = _setup(conf)
    tracer = None
    try:
        t_check = time.perf_counter()
        failures = _oracle_check(spark, entry, names, sf_dir)
        check_s = time.perf_counter() - t_check
        order = random.Random(args.seed)
        warm, warm_errors = [], []
        if not args.tiny:
            _, warm, warm_errors = _timed_passes(
                spark, entry, names, sf_dir, float("inf"), WARMUP_PASSES,
                order, None)
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark, entry)
        times, pass_totals, errors = _timed_passes(
            spark, entry, names, sf_dir, args.seconds, max_passes, order,
            tracer)
        from pyspark import SparkContext

        rss = _peak_rss_mb([os.getpid(), SparkContext._gateway.proc.pid])
    finally:
        if tracer is not None:
            tracer.close()
        _teardown(spark)

    failures += warm_errors + errors
    attempted = len(names) * (1 + len(warm) + len(pass_totals))
    failed = len(failures)
    medians = [statistics.median(v) for v in times.values() if v]

    for f in failures:
        print(f"FAILED {f}")
    env = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "cores": _nproc(), "sf": sf, "spark": pyspark.__version__,
           "python": sys.version.split()[0]}
    print(f"# env {json.dumps(env)}")
    print(f"# passes={len(pass_totals)} warm-up passes={len(warm)} "
          f"check_s={check_s:.1f}")
    print(f"setup_s {setup['setup_s']:.4f} s n=1")
    print(f"pass_s {statistics.median(pass_totals):.4f} s "
          f"{_describe(pass_totals)} in order: "
          + " ".join(f"{t:.3f}" for t in pass_totals))
    for name, v in sorted(times.items()):
        if v:
            print(f"  {name} {statistics.median(v):.4f} s {_describe(v)}")
    print(f"failed_frac {failed / attempted:.4f} fraction n={attempted}")

    if args.trace:
        from tracing import LAYER_UNITS, layer_metrics, parse_event_log

        groups = parse_event_log(os.path.join(run_dir, "eventlog"))
        values = layer_metrics(tracer, groups, list(range(len(pass_totals))),
                               setup)
        tracer.write(os.path.join(run_dir, "spans.json"))
        units = LAYER_UNITS
    else:
        values = {
            "setup_s": setup["setup_s"],
            "pass_s": statistics.median(pass_totals),
            "query_p50_s": statistics.median(medians),
            "query_max_s": max(medians),
            "peak_rss_mb": rss,
        }
        units = END_TO_END
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

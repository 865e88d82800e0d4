"""Tracing overhead and work-counter repeatability for one workload.

    python3 perfbench/stability.py --workload NAME [--seed N] [--seconds S]

Runs the benchmark once untraced and twice traced on the same seed.
Reports the tracing overhead — the traced ``trace.pass_s`` (median of the
two traced runs) minus the untraced ``pass_s`` —, each layer's share of
the traced pass (``stream.addBatch_s`` as a share of trigger time), and
lists every work
counter (jobs, tasks, stages, calls, batches, rows, shuffle bytes) whose
value differs between the two traced runs.  The last stdout line is one
JSON object.  Runs whose recorded core counts differ are refused as not
comparable.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """Metric values of one run, plus its ``# env`` record under ``env``."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=300, check=True)
    lines = proc.stdout.strip().splitlines()
    values = {k: v["value"]
              for k, v in json.loads(lines[-1])["metrics"].items()}
    values["env"] = next(json.loads(line[len("# env "):])
                         for line in lines if line.startswith("# env "))
    return values


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    from tracing import COUNTERS

    plain = _run(args.workload, args.seed, args.seconds, 0)
    traced = [_run(args.workload, args.seed, args.seconds, 1)
              for _ in range(2)]
    cores = {r["env"]["cores"] for r in [plain, *traced]}
    if len(cores) > 1:
        print(f"refused: runs on different core counts {sorted(cores)}",
              file=sys.stderr)
        return 1
    traced_pass = statistics.median(t["trace.pass_s"] for t in traced)
    overhead = traced_pass - plain["pass_s"]
    unstable = {k: [t[k] for t in traced] for k in COUNTERS
                if traced[0][k] != traced[1][k]}
    t = traced[0]
    shares = {
        "load": t["load.s"] / t["trace.pass_s"],
        "construct": t["construct.self_s"] / t["trace.pass_s"],
        "plan": sum(t[f"plan.{ph}_s"] for ph in
                    ("analysis", "optimization", "planning")) / t["trace.pass_s"],
        "exec": t["exec.s"] / t["trace.pass_s"],
        "addBatch_of_trigger": (t["stream.addBatch_s"]
                                / t["stream.triggerExecution_s"]
                                if t["stream.triggerExecution_s"] else 0.0),
    }
    print(f"pass_s untraced {plain['pass_s']:.4f} s, traced "
          f"{traced_pass:.4f} s, overhead {overhead:+.4f} s "
          f"({overhead / plain['pass_s']:+.1%})")
    print("layer shares of the first traced run's pass: "
          + ", ".join(f"{k} {v:.1%}" for k, v in shares.items()))
    for k, v in unstable.items():
        print(f"counter {k} differs between traced runs: {v}")
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "env": plain["env"],
        "untraced_pass_s": plain["pass_s"], "traced_pass_s": traced_pass,
        "overhead_s": overhead, "overhead_frac": overhead / plain["pass_s"],
        "layer_shares": shares, "unstable_counters": unstable,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

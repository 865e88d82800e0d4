"""Per-layer tracing from outside the program.

The benchmark times each layer around its calls into the engine's public
surfaces and never edits engine code:

* load      — ``__spark_entry__._t``, wrapped at run time;
* construct — the registered query callable, minus its ``_t`` loads;
* plan      — the final frame's ``QueryPlanningTracker`` phases;
* exec      — the ``noop`` write of the final frame;
* stream    — ``StreamingQueryProgress.durationMs`` per micro-batch,
  through a ``StreamingQueryListener``.

Jobs are attributed to (pass, query, phase) with ``setJobGroup`` and
counted through ``statusTracker()``; stage, task, shuffle and spill
counts come from the Spark event log, parsed after the session stops.
Spans (name, start, end, parent, query) are kept in memory and written
out at the end of the run.
"""

from __future__ import annotations

import collections
import datetime as dt
import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

#: Per-layer metrics with their units, in the order BENCHMARK.json lists them.
LAYER_UNITS = {
    "session.build_s": "s", "session.import_s": "s", "session.warmup_s": "s",
    "load.calls": "count", "load.s": "s", "load.jobs": "count",
    "construct.self_s": "s", "construct.jobs": "count",
    "construct.tasks": "count",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count",
    "stream.batches": "count", "stream.input_rows": "count",
    "stream.triggerExecution_s": "s", "stream.addBatch_s": "s",
    "stream.queryPlanning_s": "s", "stream.walCommit_s": "s",
    "stream.commitOffsets_s": "s", "stream.latestOffset_s": "s",
    "stream.state_rows": "count", "stream.state_mem_bytes": "bytes",
    "trace.pass_s": "s",
}

#: Work counters that should repeat exactly between two traced runs.
COUNTERS = tuple(
    k for k, unit in LAYER_UNITS.items()
    if unit in ("count", "bytes") and k != "stream.state_mem_bytes"
)

_STREAM_PHASES = (
    "triggerExecution", "addBatch", "queryPlanning", "walCommit",
    "commitOffsets", "latestOffset",
)
_EXEC_COUNTS = ("stages", "tasks", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "failed_tasks")


class _Progress(StreamingQueryListener):
    """Forwards every micro-batch's progress to the tracer."""

    def __init__(self, tracer: Tracer):
        self._tracer = tracer

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self._tracer.record_batch(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Span and counter recorder for the timed passes of one run."""

    def __init__(self, spark, entry):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.batches: list[dict] = []
        self.jobs: collections.Counter = collections.Counter()
        self._lock = threading.Lock()
        self._stack: list[int] = []
        self._current: tuple[int, str] | None = None
        self._entry = entry
        self._orig_t = entry._t
        entry._t = self._traced_load
        self._listener = _Progress(self)
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self._entry._t = self._orig_t
        self.spark.streams.removeListener(self._listener)

    @contextmanager
    def span(self, name: str):
        cur = self._current or (None, None)
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "pass": cur[0], "query": cur[1],
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _set_group(self, phase: str) -> None:
        pass_no, query = self._current
        self.sc.setJobGroup(f"{pass_no}:{query}:{phase}", phase)

    @contextmanager
    def query(self, pass_no: int, name: str):
        self._current = (pass_no, name)
        try:
            with self.span("query"):
                yield
            # Progress events are delivered asynchronously; they belong to
            # this query, so wait for them before the next one starts.
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            tracker = self.sc.statusTracker()
            for phase in ("load", "construct", "exec"):
                group = f"{pass_no}:{name}:{phase}"
                self.jobs[(pass_no, phase)] += len(
                    tracker.getJobIdsForGroup(group))
        finally:
            self._current = None

    @contextmanager
    def phase(self, phase: str):
        self._set_group(phase)
        with self.span(phase) as rec:
            yield rec

    def _traced_load(self, spark, sf_dir, name):
        with self.span("load"):
            self._set_group("load")
            try:
                return self._orig_t(spark, sf_dir, name)
            finally:
                self._set_group("construct")

    def plan(self, df) -> None:
        """Force the final frame's physical plan and record its phases."""
        with self.phase("plan") as rec:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                summary = phases.get(ph)
                ms = summary.get().durationMs() if summary.isDefined() else 0
                rec[ph + "_s"] = ms / 1000.0

    def record_batch(self, progress) -> None:
        state = progress.stateOperators or []
        with self._lock:
            cur = self._current or (None, None)
            self.batches.append({
                "pass": cur[0], "query": cur[1],
                "run_id": str(progress.runId),
                "batch_id": progress.batchId,
                "timestamp": progress.timestamp,
                "input_rows": progress.numInputRows,
                "durationMs": dict(progress.durationMs or {}),
                "state_rows": sum(s.numRowsTotal for s in state),
                "state_mem_bytes": sum(s.memoryUsedBytes for s in state),
            })

    def write(self, path: str) -> None:
        """Write spans, plus one span per micro-batch under its construct."""
        parents = {(s["pass"], s["query"]): s["id"]
                   for s in self.spans if s["name"] == "construct"}
        batches = []
        for b in self.batches:
            start = dt.datetime.fromisoformat(
                b["timestamp"].replace("Z", "+00:00")).timestamp()
            batches.append({
                "name": "stream-batch", "pass": b["pass"], "query": b["query"],
                "parent": parents.get((b["pass"], b["query"])),
                "epoch_start": start,
                "epoch_end": start + b["durationMs"].get("triggerExecution", 0) / 1e3,
                "batch_id": b["batch_id"],
            })
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "stream_batches": batches}, f)


def parse_event_log(event_log_dir: str) -> dict[str, collections.Counter]:
    """Stage/task/shuffle/spill counts per job group from the event log.

    A stage belongs to the first job that lists it; a later job that
    reuses its shuffle output skips it, and skipped stages run no tasks.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, collections.Counter] = collections.defaultdict(
        collections.Counter)
    wanted = ('"SparkListenerJobStart"', '"SparkListenerStageSubmitted"',
              '"SparkListenerTaskEnd"')
    for path in sorted(glob.glob(os.path.join(event_log_dir, "**", "events_*"),
                                 recursive=True)):
        with open(path) as f:
            for line in f:
                if not any(w in line[:48] for w in wanted):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageSubmitted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group:
                        out[group]["stages"] += 1
                else:
                    group = stage_group.get(ev["Stage ID"])
                    if not group:
                        continue
                    c = out[group]
                    c["tasks"] += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        c["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    c["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                                + rd.get("Local Bytes Read", 0))
                    wr = m.get("Shuffle Write Metrics") or {}
                    c["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
    return out


def layer_metrics(tracer: Tracer, groups: dict, passes: list[int],
                  setup: dict[str, float]) -> dict[str, float]:
    """Sum each layer over one timed pass; report the median over passes."""
    per_pass = {p: collections.Counter() for p in passes}
    by_id = {s["id"]: s for s in tracer.spans}
    for s in tracer.spans:
        c = per_pass.get(s["pass"])
        if c is None:
            continue
        dur = s["end"] - s["start"]
        if s["name"] == "query":
            c["trace.pass_s"] += dur
        elif s["name"] == "load":
            c["load.calls"] += 1
            c["load.s"] += dur
            parent = by_id.get(s["parent"])
            if parent and parent["name"] == "construct":
                c["construct.self_s"] -= dur
        elif s["name"] == "construct":
            c["construct.self_s"] += dur
        elif s["name"] == "exec":
            c["exec.s"] += dur
        elif s["name"] == "plan":
            for ph in ("analysis", "optimization", "planning"):
                c[f"plan.{ph}_s"] += s[ph + "_s"]
    for (p, phase), n in tracer.jobs.items():
        if p in per_pass:
            per_pass[p][f"{phase}.jobs"] += n
    for group, counts in groups.items():
        # Stream threads run their jobs under Spark's own group ids; those
        # jobs are counted through the listener instead.
        if group.count(":") != 2:
            continue
        p, _query, phase = group.split(":")
        c = per_pass.get(int(p))
        if c is None:
            continue
        if phase == "construct":
            c["construct.tasks"] += counts["tasks"]
        elif phase == "exec":
            for k in _EXEC_COUNTS:
                c[f"exec.{k}"] += counts[k]
    final_state: dict[tuple, dict] = {}
    for b in tracer.batches:
        c = per_pass.get(b["pass"])
        if c is None:
            continue
        c["stream.batches"] += 1
        c["stream.input_rows"] += b["input_rows"]
        for ph in _STREAM_PHASES:
            c[f"stream.{ph}_s"] += b["durationMs"].get(ph, 0) / 1000.0
        final_state[(b["pass"], b["run_id"])] = b
    for (p, _run), b in final_state.items():
        per_pass[p]["stream.state_rows"] += b["state_rows"]
        per_pass[p]["stream.state_mem_bytes"] += b["state_mem_bytes"]

    return {k: setup[k] if k.startswith("session.")
            else statistics.median(per_pass[p][k] for p in passes)
            for k in LAYER_UNITS}

"""The benchmark's workloads: which registered queries each one runs.

Each workload is dominated by a different layer of the engine, so a
change to one layer moves its own workload and leaves the other flat.
Both read the same input tables, ``perfbench/data/sf0.01``.  The query
lists are short enough that several passes fit in one run.
BENCHMARK.json records why each workload was chosen.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # The paper's OHLCV resample and dashboard path: many short plans.
    # Traced on 4 cores, table loads are about a quarter of a pass and
    # execution about half.
    "ohlcv_dashboard": (
        "q22_resample_count", "q100_dashboard", "q24_asof_join",
    ),
    # availableNow drains through ``streaming.*``: checkpoints, state and
    # commit logs.  addBatch is over four fifths of trigger time.
    "stream_drain": (
        "q166_streaming_rollup", "q49_streaming_sliding",
    ),
}

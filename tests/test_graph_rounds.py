"""Round attribution of the iterative graph operators: every Spark job
they launch is described ``"<op>: round r/R"`` or ``"<op>: initial
state"``, the caller's job description survives the call, and BFS's
per-round work does not grow with the round number."""

from __future__ import annotations

import re
from collections import Counter
from unittest import mock

import pytest

import btc_usdt_etl_pipeline_spark.operators.graph as G
from btc_usdt_etl_pipeline_spark.operators.graph import (
    bfs_distances,
    connected_components,
    kcore_peel,
    label_propagation,
    pagerank,
)
from tests.conftest import job_description, jobs_under_group

# a path, a triangle with a tail, a lone edge; symmetric where an
# operator requires it
EDGES = [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (7, 5), (7, 8), (9, 10)]
SYM = EDGES + [(b, a) for a, b in EDGES]


def _df(spark, rows, src="src", dst="dst"):
    return spark.createDataFrame(rows, f"{src} long, {dst} long")


def _pagerank_shuffled(spark):
    with mock.patch.object(G, "_BROADCAST_NODES_MAX", 0):
        return pagerank(_df(spark, SYM), iterations=10)


# case -> (operator name, rounds R, builder)
CASES = {
    "cc_label": ("connected_components", 64, lambda s: connected_components(
        _df(s, EDGES, "id_a", "id_b"))),
    "cc_star": ("connected_components", 64, lambda s: connected_components(
        _df(s, EDGES, "id_a", "id_b"), algorithm="star")),
    "label_propagation": ("label_propagation", 3, lambda s: (
        label_propagation(_df(s, EDGES), rounds=3))),
    "kcore_peel": ("kcore_peel", 6, lambda s: kcore_peel(
        _df(s, SYM), k=2, iterations=6)),
    "bfs_distances": ("bfs_distances", 8, lambda s: bfs_distances(
        _df(s, EDGES), s.createDataFrame([(1,), (5,)], "node long"))),
    "pagerank_broadcast": ("pagerank", 10, lambda s: pagerank(
        _df(s, SYM), iterations=10)),
    "pagerank_shuffle": ("pagerank", 10, _pagerank_shuffled),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_every_job_names_its_operator_and_round(spark, case):
    op, rounds, build = CASES[case]
    sc = spark.sparkContext
    (out, after), jobs = jobs_under_group(
        spark, f"graph-rounds-{case}",
        lambda: (build(spark), sc.getLocalProperty("spark.job.description")),
    )
    descs = [job_description(spark, j) for j in jobs]
    pattern = re.compile(
        rf"{op}: (initial state|round ([0-9]+)/{rounds})")
    matches = [pattern.fullmatch(d) for d in descs]
    assert all(matches), descs
    assert any(m.group(2) for m in matches), descs  # some round ran a job
    assert after == "caller"
    assert out.count() > 0


def test_bfs_round_jobs_do_not_grow_with_the_round(spark):
    """Counted with AQE off: AQE submits each query stage as a job of
    its own, and whether a round gets 5 or 6 of them depends on timing.
    Without AQE a round's jobs and their stages (skipped ones included)
    follow from its plan alone, and the stages grow with the plan: a
    frontier carried un-checkpointed from round to round fails here."""
    n = 30
    chain = _df(spark, [(i, i + 1) for i in range(n - 1)])
    seed = spark.createDataFrame([(0,)], "node long")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out, jobs = jobs_under_group(
            spark, "graph-rounds-bfs-chain",
            lambda: bfs_distances(chain, seed, max_rounds=n),
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    tracker = spark.sparkContext.statusTracker()
    per_round, stages = Counter(), Counter()
    for j in jobs:
        m = re.fullmatch(
            rf"bfs_distances: round ([0-9]+)/{n}", job_description(spark, j))
        if m:
            per_round[int(m.group(1))] += 1
            stages[int(m.group(1))] += len(tracker.getJobInfo(j).stageIds)
    assert per_round[2] >= 1, per_round
    # round 30 is the last, left lazy for the caller: it launches none
    for counts in (per_round, stages):
        assert max(counts[r] for r in range(3, n + 1)) <= counts[2], counts
    assert {r["node"]: r["dist"] for r in out.collect()} == {
        i: i for i in range(n)}

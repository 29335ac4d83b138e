"""The benchmark's workloads and metric names.

Each workload is a closed loop with one client: one process calls the
registry's public query functions (``registry.queries()[key](spark,
data_dir)``) one after another, and sends the next call only after the
previous result is fetched or written. A *pass* calls every op of the
workload once, in an order drawn from the run's seed; the seed changes
nothing else, because the input tables are fixed (``SCALE``,
``DATA_SEED``).

``moves`` records, before any change is measured, which per-layer
metric should move which end-to-end metric on that workload.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Input size (TPC-H-like scale factor) and the seed of the input
# tables. The workloads are bound by job count rather than data volume
# at this size, so per-superstep overhead dominates as it does at
# sf0.1, while one run still fits the benchmark's time budget.
SCALE = 0.004
DATA_SEED = 42


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    ops: tuple[str, ...]
    # "fetch": toPandas to the driver; "sink": parquet write to a
    # directory, so large outputs never reach the driver.
    output: str
    # tables loaded and materialized during set-up
    tables: tuple[str, ...]
    # Length of one warm pass on 4 cores at the commit that defined the
    # benchmark. A run makes round(seconds / pass_s_nominal) warm passes,
    # so the two sides of a comparison run the same passes.
    pass_s_nominal: float
    loop: str = "closed"
    clients: int = 1
    moves: dict[str, tuple[str, ...]] = field(default_factory=dict)


# Every workload pays these in set-up.
_SETUP_MOVES = {
    "session.start_s": ("setup_s",),
    "registry.import_s": ("setup_s",),
    "tables.cache_fill_s": ("setup_s",),
}

# The 13 registry keys tagged "bench" (the headline keys bench.py
# times), fixed here so a retag cannot silently change this workload.
INTERACTIVE_KEYS = (
    "agg_count_distinct",
    "agg_pricing_q1",
    "agg_rollup",
    "graph_degree",
    "join_star_q5",
    "scalar_json",
    "sim_cosine_topk",
    "stream_session",
    "stream_tumbling",
    "text_term_counts",
    "topk_revenue_q3",
    "win_rank_topn",
    "win_running_sum",
)

WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="graph-iterative",
            why="job-bound iterative runtime: Pregel-style supersteps, "
            "checkpoints and exchanges on the part-supplier graph; "
            "little data work, cores mostly idle",
            ops=("graph_wcc", "graph_pagerank_exact", "graph_hits_exact"),
            output="fetch",
            tables=("lineitem",),
            pass_s_nominal=10.0,
            moves={
                **_SETUP_MOVES,
                "spark.jobs": ("pass_s", "query_p50_s"),
                "spark.core_idle_frac": ("pass_s",),
                "operators.graph.jobs": ("pass_s", "query_p50_s"),
                "spark.task_cpu_s": ("task_cpu_s",),
                "jvm.gc_s": ("jvm_peak_rss_mb", "pass_s"),
            },
        ),
        # Runnable with run.py; not listed in BENCHMARK.json, whose run
        # budget holds two workloads of this size.
        Workload(
            name="corpus-dedup",
            why="compute-bound MinHash LSH plus job-bound incremental entity "
            "resolution; both outputs written as parquet, the production sink",
            ops=("dedup_minhash", "dedup_resolve_entities_append"),
            output="sink",
            tables=("documents", "customer"),
            pass_s_nominal=16.0,
            moves={
                **_SETUP_MOVES,
                "spark.task_cpu_s": ("pass_s", "task_cpu_s"),
                "spark.shuffle_write_mb": ("pass_s", "task_cpu_s"),
                "spark.jobs": ("pass_s",),
                "spark.core_idle_frac": ("pass_s",),
                "client.fetch_s": ("pass_s",),
                "jvm.gc_s": ("jvm_peak_rss_mb", "pass_s"),
            },
        ),
        Workload(
            name="interactive-sql",
            why="short-query latency floor: the 13 headline queries in shuffled "
            "order, each a Py4J plan build, cached-table scans and an Arrow fetch",
            ops=INTERACTIVE_KEYS,
            output="fetch",
            tables=("lineitem", "orders", "events", "documents", "embeddings"),
            pass_s_nominal=5.0,
            moves={
                **_SETUP_MOVES,
                "client.build_s": ("query_p50_s", "pass_s"),
                "client.fetch_s": ("query_p50_s", "pass_s"),
                "spark.jobs": ("query_p50_s", "pass_s"),
                "spark.stages": ("query_p50_s", "pass_s"),
                "spark.tasks": ("pass_s", "task_cpu_s"),
                "tables.input_mb": ("pass_s", "task_cpu_s"),
                "operators.graph.p50_s": ("query_p50_s",),
            },
        ),
    )
}

# (name, unit) of every metric the untraced run reports in its JSON
# line. The readable report adds failed_frac, which is 0 when all is
# well, and the per-call latencies query_p50_s and query_p90_s: their
# run-to-run spread on a shared 4-core host reached the largest bound
# a metric may have, and pass_s carries the same signal.
END_TO_END = (
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("task_cpu_s", "s"),
    ("jvm_peak_rss_mb", "MB"),
)

# Spark totals of one op call, from the status store (stats.aggregate_stages).
SPARK_FIELDS = (
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_cpu_s", "s"),
    ("spark.executor_run_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_mb", "MB"),
    ("tables.input_mb", "MB"),
)

# (name, unit) of every metric the traced run reports: the set-up
# layers once per run, the rest per pass, as sums over a pass's op
# calls of each op's median across the traced passes. Every metric
# here is measured on every workload in BENCHMARK.json; per-op and
# other per-module figures are in the readable report and the spans.
# Task GC time (spark.gc_s) is often 0 for a short query, so the
# layer metric is the whole JVM's collection time per pass.
PER_LAYER = (
    ("session.start_s", "s"),
    ("registry.import_s", "s"),
    ("tables.cache_fill_s", "s"),
    ("client.build_s", "s"),
    ("client.fetch_s", "s"),
    *(f for f in SPARK_FIELDS if f[0] != "spark.gc_s"),
    ("spark.core_idle_frac", "ratio"),
    ("jvm.gc_s", "s"),
    ("operators.graph.wall_s", "s"),
    ("operators.graph.jobs", "count"),
    ("operators.graph.task_cpu_s", "s"),
    ("operators.graph.p50_s", "s"),
    ("trace.overhead_s", "s"),
)

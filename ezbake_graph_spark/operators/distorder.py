"""Distributed total-order primitives (VERDICT r11 ask #3).

Three committed keys carry a data-proportional GLOBAL window — an
``ntile`` / ``row_number`` / running sum over an un-partitioned
``ORDER BY``: ``agg_revenue_concentration`` (customer-cardinality
spend deciles), ``sample_curriculum_order`` (document-cardinality
rank + epoch ntile), ``ts_max_concurrency`` (session-cardinality
sweep-line running sum). At the committed scales those windows hold
dimension-to-entity row counts and the single-partition ``WindowExec``
is the cheapest exact plan; at 100 TB it serializes the whole input
through ONE executor. Each docstring promised the distributed form —
this module implements it, behind a size gate so the committed sf0.01
/ sf0.1 plans, oracles, and hashes are byte-identical to round 11.

The kernel avoids ``repartitionByRange`` + ``spark_partition_id``
deliberately: Catalyst does not recognize a derived partition-id
column as satisfying ``hashpartitioning(_pid)``, so the per-partition
window would add a SECOND full-data exchange on top of the range
exchange. Instead the bucket id is computed MAP-SIDE from the value:

1. ``approxQuantile`` on the leading order column picks ``P - 1``
   bucket bounds (one bounded driver action at plan-construction
   time — the same class of eager sizing job as ``_grid_blocks``;
   accuracy affects only balance, never correctness).
2. ``_bkt = #bounds strictly before the row's leading key`` — a
   ``P``-comparison codegen expression, zero shuffle. Bucketing is
   monotone in the leading key, so the total order factors exactly
   into (bucket, within-bucket order); rows tied on the leading key
   land in one bucket and are resolved by the callers' unique
   tiebreak columns.
3. ONE keyed shuffle: ``Window.partitionBy(_bkt).orderBy(...)`` for
   the local rank / local running sum — P-way parallel.
4. Bucket totals (count + running-col sums, P rows) are offset via a
   TRIANGULAR self-join (``b._bkt < a._bkt``, broadcast, P(P-1)/2
   constant pairs) — not a window — so the finished plan contains NO
   ``Exchange SinglePartition`` at all (pinned by
   tests/test_plans.py::test_distributed_global_order_plans).
5. ``global = offset + local``; ``ntile(k)`` is derived from the
   global rank with the standard SQL ntile split (first ``N mod k``
   buckets take one extra row) against a broadcast 1-row total, so it
   is bit-identical to ``F.ntile`` / DuckDB ``ntile`` on the same
   total order.

Skew note: heavy duplication of one leading-key value collapses its
rows into one bucket (quantile bounds cannot split equal keys). That
is inherent to any order-preserving partitioning; AQE's skew handling
does not apply inside a window, so a pathological constant-key input
degrades to the single-partition shape it started from — callers'
leading keys (spend cents, difficulty scores, event timestamps) are
high-cardinality by construction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ezbake_graph_spark import tables

# Above this input-row estimate the global-window keys switch to the
# distributed kernel. Default 2M: far above every committed fixture
# (sf0.1 orders = 150k, documents = 5k, events = 100k) so driver
# artifacts and PLANS.md are unchanged, and far below where a single
# 128 MB-partition executor window starts to thrash.
WINDOW_GATE_ROWS = 2_000_000

_ROWS_CACHE: dict = {}


def cached_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a fixture table, one count job per (app, dir,
    table) — the same cached eager-sizing pattern as
    ``llm_similarity._n_vectors``."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    n = _ROWS_CACHE.get(key)
    if n is None:
        n = tables.load(spark, sf_dir, name).count()
        _ROWS_CACHE[key] = n
    return n


def use_distributed_window(spark: SparkSession, sf_dir: str, table: str) -> bool:
    """Size gate for the global-window keys. ``EZGS_FORCE_DIST_WINDOWS``
    forces the distributed path at any size (equivalence + plan tests
    exercise it on the committed fixtures this way)."""
    if os.environ.get("EZGS_FORCE_DIST_WINDOWS"):
        return True
    return cached_rows(spark, sf_dir, table) > WINDOW_GATE_ROWS


def _bucket_expr(bounds: list[float], lead_col: str, desc: bool):
    """``#bounds strictly before lead_col in the sort direction`` —
    the map-side monotone bucket id, built as a plain P-term
    comparison sum. NOT a higher-order ``F.filter`` over a literal
    array: a lambda capturing the outer column trips
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND when the optimizer collapses
    the projection into the downstream aggregate (hit in testing on
    Spark 4.1); the flat expression tree codegens fine."""
    key = F.col(lead_col).cast("double")
    terms = [
        F.when(F.lit(float(b)) > key if desc else F.lit(float(b)) < key, 1)
        .otherwise(0)
        for b in bounds
    ]
    out = F.lit(0)
    for t in terms:
        out = out + t
    return out.cast("int")


def attach_global_order(
    df: DataFrame,
    lead_col: str,
    order_cols: list,
    *,
    desc: bool = False,
    n_buckets: int | None = None,
    rank_col: str | None = None,
    running: dict[str, str] | None = None,
    ntile: tuple[str, int] | None = None,
) -> DataFrame:
    """Attach global-total-order columns to ``df`` without any
    single-partition exchange.

    ``lead_col``: numeric leading sort column (bucket source; its sort
    direction is ``desc``). ``order_cols``: the FULL orderBy exprs
    (must start with ``lead_col`` in the same direction and end in a
    unique tiebreak — all callers do). Outputs: ``rank_col`` = global
    ``row_number`` (LongType — the 100 TB-safe width; callers cast to
    match a committed IntegerType schema where needed), one column per
    ``running`` entry (``out_name -> source_col`` inclusive running
    sum), and ``ntile=(out_name, k)``. Internal ``_``-columns are
    dropped."""
    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = min(
            int(spark.conf.get("spark.sql.shuffle.partitions", "200")), 200
        )
    running = running or {}
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # bounded eager sizing pass (P-1 scalars to the driver); relative
    # error trades balance for sampling cost, never correctness
    bounds = df.approxQuantile(lead_col, probs, 0.01) if probs else []
    part = df.withColumn(
        "_bkt", _bucket_expr(sorted(set(bounds), reverse=desc), lead_col, desc)
    )
    w = Window.partitionBy("_bkt").orderBy(*order_cols)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = part.withColumn("_lrn", F.row_number().over(w))
    for out, src in running.items():
        local = local.withColumn(f"_l_{out}", F.sum(src).over(wrun))
    totals = part.groupBy("_bkt").agg(
        F.count(F.lit(1)).alias("_cnt"),
        *[F.sum(src).alias(f"_t_{out}") for out, src in running.items()],
    )
    prev = totals.select(
        F.col("_bkt").alias("_pbkt"),
        F.col("_cnt").alias("_pcnt"),
        *[F.col(f"_t_{o}").alias(f"_pt_{o}") for o in running],
    )
    offsets = (
        totals.join(F.broadcast(prev), F.col("_pbkt") < F.col("_bkt"), "left")
        .groupBy("_bkt")
        .agg(
            F.coalesce(F.sum("_pcnt"), F.lit(0)).alias("_off_rn"),
            *[
                F.coalesce(F.sum(f"_pt_{o}"), F.lit(0)).alias(f"_off_{o}")
                for o in running
            ],
        )
    )
    out = local.join(F.broadcast(offsets), "_bkt")
    rn = (F.col("_off_rn") + F.col("_lrn")).cast("long")
    out = out.withColumn(rank_col or "_grn", rn)
    for o in running:
        out = out.withColumn(o, F.col(f"_off_{o}") + F.col(f"_l_{o}"))
    if ntile is not None:
        ncol, k = ntile
        tot = totals.agg(F.sum("_cnt").alias("_N"))
        out = out.crossJoin(F.broadcast(tot))
        g = rank_col or "_grn"
        # standard SQL ntile: base = N div k, rem = N mod k; buckets
        # 1..rem hold base+1 rows. greatest(base, 1) guards the ELSE
        # divisor when N < k (that branch is then unreachable — every
        # rank falls in the WHEN — but ANSI mode must never see a
        # div-by-zero expression evaluate).
        out = out.withColumn(
            ncol,
            F.expr(
                f"CAST(CASE WHEN {g} <= (_N % {k}) * ((_N div {k}) + 1) "
                f"THEN ({g} - 1) div ((_N div {k}) + 1) + 1 "
                f"ELSE (_N % {k}) + "
                f"({g} - 1 - (_N % {k}) * ((_N div {k}) + 1)) "
                f"div greatest(_N div {k}, 1) + 1 END AS INT)"
            ),
        )
    drop = [c for c in out.columns if c.startswith(("_bkt", "_lrn", "_l_", "_off", "_N", "_grn"))]
    return out.drop(*drop)

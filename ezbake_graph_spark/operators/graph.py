"""Graph operators (SURVEY.md §2J) — the reference's core domain [R],
re-expressed as DataFrame joins + the Pregel loop (§3.4).

Graph fixture (FIXTURES.md): the part–supplier bipartite graph,
``SELECT DISTINCT l_partkey, l_suppkey FROM lineitem``. Unified vertex
id space: part → 2·partkey, supplier → 2·suppkey+1 (keyspaces collide
otherwise).

Scale notes: J1–J5 and J10–J12 are pure joins/aggregations — keyed
shuffles only; a distinct on (src, dst) is the map-side-combinable
edge dedup. Iterative ops (J6–J9) go through graph.pregel with
lineage checkpointing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ezbake_graph_spark import tables
from ezbake_graph_spark.determinism import money_avg_expr, sql_money_avg
from ezbake_graph_spark.graph import (
    bfs,
    connected_components,
    label_propagation,
    pagerank,
    symmetrize,
)
from ezbake_graph_spark.graph.pregel import (
    LoopScope,
    _detached,
    _hits_walk,
    _rank_walk,
    observed_checkpoint,
)
from ezbake_graph_spark.registry import register

# Shared DuckDB CTEs for the bipartite graph in unified id space.
_SYM_CTES = """
edges AS (
  SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM lineitem
), sym AS (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
), verts AS (
  SELECT DISTINCT src AS id FROM sym
)
"""


def bipartite_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct part–supplier edges in the unified id space."""
    li = tables.load(spark, sf_dir, "lineitem")
    return li.select(
        (2 * F.col("l_partkey")).alias("src"),
        (2 * F.col("l_suppkey") + 1).alias("dst"),
    ).distinct()


def graph_vertices(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


_BUILD_SQL = """
SELECT DISTINCT l_partkey AS part_id, l_suppkey AS supp_id
FROM lineitem
ORDER BY part_id, supp_id
"""


@register("graph_build_edges", oracle=_BUILD_SQL, tags=("J1",))
def graph_build_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph construction (J1): derive the edge DataFrame."""
    li = tables.load(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.col("l_partkey").alias("part_id"), F.col("l_suppkey").alias("supp_id")
        )
        .distinct()
        .orderBy("part_id", "supp_id")
    )


_DEGREE_SQL = """
SELECT l_suppkey AS supp_id, count(DISTINCT l_partkey) AS degree
FROM lineitem
GROUP BY supp_id
ORDER BY supp_id
"""


@register("graph_degree", oracle=_DEGREE_SQL, tags=("J2", "bench"))
def graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertex degree (J2): one keyed shuffle with partial distinct."""
    li = tables.load(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_suppkey").alias("supp_id"))
        .agg(F.countDistinct("l_partkey").alias("degree"))
        # No closing sort (same stance as win_running_sum): output is
        # one row per supplier — data-proportional — so a global
        # orderBy plans a RangePartitioning exchange whose sampling
        # pass is an extra sequential driver job, and bounded_sort's
        # single partition would serialize it at scale. §2's J2
        # contract is the degree aggregation itself; the driver's
        # value-hash compare is order-insensitive, so the oracle's
        # presentational ORDER BY needs no Spark-side mirror.
    )


_ONE_HOP_SQL = """
SELECT DISTINCT l_partkey AS part_id
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
WHERE s_acctbal > 9000
ORDER BY part_id
"""


@register("graph_1hop", oracle=_ONE_HOP_SQL, tags=("J3",))
def graph_1hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hop neighborhood (J3) of a predicate-selected seed set."""
    li = tables.load(spark, sf_dir, "lineitem")
    seeds = tables.load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9000)
    return (
        li.join(F.broadcast(seeds), li.l_suppkey == seeds.s_suppkey)
        .select(F.col("l_partkey").alias("part_id"))
        .distinct()
        .orderBy("part_id")
    )


_TWO_HOP_SQL = """
WITH edges AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem)
SELECT DISTINCT e2.s AS supp_id
FROM edges e1 JOIN edges e2 ON e1.p = e2.p
WHERE e1.s = 0 AND e2.s <> 0
ORDER BY supp_id
"""


@register("graph_2hop", oracle=_TWO_HOP_SQL, tags=("J4",))
def graph_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop expansion (J4): co-suppliers of supplier 0 via one
    self-join on the shared part key."""
    e = (
        tables.load(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    e1 = e.filter(F.col("s") == 0).select(F.col("p").alias("p1"))
    return (
        e.join(e1, e.p == e1.p1)
        .filter(F.col("s") != 0)
        .select(F.col("s").alias("supp_id"))
        .distinct()
        .orderBy("supp_id")
    )


_TRIANGLES_SQL = """
WITH edges AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
cos AS (
  SELECT DISTINCT e1.s AS a, e2.s AS b
  FROM edges e1 JOIN edges e2 ON e1.p = e2.p AND e1.s < e2.s
)
SELECT count(*) AS n_triangles
FROM cos ab
JOIN cos bc ON ab.b = bc.a
JOIN cos ac ON ac.a = ab.a AND ac.b = bc.b
"""


@register("graph_triangles", oracle=_TRIANGLES_SQL, tags=("J5",))
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count (J5) on the co-supplier projection, with the
    a<b<c ordering predicate so each triangle counts once. Quadratic-
    heavy on the near-complete sf0.1 graph (SURVEY §7.4(3)) — declared
    at t2 scale (sf0.01)."""
    e = (
        tables.load(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    e2 = e.select(F.col("p").alias("p2"), F.col("s").alias("s2"))
    cos = (
        e.join(e2, (e.p == e2.p2) & (e.s < e2.s2))
        .select(F.col("s").alias("a"), F.col("s2").alias("b"))
        .distinct()
        .cache()
    )
    ab = cos.select(F.col("a").alias("t_a"), F.col("b").alias("t_b"))
    bc = cos.select(F.col("a").alias("u_a"), F.col("b").alias("u_b"))
    ac = cos.select(F.col("a").alias("v_a"), F.col("b").alias("v_b"))
    return (
        ab.join(bc, ab.t_b == bc.u_a)
        .join(ac, (F.col("v_a") == F.col("t_a")) & (F.col("v_b") == F.col("u_b")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


_WCC_SQL = f"""
WITH RECURSIVE {_SYM_CTES},
reach AS (
  SELECT id AS node, id AS label FROM verts
  UNION
  SELECT s.dst AS node, r.label
  FROM reach r JOIN sym s ON s.src = r.node
  WHERE r.label < s.dst
)
SELECT node AS id, min(label) AS component
FROM reach GROUP BY node ORDER BY id
"""


@register("graph_wcc", oracle=_WCC_SQL, tags=("J6", "pregel", "bench2"))
def graph_wcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly connected components (J6) via the Pregel min-label loop
    (graph/pregel.py); oracle is a recursive-CTE min propagation."""
    edges = bipartite_edges(spark, sf_dir)
    verts = graph_vertices(edges)
    return connected_components(verts, edges).orderBy("id")


@register("graph_pagerank", oracle=None, tags=("J7", "pregel", "rows-only"))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (J7), 10 fixed supersteps, damping 0.85 (rows-only:
    float iteration drift, SURVEY §5.3 rule 5). Golden-checked in tests
    against a plain-Python reference of the same recurrence."""
    edges = bipartite_edges(spark, sf_dir)
    verts = graph_vertices(edges)
    pr = pagerank(verts, edges, iterations=10, damping=0.85)
    return pr.select("id", F.round("rank", 6).alias("rank")).orderBy("id")


def _labelprop_sql(iterations: int = 5) -> str:
    """Unrolled-CTE oracle for synchronous label propagation: the
    whole run is integer-deterministic (labels are vertex ids, ties
    break to the smallest label), so with the iteration count FIXED
    each superstep is one grouped vote count + one argmax window —
    no aggregate-in-recursive-term limitation applies."""
    steps = []
    for i in range(iterations):
        steps.append(
            f"votes{i} AS (\n"
            f"  SELECT s.dst AS id, p.label, count(*) AS votes\n"
            f"  FROM lp{i} p JOIN sym s ON s.src = p.id\n"
            f"  GROUP BY s.dst, p.label\n"
            f"), lp{i + 1} AS (\n"
            f"  SELECT id, label FROM (\n"
            f"    SELECT id, label,\n"
            f"           row_number() OVER (PARTITION BY id\n"
            f"                              ORDER BY votes DESC, label ASC) AS rn\n"
            f"    FROM votes{i}) t WHERE rn = 1\n"
            f")"
        )
    return (
        "WITH edges AS (\n"
        "  SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM lineitem\n"
        "), sym AS (\n"
        "  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges\n"
        "), verts AS (\n"
        "  SELECT DISTINCT src AS id FROM sym\n"
        "), lp0 AS (\n"
        "  SELECT id, id AS label FROM verts\n"
        "),\n" + ",\n".join(steps) + "\n"
        f"SELECT id, label FROM lp{iterations} ORDER BY id"
    )


@register("graph_labelprop", oracle=_labelprop_sql(5), tags=("J8", "pregel"))
def graph_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation (J8), 5 synchronous supersteps, deterministic
    min-label tie-break. SQL-oracled (upgraded from rows-only): every
    quantity in the loop is an integer and the tie-break is total, so
    the unrolled-CTE oracle reproduces the run bit-for-bit — same
    argument as graph_pagerank_exact (M77), no quantization needed."""
    edges = bipartite_edges(spark, sf_dir)
    verts = graph_vertices(edges)
    return label_propagation(verts, edges, iterations=5).orderBy("id")


_BFS_SQL = f"""
WITH RECURSIVE {_SYM_CTES},
reach AS (
  SELECT CAST(1 AS BIGINT) AS node, 0 AS dist
  UNION
  SELECT s.dst AS node, r.dist + 1
  FROM reach r JOIN sym s ON s.src = r.node
  WHERE r.dist < 6
)
SELECT node AS id, min(dist) AS dist
FROM reach GROUP BY node ORDER BY id
"""


@register("graph_bfs", oracle=_BFS_SQL, tags=("J9", "pregel"))
def graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop-distance (J9) from supplier 0 (unified id 1), depth ≤ 6,
    via the Pregel min-dist loop; bounded recursive-CTE oracle."""
    edges = bipartite_edges(spark, sf_dir)
    verts = graph_vertices(edges)
    return bfs(verts, edges, source_ids=[1], max_depth=6).orderBy("id")


_SUBGRAPH_SQL = """
WITH edges AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem)
SELECT e.p AS part_id, e.s AS supp_id
FROM edges e
JOIN part ON p_partkey = e.p
JOIN supplier ON s_suppkey = e.s
WHERE p_size > 25 AND s_acctbal > 2000
ORDER BY part_id, supp_id
"""


@register("graph_subgraph", oracle=_SUBGRAPH_SQL, tags=("J10",))
def graph_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Induced subgraph (J10): vertex predicates on both endpoint
    types, edges kept only when both ends survive (semi-joins)."""
    e = (
        tables.load(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("part_id"), F.col("l_suppkey").alias("supp_id"))
        .distinct()
    )
    keep_parts = tables.load(spark, sf_dir, "part").filter(F.col("p_size") > 25)
    keep_supps = tables.load(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") > 2000
    )
    return (
        e.join(F.broadcast(keep_parts), e.part_id == keep_parts.p_partkey, "left_semi")
        .join(F.broadcast(keep_supps), e.supp_id == keep_supps.s_suppkey, "left_semi")
        .orderBy("part_id", "supp_id")
    )


_MOTIF_SQL = """
WITH edges AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
good AS (SELECT p_partkey FROM part WHERE p_retailprice > 990)
SELECT e1.s AS supp_id, count(*) AS n_wedges
FROM edges e1
JOIN edges e2 ON e1.s = e2.s AND e1.p < e2.p
JOIN good g1 ON e1.p = g1.p_partkey
JOIN good g2 ON e2.p = g2.p_partkey
GROUP BY supp_id
ORDER BY supp_id
"""


@register("graph_motif", oracle=_MOTIF_SQL, tags=("J11",))
def graph_motif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motif match (J11): (part₁)–(supplier)–(part₂) wedges with
    vertex predicates — GraphFrames-style chained-join motif."""
    e = (
        tables.load(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    good = (
        tables.load(spark, sf_dir, "part")
        .filter(F.col("p_retailprice") > 990)
        .select("p_partkey")
    )
    e1 = e.join(F.broadcast(good), e.p == good.p_partkey, "left_semi")
    e2 = e1.select(F.col("p").alias("p2"), F.col("s").alias("s2"))
    return (
        e1.join(e2, (e1.s == e2.s2) & (e1.p < e2.p2))
        .groupBy(F.col("s").alias("supp_id"))
        .agg(F.count(F.lit(1)).alias("n_wedges"))
        .orderBy("supp_id")
    )


_AGGMSG_SQL = f"""
WITH edges AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem)
SELECT p AS part_id,
       count(*) AS n_suppliers,
       {sql_money_avg("s_acctbal")} AS avg_acctbal,
       max(s_acctbal) AS max_acctbal
FROM edges JOIN supplier ON s_suppkey = s
GROUP BY part_id
ORDER BY part_id
"""


@register("graph_aggmsg", oracle=_AGGMSG_SQL, tags=("J12",))
def graph_aggmsg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregateMessages (J12) [P: GraphX]: neighborhood aggregation —
    each part aggregates over its suppliers' attributes."""
    e = (
        tables.load(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("part_id"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    sup = tables.load(spark, sf_dir, "supplier")
    return (
        e.join(F.broadcast(sup), e.s == sup.s_suppkey)
        .groupBy("part_id")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            money_avg_expr(F.col("s_acctbal")).alias("avg_acctbal"),
            F.max("s_acctbal").alias("max_acctbal"),
        )
        .orderBy("part_id")
    )


_VJACCARD_SQL = """
WITH edges AS (
  SELECT DISTINCT l_partkey AS part, l_suppkey AS supp FROM lineitem
), deg AS (
  SELECT supp, count(*) AS deg FROM edges GROUP BY supp
), common AS (
  SELECT a.supp AS supp1, b.supp AS supp2, count(*) AS n_common
  FROM edges a JOIN edges b ON a.part = b.part AND a.supp < b.supp
  GROUP BY a.supp, b.supp
)
SELECT supp1, supp2, n_common,
       CAST(n_common AS DOUBLE)
         / CAST(d1.deg + d2.deg - n_common AS DOUBLE) AS jaccard
FROM common JOIN deg d1 ON supp1 = d1.supp JOIN deg d2 ON supp2 = d2.supp
ORDER BY jaccard DESC, supp1, supp2
LIMIT 50
"""


@register("graph_vertex_jaccard", oracle=_VJACCARD_SQL, tags=("J-extra",))
def graph_vertex_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertex structural similarity: Jaccard of part-neighborhoods for
    supplier pairs, top-50. The wedge self-join on the shared part is
    the only quadratic-ish step and it is keyed (shuffle on part), not
    a cross join; cost is sum(deg_part^2) wedges. At 100 TB the hot
    parts (huge degree) would be capped or down-sampled first — the
    standard wedge-sampling cut. Jaccard is an exact int ratio (single
    IEEE division, no rounding; SURVEY §5.3)."""
    e = (
        tables.load(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("part"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    deg = e.groupBy("supp").agg(F.count(F.lit(1)).alias("deg"))
    a, b = e.alias("a"), e.alias("b")
    common = (
        a.join(b, (F.col("a.part") == F.col("b.part")) & (F.col("a.supp") < F.col("b.supp")))
        .groupBy(F.col("a.supp").alias("supp1"), F.col("b.supp").alias("supp2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    d1 = deg.select(F.col("supp").alias("supp1"), F.col("deg").alias("deg1"))
    d2 = deg.select(F.col("supp").alias("supp2"), F.col("deg").alias("deg2"))
    return (
        common.join(F.broadcast(d1), "supp1")
        .join(F.broadcast(d2), "supp2")
        .select(
            "supp1",
            "supp2",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("deg1") + F.col("deg2") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "supp1", "supp2")
        .limit(50)
    )


def _kcore_sql(steps: int = 8) -> str:
    """Unrolled-CTE oracle for the h-index core-number fixpoint.

    The iteration is integer-deterministic (H is invariant to the
    arbitrary row_number order among tied c values: permuting equal
    values never changes max(min(rn, c))) and monotonically
    non-increasing, so steps PAST convergence are idempotent. Measured
    fixpoint: 2/4/5 iterations at sf0.001/0.01/0.1 — 8 unrolled steps
    overshoot safely; if a future fixture needed more, the verify hash
    would fail loudly rather than silently drift."""
    parts = []
    for i in range(steps):
        parts.append(
            f"h{i} AS MATERIALIZED (\n"
            f"  SELECT id, max(least(rn, c)) AS h FROM (\n"
            f"    SELECT s.src AS id, p.c,\n"
            f"           row_number() OVER (PARTITION BY s.src ORDER BY p.c DESC) AS rn\n"
            f"    FROM sym s JOIN c{i} p ON s.dst = p.id) t\n"
            f"  GROUP BY id\n"
            f"), c{i + 1} AS MATERIALIZED (\n"
            f"  SELECT c.id, least(c.c, h.h) AS c\n"
            f"  FROM c{i} c JOIN h{i} h ON h.id = c.id\n"
            f")"
        )
    return (
        "WITH edges AS (\n"
        "  SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM lineitem\n"
        "), sym AS MATERIALIZED (\n"
        "  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges\n"
        "), c0 AS MATERIALIZED (\n"
        "  SELECT src AS id, count(*) AS c FROM sym GROUP BY src\n"
        "),\n" + ",\n".join(parts) + "\n"
        f"SELECT id, c FROM c{steps} ORDER BY c DESC, id"
    )


@register("graph_kcore", oracle=_kcore_sql(8), tags=("J-extra", "pregel"))
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core number (degeneracy) per vertex via the distributed h-index
    fixpoint: init c(v)=deg(v); iterate c(v) <- min(c(v), H(neighbor
    c's)) where H is the h-index (max h with >= h neighbors valued
    >= h). Monotonically non-increasing, converges to the exact core
    number — the classic sequential peeling is inherently serial, this
    formulation is pure keyed shuffles (join + window + agg) per
    superstep, so it scales like any Pregel op. Golden-tested against
    networkx core_number in tests/test_graph.py, and SQL-oracled
    (upgraded from rows-only): the fixpoint is integer-deterministic,
    so an unrolled-CTE overshoot past the measured convergence depth
    reproduces it exactly (see _kcore_sql)."""
    from ezbake_graph_spark.graph.pregel import core_number

    return core_number(bipartite_edges(spark, sf_dir)).orderBy(
        F.col("c").desc(), "id"
    )


@register("graph_ppr", oracle=None, tags=("J-extra", "pregel", "rows-only"))
def graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from supplier 0 (unified id 1), 10
    iterations, damping 0.85 — proximity-to-seed ranking rather than
    global centrality. Rows-only (float iteration drift); golden-tested
    against a plain-Python reference at sf0.001."""
    from ezbake_graph_spark.graph.pregel import personalized_pagerank

    edges = bipartite_edges(spark, sf_dir)
    verts = graph_vertices(edges)
    return personalized_pagerank(verts, edges, source_ids=[1]).orderBy(
        F.col("rank").desc(), "id"
    )


def _sssp_sql(steps: int = 8) -> str:
    """Unrolled-CTE oracle for weighted SSSP: ``steps`` Bellman-Ford
    relax rounds (distance after round k = shortest path using ≤ k
    edges). Integer weights → integer distances, and relaxation past
    the fixpoint is idempotent. Measured fixpoint: 4 rounds at every
    SF — 8 unrolled rounds overshoot safely; a deeper graph would fail
    the verify hash loudly, never drift silently."""
    parts = []
    for i in range(steps):
        parts.append(
            f"d{i + 1} AS MATERIALIZED (\n"
            f"  SELECT id, min(d) AS d FROM (\n"
            f"    SELECT id, d FROM d{i}\n"
            f"    UNION ALL\n"
            f"    SELECT e.dst AS id, p.d + e.w AS d\n"
            f"    FROM d{i} p JOIN wedges e ON e.src = p.id) t\n"
            f"  GROUP BY id\n"
            f")"
        )
    return (
        "WITH dw AS (\n"
        "  SELECT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst,\n"
        "         CAST(count(*) AS BIGINT) AS w\n"
        "  FROM lineitem GROUP BY 1, 2\n"
        "), wedges AS (\n"
        "  SELECT src, dst, w FROM dw UNION ALL SELECT dst, src, w FROM dw\n"
        "), d0 AS (\n"
        "  SELECT CAST(1 AS BIGINT) AS id, CAST(0 AS BIGINT) AS d\n"
        "),\n" + ",\n".join(parts) + "\n"
        f"SELECT id, d AS dist FROM d{steps} ORDER BY dist, id"
    )


@register("graph_sssp", oracle=_sssp_sql(8), tags=("J-extra", "pregel"))
def graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths from supplier 0 (unified
    id 1). Edge weight = number of lineitem rows per (part, supplier)
    link (an exact integer, so distances are exact and deterministic);
    the graph is treated undirected (both directions carry the same
    weight). Bellman-Ford Pregel loop; golden-tested against Python
    Dijkstra at sf0.001, and SQL-oracled (upgraded from rows-only) via
    unrolled relax rounds — see _sssp_sql."""
    from ezbake_graph_spark.graph.pregel import shortest_paths_weighted

    li = tables.load(spark, sf_dir, "lineitem")
    directed = li.groupBy(
        (2 * F.col("l_partkey")).alias("src"),
        (2 * F.col("l_suppkey") + 1).alias("dst"),
    ).agg(F.count(F.lit(1)).alias("w"))
    wedges = directed.unionByName(
        directed.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    verts = graph_vertices(wedges.select("src", "dst"))
    return shortest_paths_weighted(verts, wedges, source_ids=[1]).orderBy(
        "dist", "id"
    )


_CLUSTCOEF_SQL = """
WITH e AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s
  FROM lineitem WHERE l_suppkey < 100
), cos AS (
  SELECT DISTINCT a.s AS u, b.s AS v
  FROM e a JOIN e b ON a.p = b.p AND a.s < b.s
), sym AS (
  SELECT u, v FROM cos UNION ALL SELECT v AS u, u AS v FROM cos
), deg AS (
  SELECT u AS id, count(*) AS degree FROM sym GROUP BY 1
), tri AS (
  SELECT w1.u AS id, count(*) AS n_tri
  FROM sym w1
  JOIN sym w2 ON w1.u = w2.u AND w1.v < w2.v
  JOIN cos c ON c.u = w1.v AND c.v = w2.v
  GROUP BY 1
)
SELECT d.id AS supplier, d.degree,
       coalesce(t.n_tri, 0) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN CAST(2 * coalesce(t.n_tri, 0) AS DOUBLE)
                 / (d.degree * (d.degree - 1))
            ELSE 0.0 END AS clustering_coeff
FROM deg d LEFT JOIN tri t ON d.id = t.id
ORDER BY supplier
"""


@register("graph_clustering_coeff", oracle=_CLUSTCOEF_SQL, tags=("ext", "M76"))
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per supplier on the co-supplier
    projection (suppliers adjacent when they share a part), over the
    declared s_suppkey < 100 induced subgraph — the wedge join is
    O(Σ deg²), and the full sf0.1 projection is near-complete
    (SURVEY §7.4(3)), so the operator declares its subgraph the same
    way ``graph_triangles`` declares its scale.

    coeff(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — an exact INT/INT
    rational, bit-identical in both engines, no rounding. Plan: one
    keyed self-join builds the projection, one wedge self-join + edge
    join counts per-vertex triangles; all shuffles are keyed (no
    cross join), so the same plan distributes at cluster scale when
    given a degree-bounded (sampled or thresholded) graph.
    """
    e = (
        tables.load(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey") < 100)
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    e2 = e.select(F.col("p").alias("p2"), F.col("s").alias("s2"))
    cos = (
        e.join(e2, (e.p == e2.p2) & (e.s < e2.s2))
        .select(F.col("s").alias("u"), F.col("s2").alias("v"))
        .distinct()
        .cache()
    )
    sym = cos.unionByName(
        cos.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("id")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    w1 = sym.select(F.col("u").alias("apex"), F.col("v").alias("n1"))
    w2 = sym.select(F.col("u").alias("apex2"), F.col("v").alias("n2"))
    wedges = w1.join(
        w2, (w1.apex == w2.apex2) & (w1.n1 < w2.n2)
    ).select("apex", "n1", "n2")
    tri = (
        wedges.join(
            cos, (wedges.n1 == cos.u) & (wedges.n2 == cos.v), "left_semi"
        )
        .groupBy(F.col("apex").alias("id"))
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    coeff = F.when(
        F.col("degree") >= 2,
        (2 * F.coalesce(F.col("n_tri"), F.lit(0))).cast("double")
        / (F.col("degree") * (F.col("degree") - 1)),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(tri, "id", "left")
        .select(
            F.col("id").alias("supplier"),
            "degree",
            F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_triangles"),
            coeff.alias("clustering_coeff"),
        )
        .orderBy("supplier")
    )


def _nation_trade_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed nation trade edges with order-line counts (src, dst, n):
    c_nation → s_nation per order line, self-loops dropped. The heavy
    data-proportional derivation (broadcast dims around one keyed
    orderkey shuffle) produces a derived graph bounded by the
    nation-dimension cardinality."""
    o = tables.load(spark, sf_dir, "orders")
    c = tables.load(spark, sf_dir, "customer")
    li = tables.load(spark, sf_dir, "lineitem")
    s = tables.load(spark, sf_dir, "supplier")
    cust_nation = o.join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    ).select(F.col("o_orderkey").alias("ok"), F.col("c_nationkey").alias("src"))
    supp_nation = li.join(
        F.broadcast(s), li.l_suppkey == s.s_suppkey
    ).select(F.col("l_orderkey").alias("ok"), F.col("s_nationkey").alias("dst"))
    return (
        cust_nation.join(supp_nation, "ok")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _nation_trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct (src, dst) nation trade edges: the projection of
    ``_nation_trade_weighted`` (column pruning drops the count, leaving
    the same keyed aggregate a distinct runs), checkpointed — tiny
    (≤ |nations|²), and the 4-table lineage is truncated."""
    return _nation_trade_weighted(spark, sf_dir).select("src", "dst").localCheckpoint()


_SCC_SQL = """
WITH RECURSIVE trade AS (
  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey <> s_nationkey
), reach(src, dst) AS (
  SELECT src, dst FROM trade
  UNION
  SELECT r.src, e.dst FROM reach r JOIN trade e ON r.dst = e.src
), verts AS (
  SELECT DISTINCT src AS v FROM trade
  UNION SELECT DISTINCT dst FROM trade
), mutual AS (
  SELECT a.src AS v, a.dst AS w
  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
  UNION
  SELECT v, v FROM verts
)
SELECT v AS nation_id, min(w) AS scc_id
FROM mutual GROUP BY v ORDER BY nation_id
"""


@register("graph_scc", oracle=_SCC_SQL, tags=("J-extra", "iterative"))
def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the DIRECTED nation trade graph
    (edge c_nation → s_nation when a customer ordered from a supplier,
    self-loops dropped): SCC id = min nation mutually reachable.

    Computed by iterating the transitive closure to a count fixpoint
    (extend every reach pair one hop, distinct, repeat until the pair
    count stops growing), then pairing reach with its transpose for
    mutual reachability. At data-scale vertex counts the delta rule
    (join only the NEW pairs per round) cuts each iteration's join
    input; here the whole reach set is bounded by |nations|², so the
    simpler full re-extend per round costs the same and avoids
    anti-join bookkeeping.
    The heavy, data-proportional work is the 4-table edge derivation —
    broadcast dims around one keyed orderkey shuffle. The closure runs
    on the DERIVED graph whose vertex count is the nation-dimension
    cardinality (bounded, tiny), so the quadratic reach set is safe by
    construction; for SCC over data-scale vertex sets the right
    algorithm is forward/backward pivot coloring over the Pregel loop
    instead, trading closure size for O(#SCC) supersteps. Oracle is
    the identical fixpoint as a recursive CTE."""
    # _nation_trade_edges, with its pair count read off the checkpoint
    pairs = F.count(F.lit(1))
    edges, seen = observed_checkpoint(
        _nation_trade_weighted(spark, sf_dir).select("src", "dst"), pairs=pairs
    )
    reach, n_reach = edges, seen["pairs"]
    while True:
        extended = (
            reach.alias("r")
            .hint("merge")
            .join(edges.alias("e"), F.col("r.dst") == F.col("e.src"))
            .select(F.col("r.src").alias("src"), F.col("e.dst").alias("dst"))
        )
        reach, seen = observed_checkpoint(
            reach.unionByName(extended).distinct(), pairs=pairs
        )
        if seen["pairs"] == n_reach:
            break
        n_reach = seen["pairs"]
    verts = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    mutual = (
        reach.alias("a")
        .join(
            reach.alias("b"),
            (F.col("a.src") == F.col("b.dst")) & (F.col("a.dst") == F.col("b.src")),
        )
        .select(F.col("a.src").alias("v"), F.col("a.dst").alias("w"))
        .unionByName(verts.select(F.col("v"), F.col("v").alias("w")))
    )
    return (
        mutual.groupBy(F.col("v").alias("nation_id"))
        .agg(F.min("w").alias("scc_id"))
        .orderBy("nation_id")
    )


_CLOSENESS_SQL = """
WITH RECURSIVE trade AS (
  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey <> s_nationkey
), hop(src, dst, d) AS (
  SELECT src, dst, 1 FROM trade
  UNION
  SELECT h.src, e.dst, h.d + 1
  FROM hop h JOIN trade e ON h.dst = e.src
  WHERE h.d < 25
), dist AS (
  SELECT src, dst, min(d) AS d FROM hop GROUP BY src, dst
)
SELECT src AS nation_id,
       count(*) AS n_reachable,
       CAST(sum(CAST(round(1000000.0 / d) AS BIGINT)) AS DOUBLE) / 1000000
         AS harmonic_centrality
FROM dist
WHERE src <> dst
GROUP BY src
ORDER BY nation_id
"""


@register("graph_closeness", oracle=_CLOSENESS_SQL, tags=("J-extra", "iterative", "M75"))
def graph_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic closeness centrality of the directed nation trade
    graph: h(v) = Σ_{u reachable, u≠v} 1/d(v,u), computed from
    all-pairs min-hop distances — ``api.harmonic_closeness`` with every
    vertex a target (``sample=None``), whose estimator scale is then
    exactly 1.0.

    The APSP loop relaxes (t, v, d) → min(d) to a fixpoint (pair count
    and total distance both stable); each reciprocal is rounded to
    integer micro-units BEFORE the sum so the centrality is an exact
    order-free integer sum in both engines (a float Σ 1/d would drift
    with summation order). Distances live on the derived
    dimension-bounded graph — same scale posture as graph_scc: the
    data-proportional stage is the edge derivation, not the fixpoint.
    At data-scale vertex counts, pass a target sample instead
    (``graph_closeness_sampled``, Eppstein-Wang): pair state |S| x V
    instead of V x V."""
    from ezbake_graph_spark.api import harmonic_closeness

    edges = _nation_trade_edges(spark, sf_dir)
    return (
        harmonic_closeness(graph_vertices(edges), edges)
        .select(
            F.col("id").alias("nation_id"),
            F.col("n_reached").alias("n_reachable"),
            "harmonic_centrality",
        )
        .orderBy("nation_id")
    )


# Fixed, deterministic Eppstein-Wang target sample for the sampled
# closeness registry key. 5 of the 25 nations — small enough that the
# estimator visibly differs from the exact value, fixed so the oracle
# can enumerate it.
_CLOSENESS_SAMPLE = (0, 5, 10, 15, 20)

_CLOSENESS_SAMPLED_SQL = f"""
WITH RECURSIVE trade AS (
  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey <> s_nationkey
), hop(src, dst, d) AS (
  SELECT src, dst, 1 FROM trade
  UNION
  SELECT h.src, e.dst, h.d + 1
  FROM hop h JOIN trade e ON h.dst = e.src
  WHERE h.d < 25
), dist AS (
  SELECT src, dst, min(d) AS d FROM hop GROUP BY src, dst
), nv AS (
  SELECT count(*) AS n FROM nation
), per_v AS (
  SELECT src AS id,
         count(*) AS n_reached,
         sum(CAST(round(1000000.0 / d) AS BIGINT)) AS h_micro
  FROM dist
  WHERE dst IN {_CLOSENESS_SAMPLE} AND src <> dst
  GROUP BY src
)
SELECT id, n_reached,
       round(
         (CAST(nv.n - 1 AS DOUBLE)
          / CAST(CASE WHEN id IN {_CLOSENESS_SAMPLE}
                      THEN {len(_CLOSENESS_SAMPLE) - 1}
                      ELSE {len(_CLOSENESS_SAMPLE)} END AS DOUBLE))
         * CAST(h_micro AS DOUBLE) / 1000000.0, 6) AS harmonic_centrality
FROM per_v, nv
ORDER BY id
"""


@register(
    "graph_closeness_sampled",
    oracle=_CLOSENESS_SAMPLED_SQL,
    tags=("J-extra", "iterative", "M75-scale"),
)
def graph_closeness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eppstein-Wang SAMPLED harmonic closeness — the scale path that
    ``graph_closeness``'s docstring hands off to, now carrying its own
    full cross-engine oracle (the sample is a fixed deterministic set,
    so the estimator is SQL-expressible: same min-hop recursion
    restricted to the sampled targets, scaled by (N-1)/|S∖{v}|).

    Exercises ``api.harmonic_closeness(vertices, edges, sample=...)``
    verbatim: pair state is |S|×V instead of V×V — at data-scale vertex
    counts this is the only affordable posture; with S = V it reduces
    to the exact query (property-tested in tests/test_api.py).
    Reciprocals are summed in integer micro-units (order-free); the
    final scale*sum is a per-row scalar on exact integers, so round6
    is deterministic cross-engine (determinism.py regime 1)."""
    from ezbake_graph_spark.api import harmonic_closeness

    vertices = tables.load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("id")
    )
    edges = _nation_trade_edges(spark, sf_dir)
    return harmonic_closeness(
        vertices, edges, sample=list(_CLOSENESS_SAMPLE)
    ).orderBy("id")


def _pagerank_exact_sql() -> str:
    """Build the 10-step chained-CTE oracle for integer PageRank.

    Standard SQL forbids aggregates in a recursive CTE term, so the
    FIXED iteration count unrolls into pr0..pr10 — one grouped sum per
    step, identical integer recurrence as the Spark loop."""
    steps = []
    for i in range(10):
        steps.append(
            f"pr{i + 1} AS (\n"
            f"  SELECT s.dst AS id,\n"
            f"         150000 + (85 * CAST(sum(p.r // d.d) AS BIGINT)) // 100 AS r\n"
            f"  FROM pr{i} p\n"
            f"  JOIN deg d ON d.id = p.id\n"
            f"  JOIN sym s ON s.src = p.id\n"
            f"  GROUP BY s.dst\n"
            f")"
        )
    return (
        "WITH edges AS (\n"
        "  SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM lineitem\n"
        "), sym AS (\n"
        "  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges\n"
        "), verts AS (\n"
        "  SELECT DISTINCT src AS id FROM sym\n"
        "), deg AS (\n"
        "  SELECT src AS id, count(*) AS d FROM sym GROUP BY src\n"
        "), pr0 AS (\n"
        "  SELECT id, CAST(1000000 AS BIGINT) AS r FROM verts\n"
        "),\n" + ",\n".join(steps) + "\n"
        "SELECT id, CAST(r AS DOUBLE) / 1000000 AS rank\n"
        "FROM pr10 ORDER BY id"
    )


@register(
    "graph_pagerank_exact",
    oracle=_pagerank_exact_sql(),
    tags=("J-extra", "iterative", "M77", "bench2"),
)
def graph_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with a FULL cross-engine value-hash oracle — the
    float-drift objection to oracling iterative algorithms (SURVEY
    §5.3 rule 5) dissolved by running the recurrence in pure integer
    arithmetic: micro-unit ranks, integer floor-division shares,
    r' = 150000 + (85·Σ shares)//100. No float op exists anywhere in
    the loop, so summation order cannot matter and both engines
    produce bit-identical ranks; the one double division happens on
    output. Costs one quantization of 1e-6 per share per step vs the
    float version — the same superstep, ``pregel._rank_walk``, with
    integer ``share`` and ``update`` columns. 10 fixed supersteps on
    the symmetrized part-supplier graph; every vertex has degree ≥ 1 by
    construction, so no dangling-mass term is needed."""
    edges = bipartite_edges(spark, sf_dir)
    pr, _ = _rank_walk(
        None,
        edges,
        F.lit(1_000_000).cast("long"),
        F.expr("rank div d"),
        F.lit(150_000) + F.expr("(85 * c) div 100"),
        10,
    )
    return pr.select(
        "id", (F.col("rank").cast("double") / 1_000_000).alias("rank")
    ).orderBy("id")


def _ppr_exact_sql(seed: int = 1, iterations: int = 10) -> str:
    """Unrolled-CTE oracle for exact-integer personalized PageRank:
    identical recurrence to _pagerank_exact_sql except the teleport
    term lands ONLY on the seed vertex (150000 there, 0 elsewhere),
    so rank mass measures proximity to the seed."""
    steps = []
    for i in range(iterations):
        steps.append(
            f"pr{i + 1} AS MATERIALIZED (\n"
            f"  SELECT v.id,\n"
            f"         CASE WHEN v.id = {seed} THEN 150000 ELSE 0 END\n"
            f"           + (85 * CAST(coalesce(m.acc, 0) AS BIGINT)) // 100 AS r\n"
            f"  FROM verts v LEFT JOIN (\n"
            f"    SELECT s.dst AS id, sum(p.r // d.d) AS acc\n"
            f"    FROM pr{i} p\n"
            f"    JOIN deg d ON d.id = p.id\n"
            f"    JOIN sym s ON s.src = p.id\n"
            f"    WHERE p.r > 0\n"
            f"    GROUP BY s.dst) m ON m.id = v.id\n"
            f")"
        )
    return (
        "WITH edges AS (\n"
        "  SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM lineitem\n"
        "), sym AS MATERIALIZED (\n"
        "  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges\n"
        "), verts AS MATERIALIZED (\n"
        "  SELECT DISTINCT src AS id FROM sym\n"
        "), deg AS MATERIALIZED (\n"
        "  SELECT src AS id, count(*) AS d FROM sym GROUP BY src\n"
        "), pr0 AS (\n"
        f"  SELECT id, CASE WHEN id = {seed} THEN CAST(1000000 AS BIGINT)\n"
        "              ELSE CAST(0 AS BIGINT) END AS r FROM verts\n"
        "),\n" + ",\n".join(steps) + "\n"
        f"SELECT id, CAST(r AS DOUBLE) / 1000000 AS rank\n"
        f"FROM pr{iterations} WHERE r > 0 ORDER BY rank DESC, id"
    )


@register(
    "graph_ppr_exact",
    oracle=_ppr_exact_sql(seed=1, iterations=10),
    tags=("J-extra", "iterative", "M78"),
)
def graph_ppr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from supplier 0 (unified id 1) in the
    same pure-integer regime as graph_pagerank_exact (M77): teleport
    mass returns only to the seed, shares are integer floor divisions,
    so both engines produce bit-identical micro-ranks — proximity
    scoring with a full value-hash oracle. Same walk as
    graph_pagerank_exact with the seed-only teleport; zero shares
    change no integer sum, so unreached vertices need no message
    filter. Vertices never reached keep rank 0 and are filtered from
    the output."""
    seed = (F.col("id") == 1).cast("long")
    edges = bipartite_edges(spark, sf_dir)
    pr, _ = _rank_walk(
        None,
        edges,
        seed * 1_000_000,
        F.expr("rank div d"),
        seed * 150_000 + F.expr("(85 * c) div 100"),
        10,
    )
    return (
        pr.filter(F.col("rank") > 0)
        .select("id", (F.col("rank").cast("double") / 1_000_000).alias("rank"))
        .orderBy(F.col("rank").desc(), "id")
    )


_WALK_STEPS = 4


def _random_walk_sql(steps: int = _WALK_STEPS) -> str:
    """Unrolled fixpoint CTE: one hop per step, neighbor picked by the
    same md5-derived index as the Spark loop."""
    parts = [
        """
WITH base AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
edges AS (
  SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
         'p' || CAST(l_partkey AS VARCHAR) AS dst FROM base
  UNION ALL
  SELECT 'p' || CAST(l_partkey AS VARCHAR),
         's' || CAST(l_suppkey AS VARCHAR) FROM base
),
ranked AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY dst) AS rnk,
         count(*) OVER (PARTITION BY src) AS deg
  FROM edges
),
step0 AS (
  SELECT 2 * l_suppkey + w AS walk_id,
         's' || CAST(l_suppkey AS VARCHAR) AS node
  FROM (SELECT DISTINCT l_suppkey FROM lineitem),
       (SELECT unnest(range(2)) AS w)
)"""
    ]
    for t in range(1, steps + 1):
        parts.append(
            f""",
step{t} AS (
  SELECT s.walk_id, r.dst AS node
  FROM step{t - 1} s JOIN ranked r ON r.src = s.node
   AND r.rnk = 1 + (('0x' || substr(md5(
         CAST(s.walk_id AS VARCHAR) || '-{t}-' || s.node), 1, 4))::BIGINT
       % r.deg)
)"""
        )
    unions = "\nUNION ALL ".join(
        f"SELECT walk_id, {t} AS step, node FROM step{t}" for t in range(steps + 1)
    )
    parts.append(f"\nSELECT walk_id, step, node FROM ({unions})\n")
    parts.append("ORDER BY walk_id, step")
    return "".join(parts)


@register("graph_random_walk", oracle=_random_walk_sql(), tags=("J-extra", "M92"))
def graph_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random walks (the DeepWalk/node2vec sampling
    primitive — walk corpora are what graph-embedding trainers consume)
    on the supplier-part bipartite graph: 2 walks per supplier, 4 hops,
    the next hop chosen by indexing the neighbor list (ranked by dst)
    with the first 16 bits of md5(walk_id, step, node) mod degree.

    Hash-indexed selection replaces RNG: every engine — and every
    re-run, on any partitioning — picks the identical neighbor, so an
    inherently "random" sampling operator still gets a full value-hash
    oracle (4 unrolled CTE hops on the DuckDB side).

    Scale: the ranked adjacency (rank + degree via one keyed window) is
    built once; each hop is one equi-join of the walk frontier against
    it, keyed on the current node — frontier size stays constant
    (#walks), so a W-step walk is W keyed shuffles of #walks rows, not
    a blowup. At 100 TB: partition the adjacency by src once (it is
    reused every hop) and the frontier joins co-locate; this is the
    same reuse discipline as graph/pregel.py."""
    li = tables.load(spark, sf_dir, "lineitem")
    base = li.select("l_suppkey", "l_partkey").distinct()
    s_node = F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
    p_node = F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
    edges = base.select(s_node.alias("src"), p_node.alias("dst")).unionByName(
        base.select(p_node.alias("src"), s_node.alias("dst"))
    )
    w = Window.partitionBy("src").orderBy("dst")
    # cache: the ranked adjacency is consumed by all _WALK_STEPS hop
    # joins AND their replay under the closing union — without it the
    # distinct + double window recomputes once per hop (measured 5.5s
    # -> ~2s at sf0.01)
    ranked = edges.select(
        "src",
        "dst",
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy("src")).alias("deg"),
    ).cache()
    starts = (
        li.select("l_suppkey")
        .distinct()
        .crossJoin(spark.range(2).select(F.col("id").alias("w")))
    )
    state = starts.select(
        (F.col("l_suppkey") * 2 + F.col("w")).alias("walk_id"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("node"),
    )
    out = state.withColumn("step", F.lit(0))
    for t in range(1, _WALK_STEPS + 1):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("walk_id").cast("string"),
                        F.lit(f"-{t}-"),
                        F.col("node"),
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        nxt = (
            state.join(ranked, state.node == ranked.src)
            .filter(F.col("rnk") == 1 + (h % F.col("deg")))
            .select("walk_id", F.col("dst").alias("node"))
            # truncate: hop t's frontier is consumed by hop t+1 AND the
            # closing union; without the checkpoint the union replays a
            # t-join-deep lineage per step (frontier is #walks rows)
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(nxt.withColumn("step", F.lit(t)))
        state = nxt
    return out.select("walk_id", "step", "node").orderBy("walk_id", "step")


_LINKPRED_SQL = """
WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
sim AS (
  SELECT DISTINCT a.s AS s, b.s AS s2
  FROM e a JOIN e b ON a.p = b.p AND a.s <> b.s
  WHERE a.s < 5
),
cand AS (
  SELECT sim.s, e2.p, count(DISTINCT sim.s2) AS score
  FROM sim JOIN e e2 ON e2.s = sim.s2
  WHERE NOT EXISTS (SELECT 1 FROM e x WHERE x.s = sim.s AND x.p = e2.p)
  GROUP BY sim.s, e2.p
)
SELECT s AS supp_id, p AS part_id, score
FROM cand
ORDER BY score DESC, supp_id, part_id
LIMIT 50
"""


@register("graph_link_prediction", oracle=_LINKPRED_SQL, tags=("J-extra", "M95"))
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collaborative-filtering link prediction on the supplier-part
    bipartite graph: for a seed set of suppliers, score each part they
    do NOT yet supply by how many *similar* suppliers (sharing at least
    one part with the seed) do supply it — the count-of-2-paths
    (s - p' - s' - p) recommender kernel, top-50. Scores are integer
    counts with (score desc, supp, part) total order, so the ranking
    can't drift between engines.

    Plan: seed-filtered wedge join builds the similarity pairs, one
    keyed join expands to candidate parts, a left-anti join removes
    existing edges, then count-distinct + top-k (TakeOrderedAndProject).
    Scale: scoped to a per-query seed set — the shape production
    recommenders run (score candidates for THESE entities); the
    all-pairs batch variant is the same pipeline without the seed
    filter, whose wedge join is the graph_vertex_jaccard /
    graph_clustering_coeff cost profile (bounded by co-occurrence
    blocking)."""
    li = tables.load(spark, sf_dir, "lineitem")
    e = li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")).distinct()
    a = e.filter(F.col("s") < 5).select(F.col("s").alias("seed"), F.col("p").alias("ap"))
    b = e.select(F.col("s").alias("s2"), F.col("p").alias("bp"))
    sim = (
        a.join(b, (F.col("ap") == F.col("bp")) & (F.col("seed") != F.col("s2")))
        .select("seed", "s2")
        .distinct()
    )
    e2 = e.select(F.col("s").alias("es"), F.col("p").alias("cand_p"))
    pairs = sim.join(e2, sim.s2 == e2.es).select("seed", "s2", "cand_p")
    existing = e.select(F.col("s").alias("seed"), F.col("p").alias("cand_p"))
    new_pairs = pairs.join(existing, ["seed", "cand_p"], "left_anti")
    return (
        new_pairs.groupBy(F.col("seed").alias("supp_id"), F.col("cand_p").alias("part_id"))
        .agg(F.countDistinct("s2").alias("score"))
        .orderBy(F.col("score").desc(), "supp_id", "part_id")
        .limit(50)
    )


_MODULARITY_SQL = """
WITH e AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
cos AS (
  SELECT DISTINCT a.s AS a, b.s AS b
  FROM e a JOIN e b ON a.p = b.p AND a.s < b.s
), nat AS (
  SELECT s_suppkey, s_nationkey FROM supplier
), labeled AS (
  SELECT cos.a, cos.b, na.s_nationkey AS ca, nb.s_nationkey AS cb
  FROM cos JOIN nat na ON cos.a = na.s_suppkey
           JOIN nat nb ON cos.b = nb.s_suppkey
), m AS (
  SELECT count(*) AS m, count(*) FILTER (WHERE ca = cb) AS e_within
FROM labeled
), deg AS (
  SELECT c, CAST(sum(d) AS BIGINT) AS d_c
  FROM (
    SELECT ca AS c, count(*) AS d FROM (
      SELECT a AS v, ca FROM labeled UNION ALL SELECT b AS v, cb FROM labeled
    ) t JOIN nat ON v = s_suppkey AND ca = s_nationkey
    GROUP BY ca
  ) GROUP BY c
), parts AS (
  SELECT CAST(sum(d_c * d_c) AS BIGINT) AS sum_dc2 FROM deg
)
SELECT m.m AS n_edges,
       CAST(4 * m.m * m.e_within - parts.sum_dc2 AS DOUBLE)
         / (4 * m.m * m.m) AS modularity
FROM m, parts
"""


@register("graph_modularity", oracle=_MODULARITY_SQL, tags=("J-extra", "M109"))
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community-quality metric: Newman modularity of the nation
    partition over the co-supplier projection — Q = Σ_c (e_c/m −
    (d_c/2m)²), the score every community-detection pipeline reports
    (labelprop J8 finds communities; this measures them).

    Exactness: edges, within-community edges, and degree sums are all
    integers, so Q is computed as ONE integer expression (4·m·e_within
    − Σd_c²) over one integer denominator (4m²) — a single IEEE
    division, bit-identical in both engines; no per-community float
    summation ever happens. Plan: the wedge self-join builds the
    projection (the M32/M76 cost shape), then two broadcast-sized
    aggregates; nation labels broadcast onto both endpoints."""
    li = tables.load(spark, sf_dir, "lineitem")
    sup = tables.load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    e = li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")).distinct()
    e2 = e.select(F.col("p").alias("p2"), F.col("s").alias("s2"))
    cos = (
        e.join(e2, (e.p == e2.p2) & (e.s < e2.s2))
        .select(F.col("s").alias("a"), F.col("s2").alias("b"))
        .distinct()
    )
    na = sup.select(F.col("s_suppkey").alias("a"), F.col("s_nationkey").alias("ca"))
    nb = sup.select(F.col("s_suppkey").alias("b"), F.col("s_nationkey").alias("cb"))
    labeled = cos.join(F.broadcast(na), "a").join(F.broadcast(nb), "b").cache()
    mrow = labeled.agg(
        F.count(F.lit(1)).alias("m"),
        F.count_if(F.col("ca") == F.col("cb")).alias("e_within"),
    )
    ends = labeled.select(F.col("a").alias("v"), F.col("ca").alias("c")).unionByName(
        labeled.select(F.col("b").alias("v"), F.col("cb").alias("c"))
    )
    deg = ends.groupBy("c").agg(F.count(F.lit(1)).alias("d_c"))
    parts = deg.agg(F.sum(F.col("d_c") * F.col("d_c")).alias("sum_dc2"))
    return mrow.crossJoin(parts).select(
        F.col("m").alias("n_edges"),
        (
            (4 * F.col("m") * F.col("e_within") - F.col("sum_dc2")).cast("double")
            / (4 * F.col("m") * F.col("m"))
        ).alias("modularity"),
    )


_DEGDIST_SQL = """
WITH e AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
deg AS (SELECT s, count(*) AS degree FROM e GROUP BY s)
SELECT degree, count(*) AS n_vertices
FROM deg GROUP BY degree
ORDER BY degree
"""


@register("graph_degree_distribution", oracle=_DEGDIST_SQL, tags=("J-extra", "M113"))
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution (the power-law / skew diagnostic read before
    choosing a partitioning strategy: a heavy tail here is what makes
    salted joins and skew-aware AQE necessary): vertices per exact
    degree value on the supplier side of the bipartite graph. Two keyed
    aggregations, both map-side combinable; output is |distinct
    degrees| rows."""
    li = tables.load(spark, sf_dir, "lineitem")
    e = li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")).distinct()
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
        .orderBy("degree")
    )


_ADAMIC_SQL = """
WITH edges AS (
  SELECT DISTINCT l_partkey AS part_id, l_suppkey AS supp_id FROM lineitem
), deg AS (
  SELECT supp_id, count(*) AS d FROM edges GROUP BY supp_id
)
SELECT a.part_id AS part1, b.part_id AS part2,
       count(*) AS n_common,
       round(sum(1.0 / ln(CAST(deg.d AS DOUBLE))), 6) AS adamic_adar
FROM edges a
JOIN edges b ON a.supp_id = b.supp_id AND a.part_id < b.part_id
JOIN deg ON deg.supp_id = a.supp_id
WHERE a.part_id < 30 AND b.part_id < 30
GROUP BY a.part_id, b.part_id
ORDER BY part1, part2
"""


@register("graph_adamic_adar", oracle=_ADAMIC_SQL, tags=("J-extra", "M132"))
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link score (J-extra): common-neighbor count weighted
    by 1/ln(degree) — rare shared suppliers count more than hubs. The
    inverse-log refinement of M95's raw common-neighbor recommender,
    over a seed slice of parts.

    Plan: wedge join on the shared supplier (keyed equi-join, never
    all-pairs) with the supplier-degree table broadcast in. Every
    1/ln(d) term is the identical libm double in both engines; the
    per-pair sum spans at most |common suppliers| well-scaled terms so
    round6 absorbs association drift. Output is ALL seed pairs (no
    float-boundary top-k), totally ordered by ids."""
    li = tables.load(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("part_id"), F.col("l_suppkey").alias("supp_id")
    ).distinct()
    deg = (
        edges.groupBy("supp_id")
        .agg(F.count(F.lit(1)).alias("d"))
        .withColumnRenamed("supp_id", "deg_supp_id")
    )
    seed = edges.filter(F.col("part_id") < 30)
    a, b = seed.alias("a"), seed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.supp_id") == F.col("b.supp_id"))
            & (F.col("a.part_id") < F.col("b.part_id")),
        )
        .join(F.broadcast(deg), F.col("a.supp_id") == F.col("deg_supp_id"))
        .groupBy(
            F.col("a.part_id").alias("part1"), F.col("b.part_id").alias("part2")
        )
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.round(F.sum(F.lit(1.0) / F.log(F.col("d").cast("double"))), 6).alias(
                "adamic_adar"
            ),
        )
        .orderBy("part1", "part2")
    )


_ASSORT_SQL = """
WITH edges AS (
  SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM lineitem
), sym AS (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
), deg AS (
  SELECT src AS id, count(*) AS d FROM sym GROUP BY src
), pairs AS (
  SELECT CAST(da.d AS HUGEINT) AS x, CAST(db.d AS HUGEINT) AS y
  FROM sym JOIN deg da ON sym.src = da.id JOIN deg db ON sym.dst = db.id
), s AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM pairs
)
SELECT CAST(n AS BIGINT) AS n_directed_edges,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / NULLIF(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0),
             6) AS degree_assortativity
FROM s
"""


@register("graph_assortativity", oracle=_ASSORT_SQL, tags=("J-extra", "M133"))
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (J-extra): Pearson correlation of endpoint
    degrees over the symmetrized edge list — negative means hubs attach
    to leaves (the usual bipartite projection signature). The one-number
    topology screen run before choosing a partitioning strategy (strong
    disassortativity predicts skewed shuffle keys).

    Exact-moment regime (as agg_corr_exact): degrees are integers, the
    five moment sums accumulate in DECIMAL(38)/HUGEINT (sum of d^2 * y
    over edges passes BIGINT range at sf>=0.1), and the closing Pearson
    expression is a handful of identical IEEE ops. Plan: two keyed
    joins decorate each directed edge with endpoint degrees (degree
    table broadcast), one global agg — map-side combinable, single
    reduce to one row."""
    sym = symmetrize(bipartite_edges(spark, sf_dir))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    da = deg.select(F.col("src").alias("id"), F.col("d").alias("dx"))
    db = deg.select(F.col("src").alias("id"), F.col("d").alias("dy"))
    pairs = (
        sym.join(F.broadcast(da), sym.src == da.id)
        .join(F.broadcast(db), sym.dst == db.id)
        .select(
            F.col("dx").cast("decimal(38,0)").alias("x"),
            F.col("dy").cast("decimal(38,0)").alias("y"),
        )
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    # Zero-variance guard (degree-regular graph): NULL in both engines
    # — Spark ANSI raises DIVIDE_BY_ZERO, DuckDB emits NaN/inf;
    # when()/NULLIF make them agree.
    den = F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    return s.select(
        F.col("n").cast("long").alias("n_directed_edges"),
        F.round(
            F.when(den != 0, (nd * sxy - sx * sy) / den),
            6,
        ).alias("degree_assortativity"),
    )


@register(
    "graph_betweenness_sampled", oracle=None, tags=("ext", "rows-only")
)
def graph_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled Brandes betweenness centrality over the part-supplier
    graph, 4 fixed BFS sources (rows-only: the backward dependency
    pass sums float fractions sigma_v/sigma_w whose shuffle order is
    nondeterministic, SURVEY §5.3 rule 5). Golden-checked against a
    pure-Python Brandes in tests/test_graph.py; the kernel is
    ``graph.pregel.betweenness_sampled`` (api.betweenness_sampled is
    the user surface)."""
    from ezbake_graph_spark.graph.pregel import betweenness_sampled

    edges = bipartite_edges(spark, sf_dir)
    verts = graph_vertices(edges)
    bc = betweenness_sampled(verts, edges, sources=[1, 3, 5], max_depth=6)
    return bc.select("id", F.round("betweenness", 4).alias("betweenness")).orderBy(
        "id"
    )


_BETWEENNESS_DEPTH = 6
_BETWEENNESS_TOP_EDGES = 80


def _top_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst): the top-80 nation trade edges by order-line count
    (deterministic (n DESC, src, dst) cut — the complete trade graph
    has every distance 1), symmetrized and deduplicated, checkpointed
    to truncate the 4-table derivation's lineage (bounded: <= 2x the
    top edges)."""
    top = (
        _nation_trade_weighted(spark, sf_dir)
        .orderBy(F.col("n").desc(), "src", "dst")
        .limit(_BETWEENNESS_TOP_EDGES)
        .select("src", "dst")
    )
    return (
        top.unionByName(top.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )


_BETWEENNESS_EXACT_SQL = f"""
WITH weighted AS (
  SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS n
  FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN lineitem ON l_orderkey = o_orderkey JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey <> s_nationkey
  GROUP BY src, dst
), top_edges AS (
  SELECT src, dst FROM weighted
  ORDER BY n DESC, src, dst LIMIT {_BETWEENNESS_TOP_EDGES}
), und AS MATERIALIZED (
  SELECT src, dst FROM top_edges UNION SELECT dst, src FROM top_edges
), verts AS (SELECT DISTINCT src AS v FROM und),
w1 AS (SELECT src, dst, CAST(1 AS BIGINT) AS cnt FROM und),
w2 AS (SELECT w.src, e.dst, CAST(sum(w.cnt) AS BIGINT) AS cnt
       FROM w1 w JOIN und e ON w.dst = e.src GROUP BY w.src, e.dst),
w3 AS (SELECT w.src, e.dst, CAST(sum(w.cnt) AS BIGINT) AS cnt
       FROM w2 w JOIN und e ON w.dst = e.src GROUP BY w.src, e.dst),
w4 AS (SELECT w.src, e.dst, CAST(sum(w.cnt) AS BIGINT) AS cnt
       FROM w3 w JOIN und e ON w.dst = e.src GROUP BY w.src, e.dst),
w5 AS (SELECT w.src, e.dst, CAST(sum(w.cnt) AS BIGINT) AS cnt
       FROM w4 w JOIN und e ON w.dst = e.src GROUP BY w.src, e.dst),
w6 AS (SELECT w.src, e.dst, CAST(sum(w.cnt) AS BIGINT) AS cnt
       FROM w5 w JOIN und e ON w.dst = e.src GROUP BY w.src, e.dst),
walks AS (
  SELECT src, dst, 1 AS d, cnt FROM w1 UNION ALL SELECT src, dst, 2, cnt FROM w2
  UNION ALL SELECT src, dst, 3, cnt FROM w3 UNION ALL SELECT src, dst, 4, cnt FROM w4
  UNION ALL SELECT src, dst, 5, cnt FROM w5 UNION ALL SELECT src, dst, 6, cnt FROM w6
), dist AS (
  SELECT src, dst, min(d) AS d FROM walks WHERE src <> dst GROUP BY src, dst
), sigma AS (
  SELECT di.src, di.dst, di.d, wa.cnt
  FROM dist di JOIN walks wa
    ON wa.src = di.src AND wa.dst = di.dst AND wa.d = di.d
), terms AS (
  SELECT sv.dst AS v, (1000000 * sv.cnt * vt.cnt) // st.cnt AS t_micro
  FROM sigma st
  JOIN sigma sv ON sv.src = st.src
  JOIN sigma vt ON vt.src = sv.dst AND vt.dst = st.dst
  WHERE sv.d + vt.d = st.d AND sv.dst <> st.src AND sv.dst <> st.dst
)
SELECT ve.v AS nation_id, CAST(coalesce(sum(t.t_micro), 0) AS BIGINT) AS bc_micro
FROM verts ve LEFT JOIN terms t ON t.v = ve.v
GROUP BY ve.v ORDER BY nation_id
"""


@register(
    "graph_betweenness_exact",
    oracle=_BETWEENNESS_EXACT_SQL,
    tags=("ext", "iterative", "M155"),
)
def graph_betweenness_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT betweenness centrality, full value-hash oracle (VERDICT r6
    #5) — the bit-exact twin that pins ``graph_betweenness_sampled``'s
    float Brandes kernel, the same regime as
    ``graph_pagerank_exact``/``graph_ppr_exact``.

    Graph: ``_top_trade_graph``, the symmetrized top-80 nation trade
    edges (the complete trade graph has every distance 1 and all-zero
    betweenness).
    Formulation: the pair-counting identity instead of Brandes'
    backward pass — sigma_st(v) = [d(s,v)+d(v,t)=d(s,t)] *
    sigma_sv * sigma_vt, so bc(v) = sum over ordered pairs of
    sigma_st(v)/sigma_st. Path counts come from 6 unrolled
    aggregated walk-count levels (W_k = W_k-1 x A; a walk of length
    d(s,t) is necessarily a shortest path), distances from the first
    level with a nonzero count; both are exact integers, and each
    pair term is quantized by INTEGER floor division
    ((1000000 * s1 * s2) div s_st) — bit-identical across engines, no
    float anywhere. Output bc_micro sums ORDERED pairs (= 2,000,000 x
    the unordered-pair betweenness); the correlation of the sampled
    Brandes kernel against this key is pinned in tests/test_graph.py.

    Scale: every step is a keyed join + aggregate on a derived graph
    bounded by the nation dimension; the heavy data-proportional work
    is the 4-table edge derivation, same as graph_scc/graph_closeness.
    For data-scale vertex sets use ``api.betweenness_sampled`` — the
    O(|S| x diameter) Pregel path; this key exists to certify values.
    """
    und = _top_trade_graph(spark, sf_dir)
    verts = und.select(F.col("src").alias("v")).distinct()
    level = und.select("src", "dst", F.lit(1).cast("long").alias("cnt"))
    walks = level.withColumn("d", F.lit(1))
    for d in range(2, _BETWEENNESS_DEPTH + 1):
        level = (
            level.alias("w")
            .join(und.alias("e"), F.col("w.dst") == F.col("e.src"))
            .groupBy(F.col("w.src").alias("src"), F.col("e.dst").alias("dst"))
            .agg(F.sum("cnt").alias("cnt"))
            .localCheckpoint()  # keep the unrolled-join lineage flat
        )
        walks = walks.unionByName(level.withColumn("d", F.lit(d)))
    dist = (
        walks.filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("d").alias("d"))
    )
    sigma = dist.alias("di").join(
        walks.alias("wa"),
        (F.col("wa.src") == F.col("di.src"))
        & (F.col("wa.dst") == F.col("di.dst"))
        & (F.col("wa.d") == F.col("di.d")),
    ).select(
        F.col("di.src").alias("src"),
        F.col("di.dst").alias("dst"),
        F.col("di.d").alias("d"),
        F.col("wa.cnt").alias("cnt"),
    ).cache()
    st = sigma.select(
        F.col("src").alias("s"), F.col("dst").alias("t"),
        F.col("d").alias("d_st"), F.col("cnt").alias("c_st"),
    )
    sv = sigma.select(
        F.col("src").alias("s"), F.col("dst").alias("v"),
        F.col("d").alias("d_sv"), F.col("cnt").alias("c_sv"),
    )
    vt = sigma.select(
        F.col("src").alias("v"), F.col("dst").alias("t"),
        F.col("d").alias("d_vt"), F.col("cnt").alias("c_vt"),
    )
    terms = (
        st.join(sv, "s")
        .join(vt, ["v", "t"])
        .filter(
            (F.col("d_sv") + F.col("d_vt") == F.col("d_st"))
            & (F.col("v") != F.col("s"))
            & (F.col("v") != F.col("t"))
        )
        .select(
            "v",
            F.expr("(1000000 * c_sv * c_vt) div c_st").alias("t_micro"),
        )
    )
    return (
        verts.join(terms, "v", "left")
        .groupBy(F.col("v").alias("nation_id"))
        .agg(F.coalesce(F.sum("t_micro"), F.lit(0)).cast("long").alias("bc_micro"))
        .orderBy("nation_id")
    )


_PATH_SRC = 0
_PATH_DEPTH = 6

_PATH_SQL = f"""
WITH RECURSIVE top_edges AS (
  SELECT src, dst FROM (
    SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS n
    FROM orders JOIN customer ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey JOIN supplier ON l_suppkey = s_suppkey
    WHERE c_nationkey <> s_nationkey GROUP BY 1, 2
  ) ORDER BY n DESC, src, dst LIMIT {_BETWEENNESS_TOP_EDGES}
), und AS (
  SELECT src, dst FROM top_edges UNION SELECT dst, src FROM top_edges
), walk AS (
  SELECT CAST({_PATH_SRC} AS BIGINT) AS node, 0 AS d,
         [CAST({_PATH_SRC} AS BIGINT)] AS path
  UNION ALL
  SELECT e.dst, w.d + 1, list_append(w.path, e.dst)
  FROM walk w JOIN und e ON e.src = w.node
  WHERE w.d < {_PATH_DEPTH} AND NOT list_contains(w.path, e.dst)
), best AS (
  SELECT node AS bn, min(d) AS bd FROM walk GROUP BY node
)
SELECT bn AS node, bd AS d,
       array_to_string(min(w.path), '>') AS path_str
FROM best JOIN walk w ON w.node = bn AND w.d = bd
GROUP BY bn, bd
ORDER BY node
"""


@register(
    "graph_path_reconstruct",
    oracle=_PATH_SQL,
    tags=("ext", "iterative", "M168"),
)
def graph_path_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-PATH reconstruction (not just distances): from nation 0
    on the same top-80 undirected trade graph as
    ``graph_betweenness_exact``, return for every reachable node its
    hop distance and the lexicographically-smallest shortest path as
    a '>'-joined node string — the property-graph traversal answer
    ("HOW is u connected to v"), where graph_bfs/graph_sssp stop at
    "how far".

    Frontier BFS carrying path arrays: per level, extend only each
    node's minimal path (provably sufficient: a node inside any
    min-depth walk prefix would have been reached earlier, so the
    lexicographic min at depth k always extends a depth-(k-1) minimal
    path — the same argument the oracle's min-over-ALL-simple-walks
    formulation reduces to), drop nodes already reached (LEFT ANTI on
    the accumulated result), keep the per-node array min (arrays are
    orderable in both engines with identical elementwise semantics;
    all candidates share one length so there is no prefix case). Per
    superstep: one keyed join + one keyed agg + one anti join — the
    Pregel posture; state is one path per vertex, NOT all paths (the
    walk enumeration lives only in the oracle). Depth-capped at 6
    like the betweenness twin; the declared graph is dimension-
    bounded, the data-proportional stage is the 4-table edge
    derivation. Edge derivation and frontier loop run in one
    ``LoopScope`` (AQE off, so every call schedules the same jobs),
    closed by an eager checkpoint inside it."""
    with LoopScope(spark):
        und = _top_trade_graph(spark, sf_dir)
        best = spark.createDataFrame(
            [(_PATH_SRC, 0, [_PATH_SRC])], "node long, d int, path array<long>"
        )
        frontier = best
        for depth in range(1, _PATH_DEPTH + 1):
            ext = (
                frontier.join(und, frontier.node == und.src)
                .filter(~F.array_contains("path", F.col("dst")))
                .select(
                    F.col("dst").alias("node"),
                    F.lit(depth).alias("d"),
                    F.concat("path", F.array(F.col("dst"))).alias("path"),
                )
            )
            frontier, seen = observed_checkpoint(
                ext.join(best.select("node"), "node", "left_anti")
                .groupBy("node")
                .agg(F.lit(depth).alias("d"), F.min("path").alias("path")),
                rows=F.count(F.lit(1)),
            )
            if not seen["rows"]:
                break
            best = best.unionByName(frontier).localCheckpoint()
        return (
            best.select(
                "node",
                "d",
                F.concat_ws(">", F.transform("path", lambda x: x.cast("string"))).alias(
                    "path_str"
                ),
            )
            .orderBy("node")
            .localCheckpoint()
        )


@register(
    "graph_hits", oracle=None, tags=("J-extra", "pregel", "rows-only", "bench2")
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities on the DIRECTED part→supplier bipartite
    graph (hub mass lives on parts, authority on suppliers — the
    bipartite reading of Kleinberg's model). 20 fixed power-method
    supersteps, L1-normalized per half-step (graph/pregel.hits).
    Rows-only: float iteration drift (SURVEY §5.3 rule 5);
    a converged reference-iteration golden plus invariant tests pin the values.
    """
    from ezbake_graph_spark.graph.pregel import hits

    edges = bipartite_edges(spark, sf_dir)
    return (
        hits(edges, iterations=20)
        .select("id", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth"))
        .orderBy("id")
    )


LOUVAIN_ROUNDS = 4


def louvain_local_moves(
    edges_sym: DataFrame,
    rounds: int = LOUVAIN_ROUNDS,
    weight_col: str | None = None,
    schedule: str = "parity",
) -> DataFrame:
    """Louvain-style community detection: synchronous modularity-gain
    local moves with an alternating-parity schedule, all comparisons
    in exact BIGINT so the trajectory is integer-deterministic and
    carries a full unrolled-CTE value-hash oracle (the labelprop
    argument — this is labelprop with modularity-gain votes).

    Per round, each ACTIVE node i picks the community C (its
    neighbors' communities plus its own) maximizing the standard gain
    numerator ``2m*k_{i,C} - k_i*(tot(C) - [i in C]*k_i)`` — the
    modularity delta scaled by (2m)^2 with the i-independent terms
    dropped, so the argmax is exact integer arithmetic; ties break to
    the smallest community id. Only nodes with ``id % 2 == round % 2``
    move in a given round (the unified id space IS the bipartite
    2-coloring): a red-black schedule, the standard distributed-Louvain
    trick that turns oscillation-prone Jacobi updates into convergent
    Gauss-Seidel sweeps without serializing node-by-node.

    ``schedule`` picks the anti-oscillation discipline. ``"parity"``
    (default) moves ids of alternating parity — correct when ids are a
    proper 2-coloring (the bipartite unified id space). On GENERAL
    graphs two same-parity communities that mutually prefer each other
    would swap labels forever; ``"updown"`` instead lets EVERY node
    evaluate each round but only accepts moves toward a SMALLER label
    on even rounds and a LARGER one on odd rounds — swap-free without
    any coloring assumption (the coarse level-2 graph uses this).

    One level of local moves (full Louvain adds coarsen-and-repeat —
    a driver loop over shrinking community graphs, same kernel;
    ``louvain_two_level``).
    Scale: per round, one keyed agg for community degree totals, one
    (src, community) agg for k_{i,C} — both map-side combinable — and
    a per-node argmax window keyed on the node; the 1-row 2m frame is
    a broadcast. BIGINT bound: m2*kic needs 2m * max_degree < 9.2e18
    — at larger products pre-scale degrees (chi2-style caveat).
    """
    # Weighted graphs use the same integer algebra: strength replaces
    # degree, sum(w) replaces count(*) — weights must be BIGINT (scale
    # rational weights first, micro-unit style).
    #
    # One LoopScope for the WHOLE round loop (symmetrize() would drop
    # the weight column, so the arcs are laid out directly): every
    # round re-runs the same fixed small shuffles, so AQE's
    # re-planning jobs and session-width reduce stages are pure
    # per-round overhead (measured 331 s -> 159 s on the 80-node
    # planted hierarchy test, 2x on the sf0.01 keys; identical integer
    # trajectory). Arcs cache dst-partitioned once so each round's kic
    # join reuses the layout and only the small label frame shuffles.
    with LoopScope(edges_sym.sparkSession) as scope:
        arcs = scope.layout(_arcs(edges_sym, weight_col), "dst")
        return _louvain_rounds(scope, arcs, rounds, schedule)


def _arcs(edges_sym: DataFrame, weight_col: str | None) -> DataFrame:
    """(src, dst, _w): the weighted arc frame every Louvain level runs
    on, ``_w`` the BIGINT weight (1 when ``weight_col`` is None)."""
    weight = F.col(weight_col) if weight_col is not None else F.lit(1)
    return edges_sym.select("src", "dst", weight.cast("long").alias("_w"))


def _louvain_rounds(
    scope: LoopScope, ew: DataFrame, rounds: int, schedule: str
) -> DataFrame:
    """The local-move round loop over an arc frame laid out by
    ``scope`` (``LoopScope.layout(arcs, "dst")``) — body of
    ``louvain_local_moves`` (see its contract)."""
    # r13 (guide §1.2, VERDICT r12 #6): ``deg`` and ``m2`` are loop
    # INVARIANTS, but as lazy frames they re-aggregated from the edge
    # cache on every reference — deg twice per round (community totals
    # + the gain join) and m2 once per round as a fresh
    # BroadcastExchange build. Loop-scoped caches (dropped at scope
    # exit) compute each once;
    # cache — not localCheckpoint — because an ExistingRDD would reset
    # sizeInBytes to the default and knock the small deg relation out
    # of the per-round broadcast join (measured: the checkpoint form
    # REGRESSED graph_louvain 9.2 → 10.8 s at sf0.1). Values are exact
    # integer sums — bit-identical trajectory (same value-hash
    # oracles).
    deg = scope.cache(
        ew.groupBy(F.col("src").alias("id")).agg(F.sum("_w").alias("deg"))
    )
    m2 = scope.cache(ew.agg(F.sum("_w").alias("m2")))
    cm = deg.select("id", F.col("id").alias("label"))
    for r in range(rounds):
        tot = (
            cm.join(deg, "id")
            .groupBy("label")
            .agg(F.sum("deg").alias("tot"))
        )
        # Self-loops (coarse community graphs carry them) stay OUT of
        # k_{i,C}: a node's self weight travels with it to any
        # community, so it is constant across candidates — but joined
        # through cm it would credit only the CURRENT community and
        # bias moves toward staying. Strength (deg) keeps it.
        kic = (
            ew.filter(F.col("src") != F.col("dst"))
            .join(
                cm.select(
                    F.col("id").alias("dst"), F.col("label").alias("cand")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("id"), "cand")
            .agg(F.sum("_w").alias("kic"))
        )
        cands = (
            kic.unionByName(
                cm.select(
                    "id",
                    F.col("label").alias("cand"),
                    F.lit(0).cast("long").alias("kic"),
                )
            )
            .groupBy("id", "cand")
            .agg(F.max("kic").alias("kic"))
        )
        scored = (
            cands.join(deg, "id")
            .join(cm, "id")
            .join(tot.withColumnRenamed("label", "cand"), "cand")
            .crossJoin(F.broadcast(m2))
            .select(
                "id",
                "cand",
                "label",
                (
                    F.col("m2") * F.col("kic")
                    - F.col("deg")
                    * (
                        F.col("tot")
                        - F.when(
                            F.col("cand") == F.col("label"), F.col("deg")
                        ).otherwise(0)
                    )
                ).alias("score"),
            )
        )
        if schedule == "updown":
            direction = (
                F.col("cand") < F.col("label")
                if r % 2 == 0
                else F.col("cand") > F.col("label")
            )
            scored = scored.filter(
                (F.col("cand") == F.col("label")) | direction
            )
        # r13 (guide §2.3 "aggregate before you shuffle"; the
        # label_propagation winner pattern): the per-node argmax used
        # to be a row_number window — a shuffle by id PLUS a per-
        # partition sort, with every candidate row crossing the
        # exchange. ``max(struct(score, -cand))`` is the identical
        # selection (lexicographic struct max = highest score, then
        # smallest cand — exactly desc(score), asc(cand) rank 1) as a
        # partial-aggregating groupBy: candidates combine map-side and
        # the sort stage disappears. All-BIGINT comparison, so the
        # trajectory is bit-identical (value-hash oracles unchanged).
        picked = (
            scored.groupBy("id")
            .agg(
                F.max(
                    F.struct(
                        F.col("score"), (-F.col("cand")).alias("neg_cand")
                    )
                ).alias("best")
            )
            .select("id", (-F.col("best.neg_cand")).alias("new_label"))
        )
        gate = (
            F.col("id") % 2 == r % 2
            if schedule == "parity"
            else F.lit(True)
        )
        cm = (
            cm.join(picked, "id")
            .select(
                "id",
                F.when(gate, F.col("new_label"))
                .otherwise(F.col("label"))
                .alias("label"),
            )
        )
        cm = cm.localCheckpoint(eager=True)
    return cm.select("id", F.col("label").alias("community"))


def _louvain_rounds_sql(
    rounds: int,
    prefix: str,
    sym: str,
    deg: str,
    mm: str,
    weighted: bool,
    schedule: str = "parity",
) -> str:
    """Shared generator for one level's unrolled local-move CTE chain
    (``{prefix}0`` .. ``{prefix}{rounds}``)."""
    kic_sum = "sum(s.w)" if weighted else "count(*)"
    steps = []
    for r in range(rounds):
        if schedule == "parity":
            gate_where = ""
            apply_label = (
                f"CASE WHEN p.id % 2 = {r % 2} THEN p.cand ELSE p.label END"
            )
        else:  # updown: direction-gated candidates, everyone applies
            op = "<" if r % 2 == 0 else ">"
            gate_where = f"WHERE x.cand = c.label OR x.cand {op} c.label"
            apply_label = "p.cand"
        steps.append(f"""{prefix}tot{r} AS MATERIALIZED (
  SELECT c.label, CAST(sum(d.deg) AS BIGINT) AS tot
  FROM {prefix}{r} c JOIN {deg} d ON d.id = c.id GROUP BY c.label
), {prefix}kic{r} AS MATERIALIZED (
  SELECT s.src AS id, c.label AS cand, CAST({kic_sum} AS BIGINT) AS kic
  FROM {sym} s JOIN {prefix}{r} c ON c.id = s.dst
  WHERE s.src <> s.dst GROUP BY s.src, c.label
), {prefix}cand{r} AS (
  SELECT id, cand, CAST(max(kic) AS BIGINT) AS kic FROM (
    SELECT id, cand, kic FROM {prefix}kic{r}
    UNION ALL SELECT id, label AS cand, 0 AS kic FROM {prefix}{r}
  ) GROUP BY id, cand
), {prefix}sc{r} AS (
  SELECT x.id, x.cand, c.label,
         {mm}.m2 * x.kic
           - d.deg * (t.tot - CASE WHEN x.cand = c.label
                                   THEN d.deg ELSE 0 END) AS score
  FROM {prefix}cand{r} x
  JOIN {deg} d ON d.id = x.id
  JOIN {prefix}{r} c ON c.id = x.id
  JOIN {prefix}tot{r} t ON t.label = x.cand
  CROSS JOIN {mm}
  {gate_where}
), {prefix}{r + 1} AS MATERIALIZED (
  SELECT p.id,
         {apply_label} AS label
  FROM (
    SELECT id, cand, label,
           row_number() OVER (PARTITION BY id
                              ORDER BY score DESC, cand ASC) AS rn
    FROM {prefix}sc{r}) p WHERE p.rn = 1
)""")
        
    return ",\n".join(steps)


def _louvain_sql(
    rounds: int = LOUVAIN_ROUNDS, weighted: bool = False
) -> str:
    """Unrolled-CTE oracle for ``louvain_local_moves`` (same structure
    as ``_labelprop_sql``: fixed iteration count, integer argmax per
    round, parity-gated update). ``weighted=True`` swaps count(*) for
    sum(w) everywhere — strength for degree — over multiplicity-
    weighted arcs. Thin wrapper over the shared per-level generator
    ``_louvain_rounds_sql`` (also used by the two-level oracle)."""
    steps = _louvain_rounds_sql(rounds, "cm", "sym", "deg", "mm", weighted)
    if weighted:
        base = (
            "WITH edges AS (\n"
            "  SELECT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst,"
            " CAST(count(*) AS BIGINT) AS w FROM lineitem GROUP BY 1, 2\n"
            "), sym AS MATERIALIZED (\n"
            "  SELECT src, dst, w FROM edges"
            " UNION ALL SELECT dst, src, w FROM edges\n"
            "), deg AS MATERIALIZED (\n"
            "  SELECT src AS id, CAST(sum(w) AS BIGINT) AS deg"
            " FROM sym GROUP BY src\n"
            "), mm AS (SELECT CAST(sum(w) AS BIGINT) AS m2 FROM sym),\n"
        )
    else:
        base = (
            "WITH edges AS (\n"
            "  SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst"
            " FROM lineitem\n"
            "), sym AS MATERIALIZED (\n"
            "  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges\n"
            "), deg AS MATERIALIZED (\n"
            "  SELECT src AS id, CAST(count(*) AS BIGINT) AS deg"
            " FROM sym GROUP BY src\n"
            "), mm AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM sym),\n"
        )
    return (
        base
        + "cm0 AS (SELECT id, id AS label FROM deg),\n"
        + steps
        + f"\nSELECT id, label AS community FROM cm{rounds} ORDER BY id"
    )


@register(
    "graph_louvain", oracle=_louvain_sql(), tags=("J-extra", "pregel", "bench2")
)
def graph_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain-style modularity communities over the part–supplier
    graph: 4 parity-scheduled synchronous local-move rounds
    (``louvain_local_moves``), integer-exact gains, full unrolled-CTE
    value-hash oracle — community detection that optimizes modularity
    where ``graph_labelprop`` optimizes plurality agreement.

    Honesty note on the fixture: the part-supplier graph is
    near-random bipartite, so its modularity optimum genuinely IS the
    giant community (singletons score Q<0, the merged state Q~0) and
    the run converges there — the contract pinned here is the exact
    move trajectory. Community RECOVERY is demonstrated on a planted
    two-clique graph in tests/test_graph.py."""
    sym = symmetrize(bipartite_edges(spark, sf_dir))
    return louvain_local_moves(sym).orderBy("id")


@register(
    "graph_louvain_weighted",
    oracle=_louvain_sql(weighted=True),
    tags=("J-extra", "pregel"),
)
def graph_louvain_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Louvain local moves: arc weight = lineitem multiplicity
    between part and supplier (how often the pair actually traded),
    strength replacing degree throughout — the common production case
    (co-occurrence, interaction-count, and similarity graphs are all
    weighted). Same parity schedule, same exact-BIGINT gain algebra
    (``louvain_local_moves`` with ``weight_col``), full unrolled-CTE
    oracle with sum(w) in place of count(*)."""
    li = tables.load(spark, sf_dir, "lineitem")
    edges = (
        li.groupBy(
            (2 * F.col("l_partkey")).alias("src"),
            (2 * F.col("l_suppkey") + 1).alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    sym = edges.unionByName(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    return louvain_local_moves(sym, weight_col="w").orderBy("id")


def _coarsen(arcs: DataFrame, labels: DataFrame) -> DataFrame:
    """One Louvain coarsen step: weighted arcs (src, dst, _w) under a
    node labelling (id, community) become the community multigraph
    (src, dst, _w) — both endpoints relabelled, then one keyed sum, so
    self-loops carry the intra-community weight."""
    return (
        arcs.join(
            labels.select(F.col("id").alias("src"), F.col("community").alias("cs")),
            "src",
        )
        .join(
            labels.select(F.col("id").alias("dst"), F.col("community").alias("cd")),
            "dst",
        )
        .groupBy(F.col("cs").alias("src"), F.col("cd").alias("dst"))
        .agg(F.sum("_w").alias("_w"))
    )


def _relabel(mem: DataFrame, labels: DataFrame) -> DataFrame:
    """One level up the membership: base-node (id, community) whose
    communities ``labels`` (id, community) assigns to coarser ones."""
    return (
        mem.select("id", F.col("community").alias("prev"))
        .join(labels.select(F.col("id").alias("prev"), "community"), "prev")
        .select("id", "community")
    )


def louvain_two_level(
    edges_sym: DataFrame,
    rounds: int = LOUVAIN_ROUNDS,
    weight_col: str | None = None,
) -> DataFrame:
    """Full (two-level) Louvain: local moves, COARSEN to the community
    multigraph, local moves again on the coarse graph, map back —
    the aggregate-and-repeat that lets communities merge even after
    every border node is individually stuck (a single level can only
    move nodes to NEIGHBOR communities; the coarse pass moves whole
    communities). Deterministic end to end: both levels are the
    integer ``louvain_local_moves`` kernel (``rounds`` rounds each), and
    the coarse graph's arc weights are exact counts/sums (self-loops
    carry intra-community weight; ``kic`` excludes them — they travel
    with the node — while strength keeps them, the standard
    convention).

    Scale: the coarsen step (``_coarsen``) is one keyed agg over the
    edge list after two label joins (broadcast-able once communities
    shrink); the coarse graph is communities^2-bounded and usually
    tiny, so level 2 costs a fraction of level 1. Returns (id,
    community) where community is the LEVEL-2 label of the node's
    level-1 community.
    """
    # One scope for both levels: the level-1 arcs are materialized once
    # (by ``layout``) and feed both the level-1 moves and the coarsen
    # join; for the registered keys they are a full union+distinct over
    # the fact table.
    with LoopScope(edges_sym.sparkSession) as scope:
        arcs = scope.layout(_arcs(edges_sym, weight_col), "dst")
        lvl1 = _louvain_rounds(scope, arcs, rounds, "parity")
        coarse = scope.layout(_coarsen(arcs, lvl1), "dst")
        lvl2 = _louvain_rounds(scope, coarse, rounds, "updown")
    return _relabel(lvl1, lvl2)


def _louvain_two_level_sql(rounds: int = LOUVAIN_ROUNDS) -> str:
    l1 = _louvain_rounds_sql(rounds, "cm", "sym", "deg", "mm", False)
    l2 = _louvain_rounds_sql(
        rounds, "dm", "ce", "deg2", "mm2", True, schedule="updown"
    )
    return f"""
WITH edges AS (
  SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM lineitem
), sym AS MATERIALIZED (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
), deg AS MATERIALIZED (
  SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src
), mm AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM sym),
cm0 AS (SELECT id, id AS label FROM deg),
{l1},
ce AS MATERIALIZED (
  SELECT c1.label AS src, c2.label AS dst, CAST(count(*) AS BIGINT) AS w
  FROM sym s
  JOIN cm{rounds} c1 ON c1.id = s.src
  JOIN cm{rounds} c2 ON c2.id = s.dst
  GROUP BY 1, 2
), deg2 AS MATERIALIZED (
  SELECT src AS id, CAST(sum(w) AS BIGINT) AS deg FROM ce GROUP BY src
), mm2 AS (SELECT CAST(sum(w) AS BIGINT) AS m2 FROM ce),
dm0 AS (SELECT id, id AS label FROM deg2),
{l2}
SELECT n.id, d.label AS community
FROM cm{rounds} n JOIN dm{rounds} d ON d.id = n.label
ORDER BY n.id
"""


@register(
    "graph_louvain_two_level",
    oracle=_louvain_two_level_sql(),
    tags=("J-extra", "pregel"),
)
def graph_louvain_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level Louvain over the part-supplier graph
    (``louvain_two_level``): 4 local-move rounds, coarsen to the
    community multigraph (exact integer arc weights, self-loops =
    intra-community weight), 4 weighted rounds on the coarse graph,
    map back. Full value-hash oracle: both levels' unrolled CTE chains
    plus the coarsen join, generated from one shared template."""
    sym = symmetrize(bipartite_edges(spark, sf_dir))
    return louvain_two_level(sym).orderBy("id")


LOUVAIN_MAX_LEVELS = 3


def louvain_hierarchy(
    edges_sym: DataFrame,
    rounds: int = LOUVAIN_ROUNDS,
    max_levels: int = LOUVAIN_MAX_LEVELS,
    weight_col: str | None = None,
) -> DataFrame:
    """Full Louvain hierarchy: iterate local-moves -> coarsen until a
    level brings NO integer modularity gain (or ``max_levels``),
    emitting per level the base-node membership and the level's exact
    modularity — the multi-level loop ``louvain_two_level`` runs once.

    Levels: level 1 runs the parity schedule (callers supply a
    2-colorable id space, as the bipartite fixture does); every coarse
    level runs the swap-free "updown" schedule — the same discipline
    pairing as ``louvain_two_level``.

    Modularity is measured against the BASE graph for every level —
    comparable across levels by construction — and kept exact:
    ``q_num = 2m * sum_w(intra-community arcs) - sum_C tot_C^2`` (the
    modularity numerator scaled by (2m)^2, all BIGINT). The reported
    ``modularity`` is the ONE division q_num/(2m)^2, round6 — bit-
    identical cross-engine. The stop rule is an exact integer
    comparison: level k (k >= 2) is emitted iff ``q_num`` strictly
    increased at EVERY coarse level up to k; the loop breaks at the
    first non-improving level, exactly the gate the unrolled oracle
    applies level by level.

    Scale: each level's moves are the keyed-shuffle ``louvain_local_
    moves`` kernel; coarsening is one keyed agg after two label joins
    (``_coarsen`` and ``_relabel``, shared with ``louvain_two_level``);
    each level's graph is communities^2-bounded, so cost decays
    geometrically down the hierarchy. Per level there is ONE bounded
    driver reduction: a 1-row modularity readout, a join of the
    intra-community weight with the community totals, never
    data-proportional. The same row carries 2m (Σ_C tot_C), so no
    separate read of the base graph runs.

    Output: (level, id, community, q_num, modularity), one row per
    base node per EMITTED level, level 1 rows always present.
    """
    if max_levels < 1:
        raise ValueError("louvain_hierarchy needs at least one level")
    # One scope for the whole level loop: every level's arcs are laid
    # out once and feed both its moves and its coarsen join, and the
    # per-level modularity readout runs with AQE off at the pinned width like the move rounds. With
    # AQE on, its re-planning jobs vary in number from one identical
    # call to the next, so the loop's job count would not be fixed.
    with LoopScope(edges_sym.sparkSession) as scope:
        base = scope.layout(_arcs(edges_sym, weight_col), "dst")
        deg = base.groupBy(F.col("src").alias("id")).agg(F.sum("_w").alias("deg"))
        g = base
        mem: DataFrame | None = None
        prev_q: int | None = None
        out: DataFrame | None = None
        for lvl in range(1, max_levels + 1):
            if lvl > 1 and scope.rows <= 1:
                # Degenerate coarse graph (everything already one
                # community): moves are the identity, so mem_k == mem_{k-1}
                # and q_k == q_{k-1} — the oracle's strict-gain gate drops
                # the level either way; skip the wasted kernel run. The
                # arcs are symmetric and keyed by (src, dst), so at most
                # one arc, the count its layout observed, means at most
                # one community.
                break
            labels = _louvain_rounds(
                scope, g, rounds, "parity" if lvl == 1 else "updown"
            )
            mem = labels if mem is None else _relabel(mem, labels)
            mem = mem.localCheckpoint(eager=True)
            intra = (
                base.join(
                    mem.select(
                        F.col("id").alias("src"), F.col("community").alias("ca")
                    ),
                    "src",
                )
                .join(
                    mem.select(
                        F.col("id").alias("dst"), F.col("community").alias("cb")
                    ),
                    "dst",
                )
                .filter(F.col("ca") == F.col("cb"))
                .agg(F.coalesce(F.sum("_w"), F.lit(0).cast("long")).alias("intra"))
            )
            tots = (
                mem.join(deg, "id")
                .groupBy("community")
                .agg(F.sum("deg").alias("tot"))
                .agg(
                    F.sum(F.col("tot") * F.col("tot")).alias("s2"),
                    F.sum("tot").alias("m2"),  # Σ_C tot_C = Σ deg = 2m
                )
            )
            row = intra.crossJoin(tots).collect()[0]
            m2 = row["m2"]
            q = m2 * row["intra"] - row["s2"]
            if lvl >= 2 and prev_q is not None and q <= prev_q:
                break  # no integer modularity gain: hierarchy converged
            prev_q = q
            lvl_df = mem.select(
                F.lit(lvl).cast("int").alias("level"),
                "id",
                "community",
                F.lit(q).cast("long").alias("q_num"),
                F.round(
                    F.lit(q).cast("double") / F.lit(m2 * m2).cast("double"), 6
                ).alias("modularity"),
            )
            out = lvl_df if out is None else out.unionByName(lvl_df)
            if lvl < max_levels:
                g = scope.layout(_coarsen(g, labels), "dst")
        return out


def _louvain_hierarchy_sql(
    rounds: int = LOUVAIN_ROUNDS, max_levels: int = LOUVAIN_MAX_LEVELS
) -> str:
    """Unrolled-CTE oracle for ``louvain_hierarchy``: per level, the
    shared local-move chain (level 1 unweighted parity, coarse levels
    weighted updown), a coarsen CTE, a base-graph modularity CTE, and
    an emission gate — level k rows appear iff q strictly increased at
    every coarse level up to k, the exact integer rule the Spark loop
    applies by breaking at the first non-improving level."""
    assert max_levels == 3, "oracle unrolled for exactly 3 levels"
    l1 = _louvain_rounds_sql(rounds, "cm", "sym", "deg", "mm", False)
    l2 = _louvain_rounds_sql(
        rounds, "dm", "ce2", "deg2", "mm2", True, schedule="updown"
    )
    l3 = _louvain_rounds_sql(
        rounds, "em", "ce3", "deg3", "mm3", True, schedule="updown"
    )
    R = rounds

    def q_cte(name: str, mem: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT CAST((SELECT m2 FROM mm) * (
           SELECT count(*) FROM sym s
           JOIN {mem} a ON a.id = s.src
           JOIN {mem} b ON b.id = s.dst
           WHERE a.label = b.label)
         - (SELECT CAST(sum(tot * tot) AS BIGINT) FROM (
              SELECT CAST(sum(d.deg) AS BIGINT) AS tot
              FROM {mem} c JOIN deg d ON d.id = c.id
              GROUP BY c.label))
         AS BIGINT) AS q
)"""

    def emit(level: int, mem: str, qname: str, gates: str) -> str:
        return f"""SELECT {level} AS level, id, label AS community,
       (SELECT q FROM {qname}) AS q_num,
       round(CAST((SELECT q FROM {qname}) AS DOUBLE)
             / CAST((SELECT m2 * m2 FROM mm) AS DOUBLE), 6) AS modularity
FROM {mem}{gates}"""

    g2 = "\nWHERE (SELECT q FROM q2) > (SELECT q FROM q1)"
    g3 = (
        "\nWHERE (SELECT q FROM q3) > (SELECT q FROM q2)"
        "\n  AND (SELECT q FROM q2) > (SELECT q FROM q1)"
    )
    return f"""
WITH edges AS (
  SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM lineitem
), sym AS MATERIALIZED (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
), deg AS MATERIALIZED (
  SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src
), mm AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM sym),
cm0 AS (SELECT id, id AS label FROM deg),
{l1},
mem1 AS MATERIALIZED (SELECT id, label FROM cm{R}),
{q_cte("q1", "mem1")},
ce2 AS MATERIALIZED (
  SELECT c1.label AS src, c2.label AS dst, CAST(count(*) AS BIGINT) AS w
  FROM sym s
  JOIN cm{R} c1 ON c1.id = s.src
  JOIN cm{R} c2 ON c2.id = s.dst
  GROUP BY 1, 2
), deg2 AS MATERIALIZED (
  SELECT src AS id, CAST(sum(w) AS BIGINT) AS deg FROM ce2 GROUP BY src
), mm2 AS (SELECT CAST(sum(w) AS BIGINT) AS m2 FROM ce2),
dm0 AS (SELECT id, id AS label FROM deg2),
{l2},
mem2 AS MATERIALIZED (
  SELECT n.id, d.label FROM mem1 n JOIN dm{R} d ON d.id = n.label
),
{q_cte("q2", "mem2")},
ce3 AS MATERIALIZED (
  SELECT c1.label AS src, c2.label AS dst, CAST(sum(s.w) AS BIGINT) AS w
  FROM ce2 s
  JOIN dm{R} c1 ON c1.id = s.src
  JOIN dm{R} c2 ON c2.id = s.dst
  GROUP BY 1, 2
), deg3 AS MATERIALIZED (
  SELECT src AS id, CAST(sum(w) AS BIGINT) AS deg FROM ce3 GROUP BY src
), mm3 AS (SELECT CAST(sum(w) AS BIGINT) AS m2 FROM ce3),
em0 AS (SELECT id, id AS label FROM deg3),
{l3},
mem3 AS MATERIALIZED (
  SELECT m.id, e.label FROM mem2 m JOIN em{R} e ON e.id = m.label
),
{q_cte("q3", "mem3")}
{emit(1, "mem1", "q1", "")}
UNION ALL
{emit(2, "mem2", "q2", g2)}
UNION ALL
{emit(3, "mem3", "q3", g3)}
ORDER BY level, id
"""


@register(
    "graph_louvain_hierarchy",
    oracle=_louvain_hierarchy_sql(),
    tags=("J-extra", "pregel", "bench2"),
)
def graph_louvain_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Louvain hierarchy over the part-supplier graph
    (``louvain_hierarchy``): coarsen-and-repeat until no integer
    modularity gain (max 3 levels), per-level base-node membership
    plus the exact scaled modularity numerator and its round6 ratio.
    Level-1 rows equal ``graph_louvain``'s communities and level-2
    rows equal ``graph_louvain_two_level``'s (pinned in
    tests/test_graph.py); the oracle unrolls all three levels and
    gates each on the same strict integer q-gain rule the Spark loop
    stops on."""
    sym = symmetrize(bipartite_edges(spark, sf_dir))
    return louvain_hierarchy(sym).orderBy("level", "id")


HITS_EXACT_ITERS = 6


def _hits_exact_sql(iterations: int = HITS_EXACT_ITERS) -> str:
    """Unrolled-CTE oracle for integer HITS: per superstep, one grouped
    sum per half-step and a floor-div micro-unit L1 normalization whose
    total is a scalar subquery — the M77 regime applied to the one
    fixpoint that still lacked an exactly-oracled twin (VERDICT r8 #5:
    HITS' L1 denominators are data-dependent floats in the production
    key; here they are exact BIGINTs)."""
    steps = []
    for i in range(1, iterations + 1):
        # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
        # each step references its predecessor several times (the
        # grouped sum + the scalar total), so an unmarked chain
        # re-expands exponentially — measured as fd exhaustion from
        # thousands of repeated parquet scans at 6 supersteps.
        steps.append(f"""araw{i} AS MATERIALIZED (
  SELECT e.dst AS id, CAST(sum(h.h) AS BIGINT) AS raw
  FROM edges e JOIN hub{i - 1} h ON h.id = e.src GROUP BY e.dst
), auth{i} AS MATERIALIZED (
  SELECT id, (raw * 1000000)
             // (SELECT CAST(sum(raw) AS BIGINT) FROM araw{i}) AS a
  FROM araw{i}
), hraw{i} AS MATERIALIZED (
  SELECT e.src AS id, CAST(sum(a.a) AS BIGINT) AS raw
  FROM edges e JOIN auth{i} a ON a.id = e.dst GROUP BY e.src
), hub{i} AS MATERIALIZED (
  SELECT id, (raw * 1000000)
             // (SELECT CAST(sum(raw) AS BIGINT) FROM hraw{i}) AS h
  FROM hraw{i}
)""")
    return (
        "WITH edges AS MATERIALIZED (\n"
        "  SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst"
        " FROM lineitem\n"
        "), verts AS MATERIALIZED (\n"
        "  SELECT src AS id FROM edges UNION SELECT dst FROM edges\n"
        "), hub0 AS (\n"
        "  SELECT id, CAST(1000000 AS BIGINT) AS h FROM verts\n"
        "),\n" + ",\n".join(steps) + f"""
SELECT v.id,
       CAST(coalesce(h.h, 0) AS BIGINT) AS hub_micro,
       CAST(coalesce(a.a, 0) AS BIGINT) AS auth_micro,
       round(CAST(coalesce(h.h, 0) AS DOUBLE) / 1000000, 6) AS hub,
       round(CAST(coalesce(a.a, 0) AS DOUBLE) / 1000000, 6) AS auth
FROM verts v
LEFT JOIN hub{iterations} h ON h.id = v.id
LEFT JOIN auth{iterations} a ON a.id = v.id
ORDER BY v.id
"""
    )


@register(
    "graph_hits_exact",
    oracle=_hits_exact_sql(),
    tags=("J-extra", "iterative", "bench2"),
)
def graph_hits_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS with a FULL cross-engine value-hash oracle — the exactly-
    oracled twin of ``graph_hits`` (rows-only), completing the "every
    fixpoint gets an exact twin" pattern (graph_pagerank_exact M77,
    graph_betweenness_exact M155). The float hazard in HITS is the
    per-half-step L1 normalization (data-dependent denominators); here
    scores are micro-units and each normalization is ONE integer floor
    division ``(raw * 1e6) div total`` against an exact BIGINT total,
    so no float op exists inside the loop and both engines produce
    bit-identical trajectories. Costs ≤1e-6 quantization per
    half-step vs the float path (tracking pinned in tests); the two
    double divisions happen on output only.

    6 fixed supersteps on the directed part→supplier graph (hub mass
    on parts, authority on suppliers — the bipartite Kleinberg
    reading; suppliers have no out-edges so their hub is exactly 0,
    and vice versa). Plan shape per superstep: ``_hits_walk``, the
    loop pregel.hits runs — two keyed join+grouped sums, each raw sum
    checkpointed once with its total observed on that job. BIGINT
    bound: ``raw * 1e6`` needs Σhub_micro * 1e6 < 9.2e18, i.e. < 9.2e12
    micro-mass — after the first normalization the L1 mass is ≤ 1e6,
    so only superstep 1's raw (n_parts * 1e6) binds: safe below ~9e12
    parts; pre-scale the init mass beyond that (chi2-style caveat).
    """
    with LoopScope(spark) as scope:
        # The pregel.hits placement: both half-step joins co-locate
        # against a resident layout, the edges src-partitioned AND
        # dst-partitioned at the fitted width, so only the score side
        # ever shuffles. Dropped at scope exit, so every run pays the
        # layout cost.
        by_src = scope.layout(bipartite_edges(spark, sf_dir), "src")
        by_dst = scope.cache(by_src.repartition(scope.partitions, "dst"))
        verts = graph_vertices(by_src)
        hub0 = verts.select("id", F.lit(1_000_000).cast("long").alias("hub"))
        hub, auth = _hits_walk(
            by_src, by_dst, hub0, HITS_EXACT_ITERS, F.expr("(raw * 1000000) div t")
        )
        h = F.coalesce(F.col("hub"), F.lit(0).cast("long"))
        a = F.coalesce(F.col("auth"), F.lit(0).cast("long"))
        return (
            verts.join(hub, "id", "left")
            .join(auth, "id", "left")
            .select(
                "id",
                h.alias("hub_micro"),
                a.alias("auth_micro"),
                F.round(h.cast("double") / 1_000_000, 6).alias("hub"),
                F.round(a.cast("double") / 1_000_000, 6).alias("auth"),
            )
            .orderBy("id")
            .localCheckpoint()
        )


# ---------------------------------------------------------------------------
# Temporal reachability (M214)

_TEMPORAL_ROUNDS = 12


def _temporal_sql(rounds: int = _TEMPORAL_ROUNDS) -> str:
    """Unrolled-CTE oracle for bounded-horizon earliest arrival: the
    round-r state is the exact Jacobi trajectory (relax ALL contacts
    against the full round-(r-1) state, keep the min), so ``rounds``
    unrolled rounds reproduce the Spark loop bit-for-bit WITHOUT any
    convergence assumption — the horizon IS the semantics, unlike the
    overshoot-an-assumed-fixpoint oracles (_sssp_sql) whose depth
    would need to grow with the data here (measured reachability
    depth 5/10/21+ at sf0.001/0.01/0.1)."""
    parts = []
    for i in range(rounds):
        parts.append(
            f"d{i + 1} AS MATERIALIZED (\n"
            f"  SELECT id, min(arr) AS arr FROM (\n"
            f"    SELECT id, arr FROM d{i}\n"
            f"    UNION ALL\n"
            f"    SELECT c.dst AS id, c.t AS arr\n"
            f"    FROM d{i} p JOIN contacts c\n"
            f"      ON c.src = p.id AND c.t >= p.arr) t\n"
            f"  GROUP BY id\n"
            f")"
        )
    return (
        "WITH s AS (\n"
        "  SELECT user_id, epoch_us(ts) AS t, event_id,\n"
        "         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k\n"
        "  FROM events\n"
        "), c0 AS (\n"
        "  SELECT lag(user_id) OVER (PARTITION BY k ORDER BY t, event_id)\n"
        "           AS src,\n"
        "         user_id AS dst, t\n"
        "  FROM s\n"
        "), contacts AS (\n"
        "  SELECT src, dst, t FROM c0 WHERE src IS NOT NULL AND src <> dst\n"
        "), d0 AS (\n"
        "  SELECT (SELECT min(user_id) FROM events) AS id,\n"
        "         CAST(0 AS BIGINT) AS arr\n"
        "),\n" + ",\n".join(parts) + "\n"
        f"SELECT id AS user_id, arr AS arrival_us FROM d{rounds}\n"
        "ORDER BY arrival_us, user_id"
    )


def _event_contacts(ev: DataFrame) -> DataFrame:
    """(src, dst, t) temporal contacts fabricated from ``events``:
    within each props-k channel, the PREVIOUS actor (by µs timestamp,
    then event id) links to the current one at the current timestamp;
    self-contacts and channel starts are dropped."""
    w = Window.partitionBy("k").orderBy("t", "event_id")
    return (
        ev.select(
            "user_id",
            F.unix_micros("ts").alias("t"),
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .select(
            F.lag("user_id").over(w).alias("src"),
            F.col("user_id").alias("dst"),
            "t",
        )
        .filter(F.col("src").isNotNull() & (F.col("src") != F.col("dst")))
    )


@register(
    "graph_temporal_reachability",
    oracle=_temporal_sql(),
    tags=("J-extra", "pregel", "bench2"),
)
def graph_temporal_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting reachability from the earliest user: which
    users can be reached through chains of temporal contacts whose
    timestamps never decrease, and when — the contagion/information-
    flow primitive static reachability gets WRONG (a static edge set
    would happily route through an edge that existed only BEFORE the
    path arrived at it).

    Temporal contacts are fabricated from the events stream the same
    way the geo keys fabricate coordinates: within each props-k
    channel (~100 channels), each event links the PREVIOUS actor on
    that channel to the current one at the current µs timestamp —
    (src, dst, t) contact rows, self-contacts dropped. Real deployments
    bring their own (src, dst, t) table (calls, messages, transfers);
    ``pregel.temporal_earliest_arrival`` is the user surface.

    Scale shape: the kernel is ``n_rounds`` keyed join+agg supersteps
    over the contact list — same shuffle pattern as weighted SSSP,
    with the time feasibility (t >= arrival at src) applied map-side
    after the src-keyed join. Bounded horizon (12 rounds) instead of
    run-to-convergence: depth-to-fixpoint GROWS with corpus size, so
    a convergence contract would put data-dependent depth in the
    oracle; at 100 TB the horizon is the standard product choice
    ("reachable within k forwarding steps"). Arrival times are exact
    BIGINT µs — no floats anywhere.
    """
    from ezbake_graph_spark.graph.pregel import temporal_earliest_arrival

    ev = tables.load(spark, sf_dir, "events")
    contacts = _event_contacts(ev)
    seed = ev.agg(F.min("user_id")).collect()[0][0]
    # The seed must ALWAYS be a vertex: the oracle's d0 emits
    # (seed, 0) unconditionally, but a contact-isolated seed (sole or
    # first event on every channel it touches, or only self-contacts)
    # never appears in `contacts` — union it in so both engines agree
    # on fixtures where the min user has no surviving contact (ADVICE
    # r9 #2).
    verts = (
        contacts.select(F.col("src").alias("id"))
        .unionByName(contacts.select(F.col("dst").alias("id")))
        .unionByName(ev.agg(F.min("user_id").alias("id")))
        # On an EMPTY (or fully filtered) events table the min-agg
        # row is NULL — don't let a NULL vertex id flow into the
        # Pregel joins (ADVICE r10). Spark then emits zero rows; the
        # oracle's unconditional d0 emits one (NULL, 0) row on that
        # edge — a declared divergence on empty input only, outside
        # every fixture, pinned by
        # test_temporal_reachability_empty_events_emits_nothing.
        .filter(F.col("id").isNotNull())
        .distinct()
    )
    return (
        temporal_earliest_arrival(
            verts, contacts, source_ids=[seed], n_rounds=_TEMPORAL_ROUNDS
        )
        .select(F.col("id").alias("user_id"), F.col("arr").alias("arrival_us"))
        .orderBy("arrival_us", "user_id")
    )


# ---------------------------------------------------------------------------
# Incremental WCC maintenance (M222)


def incremental_components(
    assignments: DataFrame, new_edges: DataFrame
) -> DataFrame:
    """Fold a batch of NEW edges into an existing component assignment
    without re-traversing the old graph: every old component contracts
    to a super-node (its label), new edges project onto super-node
    ids, and the min-label loop runs over that CONTRACTED graph only —
    |affected components| + |batch| work, not |graph|. Because labels
    are min-reachable-ids, min-of-mins over merged super-nodes equals
    the from-scratch label, so the result is value-identical to a
    full recompute (the equivalence the registered key's oracle pins).

    ``assignments``: (id, component) from a prior run;
    ``new_edges``: (src, dst). New vertices may appear only in
    ``new_edges``. Returns (id, component) for the union vertex set.
    """
    from ezbake_graph_spark.graph.pregel import connected_components

    asg = assignments.cache()
    # project new edges onto super-nodes (unknown endpoints keep
    # their own id — they are their own super-node)
    lab_src = asg.select(
        F.col("id").alias("src"), F.col("component").alias("c_src")
    )
    lab_dst = asg.select(
        F.col("id").alias("dst"), F.col("component").alias("c_dst")
    )
    proj = (
        new_edges.join(lab_src, "src", "left")
        .join(lab_dst, "dst", "left")
        .select(
            F.coalesce("c_src", F.col("src")).alias("src"),
            F.coalesce("c_dst", F.col("dst")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    super_verts = (
        proj.select(F.col("src").alias("id"))
        .unionByName(proj.select(F.col("dst").alias("id")))
        .distinct()
    )
    merged = connected_components(super_verts, proj).select(
        F.col("id").alias("component"), F.col("component").alias("merged")
    )
    # remap old assignments whose label merged; untouched labels stand
    updated = (
        asg.join(merged, "component", "left")
        .select("id", F.coalesce("merged", F.col("component")).alias("component"))
    )
    # vertices introduced by the batch (not in the old assignment)
    newly = (
        super_verts.join(asg.select(F.col("component").alias("id")).distinct(),
                         "id", "left_anti")
        .join(asg.select("id"), "id", "left_anti")
        .join(merged.withColumnRenamed("component", "id"), "id", "left")
        .select("id", F.coalesce("merged", F.col("id")).alias("component"))
    )
    return updated.unionByName(newly)


@register(
    "graph_wcc_incremental", oracle=_WCC_SQL, tags=("J-extra", "pregel")
)
def graph_wcc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected components: resolve the 75% "existing"
    edge slice ((src+dst) % 4 != 0) with the batch Pregel loop, then
    fold in the remaining 25% as the arriving batch via
    ``incremental_components`` — old components contract to
    super-nodes, only the contracted graph re-runs. The oracle is
    ``graph_wcc``'s FULL-GRAPH recursive CTE verbatim: the append
    path must value-hash-equal a from-scratch run over all edges (the
    graph analogue of ``dedup_resolve_entities_append``'s
    batch-equivalence contract). At 100 TB this is how component ids
    survive daily edge ingest without re-traversing the accumulated
    graph: per-batch cost scales with the batch and the components it
    touches, never with history."""
    from ezbake_graph_spark.graph.pregel import connected_components

    edges = bipartite_edges(spark, sf_dir)
    existing = edges.filter((F.col("src") + F.col("dst")) % 4 != 0)
    batch = edges.filter((F.col("src") + F.col("dst")) % 4 == 0)
    base = connected_components(graph_vertices(existing), existing)
    return incremental_components(base, batch).orderBy("id")


# ---------------------------------------------------------------------------
# k-truss (M235)

_TRUSS_K = 4
_TRUSS_ROUNDS = 24  # measured peeling depth 2/17/4 at sf0.001/0.01/0.1


def _truss_sql(rounds: int = _TRUSS_ROUNDS, k: int = _TRUSS_K) -> str:
    """Unrolled-CTE oracle for k-truss peeling: per round, edge
    support = common-neighbor count over the CURRENT edge set; keep
    edges with support >= k-2; repeat. Peeling is idempotent once
    stable, so ``rounds`` overshoots the measured fixpoint the same
    way _sssp_sql does — a deeper peel on future data fails the
    verify hash loudly, never silently."""
    parts = []
    for i in range(rounds):
        parts.append(
            f"sym{i} AS MATERIALIZED (\n"
            f"  SELECT a AS u, b AS v FROM e{i}\n"
            f"  UNION ALL SELECT b AS u, a AS v FROM e{i}\n"
            f"), sup{i} AS MATERIALIZED (\n"
            f"  SELECT e.a, e.b, count(*) AS sup\n"
            f"  FROM e{i} e\n"
            f"  JOIN sym{i} x ON x.u = e.a\n"
            f"  JOIN sym{i} y ON y.u = e.b AND y.v = x.v\n"
            f"  GROUP BY e.a, e.b\n"
            f"), e{i + 1} AS MATERIALIZED (\n"
            f"  SELECT s.a, s.b FROM sup{i} s WHERE s.sup >= {k - 2}\n"
            f")"
        )
    return (
        "WITH s AS (\n"
        "  SELECT user_id, epoch_us(ts) AS t, event_id,\n"
        "         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k\n"
        "  FROM events\n"
        "), c AS (\n"
        "  SELECT lag(user_id) OVER (PARTITION BY k ORDER BY t, event_id)\n"
        "           AS src,\n"
        "         user_id AS dst\n"
        "  FROM s\n"
        "), eall AS (\n"
        "  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b\n"
        "  FROM c WHERE src IS NOT NULL AND src <> dst\n"
        "), e0 AS (\n"
        "  SELECT a, b FROM eall\n"
        "  WHERE ('0x' || substr(md5(CAST(a AS VARCHAR) || '-' ||\n"
        "                            CAST(b AS VARCHAR)), 1, 8))::BIGINT\n"
        "        % 5 = 0\n"
        "),\n" + ",\n".join(parts) + "\n"
        f"SELECT a, b, sup AS support FROM sup{rounds - 1}\n"
        f"WHERE sup >= {_TRUSS_K - 2} ORDER BY a, b"
    )


def _truss_support(cur: DataFrame) -> DataFrame:
    """(a, b, support): common-neighbor count of every edge of ``cur``
    within ``cur`` — two keyed self-joins plus one agg."""
    cur = cur.select("a", "b")
    sym = cur.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        cur.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    x = sym.select(F.col("u").alias("xa"), F.col("v").alias("wx"))
    y = sym.select(F.col("u").alias("yb"), F.col("v").alias("wy"))
    return (
        cur.join(x, cur.a == x.xa)
        .join(y, (cur.b == F.col("yb")) & (F.col("wy") == F.col("wx")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
    )


@register(
    "graph_ktruss", oracle=_truss_sql(), tags=("J-extra", "pregel", "bench2")
)
def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the (hash-sparsified) user contact graph: the
    maximal subgraph where every surviving edge closes >= k-2 = 2
    triangles WITHIN the subgraph — the cohesion mining standard
    between triangle counting (local, no peeling) and clique finding
    (NP-hard): trusses are computable by monotone peeling yet far
    stricter than k-core (an edge needs triangles, not just degree).

    The contact graph is fabricated as in
    ``graph_temporal_reachability`` and hash-sparsified to 20% (the
    fixture projections are near-complete, where a truss is trivially
    everything; md5-mod keeps the sparsification deterministic).
    Peeling loop: per round, edge support = common-neighbor count
    (two keyed joins + one agg over the current edge set), drop
    edges under k-2, stop when stable — measured depth 2/17/4 at
    sf0.001/0.01/0.1, loop capped at the oracle's 24-round unroll
    (overshoot idempotent; deeper data fails the hash loudly). At
    100 TB each round is the standard triangle-enumeration shuffle
    bounded by current-edge adjacency, and rounds-to-stable is the
    usual truss-decomposition trade documented in the literature —
    all integers end to end."""
    c = _event_contacts(tables.load(spark, sf_dir, "events"))
    eall = c.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    keep = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("a").cast("string"),
                        F.lit("-"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 5
        == 0
    )
    edges = eall.filter(keep)
    # Each round's state is _detached: its support self-joins would
    # otherwise multiply the sizes it inherits, round after round.
    rows = F.count(F.lit(1))
    with LoopScope(spark) as scope:
        cur, seen = observed_checkpoint(edges, rows=rows)
        cur, n_cur = _detached(cur), seen["rows"]
        scope.fit(n_cur)
        for _ in range(_TRUSS_ROUNDS):
            cur, seen = observed_checkpoint(
                _truss_support(cur)
                .filter(F.col("support") >= _TRUSS_K - 2)
                .select("a", "b", "support"),
                rows=rows,
            )
            cur = _detached(cur)
            if seen["rows"] == n_cur:
                # Converged: the round's input set C and its survivors
                # nxt = {e in C : sup(e) >= k-2} have equal size, so
                # nxt == C is the stable set and the support carried
                # through its checkpoint is already the stable support.
                # Emitting from the materialized frame reuses it
                # instead of re-running the two triangle joins.
                break
            n_cur = seen["rows"]
        else:
            # rounds exhausted without a fixpoint (never on committed
            # data: depth 2/17/4 vs the 24-round cap): the carried
            # support was computed over the PRE-peel set, so recompute
            # it over the final cur
            cur = _truss_support(cur).filter(F.col("support") >= _TRUSS_K - 2)
        return cur.orderBy("a", "b").localCheckpoint(eager=True)

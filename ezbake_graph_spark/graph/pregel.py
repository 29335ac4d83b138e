"""Pregel-style iterative graph algorithms as DataFrame driver loops.

BSP semantics per the Pregel/GraphX model [P]: each superstep is
  messages = edges ⨝ state  →  groupBy(dst).agg(...)   (2 keyed shuffles)
  state    = state ⨝ messages → vertex update
with driver-side iteration control (SURVEY.md §3.4).

Scale design — every loop runs inside one ``LoopScope``, which pins
AQE off and the shuffle width for the loop, keeps the symmetrized edges
src-partitioned and cached ONCE (only the small vertex-state side
shuffles per superstep), and restores the conf and drops its caches on
exit, also when a superstep raises. Vertex state is
``localCheckpoint``-ed every superstep (lineage truncation and no
recompute; eager versus lazy: see ``LoopScope``).
- One superstep body per loop family: the label-correcting loops
  (WCC, BFS, weighted SSSP, temporal earliest arrival) are one delta
  min-relaxation, ``_relax_min``; the four PageRank keys (float and
  exact-integer PageRank and personalized PageRank) are one walk,
  ``_rank_walk``.
- A loop reads a scalar of its state (a changed count, a row count,
  an L1 total) one way: ``observed_checkpoint`` takes it off the
  superstep's own eager checkpoint job, never a probe job or a
  new⨝old join; fixed-iteration algorithms read nothing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F


class LoopScope:
    """Execution scope of ONE iterative driver loop — the superstep
    lifecycle every loop in this package and in ``operators/graph.py``
    shares (the Pregelix template: one superstep dataflow, the
    iteration machinery factored out of the algorithms)::

        with LoopScope(spark) as scope:
            sym = scope.layout(symmetrize(edges), "src")
            ...supersteps...

    - Entry saves the session conf, turns AQE off and pins
      ``spark.sql.shuffle.partitions``. AQE off: every superstep re-runs
      the same fixed, small, known-size shuffles; AQE's runtime
      re-planning buys nothing there and adds per-stage planning jobs
      (~16% of superstep wall time measured on the sf0.1 PageRank).
      Partitions pinned BEFORE any loop cache is registered: the
      CacheManager compiles a cached plan with the conf in force at
      registration, so caching first would bake session-default
      200-partition shuffles into the edge build; without the pin,
      every superstep's groupBy/window runs at the session default
      (measured: sf0.01 core_number 23 s unpinned vs 8 s pinned).
    - The provisional width is
      ``min(session partitions, defaultParallelism)``; ``fit`` tightens
      it to one task per 250k rows of a count the loop has already
      observed (the one sizing rule; ``layout`` applies it to its edge
      count). There is no floor: a 4-partition floor overrode the rule
      on every graph under 750k edge rows. Dropping it, with the merge
      join rule of ``_relax_min``, took a graph-iterative benchmark
      pass (perfbench, scale 0.004, 4 vCPU) from 374 to 128 tasks and
      its task CPU from 1.16 to 0.70 s (median of 10 A/B pairs).
    - ``layout`` builds the loop's resident edge layout; ``cache``
      registers any other loop-scoped cache (loop invariants, a second
      edge layout keyed the other way).
    - Exit — normal OR exceptional — unpersists every registered cache
      and restores the conf, so one-shot queries keep the session's
      defaults and AQE's coalesce/skew benefits, and a loop that raises
      leaves neither a pinned conf nor a resident cache behind. A loop
      must MATERIALIZE its result (an eager checkpoint) before the
      scope exits: execution after restore runs at session settings
      against dropped caches.

    Vertex state is ``localCheckpoint``-ed every superstep. This does
    two jobs at once: it truncates lineage (otherwise the plan doubles
    per superstep — the GraphX-on-DataFrames hazard) and it breaks
    recompute (without it, the convergence check and the next
    superstep each re-execute this superstep's shuffles, compounding
    ~3x per iteration — measured 40s → 9s on the sf0.1 WCC when
    fixed). Vertex state is orders of magnitude smaller than the edge
    set, so the materialization is cheap relative to the superstep's
    edge shuffle. On a multi-node cluster, swap localCheckpoint for
    reliable ``checkpoint()`` every ~5 supersteps (executor loss
    safety). Loops that read a scalar of each superstep's state
    checkpoint eagerly, with ``observed_checkpoint``, which reads the
    scalar off that checkpoint job. FIXED-iteration loops
    (pagerank/ppr/labelprop) checkpoint intermediate steps LAZILY
    (``eager=False``): lineage still truncates and the persisted RDD
    still computes exactly once (both in-superstep consumers share
    it), but the whole chain executes as ONE job at the final eager
    step, saving a scheduled materialization job per superstep. The
    final step stays eager so execution happens inside the scope.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._caches: list[DataFrame] = []

    def __enter__(self) -> LoopScope:
        conf = self.spark.conf
        self._prev_aqe = conf.get("spark.sql.adaptive.enabled", "true")
        self._prev_part = conf.get("spark.sql.shuffle.partitions", "200")
        conf.set("spark.sql.adaptive.enabled", "false")
        self._provisional = min(
            int(self._prev_part), self.spark.sparkContext.defaultParallelism
        )
        self._pin(self._provisional)
        return self

    def __exit__(self, *exc) -> None:
        self.spark.conf.set("spark.sql.adaptive.enabled", self._prev_aqe)
        self.spark.conf.set("spark.sql.shuffle.partitions", self._prev_part)
        for df in self._caches:
            df.unpersist()

    def _pin(self, n: int) -> None:
        self.partitions = n
        self.spark.conf.set("spark.sql.shuffle.partitions", str(n))

    def fit(self, rows: int) -> None:
        """Pin the width for ``rows`` edge rows: ``rows // 250_000 + 1``
        tasks, at most the provisional width, at least one. A superstep
        runs dozens of tiny stages, so over-partitioning a small graph
        buys nothing and pays task-scheduling overhead per superstep
        (measured ~2x on the sf0.1 graph: 32 -> 8 partitions halves
        PageRank; the former 4-partition floor cost the same on every
        graph under 750k rows, see the class docstring). At 100 TB edge
        counts push this to the provisional width, i.e. full cluster
        parallelism. ``rows`` must be a count the loop already has (an
        observed checkpoint's), never a count job of its own."""
        self._pin(min(self._provisional, rows // 250_000 + 1))

    def cache(self, df: DataFrame) -> DataFrame:
        """``df.cache()``, unpersisted when the scope exits."""
        df = df.cache()
        self._caches.append(df)
        return df

    def layout(self, df: DataFrame, *keys: str) -> DataFrame:
        """The loop's resident edge layout, built once: ``df``
        hash-partitioned by ``keys`` and cached for the whole loop.

        A cached DataFrame advertises its partitioning, so every
        superstep's ``edges ⨝ state ON src = id`` reuses it and
        shuffles ONLY the small vertex-state side — the edge set (the
        big side, shuffled once here) never moves again. This is the
        in-memory equivalent of bucketing the edge table by src at
        100 TB.

        ``df`` is materialized ONCE (eager localCheckpoint, its row
        count observed on that job) so the repartition doesn't
        recompute the caller's lineage (a dedup, a coarsen chain), and
        ``_detached`` from that lineage so loop caches built over the
        layout are hit. A localCheckpoint's blocks are released by the
        ContextCleaner when the plan goes unreachable, and the cache is
        dropped at scope exit, so memory is bounded and every run pays
        its own materialization. The observed count, kept as ``rows``
        until the next layout, ``fit``s the width, pinned for the rest
        of the loop.
        """
        df, seen = observed_checkpoint(df, rows=F.count(F.lit(1)))
        self.rows = seen["rows"]
        self.fit(self.rows)
        return self.cache(_detached(df).repartition(self.partitions, *keys))


def observed_checkpoint(
    df: DataFrame, *cols: Column | str, **aggs: Column
) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` of ``df.select(*cols)`` (of ``df`` when
    no ``cols``) and the aggregates ``aggs`` over ``df``'s rows, as
    {name: Python number}: the one way a loop reads a scalar of the
    state it just materialized (a changed count, a row count, a total).

    The aggregates ride in an ``Observation`` that Spark fills from the
    checkpoint job's own tasks, so the read schedules no job; every
    separate probe (an ``isEmpty``/``count`` scan, an ``agg().collect()``,
    a 1-row total broadcast back) costs one more job per superstep.
    ``Observation.get`` waits for the query's end event, yet on the
    edge frame of the scale-0.004 benchmark graph (4 cores) an
    observed checkpoint took 48 ms median against 65 ms for
    checkpoint-then-``isEmpty``. Aggregating before the projection
    counts changes against a previous value the state no longer
    carries. Over an empty frame, also one the optimizer folds to
    empty, a count reads 0 and a sum ``None``.
    """
    seen = Observation()
    df = df.observe(seen, *[agg.alias(name) for name, agg in aggs.items()])
    if cols:
        df = df.select(*cols)
    return df.localCheckpoint(eager=True), seen.get


def _detached(df: DataFrame) -> DataFrame:
    """``df``'s materialized partitions (a checkpoint's) under a new plan
    leaf that inherits neither the computing plan's size estimate nor
    its output partitioning; a ``localCheckpoint`` inherits both.
    Inherited sizes multiply through self-joins, size_{n+1} ~
    size_n^(J+1) for J self-joins per round, until planning drowns in
    BigInteger arithmetic (the 4-truss loop, SCALE.md §21). An
    inherited hash partitioning on a layout makes the loop caches built
    over it (Louvain's ``deg`` and ``m2``) miss wherever the layout
    meets itself in a self-join, so they re-aggregate every round
    (sf0.001: graph_louvain 27 warm jobs attached, 18 detached). One
    py4j call; no Python round trip.
    """
    jdf = df._jdf
    jds = df.sparkSession._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(jds, df.sparkSession)


def symmetrize(edges: DataFrame, directed: bool = False) -> DataFrame:
    """Undirected view of an edge list: both directions, deduped.
    ``directed=True`` skips the reverse union (messages then flow along
    edge direction only — what a generic ``pregel_run`` over a directed
    graph needs) but keeps the dedup. Loops place the result with
    ``LoopScope.layout(sym, "src")``.
    """
    if directed:
        return edges.select("src", "dst").distinct()
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.select("src", "dst").unionByName(rev).distinct()


def _relax_min(
    edges: DataFrame,
    state: DataFrame,
    frontier: DataFrame,
    col: str,
    msg: Column,
    max_iter: int,
    edge_filter: Column | None = None,
) -> DataFrame:
    """The delta min-relaxation superstep every label-correcting loop
    runs (WCC, BFS, weighted SSSP, temporal earliest arrival)::

        msgs  = (edges ⨝ frontier ON src = id)[edge_filter]
                    .groupBy(dst).min(msg)
        state = least(state.col, msgs.msg)       -- least skips NULLs

    ``state`` is (id, ``col``) with NULL for "not reached"; ``edges``
    is the loop's src-partitioned layout; ``msg`` and ``edge_filter``
    are evaluated on the edges⨝frontier frame. Stops after
    ``max_iter`` supersteps or when no value changed. Returns (id,
    ``col``).

    Delta frontier: only vertices whose value CHANGED last superstep
    re-send. Min-combined messages are idempotent, and an unchanged
    vertex's messages (a function of its value and its out-edges only)
    were already sent and folded in the superstep after it last
    changed, so dropping the re-sends reaches the identical state in
    every superstep — the relax-all (Jacobi) form's state, in the
    identical number of supersteps (pinned by tests/test_graph.py and
    the loop keys' oracles). The message join shrinks as values settle
    instead of staying |V|-sized.

    The change flag ``~new.eqNullSafe(old)`` rides inside the eagerly
    checkpointed state, so the next frontier is a filter of the
    materialized RDD, not a new⨝old join, and the stop test reads the
    flag's count off the checkpoint job (``observed_checkpoint``).

    Join rule: ``edges ⨝ frontier`` is a sort-merge join, hinted on the
    frontier side at this join site, so it reuses the layout's
    partitioning and only the frontier shuffles. A checkpointed state
    inherits the small size estimate of the plan that computed it, and
    unhinted Spark broadcast it in a job of its own every superstep on
    graphs whose state is under the broadcast threshold (at 100 TB the
    state is far above it, so the plan there is the same). The hint
    sits on the join, not on the checkpoint, so it does not leak into a
    caller's first join after the loop.
    """
    for _ in range(max_iter):
        sent = edges.join(frontier.hint("merge"), edges.src == frontier.id)
        if edge_filter is not None:
            sent = sent.filter(edge_filter)
        msgs = sent.groupBy(F.col("dst").alias("id")).agg(F.min(msg).alias("msg"))
        new = F.least(F.col(col), F.col("msg"))
        new_state, seen = observed_checkpoint(
            state.join(msgs, "id", "left").select(
                "id", new.alias(col), (~new.eqNullSafe(F.col(col))).alias("_chg")
            ),
            changed=F.count_if("_chg"),
        )
        frontier = new_state.filter("_chg").select("id", col)
        state = new_state.select("id", col)
        if not seen["changed"]:
            break
    return state


def connected_components(
    vertices: DataFrame, edges: DataFrame, max_iter: int = 30
) -> DataFrame:
    """Weakly connected components by min-label propagation.

    vertices: (id,) — edges: (src, dst) directed or not (symmetrized
    here). Returns (id, component) where component = min vertex id
    reachable. Converges in O(diameter) supersteps.
    """
    state = vertices.select("id", F.col("id").alias("component"))
    with LoopScope(edges.sparkSession) as scope:
        sym = scope.layout(symmetrize(edges), "src")
        return _relax_min(sym, state, state, "component", F.col("component"), max_iter)


def bfs(
    vertices: DataFrame, edges: DataFrame, source_ids: list[int], max_depth: int = 6
) -> DataFrame:
    """Unweighted shortest hop-count from a seed set (min-dist Pregel).

    Returns (id, dist) for reached vertices only, dist <= max_depth.
    """
    state = vertices.select(
        "id",
        F.when(F.col("id").isin(source_ids), F.lit(0).cast("long")).alias("dist"),
    )
    with LoopScope(edges.sparkSession) as scope:
        sym = scope.layout(symmetrize(edges), "src")
        state = _relax_min(
            sym, state, state.filter(F.col("dist").isNotNull()), "dist",
            F.col("dist") + 1, max_depth,
        )
    return state.filter(F.col("dist").isNotNull())


def _rank_walk(
    vertices: DataFrame | None,
    edges: DataFrame,
    rank0: Column,
    share: Column,
    update: Column,
    iterations: int,
) -> tuple[DataFrame, int]:
    """The one PageRank superstep, run ``iterations`` times on the
    symmetrized graph (float and exact-integer PageRank and PPR)::

        c    = (state ⨝ sym_d ON id = src).groupBy(dst).sum(share)
        rank = update

    ``rank0`` is a Column over ``id``, ``share`` one over the sender's
    ``rank`` and degree ``d``, ``update`` one over ``id`` and ``c``.
    ``vertices`` may be None when every vertex has an edge.
    ``sym_d`` is the src-partitioned layout with each source's degree
    attached by a count(*) window over that partitioning (no exchange),
    cached, so a superstep is one join and one exchange: only the
    vertex-state side moves. The state holds the layout's vertices;
    every one receives (the layout is symmetric). Only the last
    superstep left-joins ``vertices`` (skipped when None), with ``c`` 0
    where nothing arrived, so a vertex without edges keeps the teleport
    mass only.

    Every third superstep checkpoints lazily (lineage truncation
    without a job of its own) and the last eagerly, so the whole chain
    executes as one job inside the scope. Returns the (id, rank) frame
    and its row count, observed on that job.
    """
    if iterations < 1:
        raise ValueError("PageRank needs at least one superstep")
    with LoopScope(edges.sparkSession) as scope:
        sym = scope.layout(symmetrize(edges), "src")
        sym_d = scope.cache(
            sym.withColumn("d", F.count(F.lit(1)).over(Window.partitionBy("src")))
        )
        state = sym_d.select(F.col("src").alias("id")).distinct().select(
            "id", rank0.alias("rank")
        )
        for step in range(1, iterations + 1):
            c = (
                state.join(sym_d, F.col("id") == F.col("src"))
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(share).alias("c"))
            )
            last = step == iterations
            if last and vertices is not None:
                c = vertices.select("id").join(c, "id", "left").select(
                    "id", F.coalesce(F.col("c"), F.lit(0)).alias("c")
                )
            state = c.select("id", update.alias("rank"))
            if step % 3 == 0 and not last:
                state = state.localCheckpoint(eager=False)
        state, seen = observed_checkpoint(state, rows=F.count(F.lit(1)))
    return state, seen["rows"]


def _hits_walk(
    by_src: DataFrame,
    by_dst: DataFrame,
    hub: DataFrame,
    iterations: int,
    norm: Column,
) -> tuple[DataFrame, DataFrame]:
    """The HITS superstep, ``iterations`` times: auth from hubs along
    the edges, then hubs from the NEW auths, each half-step's ``raw``
    sum normalized by ``norm``, a Column over ``raw`` and its L1 total
    ``t``. ``by_src`` and ``by_dst`` are the edges partitioned by each
    endpoint, so both joins co-locate and only the score side shuffles;
    ``hub`` is the start (id, hub) frame. Returns the last (id, hub)
    and (id, auth) frames.

    Each half-step's raw sum is eagerly checkpointed, so it executes
    once, and its total ``t`` is observed on that checkpoint job
    (``observed_checkpoint``) and applied as a literal of ``raw``'s SQL
    type: ``raw / t`` and ``(raw * 1000000) div t`` are the same
    operations they were on a 1-row total broadcast back, without that
    broadcast's build job.

    Join rule: both half-step joins are sort-merge joins hinted on the
    score side (``_relax_min`` gives the reason), so each co-locates
    with its layout and no half-step schedules a broadcast job.
    """

    def normalized(raw: DataFrame, name: str) -> DataFrame:
        raw, seen = observed_checkpoint(raw, t=F.sum("raw"))
        t = F.lit(seen["t"]).cast(raw.schema["raw"].dataType)
        return raw.withColumn("t", t).select("id", norm.alias(name))

    auth = None
    for _ in range(iterations):
        auth = normalized(
            by_src.join(
                hub.select(F.col("id").alias("src"), "hub").hint("merge"), "src"
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("raw")),
            "auth",
        )
        hub = normalized(
            by_dst.join(
                auth.select(F.col("id").alias("dst"), "auth").hint("merge"), "dst"
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("auth").alias("raw")),
            "hub",
        )
    return hub, auth


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank on the undirected (symmetrized) graph.

    Returns (id, rank). Dangling vertices (degree 0) keep the teleport
    mass only. Float shuffle-sum order varies per run → rows-only
    correctness; ranks are comparable after round().

    The walk runs the recurrence scaled by the vertex count n (start
    1, teleport 1 - damping, as the exact keys do in micro-units) and
    divides by n at the end: n is the walk's observed output row count,
    so no count job runs outside the loop.
    """
    ranks, n = _rank_walk(
        vertices,
        edges,
        F.lit(1.0),
        F.col("rank") / F.col("d"),
        F.lit(1.0 - damping) + F.lit(damping) * F.col("c"),
        iterations,
    )
    return ranks.select("id", (F.col("rank") / n).alias("rank"))


def core_number(edges: DataFrame, max_iter: int = 64) -> DataFrame:
    """Core number (degeneracy) per vertex via the h-index fixpoint.

    init c(v) = deg(v); iterate c(v) <- min(c(v), H(neighbor c's))
    where H is the h-index: for neighbor values sorted descending,
    max_i min(i, v_i). Monotonically non-increasing and converges to
    the exact core number — the classic peeling algorithm is inherently
    sequential; this formulation is keyed shuffles only. Returns (id, c).

    Hot-vertex posture (VERDICT r6 #6): the h-index is computed from
    the per-(id, value) HISTOGRAM — whose first aggregate partial-
    combines map-side — and a fold over the value-sorted histogram
    (block of value c ending at cumulative count m contributes
    min(c, m); H = max over blocks — identical to max_i min(i, v_i)
    over the desc sort). The previous ``row_number`` window put all
    deg(hub) neighbor rows in ONE task per hub; the histogram bounds
    per-id work by #distinct neighbor values instead (star-fixture
    timings in SCALE.md §7).
    """
    with LoopScope(edges.sparkSession) as scope:
        sym = scope.layout(symmetrize(edges), "src")
        c = (
            sym.groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).alias("c"))
            .localCheckpoint()
        )
        for _ in range(max_iter):
            # sym is symmetric: keying on src (not dst) reaches the same
            # neighbor values and co-locates with the layout
            msgs = sym.join(c.hint("merge"), sym.src == c.id).select(
                sym.dst.alias("id"), "c"
            )
            hist = msgs.groupBy("id", "c").agg(F.count(F.lit(1)).alias("n"))
            acc0 = F.struct(
                F.lit(0).cast("long").alias("cum"), F.lit(0).cast("long").alias("best")
            )
            h_of = F.aggregate(
                F.reverse(F.array_sort(F.collect_list(F.struct("c", "n")))),
                acc0,
                lambda acc, x: F.struct(
                    (acc.getField("cum") + x.getField("n")).alias("cum"),
                    F.greatest(
                        acc.getField("best"),
                        F.least(
                            x.getField("c"), acc.getField("cum") + x.getField("n")
                        ),
                    ).alias("best"),
                ),
                lambda acc: acc.getField("best"),
            )
            h = hist.groupBy("id").agg(h_of.alias("h"))
            c, seen = observed_checkpoint(
                c.hint("merge").join(h, "id"),
                "id",
                F.least(F.col("c"), F.col("h")).alias("c"),
                changed=F.count_if(F.col("h") < F.col("c")),
            )
            if not seen["changed"]:
                break
    return c


def label_propagation(
    vertices: DataFrame, edges: DataFrame, iterations: int = 5
) -> DataFrame:
    """Synchronous label propagation, ``iterations`` fixed supersteps.

    Labels start as vertex ids; each superstep every vertex adopts the
    most frequent neighbor label (ties → smallest label, so the whole
    run is deterministic). Returns (id, label).

    Hot-vertex posture (VERDICT r6 #6): both aggregates partial-combine
    map-side — the vote count on (id, label) and the winner selection
    as ``max(struct(votes, -label))`` (lexicographic struct max =
    highest vote count, then smallest label — the identical tie-break
    the previous ``row_number`` window implemented). The window form
    put all of a hub's distinct-label votes in ONE task; the struct-max
    form reduces them map-side like any other combiner (star-fixture
    timings in SCALE.md §7) and drops a whole sort stage per superstep.
    """
    state = vertices.select("id", F.col("id").alias("label"))
    with LoopScope(edges.sparkSession) as scope:
        sym = scope.layout(symmetrize(edges), "src")
        for step in range(iterations):
            counts = (
                sym.join(state, sym.src == state.id)
                .groupBy(F.col("dst").alias("id"), F.col("label"))
                .agg(F.count(F.lit(1)).alias("votes"))
            )
            winners = (
                counts.groupBy("id")
                .agg(
                    F.max(
                        F.struct(
                            F.col("votes"), (-F.col("label")).alias("neg_label")
                        )
                    ).alias("w")
                )
                .select(
                    "id", (-F.col("w").getField("neg_label")).alias("new_label")
                )
            )
            state = state.join(winners, "id", "left").select(
                "id", F.coalesce(F.col("new_label"), F.col("label")).alias("label")
            )
            state = state.localCheckpoint(eager=(step == iterations - 1))
    return state


def personalized_pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    source_ids: list[int],
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to the seed set
    only, so ranks measure proximity to the seeds rather than global
    centrality. Same superstep shape as ``pagerank``; the only change
    is the teleport term (constant per vertex, nonzero only on seeds).
    Returns (id, rank).
    """
    seed = F.when(
        F.col("id").isin(source_ids), F.lit(1.0 / len(source_ids))
    ).otherwise(F.lit(0.0))
    return _rank_walk(
        vertices,
        edges,
        seed,
        F.col("rank") / F.col("d"),
        (1.0 - damping) * seed + F.lit(damping) * F.col("c"),
        iterations,
    )[0]


def shortest_paths_weighted(
    vertices: DataFrame,
    weighted_edges: DataFrame,
    source_ids: list[int],
    max_iter: int = 20,
) -> DataFrame:
    """Single-source shortest paths with nonnegative edge weights —
    Bellman-Ford as a Pregel loop: relax every edge each superstep,
    keep the min distance, stop when no distance improves. Weights and
    distances stay integer (exact) here; with float weights the sums
    are per-path (no accumulation-order ambiguity), so results are
    still deterministic. ``weighted_edges``: (src, dst, w) directed;
    symmetrization is the caller's choice. Returns (id, dist) for
    reached vertices.
    """
    with LoopScope(weighted_edges.sparkSession) as scope:
        e = scope.layout(weighted_edges.select("src", "dst", "w"), "src")
        state = vertices.select(
            "id",
            F.when(F.col("id").isin(source_ids), F.lit(0).cast("long")).alias("dist"),
        ).localCheckpoint()
        state = _relax_min(
            e, state, state.filter(F.col("dist").isNotNull()), "dist",
            F.col("dist") + F.col("w"), max_iter,
        )
    return state.filter(F.col("dist").isNotNull())


def temporal_earliest_arrival(
    vertices: DataFrame,
    contacts: DataFrame,
    source_ids: list[int],
    n_rounds: int = 12,
) -> DataFrame:
    """Bounded-horizon earliest-arrival over a TEMPORAL contact list
    (src, dst, t): a time-respecting path may take contact (u, v, t)
    only when t >= the arrival time at u, and the arrival it yields at
    v is t itself. Jacobi relaxation — every round relaxes ALL
    contacts against the previous round's full state and keeps the
    min — run for EXACTLY ``n_rounds`` rounds (the operator's
    semantics: earliest arrival using at most n_rounds contacts).
    Fixing the horizon instead of iterating to convergence keeps the
    result exact at every corpus size: reachability depth grows with
    the data (measured 5/10/21+ rounds at sf0.001/0.01/0.1), so a
    convergence-defined key would need a data-dependent unroll in its
    oracle; a bounded horizon is the same contract at any scale.
    Early rounds that no longer change anything are skipped — the
    relaxation is monotone (arrivals only decrease, and a lower
    arrival only WIDENS the feasible contact set), so a converged
    state equals the n_rounds state. Sources start at arrival 0
    (before every real timestamp). Returns (id, arr) for reached
    vertices."""
    with LoopScope(contacts.sparkSession) as scope:
        e = scope.layout(contacts.select("src", "dst", "t"), "src")
        state = vertices.select(
            "id",
            F.when(F.col("id").isin(source_ids), F.lit(0).cast("long")).alias("arr"),
        ).localCheckpoint()
        state = _relax_min(
            e, state, state.filter(F.col("arr").isNotNull()), "arr",
            F.col("t"), n_rounds, edge_filter=F.col("t") >= F.col("arr"),
        )
    return state.filter(F.col("arr").isNotNull())


def pregel_run(
    vertices: DataFrame,
    edges: DataFrame,
    message,
    merge,
    update: dict,
    max_iter: int = 20,
    directed: bool = False,
    check_cols: list[str] | None = None,
) -> DataFrame:
    """Generic user-programmable Pregel superstep loop — the
    message/merge/update hooks GraphX's ``Pregel.apply`` exposes,
    DataFrame-native (every named algorithm above is an instance of
    this shape; this entry point lets a user run their OWN).

    - ``vertices``: (id, <state cols>) — the initial vertex state.
    - ``edges``: (src, dst); symmetrized unless ``directed=True``.
    - ``message``: a Column evaluated on the edge⨝src-state frame
      (columns ``src``, ``dst`` and every state column of the SOURCE
      vertex) — the value sent to ``dst``.
    - ``merge``: commutative+associative combiner applied to the
      incoming messages per destination, e.g. ``F.min`` / ``F.sum``
      (called as ``merge(F.col("msg"))``).
    - ``update``: dict ``state_col -> Column`` over (id, old state
      cols, ``msg``) producing the next state; ``msg`` is NULL for
      vertices that received nothing this superstep (coalesce it).
      State columns absent from the dict carry over unchanged.
    - ``check_cols``: converge (stop early) when these state columns
      are unchanged for every vertex — every superstep then checkpoints
      eagerly and counts its changes on that job
      (``observed_checkpoint``); omit for fixed-iteration algorithms
      (lineage then executes as ONE job at the final superstep, see
      ``LoopScope``).

    Scale posture identical to the named algorithms: edges cached
    src-partitioned once, only vertex state shuffles per superstep,
    state eagerly checkpointed, AQE/partitions pinned loop-wide.

    >>> v = spark.createDataFrame(
    ...     [(i, i) for i in range(4)], "id long, component long")
    >>> e = spark.createDataFrame([(0, 1), (2, 3)], "src long, dst long")
    >>> wcc = pregel_run(
    ...     v, e,
    ...     message=F.col("component"),
    ...     merge=F.min,
    ...     update={"component": F.least(
    ...         F.col("component"),
    ...         F.coalesce(F.col("msg"), F.col("component")))},
    ...     check_cols=["component"])
    >>> sorted((r["id"], r["component"]) for r in wcc.collect())
    [(0, 0), (1, 0), (2, 2), (3, 2)]
    """
    state_cols = [c for c in vertices.columns if c != "id"]
    unknown = set(update) - set(state_cols)
    if unknown:
        raise ValueError(f"update targets unknown state columns: {sorted(unknown)}")
    state = vertices.select("id", *state_cols)
    chg = F.lit(False)
    for c in check_cols or []:
        chg |= ~update.get(c, F.col(c)).eqNullSafe(F.col(c))
    with LoopScope(edges.sparkSession) as scope:
        sym = scope.layout(symmetrize(edges, directed=directed), "src")
        for step in range(max_iter):
            msgs = (
                sym.join(state.hint("merge"), sym.src == state.id)
                .select(F.col("dst").alias("id"), message.alias("msg"))
                .groupBy("id")
                .agg(merge(F.col("msg")).alias("msg"))
            )
            joined = state.join(msgs, "id", "left")
            cols = ["id", *[update.get(c, F.col(c)).alias(c) for c in state_cols]]
            if check_cols:
                state, seen = observed_checkpoint(joined, *cols, changed=F.count_if(chg))
                if not seen["changed"]:
                    break
            else:  # fixed iterations: one job, at the last (eager) step
                state = joined.select(*cols).localCheckpoint(eager=step == max_iter - 1)
    return state


def betweenness_sampled(
    vertices: DataFrame,
    edges: DataFrame,
    sources: list[int],
    max_depth: int = 12,
    scale_to_population: bool = True,
) -> DataFrame:
    """Sampled Brandes betweenness centrality (unweighted, undirected),
    ALL sources batched into one multi-root BFS.

    State is keyed (root, id): the forward pass runs ONE superstep per
    BFS level for the whole sample (not per source — the batched form
    of Brandes-Pich sampling), accumulating shortest-path counts
    sigma; the backward pass then applies the Brandes dependency
    recurrence level-by-level, delta(v) = sigma_v * sum over
    successors w of (1 + delta(w)) / sigma_w, again for all roots at
    once. Per-vertex dependencies sum over roots into the estimate;
    ``scale_to_population`` multiplies by N / (2 |S|) (the /2 is the
    undirected pair-double-counting convention), an unbiased estimate
    of exact undirected betweenness [Brandes 2001; Brandes-Pich 2007].

    Scale posture: supersteps = 2 x diameter regardless of |S|; each
    is one keyed join + aggregate whose state is |S| x reached
    vertices rows (the sample size bounds the multiplier), with the
    edge set cached loop-wide and each level's row count observed on
    its checkpoint job — never a row collect. sigma is exact in int64
    up to 2^63 paths; delta is float64, deterministic up to
    shuffle-sum ordering (tests compare with tolerance). Returns (id,
    betweenness) for every vertex.
    """
    n_s = max(1, len(sources))
    spark = vertices.sparkSession
    roots = spark.createDataFrame([(int(s),) for s in sources], "root long")
    delta_frames: list[DataFrame] = []
    with LoopScope(spark) as scope:
        n_vertices = vertices.count()
        sym = scope.layout(symmetrize(edges), "src")
        lvl0, seen = observed_checkpoint(
            roots.join(vertices, roots.root == vertices.id).select(
                "root", "id", F.lit(1).cast("long").alias("sigma")
            ),
            rows=F.count(F.lit(1)),
        )
        if not seen["rows"]:
            return vertices.select("id", F.lit(0.0).alias("betweenness"))
        levels = [lvl0]
        visited = lvl0.select("root", "id")
        for d in range(1, max_depth + 1):
            frontier = levels[-1]
            msgs = (
                sym.join(frontier.hint("merge"), sym.src == frontier.id)
                .select("root", F.col("dst").alias("id"), "sigma")
                .join(visited, ["root", "id"], "left_anti")
                .groupBy("root", "id")
                .agg(F.sum("sigma").alias("sigma"))
            )
            nxt, seen = observed_checkpoint(msgs, rows=F.count(F.lit(1)))
            if not seen["rows"]:
                break
            levels.append(nxt)
            visited = visited.unionByName(nxt.select("root", "id")).localCheckpoint()
        # backward dependency pass, deepest level first
        delta_d: DataFrame | None = None
        for d in range(len(levels) - 1, 0, -1):
            w = levels[d]
            if delta_d is not None:
                w = w.join(delta_d, ["root", "id"], "left").select(
                    "root",
                    "id",
                    "sigma",
                    F.coalesce("delta", F.lit(0.0)).alias("delta"),
                )
            else:
                w = w.select("root", "id", "sigma", F.lit(0.0).alias("delta"))
            m = w.select(
                "root",
                "id",
                ((F.lit(1.0) + F.col("delta")) / F.col("sigma")).alias("m"),
            )
            contrib = (
                sym.join(m, sym.dst == m.id)
                .select("root", F.col("src").alias("id"), "m")
                .join(levels[d - 1].select("root", "id", "sigma"), ["root", "id"])
                .groupBy("root", "id", "sigma")
                .agg(F.sum("m").alias("msum"))
                .select(
                    "root", "id", (F.col("sigma") * F.col("msum")).alias("delta")
                )
            )
            delta_d = contrib.localCheckpoint()
            if d > 1:  # deltas FOR level d-1; level 0 is the root itself
                delta_frames.append(delta_d.select("id", "delta"))
    if not delta_frames:
        return vertices.select("id", F.lit(0.0).alias("betweenness"))
    all_d = delta_frames[0]
    for f in delta_frames[1:]:
        all_d = all_d.unionByName(f)
    summed = all_d.groupBy("id").agg(F.sum("delta").alias("bc"))
    scale = (n_vertices / (2.0 * n_s)) if scale_to_population else 1.0
    return (
        vertices.select("id")
        .join(summed, "id", "left")
        .select(
            "id",
            (F.coalesce(F.col("bc"), F.lit(0.0)) * F.lit(scale)).alias(
                "betweenness"
            ),
        )
    )


def hits(edges: DataFrame, iterations: int = 20) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) on a DIRECTED edge
    list, fixed-iteration power method with L1 normalization per
    half-step (auth from hubs along edges, then hubs from the NEW
    auths), matching the converged principal-eigenvector solution
    (golden-tested against a to-convergence reference iteration).

    Scale: the edge set is cached TWICE, once partitioned by src and
    once by dst, so BOTH half-step joins co-locate against a resident
    layout and only the vertex-state side ever shuffles (the pagerank
    posture, doubled because HITS alternates join sides); the loop is
    ``_hits_walk``, one execution per half-step. Scores are carried as
    per-side frames (hub on src-capable vertices, auth on dst-capable)
    instead of a full (id, hub, auth) state row per vertex — every edge
    endpoint is by construction present in the side it consumes, and
    the closing verts left-join restores the 0.0 rows. Float-sum
    ordering is nondeterministic run to run (rows-only key,
    tolerance-pinned goldens). Returns (id, hub, auth), each side
    summing to 1.
    """
    if iterations < 1:
        raise ValueError("hits needs at least one superstep")
    with LoopScope(edges.sparkSession) as scope:
        dir_edges = scope.layout(symmetrize(edges, directed=True), "src")
        by_dst = scope.cache(dir_edges.repartition(scope.partitions, "dst"))
        verts = (
            dir_edges.select(F.col("src").alias("id"))
            .unionByName(dir_edges.select(F.col("dst").alias("id")))
            .distinct()
            .localCheckpoint()
        )
        norm = F.coalesce(
            F.when(F.col("t") != 0, F.col("raw") / F.col("t")), F.lit(0.0)
        )
        hub0 = verts.select("id", F.lit(1.0).alias("hub"))
        hub, auth = _hits_walk(dir_edges, by_dst, hub0, iterations, norm)
        return (
            verts.join(hub, "id", "left")
            .join(auth, "id", "left")
            .select(
                "id",
                F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
                F.coalesce(F.col("auth"), F.lit(0.0)).alias("auth"),
            )
            .localCheckpoint()
        )

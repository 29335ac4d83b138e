"""Query registry — the single source of truth for the driver contract.

Every operator from SURVEY.md §2 registers here as a ``QuerySpec``:
a name (the §2 "query key"), a Spark callable ``(spark, sf_dir) ->
DataFrame``, and (for SQL-oracled keys) the equivalent DuckDB SQL.
``__spark_entry__.py``'s ``queries()`` / ``oracle_sql()`` and the local
verify harness (tools/verify_local.py) all read from this one dict.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB SQL; None → rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query implementation under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query key {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags, doc=(fn.__doc__ or "")
        )
        return fn

    return deco


def _load_all_operators() -> None:
    """Import every operator module so registration side-effects run."""
    import ezbake_graph_spark.operators  # noqa: F401


def _trusted_rounds() -> dict[str, int]:
    """Round of each registered key's latest TRUSTED driver row, read
    from the committed CORRECTNESS_r*.json files (written at the repo
    root by the driver each round) in round order, so the last write
    wins. A row is trusted when it is green (no error, rows match, hash
    not a recorded mismatch) or when the key has no oracle: a rows-only
    key can never turn green, but its expected ``err: no_oracle`` record
    still checked its row count, so re-emitting it every round would
    burn a window slot forever. Reading the files at emission time
    makes the rotation self-updating: next round, the keys verified
    this round drop to the back."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = []
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if m:
            files.append((int(m.group(1)), path))
    rounds: dict[str, int] = {}
    for rnum, path in sorted(files):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for key, row in data.items():
            spec = REGISTRY.get(key)
            if spec is None or not isinstance(row, dict):
                continue
            if spec.oracle is None or (
                row.get("err") is None
                and row.get("rows_match")
                and row.get("hash_match") is not False
            ):
                rounds[key] = rnum
    return rounds


# Keys measured slow at sf0.01 in the local verify harness (≥1.3s
# Spark-side, WARM-session full-registry run, round-4 refresh — the
# round-3 cold measurements overstated several by 3-5x); pushed behind
# keys of equal staleness so a time-budgeted correctness run checks more
# keys first.
_SLOW: frozenset[str] = frozenset(
    {
        "dedup_prefix_filter",  # 1.7s
        "agg_heavy_hitters",  # 2.4s
        "stream_dedup",  # 2.7s
        "dedup_minhash",  # 4.7s
        "embed_kmeans",  # 6.4s (MLlib fit at plan build)
        "dedup_simhash",  # 2.2s
        # streaming keys pay query startup + checkpoint I/O
        "stream_watermark",  # 1.4s
        "stream_stateful",  # 2.6s
        "stream_stream_join",  # 5.6s
        "graph_pagerank_exact",  # 10 integer supersteps, 2.2s warm
        "graph_ppr_exact",  # same shape, 3.0s warm
        "sim_rp_sketch",  # 16x64 literal-array codegen compile, 2.9s
        "graph_random_walk",  # 4 chained hop joins, 3.7s warm
        "dedup_cluster_canonical",  # pair kernel + Pregel WCC, 3.6s
        "sql_recursive_cte",  # 4-table derivation + engine recursion, 2.1s
        "graph_betweenness_sampled",  # |S| x diameter checkpointed supersteps, ~18s
        "graph_betweenness_exact",  # 6 unrolled walk levels + sigma joins, ~13s
        "sim_mmr_select",  # k unrolled greedy join stages, ~4s warm
        "graph_louvain",  # 4 local-move rounds + DuckDB unrolled oracle, ~8s
        "graph_louvain_weighted",  # same shape over weighted arcs, ~7s
        "graph_louvain_two_level",  # both levels + coarsen, ~12s
        "graph_louvain_hierarchy",  # 3 levels + per-level q, ~9s
        "dedup_resolve_entities",  # blocked pair build + WCC, ~15s
        "dedup_resolve_entities_append",  # batch resolve + append, ~19s
        "text_bpe_train_exact",  # 8 sequential merge rounds, ~13s
    }
)


# Driver correctness slots per round (measured: exactly 50 keys in each
# of CORRECTNESS_r01-r03).
_WINDOW = 50

# Keys whose IMPLEMENTATION changed since their latest driver row
# (VERDICT r7 #7: a changed key must never carry a stale green row for
# more than one round). Maintained per round by hand: list every green
# key the round's commits touched; they jump to the FRONT of the
# driver window regardless of how fresh their last row is, then leave
# this list next round once the driver re-verifies them. Brand-new
# keys need no entry (never-green keys already sort first).
_RECENTLY_CHANGED = (
    # Round rule (VERDICT r12 #10): the same commit that rewrites a
    # kernel must queue every registry key consuming it here, so the
    # NEXT driver window re-oracles exactly what the change touched.
    #
    # Queued by the round-14 commits (since the r13 driver rows): one
    # LoopScope for every iterative loop, symmetrize() without its own
    # repartition, the shared _relax_min / _rank_walk / _hits_walk
    # bodies, Louvain's shared _coarsen / _relabel and louvain_hierarchy
    # in one scope, the exact-rank edge build, and _clusters_from_pairs;
    # then graph_closeness, now api.harmonic_closeness. Value-hash-
    # oracled consumers only: with the five rows-only ones
    # (graph_pagerank, graph_ppr, graph_betweenness_sampled, graph_hits,
    # dedup_semdedup) the list would overrun half the window.
    "graph_wcc",
    "graph_wcc_incremental",
    "graph_bfs",
    "graph_sssp",
    "graph_temporal_reachability",
    "graph_labelprop",
    "graph_kcore",
    "graph_closeness",
    "graph_assortativity",
    "graph_pagerank_exact",
    "graph_ppr_exact",
    "graph_hits_exact",
    "graph_ktruss",
    "graph_louvain",
    "graph_louvain_weighted",
    "graph_louvain_two_level",
    "graph_louvain_hierarchy",
    "dedup_cluster_canonical",
    "dedup_resolve_entities",
    "dedup_resolve_entities_append",
    "curate_corpus",
    "prepare_training_data",
    "text_contrastive_pairs",
    "curate_images",
    "sample_split_leakage_safe",
)


def _ordered_specs() -> list[QuerySpec]:
    """Emission order for the driver's budget-capped correctness run
    (~50 slots per round; it walks ``queries()`` in dict order).

    Rounds 1-2 spent 41 of round 2's 50 slots re-verifying keys already
    green in round 1 (VERDICT r2 finding #1). One sort key spends the
    window where it buys the most verification:

    1. ``_RECENTLY_CHANGED`` first: their code changed since their last
       driver row (VERDICT r7 #7), so that row no longer vouches for
       them.
    2. Then by the round of the latest trusted row (``_trusted_rounds``),
       oldest first. Keys with NO trusted row read round 0, so new keys
       and never-green oracled keys, Pregel fixpoints included, land
       ahead of every re-verification slot. With every key checked, the
       rest of the window is a rolling re-validation of the stalest
       records (VERDICT r6 #2, r9 #8).
    3. ``_SLOW`` keys last within a tie; the sort is stable, so
       registration order breaks the remaining ties.

    Structural staleness floor: with the registry frozen at 322 keys
    and ~50 driver slots per round, a full rotation takes
    ceil(322/50) = 7 rounds — so in steady state the OLDEST driver
    row is unavoidably ~6-7 rounds old however the window is ordered.
    The per-round hedge against that floor is the full-registry local
    sweep (CORRECTNESS_LOCAL_rN.json, all 322 keys at HEAD every
    round); the driver rows are the independent audit trail that
    rotates through at the 7-round cadence.
    """
    rounds = _trusted_rounds()
    return sorted(
        REGISTRY.values(),
        key=lambda spec: (
            spec.name not in _RECENTLY_CHANGED,
            rounds.get(spec.name, 0),
            spec.name in _SLOW,
        ),
    )


def queries() -> dict[str, QueryFn]:
    _load_all_operators()
    return {spec.name: spec.fn for spec in _ordered_specs()}


def oracle_sql() -> dict[str, str]:
    _load_all_operators()
    return {
        spec.name: spec.oracle for spec in _ordered_specs() if spec.oracle is not None
    }

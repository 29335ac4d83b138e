"""Failure-path hygiene of the iterative graph loops.

Every loop runs inside one ``LoopScope``: it pins AQE off and
``spark.sql.shuffle.partitions``, registers loop-scoped caches, and
must leave the session exactly as it found it — on the normal path AND
when a superstep raises. Each consumer runs twice: once normally, once
with ``DataFrame.localCheckpoint`` (called by every superstep) raising
on its k-th call, k past the middle of the normal run's calls so every
loop cache is registered by then. After each run the conf and the
CacheManager's entry count must equal their values before the call.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ezbake_graph_spark import tables
from ezbake_graph_spark.graph import pregel
from ezbake_graph_spark.operators import graph as ops
from tests.conftest import SF_SMOKE


class _Injected(RuntimeError):
    pass


def _verts(spark):
    return spark.range(10).select("id")


def _edges(spark):
    ring = [(i, (i + 1) % 8) for i in range(8)]
    return spark.createDataFrame(ring + [(0, 4), (2, 6)], "src long, dst long")


def _weighted(spark):
    return _edges(spark).select("src", "dst", (F.col("src") % 3 + 1).alias("w"))


def _contacts(spark):
    return _edges(spark).select("src", "dst", (F.col("src") + F.col("dst")).alias("t"))


def _pregel_wcc(spark):
    verts = _verts(spark).select("id", F.col("id").alias("component"))
    return pregel.pregel_run(
        verts,
        _edges(spark),
        message=F.col("component"),
        merge=F.min,
        update={
            "component": F.least(
                F.col("component"), F.coalesce(F.col("msg"), F.col("component"))
            )
        },
        check_cols=["component"],
    )


def _louvain(spark):
    e = _edges(spark)
    sym = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return ops.louvain_local_moves(sym)


CONSUMERS = {
    "connected_components": lambda s: pregel.connected_components(_verts(s), _edges(s)),
    "bfs": lambda s: pregel.bfs(_verts(s), _edges(s), [0]),
    "pagerank": lambda s: pregel.pagerank(_verts(s), _edges(s), iterations=4),
    "core_number": lambda s: pregel.core_number(_edges(s)),
    "label_propagation": lambda s: pregel.label_propagation(_verts(s), _edges(s)),
    "personalized_pagerank": lambda s: pregel.personalized_pagerank(
        _verts(s), _edges(s), [0], iterations=4
    ),
    "pregel_run": _pregel_wcc,
    "betweenness_sampled": lambda s: pregel.betweenness_sampled(
        _verts(s), _edges(s), [0, 3]
    ),
    "hits": lambda s: pregel.hits(_edges(s), iterations=3),
    "shortest_paths_weighted": lambda s: pregel.shortest_paths_weighted(
        _verts(s), _weighted(s), [0]
    ),
    "temporal_earliest_arrival": lambda s: pregel.temporal_earliest_arrival(
        _verts(s), _contacts(s), [0], n_rounds=4
    ),
    "louvain_local_moves": _louvain,
    "graph_pagerank_exact": lambda s: ops.graph_pagerank_exact(s, SF_SMOKE),
    "graph_ppr_exact": lambda s: ops.graph_ppr_exact(s, SF_SMOKE),
    "graph_hits_exact": lambda s: ops.graph_hits_exact(s, SF_SMOKE),
    "graph_ktruss": lambda s: ops.graph_ktruss(s, SF_SMOKE),
}


def _session_state(spark):
    return (
        spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"),
        spark._jsparkSession.sharedState().cacheManager().numCachedEntries(),
    )


@pytest.mark.parametrize("name", sorted(CONSUMERS))
def test_loop_leaves_session_as_found(spark, monkeypatch, name):
    run = CONSUMERS[name]
    for t in ("lineitem", "events"):
        tables.load(spark, SF_SMOKE, t)  # session-lifetime input caches
    df_cls = type(spark.range(1))
    real = df_cls.localCheckpoint
    calls = {"n": 0, "fail_at": None}

    def checkpoint(self, *args, **kwargs):
        calls["n"] += 1
        if calls["n"] == calls["fail_at"]:
            raise _Injected(f"superstep failure at checkpoint {calls['n']}")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(df_cls, "localCheckpoint", checkpoint)

    before = _session_state(spark)
    run(spark).collect()
    assert _session_state(spark) == before, "normal path"
    n_checkpoints = calls["n"]
    assert n_checkpoints >= 3, n_checkpoints

    calls.update(n=0, fail_at=n_checkpoints // 2 + 1)
    with pytest.raises(_Injected):
        run(spark).collect()
    assert _session_state(spark) == before, "exception path"

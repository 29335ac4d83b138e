from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ezbake_graph_spark.session import get_session
from ezbake_graph_spark.tables import TABLES

SF_SMOKE = "/root/testdata/sf0.001"


def _machine_heap() -> str:
    """The session's 24g heap, capped at half the machine's RAM: the
    JVM grows its heap lazily toward the cap, so on a 16 GB machine a
    24g cap let the one test JVM reach 10.5-14.8 GB RSS and be killed."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{min(24 * 1024, kb // 2 // 1024)}m"


@pytest.fixture(scope="session")
def spark():
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = _machine_heap()
    return get_session("ezgs-tests")


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    con.execute("SET threads TO 8")
    for t in TABLES:
        path = os.path.join(SF_SMOKE, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def assert_query_matches_oracle(spark, duck, key: str, sf_dir: str = SF_SMOKE):
    """Shared check: Spark result == DuckDB oracle (driver semantics)."""
    from ezbake_graph_spark import registry
    from tools.verify_local import canon_rows, value_hash

    qs = registry.queries()
    oracles = registry.oracle_sql()
    df = qs[key](spark, sf_dir)
    scols, srows = list(df.columns), [tuple(r) for r in df.collect()]
    if key not in oracles:
        return srows  # rows-only op: caller asserts on content
    # Driver-canonicalizer contract: the driver sorts a pandas frame of
    # the result before hashing, and list/dict cells raise
    # `TypeError: unhashable type` there (CORRECTNESS_r03:
    # embed_quantize/embed_l2_normalize). Oracled outputs must
    # stringify nested values (agg_collect's array_join convention).
    nested = [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.dataType.simpleString().startswith(("array<", "map<", "struct<"))
    ]
    assert not nested, (
        f"{key}: array/map/struct output cols break the driver "
        f"canonicalizer — serialize them (array_join/to_json): {nested}"
    )
    cur = duck.execute(oracles[key])
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    sc, ss = canon_rows(scols, srows)
    dc, ds = canon_rows(dcols, drows)
    assert len(srows) == len(drows), f"{key}: rowcount {len(srows)} != {len(drows)}"
    assert sc == dc, f"{key}: schema {sc} != {dc}"
    assert value_hash(ss) == value_hash(ds), f"{key}: value hash mismatch"
    return srows

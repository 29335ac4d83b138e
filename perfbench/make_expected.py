"""Writes ``perfbench/expected.json``: the row count and digest of every
benchmark op's output on the benchmark's inputs, as the worker computes
them. Each op that has a DuckDB oracle in the registry is cross-checked
against it first; the script fails, writing nothing, on a mismatch.

    python3 perfbench/make_expected.py

Run from the repository root at a commit whose outputs are trusted,
and again whenever ``SCALE``, ``DATA_SEED`` or the generator change.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from workloads import DATA_SEED, SCALE, WORKLOADS  # noqa: E402


def main() -> int:
    root = os.getcwd()
    data = datagen.ensure_dataset(os.path.join(HERE, ".data"), SCALE, DATA_SEED)
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="expected-", dir=os.path.join(HERE, ".work"))
    try:
        os.environ.update(run.pinned_env(root, work))
        sys.path.insert(0, root)
        return _make(data, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _make(data: str, work: str) -> int:
    import duckdb

    import worker
    from ezbake_graph_spark import registry, session, tables

    worker.private_checkpoints(os.path.join(work, "checkpoints"))
    spark = session.get_session("perfbench-expected")
    fns, oracles = registry.queries(), registry.oracle_sql()
    con = duckdb.connect()
    for t in tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")

    ops, oracle, bad = {}, {}, []
    for wl in WORKLOADS.values():
        for key in wl.ops:
            out = worker.produce(fns[key](spark, data), wl.output, os.path.join(work, key))
            ops[key] = worker.output_digest(out)
            if key not in oracles:
                oracle[key] = "no oracle"
            else:
                df = fns[key](spark, data)
                got = stats.digest(df.columns, [tuple(r) for r in df.collect()])
                rel = con.sql(oracles[key])
                want = stats.digest(rel.columns, rel.fetchall())
                oracle[key] = "match" if got == want else f"spark {got} != duckdb {want}"
                if got != want:
                    bad.append(key)
            print(f"{key:<32} {ops[key]}  oracle: {oracle[key]}", flush=True)
    spark.stop()
    if bad:
        print(f"oracle mismatch: {', '.join(bad)}; expected.json not written", file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump({"scale": SCALE, "data_seed": DATA_SEED, "datagen_version": datagen.VERSION,
                   "ops": ops, "oracle": oracle}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

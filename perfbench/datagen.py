"""Deterministic input tables for the benchmark.

Writes the ten parquet tables the registry's query functions read
(``tables.TABLES``), with the fixture schema: a TPC-H-like star
(region, nation, supplier, part, customer, orders, lineitem), an
``events`` stream table, and the LLM-pipeline ``documents`` and
``embeddings`` tables. Value domains follow the repository's fixtures
(region names, ``Customer#000000001`` names, the 31-word document
vocabulary, ``{"k": n}`` event props, unit-norm 64-d embeddings), so
every filter in the registry's queries selects rows.

Sizes scale like TPC-H: ``scale=0.01`` gives 1,500 customers and
60,000 lineitems. Documents are four times the fixtures' ratio (2,000
at that scale), so that MinHash dedup, whose pair count grows with the
square of the corpus, stays bound by compute at small scales. Each table draws from its own
child of one ``SeedSequence``, so the same ``(scale, seed)`` always
writes the same rows. Every table is one parquet row group, as in
the fixtures (``tables._fact_partitions`` sizes partitions from the
file size).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated rows change, so cached data is rebuilt.
VERSION = 2

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def table_sizes(scale: float) -> dict[str, int]:
    """Row counts per table at ``scale`` (TPC-H ratios)."""
    n = lambda base, floor: max(floor, int(round(base * scale)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "supplier": n(10_000, 10),
        "part": n(200_000, 50),
        "customer": n(150_000, 50),
        "orders": n(1_500_000, 200),
        "lineitem": 4 * n(1_500_000, 200),
        "events": n(1_000_000, 500),
        "documents": n(200_000, 50),
        "embeddings": n(50_000, 50),
        "users": n(15_000, 10),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _pick(rng: np.random.Generator, values: list[str], size: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), size)])


def _keys(size: int) -> pa.Array:
    return pa.array(np.arange(size, dtype=np.int64))


def _named(prefix: str, size: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(size)])


def _days(rng: np.random.Generator, start: np.datetime64, span: int, size: int) -> pa.Array:
    us = start.astype(np.int64) + rng.integers(0, span, size) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def build_tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, fully determined by the arguments."""
    sz = table_sizes(scale)
    names = ["region", "nation", "supplier", "part", "customer", "orders",
             "lineitem", "events", "documents", "embeddings"]
    rngs = dict(zip(names, (np.random.default_rng(s)
                            for s in np.random.SeedSequence(seed).spawn(len(names)))))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })

    n, r = sz["supplier"], rngs["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": _keys(n),
        "s_name": _named("Supplier", n),
        "s_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n)),
    })

    n, r = sz["part"], rngs["part"]
    adj = np.asarray(_PART_ADJ, dtype=object)[r.integers(0, 8, n)]
    noun = np.asarray(_PART_NOUN, dtype=object)[r.integers(0, 8, n)]
    out["part"] = pa.table({
        "p_partkey": _keys(n),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n)]),
        "p_type": _pick(r, _PART_TYPES, n),
        "p_size": pa.array(r.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)),
    })

    n, r = sz["customer"], rngs["customer"]
    out["customer"] = pa.table({
        "c_custkey": _keys(n),
        "c_name": _named("Customer", n),
        "c_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(r, _SEGMENTS, n),
    })

    n, r = sz["orders"], rngs["orders"]
    out["orders"] = pa.table({
        "o_orderkey": _keys(n),
        "o_custkey": pa.array(r.integers(0, sz["customer"], n)),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(r, 1000.0, 500_000.0, n)),
        "o_orderdate": _days(r, _EPOCH_1995, 2405, n),
        "o_orderpriority": _pick(r, _PRIORITIES, n),
    })

    n, r = sz["lineitem"], rngs["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, sz["orders"], n)),
        "l_partkey": pa.array(r.integers(0, sz["part"], n)),
        "l_suppkey": pa.array(r.integers(0, sz["supplier"], n)),
        "l_linenumber": pa.array(r.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105_000.0, n)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(r, ["A", "N", "R"], n),
        "l_linestatus": _pick(r, ["F", "O"], n),
        "l_shipdate": _days(r, _EPOCH_1995 + np.timedelta64(1, "D"), 2499, n),
    })

    n, r = sz["events"], rngs["events"]
    ts = np.sort(r.integers(0, 30 * _DAY_US, n)) + _EPOCH_2024.astype(np.int64)
    out["events"] = pa.table({
        "event_id": _keys(n),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, sz["users"], n)),
        "event_type": _pick(r, _EVENT_TYPES, n),
        "value": pa.array(np.maximum(0.01, np.round(r.exponential(50.0, n), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })

    n, r = sz["documents"], rngs["documents"]
    vocab = np.asarray(_VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and r.random() < 0.05:
            # near-duplicate of an earlier document, as a crawl would hold
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[r.integers(0, len(vocab), int(r.integers(10, 100)))]))
    out["documents"] = pa.table({
        "doc_id": _keys(n),
        "text": pa.array(texts),
        "lang": _pick(r, _LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    n, r = sz["embeddings"], rngs["embeddings"]
    centers = r.normal(0.0, 1.0, (10, 64))
    label = r.integers(0, 10, n)
    vec = centers[label] + r.normal(0.0, 1.5, (n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": _keys(n),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    return out


def ensure_dataset(root: str, scale: float, seed: int) -> str:
    """Return the directory holding the tables for ``(scale, seed)``,
    generating it on first use. The directory appears atomically (a
    rename), so an interrupted run never leaves a partial dataset."""
    path = os.path.join(root, f"v{VERSION}-scale{scale:g}-seed{seed}")
    if os.path.isdir(path):
        return path
    os.makedirs(root, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(scale, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    try:
        os.rename(tmp, path)
    except OSError:
        # another run renamed its identical copy first
        shutil.rmtree(tmp, ignore_errors=True)
    return path

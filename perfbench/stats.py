"""Pure helpers of the benchmark: percentiles, output digests and
Spark stage accounting. Nothing here imports Spark, so the tests in
``perfbench/tests`` run without a session."""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
import statistics
from collections.abc import Iterable, Sequence
from dataclasses import dataclass

# A percentile is reported only when at least this many samples lie
# above it; otherwise too few samples back it.
MIN_SAMPLES_ABOVE = 10


def p90(samples: Sequence[float]) -> float | None:
    """The 90th percentile of ``samples``, or None when fewer than
    ``MIN_SAMPLES_ABOVE`` samples lie above it."""
    if len(samples) < 2:
        return None
    q = statistics.quantiles(samples, n=10)[-1]
    above = sum(1 for s in samples if s > q)
    return q if above >= MIN_SAMPLES_ABOVE else None


def sum_of_op_medians(passes: Sequence[Sequence[dict]], field: str) -> float:
    """One pass's total of ``field``, built from each op's median over
    all its calls in ``passes`` (lists of per-call records with an
    ``op`` key). A pass calls every op once."""
    by_op: dict[str, list[float]] = {}
    for ops in passes:
        for rec in ops:
            if field in rec:
                by_op.setdefault(rec["op"], []).append(rec[field])
    return sum(statistics.median(v) for v in by_op.values())


def canon_cell(v) -> str:
    """One cell as text, equal for equal values whichever client
    fetched them (Python, NumPy or pandas types)."""
    if v is None:
        return "\\N"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        # NumPy scalars and arrays: to plain Python values
        return canon_cell(v.tolist())
    if isinstance(v, float):
        if math.isnan(v):
            return "\\N"  # pandas turns SQL NULL into NaN
        return repr(v + 0.0)  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    try:
        if v != v:  # pandas NaT / NA
            return "\\N"
    except (TypeError, ValueError):
        pass
    return str(v)


def digest(columns: Sequence[str], rows: Iterable[Sequence]) -> dict:
    """Row count and an order-insensitive digest of a result: columns
    are taken in name order and rows sorted, so any row order gives the
    same digest while any changed value gives another."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x01".join(canon_cell(row[i]) for i in order) for row in rows)
    h = hashlib.sha256("\x01".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x00")
        h.update(line.encode("utf-8", "replace"))
    return {"rows": len(lines), "digest": h.hexdigest()[:16]}


@dataclass(frozen=True)
class StageRecord:
    """One attempt of one Spark stage, from the status store."""

    stage_id: int
    attempt: int
    status: str
    tasks: int
    cpu_ns: int
    run_ms: int
    gc_ms: int
    shuffle_write_bytes: int
    input_bytes: int


def core_idle_frac(run_s: float, wall_s: float, cores: int) -> float:
    """Share of an interval's core-seconds (``wall_s`` x ``cores``) in
    which no task ran, given the tasks' total run time ``run_s``."""
    return 1.0 - run_s / (wall_s * cores) if wall_s > 0 else 0.0


def aggregate_stages(stages: Iterable[StageRecord], jobs: int, wall_s: float, cores: int) -> dict:
    """Totals over the stage attempts of one timed interval.

    Skipped stages (output reused from an earlier job) ran no tasks and
    are not counted."""
    ran = [s for s in stages if s.status != "SKIPPED"]
    run_s = sum(s.run_ms for s in ran) / 1e3
    return {
        "spark.jobs": jobs,
        "spark.stages": len({s.stage_id for s in ran}),
        "spark.tasks": sum(s.tasks for s in ran),
        "spark.task_cpu_s": sum(s.cpu_ns for s in ran) / 1e9,
        "spark.executor_run_s": run_s,
        "spark.core_idle_frac": core_idle_frac(run_s, wall_s, cores),
        "spark.gc_s": sum(s.gc_ms for s in ran) / 1e3,
        "spark.shuffle_write_mb": sum(s.shuffle_write_bytes for s in ran) / 2**20,
        "tables.input_mb": sum(s.input_bytes for s in ran) / 2**20,
    }

"""Tests of the benchmark's own logic on synthetic inputs; no Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
from stats import StageRecord  # noqa: E402


# --- p90 rule -------------------------------------------------------------

def test_p90_withheld_below_ten_samples_above():
    # 99 samples: 9 lie above the 90th percentile
    assert stats.p90([float(i) for i in range(99)]) is None


def test_p90_reported_with_ten_samples_above():
    samples = [float(i) for i in range(100)]
    q = stats.p90(samples)
    assert q is not None
    assert sum(1 for s in samples if s > q) >= stats.MIN_SAMPLES_ABOVE


def test_p90_ignores_order():
    samples = [float(i) for i in range(200)]
    shuffled = samples[:]
    random.Random(1).shuffle(shuffled)
    assert stats.p90(samples) == stats.p90(shuffled)


def test_p90_too_few_samples():
    assert stats.p90([]) is None
    assert stats.p90([1.0]) is None


# --- digest ---------------------------------------------------------------

ROWS = [
    (1, "a", 0.5, None, dt.date(2024, 1, 2)),
    (2, "b", 1.25, [1, 2], dt.date(2024, 1, 3)),
    (3, "c", -0.0, [3], dt.date(2024, 1, 4)),
]
COLS = ["id", "name", "x", "arr", "day"]


def test_digest_ignores_row_order():
    rows = ROWS[:]
    random.Random(7).shuffle(rows)
    assert stats.digest(COLS, rows) == stats.digest(COLS, ROWS)
    assert stats.digest(COLS, reversed(ROWS)) == stats.digest(COLS, ROWS)


def test_digest_ignores_column_order():
    perm = [4, 2, 0, 3, 1]
    cols = [COLS[i] for i in perm]
    rows = [tuple(r[i] for i in perm) for r in ROWS]
    assert stats.digest(cols, rows) == stats.digest(COLS, ROWS)


@pytest.mark.parametrize("row,col,value", [
    (0, 0, 9),
    (1, 1, "B"),
    (1, 2, 1.2500000001),
    (0, 3, []),
    (2, 3, [3, 3]),
    (2, 4, dt.date(2024, 1, 5)),
])
def test_digest_changes_when_one_value_changes(row, col, value):
    rows = [list(r) for r in ROWS]
    rows[row][col] = value
    changed = stats.digest(COLS, [tuple(r) for r in rows])
    assert changed["rows"] == 3
    assert changed["digest"] != stats.digest(COLS, ROWS)["digest"]


def test_digest_counts_duplicate_rows():
    one = stats.digest(COLS, ROWS)
    two = stats.digest(COLS, ROWS + ROWS[:1])
    assert two["rows"] == 4
    assert two["digest"] != one["digest"]


def test_digest_same_for_numpy_and_python_values():
    np = pytest.importorskip("numpy")
    rows_np = [(np.int64(r[0]), r[1], np.float64(r[2]), None if r[3] is None
                else np.array(r[3]), r[4]) for r in ROWS]
    assert stats.digest(COLS, rows_np) == stats.digest(COLS, ROWS)


def test_digest_nan_equals_null():
    # pandas fetches a SQL NULL double as NaN
    assert (stats.digest(["x"], [(float("nan"),)])
            == stats.digest(["x"], [(None,)]))


# --- stage accounting -----------------------------------------------------

def _stage(sid, status="COMPLETE", tasks=4, cpu_ns=0, run_ms=0, gc_ms=0,
           shuffle=0, inp=0, attempt=0):
    return StageRecord(stage_id=sid, attempt=attempt, status=status, tasks=tasks,
                       cpu_ns=cpu_ns, run_ms=run_ms, gc_ms=gc_ms,
                       shuffle_write_bytes=shuffle, input_bytes=inp)


def test_aggregate_sums_cpu_over_stages_and_skips_skipped():
    stages = [
        _stage(1, cpu_ns=1_500_000_000, run_ms=2000, gc_ms=100, shuffle=2**20, inp=2**21),
        _stage(2, cpu_ns=500_000_000, run_ms=1000, gc_ms=50, tasks=8),
        # reused from an earlier job: ran nothing, counts nothing
        _stage(3, status="SKIPPED", cpu_ns=9_000_000_000, run_ms=9000, tasks=100),
    ]
    got = stats.aggregate_stages(stages, jobs=2, wall_s=1.0, cores=4)
    assert got["spark.jobs"] == 2
    assert got["spark.stages"] == 2
    assert got["spark.tasks"] == 12
    assert got["spark.task_cpu_s"] == pytest.approx(2.0)
    assert got["spark.executor_run_s"] == pytest.approx(3.0)
    assert got["spark.gc_s"] == pytest.approx(0.15)
    assert got["spark.shuffle_write_mb"] == pytest.approx(1.0)
    assert got["tables.input_mb"] == pytest.approx(2.0)
    # 3 task-seconds of 4 core-seconds: a quarter idle
    assert got["spark.core_idle_frac"] == pytest.approx(0.25)


def test_aggregate_counts_a_retried_stage_once_but_all_its_work():
    stages = [_stage(5, status="FAILED", cpu_ns=10**9, run_ms=1000, tasks=4),
              _stage(5, attempt=1, cpu_ns=10**9, run_ms=1000, tasks=4)]
    got = stats.aggregate_stages(stages, jobs=1, wall_s=2.0, cores=2)
    assert got["spark.stages"] == 1
    assert got["spark.tasks"] == 8
    assert got["spark.task_cpu_s"] == pytest.approx(2.0)
    assert got["spark.core_idle_frac"] == pytest.approx(0.5)


def test_core_idle_frac_bounds():
    assert stats.core_idle_frac(0.0, 2.0, 4) == 1.0
    assert stats.core_idle_frac(8.0, 2.0, 4) == 0.0
    assert stats.core_idle_frac(1.0, 0.0, 4) == 0.0


def test_sum_of_op_medians_per_pass():
    passes = [
        [{"op": "a", "t": 1.0}, {"op": "b", "t": 10.0}],
        [{"op": "a", "t": 3.0}, {"op": "b", "t": 30.0}],
        [{"op": "a", "t": 2.0}, {"op": "b", "t": 20.0}, {"op": "c"}],
    ]
    assert stats.sum_of_op_medians(passes, "t") == pytest.approx(22.0)

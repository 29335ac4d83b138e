"""Runs one workload in a fresh process and writes its measurements
as JSON. Started by ``perfbench/run.py``, which pins the environment
(cores, driver memory, private Spark directories) before this process
imports the program; run it through ``run.py``, not directly.

Timeline of one run:

1. set-up: import the package and its registry, start the session,
   load and materialize the workload's input tables, and run one cold
   pass. ``setup_s`` runs from the moment ``run.py`` spawned this
   process until the cold pass ends.
2. warm passes, as many as fill ``--seconds`` at the workload's nominal
   pass length. Each op call runs under its own Spark job group, so its
   jobs, stages and executor CPU are read back from Spark's status
   store after the pass. ``pass_s``
   and ``task_cpu_s`` add up, over one pass's op calls, each op's
   median across the warm passes: a burst of contention on a shared
   machine moves one sample, not the result. ``query_p50_s`` is the
   median wall time of one op call (build plus fetch) over the warm
   passes.
3. with ``--trace 1``, two traced passes between two untraced ones. A traced
   pass records a span per layer around each call (``client.build``,
   ``client.fetch`` or ``client.sink``) and reads the status store
   right after each op; the difference in median pass wall time is
   the tracing overhead.

Every op's output is checked against ``expected.json`` (row count and
order-insensitive digest), outside the timed region.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
from workloads import END_TO_END, PER_LAYER, SPARK_FIELDS, WORKLOADS  # noqa: E402


class Tracer:
    """Spans kept in memory and written out once, at the end."""

    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def open(self, name: str, op: str | None = None) -> int:
        self.spans.append({
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload, "op": op,
        })
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int, **counts) -> float:
        span = self.spans[idx]
        span["end"] = time.perf_counter()
        span.update(counts)
        self._stack.remove(idx)
        return span["end"] - span["start"]


@contextlib.contextmanager
def _span(tracer: Tracer | None, name: str, op: str):
    """A span around the block when tracing, nothing otherwise."""
    if tracer is None:
        yield
        return
    idx = tracer.open(name, op)
    try:
        yield
    finally:
        tracer.close(idx)


class StatusStore:
    """Reads per-job-group stage metrics from Spark's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = self.sc.statusTracker()
        self._no_filter = spark._jvm.java.util.ArrayList()

    def group(self, group_id: str) -> tuple[int, list[stats.StageRecord]]:
        # the status listener runs on its own thread: let it catch up
        self._jsc.listenerBus().waitUntilEmpty()
        job_ids = self._tracker.getJobIdsForGroup(group_id)
        stage_ids: set[int] = set()
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = []
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(sid, False, self._no_filter, False, None)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                out.append(stats.StageRecord(
                    stage_id=sd.stageId(), attempt=sd.attemptId(),
                    status=sd.status().toString(), tasks=sd.numTasks(),
                    cpu_ns=sd.executorCpuTime(), run_ms=sd.executorRunTime(),
                    gc_ms=sd.jvmGcTime(), shuffle_write_bytes=sd.shuffleWriteBytes(),
                    input_bytes=sd.inputBytes(),
                ))
        return len(job_ids), out


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def produce(df, output: str, path: str):
    """The timed fetch: the result as a pandas frame, or, for a sink
    workload, written as parquet to ``path`` (whose name is returned)."""
    if output == "sink":
        df.write.mode("overwrite").parquet(path)
        return path
    return df.toPandas()


def output_digest(out) -> dict:
    """Row count and digest of what ``produce`` returned."""
    if isinstance(out, str):
        import pyarrow.parquet as pq

        table = pq.read_table(out)
        return stats.digest(table.column_names, zip(*(c.to_pylist() for c in table.columns)))
    return stats.digest(list(out.columns), out.itertuples(index=False, name=None))


def private_checkpoints(path: str) -> None:
    """Send every ``setCheckpointDir`` call of this process, including
    the one inside ``session.get_session``, to ``path``, so a run keeps
    its reliable checkpoints in its own directory."""
    from pyspark import SparkContext

    original = SparkContext.setCheckpointDir
    SparkContext.setCheckpointDir = lambda self, _dir: original(self, path)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


IDLE_GROUP = "perfbench-idle"


class Runner:
    def __init__(self, args, spark, fns, expected, tracer, store):
        self.wl = WORKLOADS[args.workload]
        self.args = args
        self.spark = spark
        self.fns = fns
        self.expected = expected
        self.tracer = tracer
        self.store = store
        self.cores = spark.sparkContext.defaultParallelism
        self.rng = random.Random(args.seed)
        self.sink_root = os.path.join(args.work, "sink")
        self.attempted = 0
        self.failures: list[str] = []
        self.npass = 0

    def call(self, key: str, traced: bool) -> dict:
        """One op under its own job group: build the query, fetch or
        write its result, then check it. Build and fetch are timed; the
        check is not. A traced call records a span per layer and reads
        its Spark metrics before returning."""
        self.attempted += 1
        group = f"perfbench-{self.npass}-{self.attempted}"
        rec = {"op": key, "module": self.fns[key].__module__.rsplit(".", 1)[-1], "group": group}
        tracer = self.tracer if traced else None
        span = tracer.open("op", key) if tracer else None
        sc = self.spark.sparkContext
        path = os.path.join(self.sink_root, key)
        sc.setJobGroup(group, key)
        try:
            t0 = time.perf_counter()
            with _span(tracer, "client.build", key):
                df = self.fns[key](self.spark, self.args.data)
            t1 = time.perf_counter()
            with _span(tracer, "client." + self.wl.output, key):
                out = produce(df, self.wl.output, path)
            t2 = time.perf_counter()
        except Exception:
            self.failures.append(f"{key}: {traceback.format_exc(limit=3).strip()}")
            if span is not None:
                tracer.close(span)
            return rec
        finally:
            sc.setJobGroup(IDLE_GROUP, "idle")
        rec.update(build_s=t1 - t0, fetch_s=t2 - t1, wall_s=t2 - t0)
        if traced:
            self.account(rec)
            tracer.close(span, **{k: rec[k] for k, _ in SPARK_FIELDS})
        if self.wl.output == "sink":
            rec["sink_mb"] = _dir_bytes(path) / 2**20
        got = output_digest(out)
        want = self.expected.get(key)
        if got != want:
            self.failures.append(f"{key}: output {got} != expected {want}")
        rec["check_s"] = time.perf_counter() - t2
        return rec

    def account(self, rec: dict) -> None:
        """Add the Spark metrics of the op's job group to ``rec``."""
        jobs, stages = self.store.group(rec["group"])
        rec.update(stats.aggregate_stages(stages, jobs, rec["wall_s"], self.cores))

    def jvm_gc_s(self) -> float:
        """Collection time so far of every garbage collector in the JVM,
        the driver's and the tasks' alike."""
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def run_pass(self, traced: bool, cold: bool = False) -> dict:
        """One pass: every op once, in an order drawn from the seed, or,
        for the cold pass, in the workload's own order, so the JIT warms
        the same way on every seed."""
        self.npass += 1
        keys = list(self.wl.ops)
        if not cold:
            self.rng.shuffle(keys)
        span = self.tracer.open("pass") if traced else None
        gc0 = self.jvm_gc_s()
        t0 = time.perf_counter()
        ops = [self.call(k, traced) for k in keys]
        # the output checks are the benchmark's work, not the program's
        wall = time.perf_counter() - t0 - sum(r.get("check_s", 0.0) for r in ops)
        gc = self.jvm_gc_s() - gc0
        if span is not None:
            self.tracer.close(span, **{"jvm.gc_s": gc})
        for rec in ops:
            if "wall_s" in rec and "spark.jobs" not in rec:
                self.account(rec)
        return {"traced": traced, "wall_s": wall, "ops": ops, "jvm.gc_s": gc,
                "task_cpu_s": sum(r.get("spark.task_cpu_s", 0.0) for r in ops),
                "jobs": sum(r.get("spark.jobs", 0) for r in ops)}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    with open(args.expected) as f:
        expected = json.load(f)["ops"]
    tracer = Tracer(wl.name)
    setup = {}

    s = tracer.open("registry.import")
    from ezbake_graph_spark import registry, session, tables

    fns = registry.queries()
    setup["registry.import_s"] = tracer.close(s)

    private_checkpoints(os.path.join(args.work, "checkpoints"))
    s = tracer.open("session.start")
    spark = session.get_session("perfbench")
    setup["session.start_s"] = tracer.close(s)
    store = StatusStore(spark)

    s = tracer.open("tables.cache_fill")
    for t in wl.tables:
        tables.load(spark, args.data, t).count()
    setup["tables.cache_fill_s"] = tracer.close(s)

    runner = Runner(args, spark, fns, expected, tracer, store)
    cold = runner.run_pass(traced=False, cold=True)
    setup["setup_s"] = time.monotonic() - args.spawned_at
    setup["cold_pass_s"] = cold["wall_s"]

    # Warm passes. Untraced: as many as fill --seconds at the workload's
    # nominal pass length, at least one; a count fixed in advance keeps
    # JIT warm-up, which speeds later passes, from making the count and
    # the result differ between runs. Traced: one untraced-traced-
    # traced-untraced block, so that warm-up favours neither kind.
    t_start = time.perf_counter()
    if args.trace:
        warm = [runner.run_pass(traced) for traced in (False, True, True, False)]
    else:
        warm = [runner.run_pass(False)
                for _ in range(max(1, round(args.seconds / wl.pass_s_nominal)))]
    measured_s = time.perf_counter() - t_start
    rss = jvm_peak_rss_mb(spark)
    spark.stop()
    shutil.rmtree(runner.sink_root, ignore_errors=True)

    untraced = [p for p in warm if not p["traced"]]
    latencies = [r["wall_s"] for p in untraced for r in p["ops"] if "wall_s" in r]
    e2e = {
        "setup_s": setup["setup_s"],
        "pass_s": _per_pass(untraced, "wall_s"),
        "task_cpu_s": _per_pass(untraced, "spark.task_cpu_s"),
        "jvm_peak_rss_mb": rss,
    }
    result = {
        "workload": wl.name,
        "seed": args.seed,
        "cores": runner.cores,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "failures": runner.failures,
        "measured_s": measured_s,
        "passes": [{k: p[k] for k in ("traced", "wall_s", "task_cpu_s", "jobs")} for p in warm],
        "setup": setup,
        "end_to_end": {k: e2e[k] for k, _ in END_TO_END},
        "query_p50_s": statistics.median(latencies),
        "query_p90_s": stats.p90(latencies),
        "query_samples": len(latencies),
    }
    if args.trace:
        traced = [p for p in warm if p["traced"]]
        result["per_layer"] = per_layer(setup, traced, untraced, runner.cores)
        result["ops"] = [r for p in traced for r in p["ops"]]
        result["spans"] = tracer.spans
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


def _per_pass(passes: list[dict], field: str, module: str | None = None) -> float:
    """One pass's total of ``field`` over the calls of ``module`` (all
    modules by default): each op's median over ``passes``, summed."""
    return stats.sum_of_op_medians(
        [[r for r in p["ops"] if module in (None, r["module"])] for p in passes], field)


def per_layer(setup: dict, traced: list[dict], untraced: list[dict], cores: int) -> dict:
    """Every ``PER_LAYER`` metric: the set-up layers as measured, the
    rest from the traced passes."""
    layer = {k: setup[k] for k in ("session.start_s", "registry.import_s", "tables.cache_fill_s")}
    layer["client.build_s"] = _per_pass(traced, "build_s")
    layer["client.fetch_s"] = _per_pass(traced, "fetch_s")
    for k, _ in SPARK_FIELDS:
        layer[k] = _per_pass(traced, k)
    layer["spark.core_idle_frac"] = stats.core_idle_frac(
        layer["spark.executor_run_s"], _per_pass(traced, "wall_s"), cores)
    for name, field in (("wall_s", "wall_s"), ("jobs", "spark.jobs"),
                        ("task_cpu_s", "spark.task_cpu_s")):
        layer[f"operators.graph.{name}"] = _per_pass(traced, field, "graph")
    layer["operators.graph.p50_s"] = statistics.median(
        [r["wall_s"] for p in traced for r in p["ops"] if r["module"] == "graph" and "wall_s" in r])
    layer["jvm.gc_s"] = statistics.median(p["jvm.gc_s"] for p in traced)
    layer["trace.overhead_s"] = (statistics.median([p["wall_s"] for p in traced])
                                 - statistics.median([p["wall_s"] for p in untraced]))
    return {k: layer[k] for k, _ in PER_LAYER}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

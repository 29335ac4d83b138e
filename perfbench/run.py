"""Benchmark entry point.

    python3 perfbench/run.py --workload graph-iterative --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the input tables once (cached
under ``perfbench/.data``), starts one fresh worker process for the
workload with a pinned environment, prints a readable report, and
prints as its last line one JSON object::

    {"correct": true, "attempted": 12, "failed": 0,
     "metrics": {"pass_s": {"value": 8.1, "unit": "s"}, ...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see ``workloads.py``). Exits non-zero without a result
line when the program is missing or the worker fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from workloads import (  # noqa: E402
    DATA_SEED, END_TO_END, PER_LAYER, SCALE, SPARK_FIELDS, WORKLOADS)

# A run must end within 180 s; leave room to report and clean up.
WORKER_TIMEOUT_S = 165
# Enough for every workload at SCALE and well below the RAM of a small
# host; the program's default (24g) exceeds many.
DRIVER_MEM = "2g"


def pinned_env(root: str, work: str) -> dict[str, str]:
    """The worker's environment: every core this process may use, a
    bounded driver heap, and Spark/JVM/Python scratch space private to
    this run and inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "PYSPARK_"))}
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_EXTRA_CONF": f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')};"
                                  f"spark.driver.extraJavaOptions=-Xms{DRIVER_MEM}",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # -XX:-UsePerfData: no hsperfdata files under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": root,
    })
    return env


def git_head(root: str) -> str:
    """HEAD commit read from ``.git`` without running git (which would
    search parent directories); "unknown" outside a git checkout."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        try:
            with open(os.path.join(git, ref)) as f:
                return f.read().strip()
        except FileNotFoundError:
            with open(os.path.join(git, "packed-refs")) as f:
                for line in f:
                    if line.rstrip().endswith(" " + ref):
                        return line.split()[0]
    except OSError:
        pass
    return "unknown"


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of this machine since boot, from
    ``/proc/stat``; (0, 0) where that file is missing. Time stolen by
    the hypervisor slows every metric, so the report shows its share."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return 0, 0
    return ticks[7], sum(ticks)


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker's whole process group (its JVM and Python
    workers too) and wait until every member has exited."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            proc.poll()
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def _fmt(v) -> str:
    return "-" if v is None else (f"{v:.4f}" if isinstance(v, float) else str(v))


def report(res: dict, env_info: dict, trace: bool) -> None:
    wl = WORKLOADS[res["workload"]]
    sizes = datagen.table_sizes(SCALE)
    print(f"workload {wl.name}: {wl.why}")
    print(f"  ops={','.join(wl.ops)} once per pass, {wl.loop} loop, "
          f"{wl.clients} client; input rows: "
          + ", ".join(f"{t}={sizes[t]}" for t in wl.tables))
    print("  moves: " + "; ".join(f"{k} -> {','.join(v)}" for k, v in wl.moves.items()))
    print("  " + ", ".join(f"{k}={v}" for k, v in env_info.items()))
    print(f"  cold pass {res['setup']['cold_pass_s']:.2f} s; warm passes over "
          f"{res['measured_s']:.1f} s (wall/task cpu/jobs" + (", * traced):" if trace else "):"))
    print("    " + "  ".join(f"{p['wall_s']:.2f}/{p['task_cpu_s']:.2f}/{p['jobs']}"
                             + ("*" if p["traced"] else "") for p in res["passes"]))
    n = res["query_samples"]
    rows = [(k, res["end_to_end"][k], u) for k, u in END_TO_END]
    rows.append(("failed_frac", res["failed"] / res["attempted"], "ratio"))
    rows.append(("query_p50_s", res["query_p50_s"], f"s (n={n})"))
    p90 = res["query_p90_s"]
    rows.append(("query_p90_s", p90, f"s (n={n})" if p90 is not None
                 else f"s (withheld: n={n}, fewer than 10 above)"))
    for k, v, u in rows:
        print(f"  {k:<18} {_fmt(v):>12} {u}")
    for msg in res["failures"]:
        print(f"  FAILED {msg}")
    if not trace:
        return
    print("  per-layer (per pass, medians over traced warm passes):")
    for k, u in PER_LAYER:
        print(f"  {k:<28} {_fmt(res['per_layer'][k]):>12} {u}")
    print(f"  tracing overhead: {res['per_layer']['trace.overhead_s']:+.4f} s per pass "
          f"(traced minus untraced pass wall time)")
    by_op: dict[str, list[dict]] = {}
    by_mod: dict[str, list[float]] = {}
    for r in res["ops"]:
        if "wall_s" in r:
            by_op.setdefault(f"operators.{r['module']}.{r['op']}", []).append(r)
            by_mod.setdefault(r["module"], []).append(r["wall_s"])
    cols = ("wall_s", "build_s", "fetch_s") + tuple(k for k, _ in SPARK_FIELDS) + (
        "spark.core_idle_frac",)
    if wl.output == "sink":
        cols += ("sink_mb",)
    print("  per-op medians: " + " ".join(
        "sink_s" if c == "fetch_s" and wl.output == "sink" else c for c in cols))
    for name in sorted(by_op):
        recs = by_op[name]
        vals = [_fmt(statistics.median(r[c] for r in recs)) for c in cols]
        print(f"  {name:<52} " + " ".join(vals))
    print("  per-module p50_s: " + ", ".join(
        f"operators.{m}={statistics.median(v):.4f}" for m, v in sorted(by_mod.items())))


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ezbake_graph_spark", "registry.py")):
        print("perfbench: run from the repository root; ezbake_graph_spark/ not found",
              file=sys.stderr)
        return 2
    expected_path = os.path.join(HERE, "expected.json")
    with open(expected_path) as f:
        meta = json.load(f)
    if (meta["scale"], meta["data_seed"], meta["datagen_version"]) != (
            SCALE, DATA_SEED, datagen.VERSION):
        print("perfbench: expected.json was made for other inputs; "
              "regenerate it with perfbench/make_expected.py", file=sys.stderr)
        return 2

    data = datagen.ensure_dataset(os.path.join(HERE, ".data"), SCALE, DATA_SEED)
    work_root = os.path.join(HERE, ".work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work_root)
    result_path = os.path.join(work, "result.json")
    log_path = os.path.join(work, "worker.log")
    env_info = {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_before": "/".join(f"{x:.2f}" for x in os.getloadavg()),
        "git_head": git_head(root)[:12],
        "seed": args.seed,
        "scale": SCALE,
    }
    ticks_before = cpu_ticks()
    try:
        env = pinned_env(root, work)
        cmd = [sys.executable, os.path.join(HERE, "worker.py"),
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--data", data, "--work", work, "--expected", expected_path,
               "--result", result_path]
        with open(log_path, "w") as log:
            spawned_at = time.monotonic()
            proc = subprocess.Popen(cmd + ["--spawned-at", repr(spawned_at)], cwd=root,
                                    env=env, stdin=subprocess.DEVNULL, stdout=log,
                                    stderr=subprocess.STDOUT, start_new_session=True)
            try:
                rc = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                _stop_group(proc)
        env_info["loadavg_after"] = "/".join(f"{x:.2f}" for x in os.getloadavg())
        stolen, total = (b - a for a, b in zip(ticks_before, cpu_ticks()))
        env_info["cpu_stolen"] = f"{stolen / total:.1%}" if total else "unknown"
        if rc != 0 or not os.path.exists(result_path):
            with open(log_path, errors="replace") as f:
                tail = f.read()[-4000:]
            why = "timed out" if rc is None else f"exited with {rc}"
            print(f"perfbench: worker {why}\n{tail}", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        out = os.path.join(HERE, ".out")
        os.makedirs(out, exist_ok=True)
        spans_path = os.path.join(out, f"spans-{args.workload}-seed{args.seed}.json")
        with open(spans_path, "w") as f:
            json.dump(res.pop("spans"), f)
        env_info["spans"] = os.path.relpath(spans_path, root)
    report(res, env_info, bool(args.trace))
    names = PER_LAYER if args.trace else END_TO_END
    values = res["per_layer"] if args.trace else res["end_to_end"]
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload corpus-dedup --seeds 1-10 --seconds 10

Runs ``run.py`` once per seed, one run after another, and prints for
each metric its median and the distance between its first and third
quartiles (``statistics.quantiles(values, n=4)``) as a share of the
median, next to the metric's bound from ``BENCHMARK.json``. Also
prints each run's wall time and the share of CPU time the hypervisor
stole during it. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=None)
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True)
        wall = time.monotonic() - t0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        shown = " ".join(f"{k}={m['value']:.3f}" for k, m in res["metrics"].items())
        stolen = re.search(r"cpu_stolen=([^,\s]+)", proc.stdout)
        print(f"seed {seed}: wall {wall:.1f} s stolen {stolen and stolen.group(1)} "
              f"correct={res['correct']} {shown}", flush=True)
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:<18} median {med:10.4f}  iqr/median {(q3 - q1) / med:.4f}  "
              f"bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

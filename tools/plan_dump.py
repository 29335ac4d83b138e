"""Dump full ``explain("formatted")`` output per bench/tier-2 key to
``plans/r<N>/<key>_<label>.txt`` — an optimization round's before/after
plan evidence (plan claims are checked against these files).

Usage:
    python tools/plan_dump.py --round N before [key ...]
    python tools/plan_dump.py --round N after  [key ...]

Default key set: every ``bench`` + ``bench2`` key. Plans are captured
at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1 — the driver's bench scale)
with the table cache disabled so the cluster-shaped scan appears, and
AFTER one execution so the AQE final plan is what ``explain`` prints.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ["SPARK_GRAFT_NO_CACHE"] = "1"

from ezbake_graph_spark import registry  # noqa: E402
from ezbake_graph_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans"
)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", type=int, required=True, help="optimization round N")
    ap.add_argument("label", nargs="?", default="before")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()
    out_dir = os.path.join(PLANS_DIR, f"r{args.round}")
    spark = get_session(f"plan-dump-r{args.round}")
    qs = registry.queries()
    keys = args.keys or sorted(
        k
        for k, s in registry.REGISTRY.items()
        if "bench" in s.tags or "bench2" in s.tags
    )
    os.makedirs(out_dir, exist_ok=True)
    for key in keys:
        df = qs[key](spark, SF_DIR)
        df.write.mode("overwrite").format("noop").save()  # AQE final plan
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{key}_{args.label}.txt")
        with open(path, "w") as f:
            f.write(f"# {key} @ {SF_DIR} ({args.label})\n\n")
            f.write(formatted)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()

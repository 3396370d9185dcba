"""Capture .explain("formatted") for a list of keys into
plans/r<N>/<key>_<tag>.txt — the before/after plan evidence an
optimization round commits (plan claims are checked against these).

Usage:
    python scripts/capture_plans.py --round 16 --tag before --only text_bpe_train,...
    python scripts/capture_plans.py --round 16 --tag after   # all headline keys
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--tag", required=True)
    ap.add_argument("--only", default=None)
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()

    from bench import HEADLINE
    from mercurygate_spark.queries import all_queries
    from mercurygate_spark.session import get_spark

    spark = get_spark(app_name=f"capture_plans_r{args.round}", cpus=args.cpus)
    queries = all_queries()
    names = [n for n in HEADLINE if n in queries]
    if args.only:
        pats = [p.strip() for p in args.only.split(",") if p.strip()]
        names = [n for n in names if any(n == p or n.startswith(p) for p in pats)]

    out_dir = os.path.join(REPO, "plans", f"r{args.round}")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = queries[name](spark, args.sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # capture the failure instead of dying
            plan = f"EXPLAIN FAILED: {exc}"
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"# wrote {path} ({len(plan)} chars)", file=sys.stderr)


if __name__ == "__main__":
    main()

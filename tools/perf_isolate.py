#!/usr/bin/env python
"""Isolated per-query timing + plan capture (VERDICT r6 item 1).

Usage:
    python tools/perf_isolate.py [--repo PATH] [--runs N] q1 q2 ...

Times each named query on an EXCLUSIVE box in a fresh session (same
session config as bench.py), best-of-N after one untimed warmup run,
and captures the formatted physical plan.  Prints one JSON object
{query: {"sec": best, "runs": [...], "plan_sha": ..., "plan": ...}}.
Run it against two checkouts (HEAD vs a prior round's worktree) to
separate plan regressions from environment drift.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time


def main() -> None:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=here)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans", action="store_true",
                    help="include full plan text, not just its hash")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    sys.path.insert(0, here)
    from bench import session  # this checkout's session, whatever --repo is

    sys.path.insert(0, args.repo)
    spark = session("perf-isolate")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark.range(10).write.format("noop").mode("overwrite").save()
    out = {}
    for name in args.queries:
        fn = qs[name]
        df = fn(spark, args.sf_dir)
        plan = df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")
        )
        # normalize: strip plan ids / locations that churn run-to-run
        import re

        norm = re.sub(r"#\d+", "#x", plan)
        norm = re.sub(r"\[id=#?\d+\]", "", norm)
        norm = re.sub(r"file:[^,\]\s]+", "file:_", norm)
        norm = re.sub(r"Statistics\([^)]*\)", "Statistics(_)", norm)
        runs = []
        # one untimed warmup (codegen compile), then timed runs
        for r in range(args.runs + 1):
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).write.format("noop").mode(
                "overwrite").save()
            el = round(time.perf_counter() - t0, 4)
            if r > 0:
                runs.append(el)
        rec = {
            "sec": min(runs),
            "runs": runs,
            "plan_sha": hashlib.sha256(norm.encode()).hexdigest()[:16],
        }
        if args.plans:
            rec["plan"] = norm
        out[name] = rec
        print(f"# {name}: {min(runs)} s {runs}", file=sys.stderr,
              flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

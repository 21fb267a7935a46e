#!/usr/bin/env python
"""Capture .explain('formatted') for named declared queries.

Usage: python tools/capture_plan.py OUTDIR SUFFIX q1 q2 ...
Writes OUTDIR/<query>_<SUFFIX>.txt.  No timing — safe to run on a
busy box.
"""

from __future__ import annotations

import os
import sys


def main() -> None:
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from bench import session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = session("capture-plan")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    os.makedirs(outdir, exist_ok=True)
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(
            f"unknown queries {unknown}; valid names: {sorted(qs)}"
        )
    import contextlib
    import io

    for n in names:
        df = qs[n](spark, sf_dir)
        # public API only: df.explain prints to stdout (the private
        # PythonSQLUtils/_jdf route broke across Spark versions)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        with open(os.path.join(outdir, f"{n}_{suffix}.txt"), "w") as fh:
            fh.write(buf.getvalue())
        print(n, "ok")
    spark.stop()


if __name__ == "__main__":
    main()

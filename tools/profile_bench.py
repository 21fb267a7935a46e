#!/usr/bin/env python
"""Per-query job/driver decomposition (optimization round r10).

Mimics bench.py's session but enables the Spark event log and stamps
each query's runs with setJobDescription(name).  Post-processes the
event log into, per query: wall seconds, number of Spark jobs, sum of
job durations, and the gap (wall - job span union) which is
driver-side Python/metadata time.  Prints one JSON line per query,
sorted by wall desc.

Usage: python tools/profile_bench.py [query ...]   (default: all)
"""
from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = "/tmp/spark-events-profile"
    os.makedirs(evdir, exist_ok=True)
    import shutil

    for f in os.listdir(evdir):
        p = os.path.join(evdir, f)
        shutil.rmtree(p) if os.path.isdir(p) else os.unlink(p)

    from bench import session

    spark = session(
        "profile-bench",
        **{"spark.eventLog.enabled": "true", "spark.eventLog.dir": evdir},
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = sys.argv[1:] or [n for n in qs if not n.startswith("stream_")]
    spark.range(10).write.format("noop").mode("overwrite").save()
    for t in ("lineitem", "orders", "documents", "embeddings"):
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            spark.read.parquet(p).limit(1).collect()

    walls: dict[str, float] = {}
    for name in names:
        fn = qs[name]
        # warmup run (uncounted) then one measured run, like bench best-of-2
        for r in range(2):
            spark.sparkContext.setJobDescription(f"{name}#run{r}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            el = time.perf_counter() - t0
            if r == 1:
                walls[name] = el
        spark.sparkContext.setJobDescription(None)
    spark.stop()

    # post-process event log (Spark 4 may write a rolling eventlog_v2_* dir)
    ev = []
    for f in os.listdir(evdir):
        if f.startswith("."):
            continue
        p = os.path.join(evdir, f)
        if os.path.isdir(p):
            ev.extend(os.path.join(p, g) for g in os.listdir(p)
                      if g.startswith("events"))
        else:
            ev.append(p)
    def _open_eventlog(path: str):
        # Spark 4 compresses rolling event logs (…/events_N_appid.zstd);
        # pyarrow stream-decompresses the frame format
        if path.endswith(".zstd"):
            import io

            import pyarrow as pa

            return io.TextIOWrapper(
                pa.input_stream(path, compression="zstd"), errors="replace"
            )
        return open(path, errors="replace")

    jobs: dict[str, list[tuple[float, float]]] = {}
    starts: dict[int, tuple[str, float]] = {}
    for path in ev:
        with _open_eventlog(path) as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue
                if e.get("Event") == "SparkListenerJobStart":
                    desc = (e.get("Properties") or {}).get(
                        "spark.job.description", "")
                    starts[e["Job ID"]] = (desc, e["Submission Time"])
                elif e.get("Event") == "SparkListenerJobEnd":
                    jid = e["Job ID"]
                    if jid in starts:
                        desc, t0 = starts.pop(jid)
                        jobs.setdefault(desc, []).append(
                            (t0 / 1000.0, e["Completion Time"] / 1000.0))

    out = []
    for name, wall in walls.items():
        spans = jobs.get(f"{name}#run1", [])
        spans.sort()
        # union of job spans (jobs can overlap with threads)
        union = 0.0
        cur_s = cur_e = None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    union += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            union += cur_e - cur_s
        out.append({
            "query": name, "wall": round(wall, 3),
            "jobs": len(spans), "job_union": round(union, 3),
            "gap": round(wall - union, 3),
        })
    out.sort(key=lambda d: -d["wall"])
    for d in out:
        print(json.dumps(d))


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Per-stream drain decomposition (optimization round r10).

Runs each stream_* query once (bench session config) and prints, per
query: wall seconds, micro-batch count, and the summed
StreamingQueryProgress durationMs phases (addBatch / getBatch /
latestOffset / queryPlanning / walCommit / commitOffsets /
triggerExecution) of every progress event — the streaming twin of
tools/profile_bench.py's job/gap split.

Usage: python tools/profile_streams.py [query ...]   (default: all
stream_* queries).  Progress events are captured via a
StreamingQueryListener registered before the drains.
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

    from pyspark.sql.streaming import StreamingQueryListener

    from bench import session

    spark = session("profile-streams")
    spark.sparkContext.setLogLevel("ERROR")

    events: list[dict] = []

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, e):
            events.append({"kind": "start", "id": str(e.id),
                           "ts": time.time()})

        def onQueryProgress(self, e):
            p = e.progress
            events.append({
                "kind": "progress", "id": str(p.id),
                "batch": p.batchId, "rows": p.numInputRows,
                "durations": dict(p.durationMs),
            })

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            events.append({"kind": "end", "id": str(e.id),
                           "ts": time.time()})

    spark.streams.addListener(Capture())

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = sys.argv[1:] or [n for n in qs if n.startswith("stream_")]
    spark.range(10).write.format("noop").mode("overwrite").save()

    out = {}
    for name in names:
        n0 = len(events)
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode(
            "overwrite").save()
        wall = time.perf_counter() - t0
        time.sleep(0.3)  # listener events are async
        mine = events[n0:]
        phases: dict[str, float] = {}
        batches = 0
        rows = 0
        for e in mine:
            if e["kind"] != "progress":
                continue
            batches += 1
            rows += e["rows"]
            for k, v in (e["durations"] or {}).items():
                phases[k] = phases.get(k, 0.0) + v / 1000.0
        out[name] = {
            "wall": round(wall, 2),
            "batches": batches,
            "rows": rows,
            "queries_started": sum(
                1 for e in mine if e["kind"] == "start"),
            "phases": {k: round(v, 2) for k, v in sorted(
                phases.items(), key=lambda kv: -kv[1])},
        }
        print(json.dumps({name: out[name]}), flush=True)

    spark.stop()


if __name__ == "__main__":
    main()

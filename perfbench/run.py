"""Reserves benchmark: one workload, one closed-loop client.

Run from the root of a checkout::

    python3 perfbench/run.py --workload reserves_mesh --seed 1 --seconds 20 --trace 0

Workloads (see ``workloads.py``): ``reserves_mesh`` (mesh-path reports)
and ``ingest_export`` (CSV ingest, Parquet / report export).

The run generates its inputs from ``--seed`` under ``.perfbench_run/``
in the checkout and starts a ``local[N]`` Spark session through the
CLI's own session factory (N = cores - 1, at most 3; only master, driver
memory, the UI and work directories are set).  It sets the workload
up once and runs warm-up operations, untimed; sets it up several times
timed (``setup_s`` is their median); then repeats the operation in a
closed loop until ``--seconds`` of operation time are spent.  Every
result is checked against an independent oracle, untimed; an operation
that raises or fails its check counts in ``failed`` and the run goes on.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the run spends half its time
untraced and half traced (spans around the calls into each layer,
written to ``.perfbench_run/trace-<workload>-<seed>.json``) and the
metrics are the per-layer ones.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

ROOT = os.getcwd()
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
DRIVER_MEMORY = "2g"
#: Spark task slots: one core of a 4-core box stays free for the driver
#: JVM and Python, so their work does not queue behind tasks
CORES = max(1, min(3, (os.cpu_count() or 1) - 1))

#: BENCHMARK.json beside the benchmark's directory: it names the metrics
#: the run prints, with their units
BENCH_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "BENCHMARK.json")


def metric_units(kind: str) -> dict:
    """``{name: unit}`` of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(BENCH_JSON) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


#: span name -> per-layer metric holding its self time
SPAN_METRIC = {
    "grid": "grid.gen_s",
    "mesh": "mesh.parse_s",
    "loaders": "loaders.load_s",
    "plans": "plans.compile_s",
    "reserves.build": "reserves.build_s",
    "spatial": "spatial.annotate_s",
    "breakdown": "breakdown.exec_s",
    "writers.table": "writers.table_s",
    "writers.report": "writers.report_s",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="tiny inputs (self-check)")
    return ap.parse_args(argv)


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def start_spark(run_dir: str):
    """The CLI's session (``cli._spark``) on local[N], with the UI and
    console progress bar off and temporary files inside the checkout."""
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    # the spark-submit launcher JVM, like the driver JVM, writes nothing
    # outside the checkout
    jvm_opts = f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--master local[{CORES}]",
            f"--driver-memory {DRIVER_MEMORY}",
            "--conf spark.ui.enabled=false",
            "--conf spark.ui.showConsoleProgress=false",
            # initial heap = max heap: no heap-growth transient in the
            # timed window (it moved cycle times ~20% across runs)
            f"--driver-java-options '-Xms{DRIVER_MEMORY} {jvm_opts}'",
            "pyspark-shell",
        ]
    )
    from vtk_reserves_spark.cli import _spark

    spark = _spark()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - make sure the JVM is gone
            proc.kill()
            proc.wait(timeout=30)


class Runner:
    """Drives one workload's operations and counts the failed ones."""

    def __init__(self, workload, seconds: float):
        self.w = workload
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"{self.w.name}: {what}\n{traceback.format_exc()}", file=sys.stderr)

    def setup(self, reps: int, tracer=None) -> list[float]:
        """``reps`` set-ups, the last one traced; returns their wall times."""
        times = []
        for rep in range(reps):
            gc.collect()
            t0 = time.perf_counter()
            self.w.setup(tracer if rep == reps - 1 else None)
            times.append(time.perf_counter() - t0)
        return times

    def prepare(self, tracer=None) -> float:
        """Untimed cold set-up and warm-up operations (they pay the JVM's
        first-job and JIT costs), then ``setup_reps`` timed set-ups;
        returns their median, ``setup_s``."""
        cold = self.setup(1)
        warm = [self.op() for _ in range(self.w.warmup_ops)]
        times = self.setup(self.w.setup_reps, tracer)
        _log(f"cold set-up {cold} warm-up ops {warm} set-ups {times}")
        return statistics.median(times)

    def op(self, tracer=None) -> float:
        """One operation (inside an ``op`` span when traced); returns its
        wall time.  The oracle check, the traced counts and the release
        of cached frames run after the clock stops.  An exception or a
        wrong result counts as a failed operation and the run goes on."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.span("op") if tracer is not None else nullcontext():
                result = self.w.run(tracer)
        except Exception:  # noqa: BLE001 - a failed operation is counted
            self.fail("operation raised")
            self.w.release()
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        try:
            self.w.check(result)
        except Exception:  # noqa: BLE001 - a wrong result is counted
            self.fail("operation failed the oracle")
        if tracer is not None:
            self.w.trace_counts(tracer, result)
        self.w.release()
        return dt

    def loop(self, budget: float, tracer=None) -> list[float]:
        """Closed loop: the next operation starts when the previous one
        returned, until ``budget`` seconds of operation time are spent."""
        times = [self.op(tracer)]
        while sum(times) < budget:
            times.append(self.op(tracer))
        return times


def _log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def run_end_to_end(runner) -> dict:
    setup_s = runner.prepare()
    ops = runner.loop(runner.seconds)
    _log(f"timed ops {[round(t, 3) for t in ops]}")
    return {
        "setup_s": setup_s,
        "report_p50_s": statistics.median(ops),
        "cells_per_s": runner.w.cells * len(ops) / sum(ops),
    }


def _peak_rss_mb(spark) -> float:
    jvm = _vm_hwm_kb(spark.sparkContext._gateway.proc.pid)
    py = _vm_hwm_kb(os.getpid())
    _log(f"VmHWM jvm={jvm / 1024:.0f}MB python={py / 1024:.0f}MB")
    return (jvm + py) / 1024.0


def run_traced(runner, spark, trace_path: str) -> dict:
    import vtk_reserves_spark.operators.breakdown as breakdown_mod

    from perfbench.tracing import Tracer

    w = runner.w
    tracer = Tracer(spark.sparkContext)
    runner.prepare(tracer)
    plain = runner.loop(runner.seconds / 2)
    first_op = len(tracer.spans)
    # breakdown compiles its template through the plans layer
    with tracer.wrap(breakdown_mod, "compile_template", "plans"):
        traced = runner.loop(runner.seconds / 2, tracer)
    probe = w.layer_probe(tracer)

    out = dict.fromkeys(metric_units("per_layer"), 0.0)
    # layers set up outside the timed operations: self time of the last
    # setup repetition
    for s in tracer.spans[:first_op]:
        if s.name in SPAN_METRIC:
            out[SPAN_METRIC[s.name]] = s.self_time(tracer.spans)
    # per-operation layers: median over traced operations of the summed
    # self time per layer
    roots = [s for s in tracer.spans[first_op:] if s.parent is None and s.name == "op"]
    per_op = [tracer.layer_self_times(r) for r in roots]
    for span, metric in SPAN_METRIC.items():
        vals = [d[span] for d in per_op if span in d]
        if vals:
            out[metric] = statistics.median(vals)
    jobs = [sum(s.jobs for s in tracer.subtree(r)) for r in roots]
    tasks = [sum(s.tasks for s in tracer.subtree(r)) for r in roots]
    bjobs = [sum(s.jobs for s in tracer.subtree(r) if s.name == "breakdown") for r in roots]
    btasks = [sum(s.tasks for s in tracer.subtree(r) if s.name == "breakdown") for r in roots]
    gaps = [r.self_time(tracer.spans) for r in roots]
    # share of the operations' wall time (as the timed loop measured it)
    # that named layer spans cover
    attributed = sum(r.dur - g for r, g in zip(roots, gaps)) / sum(traced)
    out.update(
        {
            "spark.jobs": statistics.median(jobs),
            "spark.tasks": statistics.median(tasks),
            "breakdown.jobs": statistics.median(bjobs),
            "breakdown.tasks": statistics.median(btasks),
            "driver.gap_s": statistics.median(gaps),
            "trace.attributed_ratio": attributed,
            "trace.overhead_s": statistics.median(traced) - statistics.median(plain),
            "driver.peak_rss_mb": _peak_rss_mb(spark),
        }
    )
    for name, vals in tracer.counts.items():
        if name in out:
            out[name] = statistics.median(vals)
    out.update(probe)
    tracer.write(
        trace_path,
        {"workload": w.name, "seed": w.seed, "metrics": out, "untraced_ops_s": plain,
         "traced_ops_s": traced},
    )
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import vtk_reserves_spark  # noqa: F401 - the program under test
        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: run from the root of a checkout ({exc})", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    os.makedirs(RUN_DIR, exist_ok=True)
    work_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=RUN_DIR)
    units = metric_units("per_layer" if args.trace else "end_to_end")
    values = dict.fromkeys(units, 0.0)
    spark = start_spark(work_dir)
    workload = WORKLOADS[args.workload](spark, work_dir, args.seed, small=args.small)
    runner = Runner(workload, args.seconds)
    try:
        workload.prepare()
        _log(f"inputs ready, {workload.cells} cells")
        if args.trace:
            path = os.path.join(RUN_DIR, f"trace-{args.workload}-{args.seed}.json")
            values = run_traced(runner, spark, path)
        else:
            values = run_end_to_end(runner)
    except Exception:  # noqa: BLE001 - a broken set-up is a failed run
        runner.attempted += 1
        runner.fail("set-up raised")
    finally:
        workload.close()
        stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {
            k: {"value": float(values[k]), "unit": u} for k, u in units.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

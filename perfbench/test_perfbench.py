"""Self-check of the benchmark at small size.

Run from the root of a checkout::

    python3 -m pytest perfbench -q -p no:cacheprovider

The oracle and runner tests need no Spark; ``test_small_run`` runs the
benchmark itself on tiny inputs, untraced and traced, for each workload.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import numpy as np
import pytest

from perfbench import inputs, oracle
from perfbench.run import Runner, metric_units

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
SMALL_DIMS = (32, 24, 6)


def test_inputs_are_seeded():
    a, b = inputs.make_scene(3, SMALL_DIMS), inputs.make_scene(3, SMALL_DIMS)
    c = inputs.make_scene(4, SMALL_DIMS)
    assert np.array_equal(a.topo.Z, b.topo.Z) and np.array_equal(a.star_xy, b.star_xy)
    assert not np.array_equal(a.topo.Z, c.topo.Z)


def test_oracle_geometry_matches_the_ray_scan_kernel():
    """The closed forms and the program's kernel agree cell for cell on
    the written-and-parsed meshes (so the report check compares like
    with like)."""
    from vtk_reserves_spark.operators.spatial import _ray_scan, point_in_solid
    from vtk_reserves_spark.sources.mesh import TriMesh

    scene = inputs.make_scene(5, SMALL_DIMS)
    os.makedirs(RUN_DIR, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=RUN_DIR) as tmp:
        paths = inputs.write_mesh_files(scene, tmp)
        topo, pit = TriMesh.from_obj(paths["topo"]), TriMesh.from_vtk(paths["pit"])
    _, _, _, x, y, z = scene.centroids()
    for lat, mesh in ((scene.topo, topo), (scene.pit, pit)):
        _, hits, zsum = _ray_scan(x, y, np.zeros_like(x), mesh)
        got = np.where(hits > 0, zsum / np.maximum(hits, 1), np.nan)
        want = oracle.lattice_elevation(lat, x, y)
        assert np.array_equal(np.isnan(got), np.isnan(want))
        assert np.allclose(got, want, rtol=0, atol=1e-6, equal_nan=True)
    v, f = inputs.star_mesh_arrays(scene)
    z0, z1 = scene.star_z
    want = oracle.point_in_polygon(x, y, scene.star_xy) & (z > z0) & (z < z1)
    assert want.any()
    assert np.array_equal(point_in_solid(x, y, z, TriMesh(v, f)), want)


def test_a_perturbed_report_is_a_mismatch():
    want = oracle.mesh_report(oracle.mesh_flagged(inputs.make_scene(6, SMALL_DIMS)))
    oracle.compare_frames(want.copy(), want, ["region", "lito"])
    bad = want.copy()
    bad.loc[0, "volume sum"] *= 1 + 1e-4
    with pytest.raises(oracle.Mismatch):
        oracle.compare_frames(bad, want, ["region", "lito"])
    with pytest.raises(oracle.Mismatch):
        oracle.compare_frames(want.iloc[1:], want, ["region", "lito"])


class _Scripted:
    """A workload whose operations follow a script: ``ok``, ``wrong``
    (a perturbed result) or ``raise``."""

    name = "scripted"
    setup_reps = 2
    warmup_ops = 1

    def __init__(self, script):
        self.script = list(script)

    def setup(self, tracer=None):
        pass

    def run(self, tracer):
        step = self.script.pop(0)
        if step == "raise":
            raise RuntimeError("injected")
        return 1.0 + (1e-3 if step == "wrong" else 0.0)

    def check(self, result):
        if result != 1.0:
            raise oracle.Mismatch("perturbed")

    def release(self):
        pass


def test_runner_counts_wrong_and_raising_operations():
    r = Runner(_Scripted(["ok", "wrong", "raise", "ok"]), seconds=0.0)
    assert r.prepare() >= 0.0 and r.attempted == 1 and r.failed == 0
    times = [r.op() for _ in range(3)]
    assert len(times) == 3 and r.attempted == 4 and r.failed == 2


@pytest.mark.parametrize("workload", ["reserves_mesh", "ingest_export"])
def test_small_run(workload):
    runs = {}
    for trace in (0, 1):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", "7", "--seconds", "2", "--trace", str(trace), "--small"],
            cwd=ROOT, capture_output=True, text=True, timeout=300,
        )
        assert p.returncode == 0, p.stderr[-3000:]
        res = json.loads(p.stdout.strip().splitlines()[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
        assert list(res["metrics"]) == list(metric_units("per_layer" if trace else "end_to_end"))
        runs[trace] = {k: v["value"] for k, v in res["metrics"].items()}
    assert all(v > 0 for v in runs[0].values())
    traced = runs[1]
    assert traced["trace.attributed_ratio"] >= 0.9
    if workload == "reserves_mesh":
        assert traced["spatial.udf_nodes"] >= 1
        assert 0 < traced["spatial.premask_ratio"] <= 1
    else:
        assert traced["spatial.udf_nodes"] == 0
        assert traced["loaders.masked"] > 0

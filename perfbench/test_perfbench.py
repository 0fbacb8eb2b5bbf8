"""Smoke test of the benchmark itself: tiny-scale runs of every
workload emit every named metric with its unit, fail no check, and the
traced runs report the expected plan shapes.

    python3 -m pytest perfbench/test_perfbench.py -q

Each case starts its own Spark session in a subprocess (~30-90 s).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("pipeline", "lookup_roundtrip")


def run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0.1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, proc.stderr[-4000:]
    return out["metrics"]


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == layers.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end(workload):
    m = run(workload, 0)
    assert {k: v["unit"] for k, v in m.items()} == layers.END_TO_END
    assert all(v["value"] > 0 for v in m.values())


# Plan-shape claims of the engine's docstrings, checked on the traced
# plans: the broadcast zone/polygon join is one BroadcastHashJoin with
# no shuffle Exchange and one Arrow PIP node (PIP evaluated once,
# spatial_join.py and the cell_expr docstring); geocode runs no UDF.
PLAN_SHAPES = {
    "pipeline": {
        "spatial_join.plan.broadcast_joins": 1,
        "spatial_join.plan.exchanges": 0,
        "spatial_join.plan.arrow_udf_nodes": 1,
        "sources.geocode.arrow_udf_nodes": 0,
    },
    "lookup_roundtrip": {
        "spatial_join.plan.broadcast_joins": 1,
        "spatial_join.plan.exchanges": 0,
        "spatial_join.plan.arrow_udf_nodes": 1,
    },
}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced(workload):
    m = run(workload, 1)
    assert {k: v["unit"] for k, v in m.items()} == layers.PER_LAYER
    v = {k: x["value"] for k, x in m.items()}
    for k, want in PLAN_SHAPES.get(workload, {}).items():
        assert v[k] == want, k
    assert v["trace.ops"] >= 1 and v["session.start_s"] > 0
    if workload == "pipeline":
        # the stage walls account for the operation wall
        assert 0 <= v["pipeline.stage_gap_s"] < 0.1 * v["trace.op_s"]
        assert v["spatial_join.matches"] == v["spatial_join.candidates"]
        assert v["manifest.resume_s"] > 0
    if workload == "lookup_roundtrip":
        # PIP saw each candidate exactly once, and rejected some
        assert v["st.pip_udf.rows"] == v["spatial_join.candidates"]
        assert 0 < v["spatial_join.match_ratio"] < 1
        assert v["polygonize.regions"] > 0 and v["rasterize.tiles_out"] > 0
    spans = os.path.join(ROOT, ".perfbench_out", f"{workload}-seed7", "spans.jsonl")
    assert os.path.getsize(spans) > 0


def test_cpu_of_exited_child_is_not_moved_into_the_window():
    """A child that used its CPU before the window and is reaped inside
    it adds nothing to the window (cutime/cstime would add its whole
    lifetime), and the sampler's own CPU is not counted."""
    burn = ("import time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.6: pass\n"
            "print(flush=True)\ntime.sleep(60)")
    proc = host.ProcTree(interval=0.01)
    proc.start()
    child = subprocess.Popen([sys.executable, "-c", burn], stdout=subprocess.PIPE)
    try:
        child.stdout.readline()  # the child has burned its CPU
        c0 = proc.cpu_s()
        child.kill()
        child.wait()
        time.sleep(0.3)  # the sampler keeps sampling
        c1 = proc.cpu_s()
    finally:
        child.kill()
        child.wait()
        proc.stop()
    assert c1 - c0 < 0.1, c1 - c0
    assert proc.samples > 10


def test_bare_directory_fails(tmp_path):
    """Without the engine next to it the benchmark exits non-zero and
    prints no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pipeline", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""

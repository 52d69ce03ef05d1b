"""One short run of each workload on the sf0.001 fixture and a tiny graph,
plus the refusal to run without the engine. Starts two Spark sessions.

    python3 -m pytest perfbench/tests/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from perfbench import run as R  # noqa: E402
from perfbench.workloads import GraphOps, Headline  # noqa: E402

SF_TINY = os.path.join(os.path.dirname(bench.SF_DIR.rstrip("/")), "sf0.001")
CPUS = len(os.sched_getaffinity(0))

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


@pytest.fixture(scope="module", autouse=True)
def _env():
    R.pin_environment(CPUS)


def test_headline_traced_on_tiny_fixture(tmp_path):
    w = Headline(SF_TINY, str(tmp_path / "oracle"), SF_TINY)
    report = R.run(w, seed=1, seconds=0, trace=True, cpus=CPUS, run_dir=str(tmp_path))
    result = report["result"]
    assert result["correct"], report["failures"]
    assert (result["attempted"], result["failed"]) == (20, 0)
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    layer = report["per_layer"]
    assert layer["ops.execute_jobs"] > 0 and layer["sources.scan_tasks"] > 0
    assert layer["ops.build_s"] + layer["ops.plan_s"] + layer["ops.execute_s"] <= layer["trace.round_s"]
    assert set(report["details"]["queries_s"]) == set(bench.HEADLINE)


def test_graph_ops_on_tiny_graph(tmp_path):
    w = GraphOps(str(tmp_path / "graphs"), big_vertices=200, big_edges=1000)
    report = R.run(w, seed=1, seconds=0, trace=False, cpus=CPUS, run_dir=str(tmp_path))
    result = report["result"]
    assert result["correct"], report["failures"]
    # per round: big add, big BFS, CC, PageRank, add, modify, 2 BFS, 2 DFS
    assert (result["attempted"], result["failed"]) == (10, 0)
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert report["details"]["store_bytes_per_edge"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns(".work", "__pycache__"),
    )
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "graph-ops", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert p.stdout == ""
    assert "not importable" in p.stderr

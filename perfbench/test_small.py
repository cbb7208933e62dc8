"""Self-test of the benchmark: every workload at ``--size small``, with the
same output checks as a full run.

    python3 -m pytest perfbench/test_small.py -q

Each run case starts its own Spark JVM (about 30-80 s each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

E2E = {"setup_s", "cold_s", "wall_s", "triples_per_s", "peak_rss_mb", "out_bytes"}


def _bench(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--size", "small"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, out.stderr[-3000:]
    assert result["attempted"] >= 2
    return result["metrics"]


def test_end_to_end_metrics():
    metrics = _bench("csvw2rdf_table", 0)
    assert set(metrics) == E2E
    assert all(m["value"] > 0 for m in metrics.values())


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_reports_every_layer(workload):
    metrics = _bench(workload, 1)
    cls = WORKLOADS[workload]
    listed = ([WORKLOADS[n] for n in run.LISTED] if workload in run.LISTED
              else [cls])
    assert set(metrics) == set(run.per_layer_names(listed))
    for layer in cls.traced_layers():
        assert metrics[f"{layer}.wall_s"]["value"] > 0
        assert metrics[f"{layer}.rows_out"]["value"] > 0
        assert metrics[f"{layer}.failed_tasks"]["value"] == 0
    busy = [metrics[f"{layer}.cpu_s"]["value"] for layer in cls.traced_layers()]
    assert all(v > 0 for v in busy), busy


def test_benchmark_json_lists_what_the_runs_report():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"),
              encoding="utf-8") as f:
        bench = json.load(f)
    assert tuple(w["name"] for w in bench["workloads"]) == run.LISTED
    assert {m["name"] for m in bench["end_to_end"]} == E2E
    listed = [WORKLOADS[n] for n in run.LISTED]
    assert ({m["name"]: m["unit"] for m in bench["per_layer"]}
            == run.per_layer_names(listed))

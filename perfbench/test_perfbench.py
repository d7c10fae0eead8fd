"""Self-test of the benchmark at small sizes.

    python -m pytest perfbench -q

Runs every workload once, traced, at a tenth of its data size and a short
window, and one untraced run; checks that each named metric is printed with
its unit, that every response was correct, and that the per-layer metrics of
the layers each traced request class exercises are non-zero. About four
minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

# end-to-end metrics each workload defines, beyond the ones all report
DETAIL = {
    "ingest": ["write_points_per_s", "write_p50_ms", "write_tail_ms",
               "store_bytes_per_point"],
    "dashboard": ["read_p50_ms", "read_tail_ms", "stat_p50_ms", "point_p50_ms",
                  "meta_p50_ms"],
    "live": ["write_points_per_s", "write_p50_ms", "write_tail_ms", "read_p50_ms",
             "read_tail_ms", "stat_p50_ms", "scan_points_per_s"],
}
COMMON = ["setup_s", "ops_per_s", "p50_ms", "peak_rss_mb", "cpu_ms_per_op",
          "error_ratio"]
# per-layer state metrics that every run of the workload leaves non-zero
STATE = {
    "ingest": ["store.compactions", "store.bytes_per_point", "rollup.bytes_per_point"],
    "dashboard": ["store.files", "store.bytes_per_point", "rollup.bytes_per_point"],
    "live": ["store.fresh_versions", "store.files"],
}
# per op class with traced requests: layer metrics that must then be non-zero
BY_CLASS = {
    "flush": ["store.write_ms", "store.compact_ms", "rollup.update_ms",
              "streaming.batch_ms", "streaming.add_batch_ms",
              "streaming.processed_rows_per_s", "streaming.self_ms",
              "store.manifest_reads.flush", "spark.jobs_per_op.flush",
              "spark.tasks_per_op.flush", "spark.exec_ms.flush"],
    "insert": ["api.insert_ms", "store.write_ms", "rollup.update_ms",
               "server.pre_rpc_ms", "server.rpc_ms", "server.bytes_out",
               "spark.jobs_per_op.insert", "store.manifest_reads.insert"],
    "stat": ["store.plan_ms", "rollup.serve_ms", "server.drain_ms",
             "spark.jobs_per_op.stat", "spark.drain_jobs_per_op.stat",
             "spark.tasks_per_op.stat", "spark.exec_ms.stat",
             "store.manifest_reads.stat"],
    "point": ["spark.jobs_per_op.point", "operators.self_ms"],
    "scan": ["spark.drain_jobs_per_op.scan", "api.plan_ms.raw_values"],
    "changes": ["api.plan_ms.changes", "operators.plan_ms.coalesce_intervals"],
    "meta": ["metadata.self_ms", "server.self_ms"],
}


def _run(workload: str, trace: int, cwd: str = ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "5", "--seconds", "6",
           "--trace", str(trace), "--scale", "0.1"]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    return p


def _lines(p):
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["ingest", "dashboard", "live"])
def test_traced_run(workload):
    detail, result = _lines(_run(workload, 1))
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    e2e = detail["end_to_end_traced"]
    for name in COMMON + DETAIL[workload]:
        assert name in e2e and e2e[name]["unit"], name
    assert e2e["error_ratio"]["value"] == 0
    names = [m["name"] for m in SPEC["per_layer"]]
    assert list(result["metrics"]) == names
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    got = {k: v["value"] for k, v in result["metrics"].items()}
    for name in STATE[workload]:
        assert got[name] > 0, name
    traced = {c for c, n in detail["context"]["traced_samples"].items() if n}
    assert traced
    for cls in traced:
        for name in BY_CLASS[cls]:
            assert got[name] > 0, (cls, name)
    if "stat" in traced:
        # dashboard stats are all ladder-served; live's pw 20 is finer than
        # the ladder, so every one falls back to raw aggregation
        want = {"dashboard": 1.0, "live": 0.0}[workload]
        assert got["rollup.served_ratio"] == want
        if workload == "dashboard":
            # the ladder lists its levels while planning; a raw aggregation
            # over the fresh tail may plan without running a Spark job
            assert got["spark.plan_jobs_per_op.stat"] > 0
    assert set(detail["self_time"]) == {
        "server", "api", "store", "rollup", "operators", "metadata", "streaming"
    }


def test_untraced_result_line():
    detail, result = _lines(_run("dashboard", 0))
    assert result["correct"] and result["failed"] == 0
    assert list(result["metrics"]) == [m["name"] for m in SPEC["end_to_end"]]
    for m in SPEC["end_to_end"]:
        v = result["metrics"][m["name"]]
        assert v["unit"] == m["unit"] and v["value"] > 0
    assert detail["context"]["anchor_sec"] > 0
    assert "steal_pct" in detail["context"]


def test_fails_without_sources(tmp_path):
    """Given only BENCHMARK.json and this directory, exit non-zero and print
    no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("dashboard", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""

"""docs/query_profile.py end to end: one subprocess profiles a driver-path query
(graph_triangles) and a distributed relational one (pricing_summary) at
sf0.001 from Spark's event log."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

from tests.test_job_counts import JOBS_PER_WARM_RUN

ROOT = os.path.join(os.path.dirname(__file__), "..")

# perfbench.trace.event_log_metrics' counters for queries that start no
# Python worker, plus the profiler's median warm wall time
KEYS = {
    "pass_s",
    "plans.exchanges",
    "sources.scan_bytes",
    "sources.scan_rows",
    "spark.executor.busy_frac",
    "spark.executor.cpu_s",
    "spark.executor.gc_s",
    "spark.executor.peak_exec_mem_mb",
    "spark.output.bytes",
    "spark.scheduler.driver_gap_s",
    "spark.scheduler.jobs",
    "spark.scheduler.stages",
    "spark.scheduler.tasks",
    "spark.shuffle.fetch_wait_s",
    "spark.shuffle.read_bytes",
    "spark.shuffle.spill_bytes",
    "spark.shuffle.write_bytes",
}


def test_profile_driver_and_distributed_queries(sf_small):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "docs", "query_profile.py"),
         "--sf-dir", sf_small, "graph_triangles", "pricing_summary"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    parts = re.split(r"^# (\w+) on local\[\d+\]: .*$", proc.stdout, flags=re.M)
    blocks = dict(zip(parts[1::2], parts[2::2]))
    assert list(blocks) == ["graph_triangles", "pricing_summary"]
    metrics, plans = {}, {}
    for name, block in blocks.items():
        line, plans[name] = block.strip().split("\n", 1)
        metrics[name] = json.loads(line)
        assert set(metrics[name]) == KEYS, name
        assert metrics[name]["spark.scheduler.stages"] >= 1, name
        assert plans[name].startswith("== Physical Plan =="), name
        assert "isFinalPlan=false" not in plans[name], name

    tri = metrics["graph_triangles"]
    assert tri["spark.scheduler.jobs"] == JOBS_PER_WARM_RUN["graph_triangles"]
    # the driver path hands back a local result: no adaptive plan is left
    assert "LocalTableScan" in plans["graph_triangles"]
    assert metrics["pricing_summary"]["plans.exchanges"] >= 1
    assert "== Final Plan ==" in plans["pricing_summary"]
    assert "isFinalPlan=true" in plans["pricing_summary"]

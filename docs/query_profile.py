#!/usr/bin/env python3
"""Profile registry queries from Spark's event log.

    python3 docs/query_profile.py [--sf-dir DIR] [query ...]

The session is the one ``perfbench/run.py --trace 1`` measures: its launch
settings (heap, GC, event log) and its core count, with the engine's own
``get_spark``.  Each query runs once cold, then ``WARMUP_PASSES`` uncounted
and three counted warm passes, every pass under its own
``perfbench.trace.job_description``.  Spark's event log is read back by
``perfbench.trace.event_log_metrics``, the benchmark's parser, so a profile
and a traced benchmark run count jobs, stages, shuffle bytes, exchanges and
the driver gap the same way.  Per query it prints those counters as one
JSON line (means over the counted passes, with ``pass_s`` their median wall
time), then the plan of the DataFrame it collected: ``explain`` called
after the action prints an adaptive plan's ``== Final Plan ==``, and a
driver path's local result as a ``LocalTableScan``.

With no query names it profiles ``AUDIT_QUERIES`` and rewrites
``docs/SHUFFLE_AUDIT.json``, the record ``tests/test_shuffle_audit.py``
pins.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from __spark_entry__ import SF0001  # noqa: E402
from mapreduce__spark.plans import REGISTRY  # noqa: E402
from mapreduce__spark.session import get_spark  # noqa: E402
from perfbench.run import WARMUP_PASSES, _launch_settings, spark_cores  # noqa: E402
from perfbench.trace import event_log_metrics, job_description  # noqa: E402

# The most expensive headliners of the closing idle bench
# (docs/BENCH_FULL_latest.json), the population the audit is defined
# over; round 12 added embedding_pq_codes (the round-11 PQ/ADC
# headliner — k-means codebooks + code assignment is the newest
# shuffle-heavy family).
AUDIT_QUERIES = [
    "graph_triangles",
    "training_data_pipeline_full",
    "semantic_dedup",
    "training_data_pipeline",
    "k_core_peel",
    "dedup_lsh_minhash",
    "graph_mass_propagation",
    "substring_dedup_windows",
    "inverted_index",
    "sessionization",
    "embedding_pq_codes",
]

AUDIT = ROOT / "docs" / "SHUFFLE_AUDIT.json"
SF_DIR = os.path.join(os.path.dirname(SF0001), "sf0.1")  # the bench scale
COUNTED_PASSES = 3
PASSES = 1 + WARMUP_PASSES + COUNTED_PASSES  # cold, uncounted, counted


def _run(spark, name: str, sf_dir: str, first: int) -> tuple[dict, str]:
    """``PASSES`` collects of ``name``, tagged as passes ``first``,
    ``first + 1``, ...: their epoch-second windows, and the last pass's
    plan."""
    sc = spark.sparkContext
    windows: dict[int, tuple[float, float]] = {}
    for p in range(first, first + PASSES):
        sc.setJobDescription(job_description(p, name))
        start = time.time()
        df = REGISTRY[name].fn(spark, sf_dir)
        df.collect()
        windows[p] = (start, time.time())
    sc.setJobDescription(None)
    plan = io.StringIO()
    with contextlib.redirect_stdout(plan):
        df.explain(mode="formatted")
    return windows, plan.getvalue()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", default=SF_DIR)
    ap.add_argument("query", nargs="*", help="registry query names (default: AUDIT_QUERIES)")
    args = ap.parse_args(argv)
    names = args.query or AUDIT_QUERIES
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    with tempfile.TemporaryDirectory(prefix="query-profile-") as tmp:
        event_dir = Path(tmp) / "eventlog"
        _launch_settings(Path(tmp), event_dir)
        cores = spark_cores()
        spark = get_spark(app_name="mapreduce__spark-profile", cpus=cores)
        spark.sparkContext.setLogLevel("ERROR")
        master = spark.sparkContext.master
        try:
            runs = {n: _run(spark, n, args.sf_dir, i * PASSES)
                    for i, n in enumerate(names)}
        finally:
            spark.stop()  # closes the event log
        (log,) = event_dir.iterdir()
        profiles = {}
        for name, (windows, plan) in runs.items():
            counted = list(windows)[1 + WARMUP_PASSES:]
            metrics = event_log_metrics(log, {p: windows[p] for p in counted}, cores)
            walls = [b - a for a, b in windows.values()]
            metrics["pass_s"] = statistics.median(walls[1 + WARMUP_PASSES:])
            profiles[name] = {k: round(v, 3) for k, v in sorted(metrics.items())}
            print(f"# {name} on {master}: cold {walls[0]:.3f} s, warm "
                  + " ".join(f"{t:.3f}" for t in walls[1:]) + " s")
            print(json.dumps(profiles[name]))
            print(plan, flush=True)
    if not args.query:
        AUDIT.write_text(json.dumps(
            {"sf_dir": args.sf_dir, "master": master, "queries": profiles},
            indent=1, sort_keys=True) + "\n")
        print(f"wrote {AUDIT}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

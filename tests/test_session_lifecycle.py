"""Session lifecycle: the engine must survive a stop-and-recreate of the
SparkSession (the table cache must not hand a dead session's DataFrames to
the new one, and ``get_spark``'s worker-daemon conf must carry over). Runs
in a subprocess so the shared test session is untouched."""

from __future__ import annotations

import subprocess
import sys

SCRIPT = r"""
from pyspark.sql import SparkSession
from mapreduce__spark.plans import REGISTRY

def run_once():
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false").getOrCreate())
    n = REGISTRY["search_count"].fn(spark, "/root/testdata/sf0.001").count()
    spark.stop()
    return n

a = run_once()
b = run_once()  # brand-new session; cached plans from the dead one must not leak
assert a == b == 275, (a, b)

# get_spark's static daemon conf survives a stop-and-recreate, and the
# recreated session's workers run the patched zipimporter
import sys
from mapreduce__spark.session import WORKER_DAEMON, get_spark

def daemon_owner(batches):
    import zipimport
    import pandas as pd
    for _ in batches:
        pass
    yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

want = WORKER_DAEMON if sys.version_info < (3, 13) else "zipimport"
get_spark(cpus=2).stop()
spark = get_spark(cpus=2)
assert spark.sparkContext.getConf().get("spark.python.daemon.module") == WORKER_DAEMON
assert spark.range(1).mapInPandas(daemon_owner, "m string").first().m == want
spark.stop()
print("LIFECYCLE_OK")
"""


def test_session_stop_and_recreate():
    res = subprocess.run(
        [sys.executable, "-c", SCRIPT], capture_output=True, text=True,
        cwd="/root/repo", timeout=300,
    )
    assert res.returncode == 0, res.stderr[-800:]
    assert "LIFECYCLE_OK" in res.stdout

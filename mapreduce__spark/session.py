"""SparkSession factory.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads,
single JVM). The config block is written for the real target — a large
multi-executor cluster reading ~100 TB — so every knob is a scale decision,
not a test convenience:

* AQE on: runtime partition coalescing, skew-join splitting and
  dynamic join-strategy switching replace any hand-scheduling (the
  reference's chunked work-stealing cursor, MapReduceFramework.cpp:252-261,
  is exactly what AQE + the task scheduler already do).
* ``spark.sql.shuffle.partitions`` sized to the parallelism of the test
  rig; on a real cluster this should be 2-3x total executor cores and AQE
  coalesces the rest.
* Arrow enabled so any pandas-UDF path is columnar-batched, never
  row-at-a-time pickling.
* Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-location independent.
* Python workers start through ``worker_daemon`` (``spark.python.daemon.module``),
  which backports CPython 3.13's O(1) ``zipimporter.invalidate_caches`` on
  Python < 3.13. PySpark invalidates the import caches at the start of every
  task, and the stock 3.11/3.12 call re-reads ``pyspark.zip``'s directory once
  per importer, about 0.15 s before each task's UDF runs. On 3.13+ the module
  only starts PySpark's daemon. The conf is static: it applies to sessions
  built here, not to one handed to ``tune_session``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
WORKER_DAEMON = "mapreduce__spark.worker_daemon"


def get_spark(
    app_name: str = "mapreduce__spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine."""
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", WORKER_DAEMON)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Reclaim out-of-scope checkpoint/cache blocks promptly: the
        # ContextCleaner only drops a materialized RDD's blocks after a
        # DRIVER GC proves it unreachable, and the default periodic GC is
        # 30min — in a long-lived session running many queries that
        # localCheckpoint (LSH signatures, CC edges, cumsum inputs), stale
        # blocks pile up in executor memory for half an hour and evict
        # useful ones. 1min bounds the pile at any cluster size.
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.ui.enabled", "false")
        # keep the default 10MB broadcast threshold: dims (region, nation,
        # supplier, customer) all fit far under it, and a threshold high
        # enough to broadcast a FACT table locally would teach the wrong
        # plan shape for scale — AQE upgrades joins at runtime when the
        # built side is genuinely small.
    )
    spark = builder.getOrCreate()
    # getOrCreate returns any pre-existing session WITHOUT applying static
    # confs (master, driver memory) — only a buried JVM log line says so.
    # Surface it: a caller asking for local[8] and silently running on a
    # different core count is a debugging trap.
    if cpus is not None:
        try:
            actual = spark.sparkContext.master
        except Exception:
            actual = None  # e.g. Spark Connect — no sparkContext to probe
        if actual is not None and actual != f"local[{n}]":
            import warnings

            warnings.warn(
                f"get_spark(cpus={cpus}): reusing an existing SparkSession "
                f"with master={actual}; the requested master local[{n}] and "
                "other static confs were NOT applied",
                RuntimeWarning,
                stacklevel=2,
            )
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine runtime confs to an externally-provided session.

    The driver hands us its own SparkSession for ``entry``/``queries``;
    only runtime-settable confs may be touched here (timezone matters for
    oracle parity, AQE for plan quality). Its Python workers keep the stock
    ``pyspark.daemon``: the daemon module is a static conf, so such a
    session pays PySpark's per-task zipimport re-read on Python < 3.13.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for key, val in (
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
    ):
        try:
            spark.conf.set(key, val)
        except Exception:
            pass  # static conf on some builds; harmless to skip
    # runtime-settable: without it the driver's plain session shuffles
    # every query at Spark's default 200 partitions — wasteful task
    # scheduling on the test rig and the wrong starting point for AQE
    # coalescing at any scale. Sized from the SESSION's real
    # parallelism, not this module's env constant — tune_session runs
    # on externally-provided sessions whose core count we don't set.
    # The defaultParallelism lookup itself sits inside the try: a
    # session without a live sparkContext (Spark Connect) should skip
    # this one conf, not crash the whole tune.
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(spark.sparkContext.defaultParallelism, 1)),
        )
    except Exception:
        pass
    return spark

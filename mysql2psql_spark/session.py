"""SparkSession bootstrap with scale-aware defaults.

Replaces the reference's per-database ``multiprocessing.Pool`` fan-out
(/root/reference/main.py:170-190) with Spark's own cluster scheduling.
Defaults are tuned so the same code runs on local[N] for tests and on a
multi-executor cluster unchanged:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- shuffle partitions sized to the session width, not the 200 default
- Arrow enabled for every pandas interchange (vectorized UDF path)
- session timezone pinned to UTC so timestamp semantics are stable across
  engines (the DuckDB oracle is UTC-naive)
- Python call-site capture off (``spark.python.sql.dataFrameDebugging.enabled``)

Call-site capture is PySpark's DataFrame debugging: it wraps ``F.col`` and
every method of the classic ``Column`` class in ``_with_origin``, which
walks the Python stack and sends about six more py4j commands to the JVM
per call. On the perfbench corpus ops (a warm five-op pass at
``local[4]``) that was 7,500 of 20,153 Python->JVM commands. PySpark reads
the switch once per process, on the first wrapped call, so it must be a
builder default: a later ``spark.conf.set`` is never seen.

The cost: a Spark error raised from a query no longer carries the Python
call-site "DataFrame" context (the file and line of the Column call that
built the failing expression). Its message and exception type are
unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mysql2psql_spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster, ``master`` comes from spark-submit and is not set
    here; locally we default to ``local[$SPARK_GRAFT_CPUS]``. The same
    width sets the shuffle partitions; it defaults to the cores this
    process may run on.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_partitions or cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Pin the Spark-4.x default explicitly: parquet timestamps with
        # isAdjustedToUTC=false resolve as TIMESTAMP_NTZ. Query code must
        # NOT rely on this (the correctness driver runs its own session) —
        # operators/timeutil.py::epoch_of branches on the resolved dtype —
        # but pinning keeps CLI runs deterministic across Spark upgrades.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # no Python call-site capture per Column call (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # ContextCleaner reclaims shuffle files / broadcast blocks only
        # when the DRIVER garbage-collects the corresponding references;
        # a 16g driver heap under a many-hundred-query session may not
        # GC for the default 30min periodicGC interval, so state
        # accumulates and late-session queries pay eviction/GC spikes
        # (observed r6: a ~670-execution session showed 4-7s medians on
        # queries that measure 1.5s fresh). 5min bounds the accumulation
        # for long-running sessions — the same setting a long-lived
        # cluster driver wants.
        .config("spark.cleaner.periodicGC.interval", "5min")
        # The whole-stage-codegen class cache holds 100 generated classes
        # by default; a session cycling through this engine's ~170 query
        # shapes (x several codegen units each) THRASHES it, so every
        # execution of a big-plan query pays Janino recompiles (measured
        # r10: graph_triangles in an 11-shape rotation reads 3.40 s
        # median at the default vs 1.93 s at 5000 — ~1.5 s of recompile
        # per sample; the cache state at each position of a fixed query
        # order is deterministic, which made the thrash look like a
        # reproducible per-query regression across driver rounds). 4096
        # comfortably holds every shape; the compiled-class footprint is
        # a few hundred MB of metaspace on a 16 GB driver.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.ui.enabled", "false")
        # bucketed-table warehouse (co-located joins); kept off the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    if master is None and "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    elif master is not None:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

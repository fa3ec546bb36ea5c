"""SparkSession factory.

The reference leaves ``spark.sql.shuffle.partitions`` at its default of 200
and never enables AQE (no tuning keys anywhere in
``k8s/spark-apps/steam-reviews-app.yaml:21-36``) — a known inefficiency.
This factory bakes in the settings we want on a real cluster and on
``local[*]``:

- **AQE on** (coalesce post-shuffle partitions, runtime skew-join handling,
  dynamic broadcast conversion).  At 100 TB the static shuffle-partition
  count is always wrong for some stage; AQE re-plans per-stage.
- **UTC session timezone** so timestamp semantics match the DuckDB oracle
  and are stable across machines (SURVEY.md §7 risk #3).
- **Arrow enabled** for the pandas-UDF extension operators (vectorized
  batch transfer instead of pickled rows).
- **Shuffle partitions sized to the test box** but overridable; on a
  1000-executor cluster you would set this to ~2-4x total cores (or rely on
  AQE coalescing from a high initial value).
- **Codegen cache sized to the query surface.**  Spark keeps the
  classes Janino compiled for whole-stage and expression codegen in one
  LRU per JVM, 100 entries by default.  The 26 oracle-backed serving
  queries need ~224 classes and run in a fixed cycle, so at 100 every
  lookup missed and each warm pass recompiled ~222 classes; at 4096 a
  warm pass compiles none.  A streaming-ingest run compiles ~59 (it
  already fit), and one pass over all 177 registry queries at sf0.001
  compiles ~2,600 distinct classes.  The conf is static and the cache is
  built once per JVM, so — like ``spark.driver.memory`` — it only takes
  effect when ``get_spark`` builds the JVM's first session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the local[32] test harness; production deployments
# override via env or by passing extra_conf.
_DEFAULTS = {
    # --- adaptive execution: the core 100TB posture ------------------
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- determinism / oracle parity ---------------------------------
    "spark.sql.session.timeZone": "UTC",
    # Parquet timestamps without the UTC-adjusted flag read as zoned
    # TIMESTAMP, not TIMESTAMP_NTZ (Spark 4 default flipped); NTZ breaks
    # epoch casts and watermarks.  Also set per-read in sources/batch.py
    # for driver-supplied sessions.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # --- shuffle sizing ----------------------------------------------
    "spark.sql.shuffle.partitions": "32",
    # local-mode JVM sizing: the default 1g driver heap thrashes GC once
    # 32 task threads shuffle concurrently. Ignored if the JVM already
    # exists (getOrCreate on a live gateway) — e.g. when the driver
    # harness owns the session.
    "spark.driver.memory": "24g",
    "spark.driver.maxResultSize": "4g",
    # --- python interop ----------------------------------------------
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # PySpark 4's DataFrame-debugging instrumentation wraps every
    # decorated DataFrame/Column API call with a Python call-site
    # capture plus THREE py4j round-trips (conf.get +
    # PySparkCurrentOrigin.set/clear) purely to enrich error messages
    # with the Python line number.  That is per-EXPRESSION driver
    # overhead on every query construction — measured ~25-40% of the
    # construct cost of the expression-heavy queries (optimization
    # r17, guide §4 "eliminate the JVM<->Python boundary"; interleaved
    # A/B in OPTIMIZATION_r17.md).  Scale-independent: construction
    # happens on the driver regardless of data size.  Errors still
    # carry the full JVM context; only the Python-side line decoration
    # is dropped.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # parquet scans: vectorized reader + pushdown are on by default in
    # Spark 4 but we pin them so a misconfigured base image can't
    # silently disable them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # Compiled-class cache (static conf; the cache is built once per JVM,
    # so like spark.driver.memory it only applies when this builds the
    # JVM's first session).  Measured working sets, in distinct classes:
    # the 26 oracle-backed serving queries ~224, so the default LRU of
    # 100 missed on every lookup of a repeated pass (222 recompiles per
    # pass -> 0); a streaming_ingest run 59, which fit the default; one
    # pass over all 177 registry queries at sf0.001 ~2,600, so bench.py
    # and the tests fit too.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # Streaming state store: RocksDB spills state to local disk instead of
    # keeping it on-heap — required posture for unbounded/complete-mode
    # aggregations at scale (SURVEY.md §4 "state management").
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # Quieter local runs; harmless on a cluster.
    "spark.ui.showConsoleProgress": "false",
}


def get_spark(
    app_name: str = "bigdata-20251-steam-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster you omit it and let spark-submit supply the master.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

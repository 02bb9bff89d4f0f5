"""SparkSession construction and per-session tuning.

The reference hard-codes env setup in ``BaseApp.java:26-35`` (parallelism 4,
5 s exactly-once checkpoints). Here the equivalent knobs are Spark confs,
sized for the test harness (local[N]) but chosen to scale: AQE handles
runtime coalescing/skew at cluster scale, batch shuffle partitions default
to the core count locally and should be ~2-3× total cores on a real
cluster. Streaming state is sized by one rule instead, as the reference
sets its parallelism once: every streaming start goes through
``streaming/state_store._run``, which gives a fresh query one state
partition per core (``defaultParallelism``); the checkpoint keeps that
count across restarts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Session timezone is pinned to UTC so timestamp bucketing/formatting agrees
# with the DuckDB oracle (naive timestamps). The reference instead hard-codes
# UTC+8 (DateFormatUtil.java:27) — a constant offset, semantics identical.
SESSION_TZ = "UTC"

# Confs that are safe (and desirable) to set on an externally provided
# session at runtime.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": SESSION_TZ,
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # dims here are tiny; at 100 TB keep the default 10 MB and rely on
    # explicit broadcast() hints for the dim tables we know are small.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # Arrow for any toPandas()/pandas-UDF path (the sanctioned Python hop).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS); read as long and normalize in
    # tables.load (Spark has no nanos timestamp type).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Propagate bucketed tables' write-time sortBy into the scan's output
    # ordering (off by default since 3.0) so the co-located SortMergeJoin
    # needs neither Exchange nor per-query Sort. Safe: Spark trusts the
    # order only when a bucket is a single file, and bucketing.py's
    # write repartitions to guarantee exactly that; it falls back to
    # sorting otherwise. The planning-time file listing this costs is
    # amortized by the FileIndex cache.
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an existing session.

    Used on the driver-provided session inside every registry callable —
    the driver owns session creation, we own query-level configuration.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not runtime-settable on this build — keep going
    return spark


def get_spark(app_name: str = "rtdw", cpus: int | None = None) -> SparkSession:
    """Build a local session (tests/bench). Honors $SPARK_GRAFT_CPUS."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", SESSION_TZ)
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

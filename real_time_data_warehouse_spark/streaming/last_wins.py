"""Incremental last-write-wins dedup — the streaming form of ST1/ST2
(dedup by retraction / state+timer, ``DwsTradeSkuOrderWindow.java:
190-223``): keyed state = the CURRENT winning record per business key,
where the winner is the argmax under the total order (ts, event_id).

The batch form (``st1_dedup_last_wins``) is a one-pass row_number
query; this is the micro-batch body a ``foreachBatch`` sink runs. The
argmax fold is COMMUTATIVE and ASSOCIATIVE (max under a total order),
so unlike the carried-date appliers (user_state.py) there is NO batch
ordering contract — any split of the input produces the same final
state, and the st1s replay row puts that claim in front of the driver.

Output is a CDC-style upsert log: every batch re-emits the current
winner for each key the batch TOUCHED; the log compacts last-wins per
key by emitting batch. State is O(keys) — one row per business key,
exactly the reference's keyed ValueState bound; eviction at scale is
the watermark/TTL discipline documented in SCALE.md (ST-family).

Snapshots follow the shared ``batch_id=N`` replay discipline
(``state_store.py``): a retried batch re-reads the pre-batch snapshot
and overwrites its own outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from real_time_data_warehouse_spark.plans.audit import assert_no_cartesian
from real_time_data_warehouse_spark.streaming.state_store import (
    last_wins_log,
    read_snapshot,
    write_snapshot,
    write_then_read,
)

_STATE_SCHEMA = (
    "user_id long, event_type string, ts timestamp, "
    "event_id long, value double"
)


def apply_last_wins_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
) -> None:
    """One micro-batch of keyed last-write-wins over
    (event_id, user_id, event_type, ts, value): fold the batch into the
    per-key winner state, re-emit the current winner for every touched
    key."""
    rows = batch.select(
        "user_id", "event_type", "ts", "event_id",
        F.col("value").cast("double").alias("value"),
    )
    state = read_snapshot(spark, state_dir, batch_id, _STATE_SCHEMA)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wp = Window.partitionBy("user_id", "event_type")
    # the snapshot write IS the state materialization, and the
    # touched-in-this-batch flag rides IN the snapshot (one extra int
    # column; next batch's read_snapshot declares _STATE_SCHEMA so the
    # flag is projected away): winner and flag come from ONE window
    # pass over state ∪ batch, the out pass is a FILTER over the
    # written bytes, and the batch needs no checkpoint of its own
    # (fold-touched-into-snapshot; guide §1.2, §2.4; jobs per batch
    # are pinned by tests/test_jobs_per_batch.py).
    # INVARIANT: keys (user_id, event_type) are non-null — the flag
    # filter groups NULL keys where the replaced semi-join would have
    # silently dropped them; the fixtures and the st1 oracle share the
    # non-null guarantee (events.user_id/event_type are required), so
    # the two forms are equivalent. A null-keyed source would need an
    # explicit key filter here first.
    new_state = write_then_read(
        state.withColumn("tb", F.lit(0))
        .unionByName(rows.withColumn("tb", F.lit(1)))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("tb", F.max("tb").over(wp))
        .where(F.col("rn") == 1)
        .drop("rn"),
        state_dir,
        batch_id,
        _STATE_SCHEMA + ", tb int",
    )
    out = new_state.where(F.col("tb") == 1).select(
        "user_id",
        "event_type",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )
    if batch_id == 0:
        assert_no_cartesian(out, "last_wins.apply_last_wins_batch")
    write_snapshot(out, out_dir, batch_id)


def compact_last_wins_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """Last-wins per business key by emitting batch — the winner row of
    the latest batch that touched each key."""
    return last_wins_log(spark, out_dir, ["user_id", "event_type"]).select(
        "user_id",
        "event_type",
        F.col("last_event_id").cast("bigint").alias("last_event_id"),
        F.col("last_value").cast("double").alias("last_value"),
    )


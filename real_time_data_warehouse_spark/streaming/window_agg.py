"""Incremental keyed tumbling-window aggregation — the streaming form
of ``a1_windowed_sum`` (the reference's core DWS pattern:
``DwsTradeSkuOrderWindow.java:271-302``, a keyed 10 s event-time window
with an incremental reduce).

The batch query is a plain groupBy over ``window(ts) × sku_group``; the
streaming form exploits that DECIMAL sum and count are MERGEABLE: each
micro-batch aggregates its own rows map-side, merges the partials with
the carried totals for exactly the (window, key) groups present in the
batch, and re-emits those groups as CDC-style upserts. State is a full
snapshot per batch (``state/batch_id=N``) with the same replay
discipline as ``streaming/sessionize.py``/``scd2.py`` — a crash-retried
batch re-reads the pre-batch snapshot and overwrites its own partitions,
so the stream is idempotent under retry; last-wins compaction of the
upsert log materializes exactly the one-pass batch result, independent
of where the batch boundaries fall (no ordering requirement at all:
merge is commutative AND associative, unlike the gates' ascending-id
contract).

This is the Spark-native answer to Flink's incremental window reduce:
partial aggregation happens inside each micro-batch's hash aggregate
(map-side combine), and the cross-batch merge touches only the groups
the batch saw — per-batch cost is O(batch), state reads prune to the
touched keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.functions.money import dec
from real_time_data_warehouse_spark.functions.time import tumble

from real_time_data_warehouse_spark.streaming.state_store import (
    last_wins_log,
    read_snapshot,
    write_snapshot,
    write_then_read,
)

_STATE_SCHEMA = (
    "wstart timestamp, sku_group string, "
    "order_amount decimal(18,2), order_ct long"
)
_KEY = ["wstart", "sku_group"]


def apply_window_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
) -> None:
    """One micro-batch of the incremental windowed sum over
    (ts, event_type, value): aggregate the batch, merge partials with
    carried totals for the touched groups, re-emit those groups,
    snapshot the new totals."""
    part = (
        batch.groupBy(tumble("ts"), F.col("event_type").alias("sku_group"))
        .agg(
            F.sum(dec("value")).cast("decimal(18,2)").alias("order_amount"),
            F.count("*").cast("long").alias("order_ct"),
        )
        .select(
            F.col("window.start").alias("wstart"),
            "sku_group",
            F.col("order_amount").alias("p_amount"),
            F.col("order_ct").alias("p_ct"),
        )
    )
    state = read_snapshot(spark, state_dir, batch_id, _STATE_SCHEMA)
    # one keyed FULL join merges carried totals with the batch partials
    # (a + 0.00 / a + b — the identical two-term decimal adds the
    # union + re-aggregate form computed), and the touched flag (batch
    # side present) rides IN the snapshot. part has ONE consumer (no
    # checkpoint job), the semi/anti broadcast pair is gone, and the
    # out pass filters the written bytes (fold-touched-into-snapshot;
    # guide §1.2, §2.4; jobs per batch are pinned by
    # tests/test_jobs_per_batch.py). Next batch's declared-schema read
    # projects the flag away.
    # INVARIANT: the window/key columns are non-null (the flag filter
    # groups NULL keys where the old semi-join dropped them;
    # fixture-guaranteed — see last_wins.py).
    zero = F.lit(0).cast("decimal(18,2)")
    merged_all = write_then_read(
        state.join(part, _KEY, "full").select(
            "wstart",
            "sku_group",
            (
                F.coalesce("order_amount", zero)
                + F.coalesce("p_amount", zero)
            )
            .cast("decimal(18,2)")
            .alias("order_amount"),
            (F.coalesce("order_ct", F.lit(0)) + F.coalesce("p_ct", F.lit(0)))
            .cast("long")
            .alias("order_ct"),
            F.col("p_ct").isNotNull().cast("int").alias("tb"),
        ),
        state_dir,
        batch_id,
        _STATE_SCHEMA + ", tb int",
    )
    write_snapshot(
        merged_all.where(F.col("tb") == 1).select(
            "wstart", "sku_group", "order_amount", "order_ct"
        ),
        out_dir,
        batch_id,
    )


def compact_window_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """Materialize the windowed-sum table from the per-batch upsert log
    (last-wins per group by emitting batch), stamped with the same
    stt/edt/cur_date metadata and column types the a1 batch query
    emits."""
    wend = F.col("wstart") + F.expr("INTERVAL 10 SECONDS")
    return last_wins_log(spark, out_dir, _KEY).select(
        F.date_format("wstart", "yyyy-MM-dd HH:mm:ss").alias("stt"),
        F.date_format(wend, "yyyy-MM-dd HH:mm:ss").alias("edt"),
        F.date_format("wstart", "yyyy-MM-dd").alias("cur_date"),
        "sku_group",
        F.col("order_amount").cast("double").alias("order_amount"),
        F.col("order_ct").cast("long").alias("order_ct"),
    )


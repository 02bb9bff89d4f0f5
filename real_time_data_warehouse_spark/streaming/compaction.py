"""Incremental compaction planning — the streaming form of
``z3_compaction_plan``.

A real lakehouse compactor doesn't re-scan the data per micro-batch; it
maintains the FILE CATALOG (per-(day,hour) micro-file byte totals, a
time-bounded table orders of magnitude smaller than the data) and
re-plans bins over it. The streaming form does exactly that: each batch
aggregates its own rows map-side to per-(day,hour) partials, merges
them into the carried catalog (sum is commutative+associative, so an
hour STRADDLING a batch boundary accumulates correctly regardless of
where the boundary falls), snapshots the catalog, and re-emits the
full re-planned bin assignment as that batch's upsert generation. The
final generation IS the plan — last-wins compaction of the log equals
the one-pass ``z3`` over the complete table, which is what the driver's
oracle checks via ``z3s_compaction_replay``.

Same snapshot/replay discipline as window_agg/sessionize: batch N reads
the latest snapshot with id < N and overwrites its own partitions, so a
crash-retried batch is idempotent. Unlike the gates' ascending-id
contract, the catalog merge is ORDER-FREE — any split of the input
yields the same final plan (tests/test_compaction_stream.py proves a
hash split, not just the time split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.plans.audit import assert_no_cartesian
from real_time_data_warehouse_spark.streaming.state_store import (
    read_snapshot,
    write_snapshot,
    write_then_read,
)

_STATE_SCHEMA = "day string, hour int, n_rows long, bytes long"
_KEY = ["day", "hour"]


def apply_compaction_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
) -> None:
    """One micro-batch: fold the batch's rows into the per-(day,hour)
    catalog, snapshot it, emit the re-planned bin assignment."""
    from real_time_data_warehouse_spark.operators.layout import (
        _Z3_ROW_OVERHEAD,
        compaction_bins,
    )

    part = (
        batch.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day"
            ),
            F.hour("ts").cast("int").alias("hour"),
            (F.octet_length("props") + F.lit(_Z3_ROW_OVERHEAD)).alias("b"),
        )
        .groupBy(*_KEY)
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("b").cast("long").alias("bytes"),
        )
    )
    state = read_snapshot(spark, state_dir, batch_id, _STATE_SCHEMA)
    # the snapshot write IS the catalog materialization; the re-plan
    # reads the written catalog back (one job fewer per batch)
    merged = write_then_read(
        state.unionByName(part)
        .groupBy(*_KEY)
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("bytes").cast("long").alias("bytes"),
        ),
        state_dir,
        batch_id,
        _STATE_SCHEMA,
    )
    plan = compaction_bins(merged)
    if batch_id == 0:
        assert_no_cartesian(plan, "compaction.apply_compaction_batch")
    write_snapshot(plan, out_dir, batch_id)


def compact_plan_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """Materialize the final plan from the per-batch generations: every
    batch re-plans the whole (bounded, only-growing) catalog, so the
    LATEST generation alone is exactly what the previous last-wins
    row_number window over all generations picked per (day, hour) —
    read just that partition via read_snapshot's latest-id rule instead
    of scanning every generation and sorting (the g1s finalize cut;
    guide §1.2 fewer passes, §2.4 remove shuffles outright)."""
    plan = read_snapshot(
        spark,
        out_dir,
        1 << 62,
        _STATE_SCHEMA + ", cum_bytes long, bin_id long",
    )
    return plan.select(
        "day",
        "hour",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("bytes").cast("bigint").alias("bytes"),
        F.col("cum_bytes").cast("bigint").alias("cum_bytes"),
        F.col("bin_id").cast("bigint").alias("bin_id"),
    )

"""Streaming joins — the J-family operators in their streaming forms
(SURVEY.md §2.3; batch twins live in operators/joins.py).

- Interval join (J4, DwdTradeOrderPaySucDetail.java:74-98): stream-stream
  inner join with watermarks on BOTH sides plus the event-time range
  condition. Spark uses the range bound to size the join state — the
  idle-state-TTL knob the reference sets manually
  (tEnv.getConfig().setIdleStateRetention) falls out of the predicate.
- Lookup join (J5, DwdInteractionCommentInfo.java:42-52): stream ⋈ static
  table. The static side is re-read each micro-batch — that *is* the
  FOR SYSTEM_TIME AS OF proctime semantics; broadcast keeps it
  shuffle-free on the stream side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join_purchases(
    events: DataFrame,
    lookback: str = "30 minutes",
    watermark: str = "10 seconds",
) -> DataFrame:
    """For each purchase, prior same-user events within [ts-lookback, ts).

    Both sides carry watermarks; the range predicate bounds state on each
    side (events kept only `lookback` past the watermark)."""
    pay = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("pay_id"),
            F.col("user_id").alias("pay_user"),
            F.col("ts").alias("pay_ts"),
        )
    )
    ev = events.select(
        F.col("event_id").alias("prior_id"), "user_id", "ts"
    )
    if events.isStreaming:
        pay = pay.withWatermark("pay_ts", watermark)
        ev = ev.withWatermark("ts", watermark)
    return pay.join(
        ev,
        (F.col("pay_user") == F.col("user_id"))
        & (F.col("ts") >= F.col("pay_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("ts") < F.col("pay_ts")),
        "inner",
    ).select("pay_id", "prior_id", "pay_user", "pay_ts", "ts")


def lookup_join_dim(stream: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static broadcast join (the HBase lookup-join replacement)."""
    return stream.join(F.broadcast(dim), on, "left")


def left_outer_stream_join(
    orders: DataFrame,
    payments: DataFrame,
    pay_window: str = "30 minutes",
    watermark: str = "10 seconds",
) -> DataFrame:
    """J2 streaming form: order ⟕ payment within [order.ts, order.ts +
    pay_window] (DwdTradeOrderDetail.java:105-108's left joins).

    This is the operator where Flink and Spark diverge hardest
    (SURVEY.md §7.4.1): Flink emits +I(order,null) immediately and
    retracts it (-D/+I) when the payment arrives — the downstream must
    cancel the storm. Spark holds the unmatched row in state and emits the
    null-padded result ONCE, only after the watermark proves no payment
    can still arrive. Net results identical; no retraction machinery to
    port. Both sides need watermarks; the time-range bound sizes the
    state.
    """
    o = orders.select(
        F.col("event_id").alias("order_id"),
        F.col("user_id").alias("o_user"),
        F.col("ts").alias("o_ts"),
    )
    p = payments.select(
        F.col("event_id").alias("pay_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    if orders.isStreaming:
        o = o.withWatermark("o_ts", watermark)
        p = p.withWatermark("p_ts", watermark)
    return o.join(
        p,
        (F.col("o_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("o_ts"))
        & (F.col("p_ts") <= F.col("o_ts") + F.expr(f"INTERVAL {pay_window}")),
        "leftOuter",
    ).select("order_id", "o_user", "o_ts", "pay_id", "p_ts")


# --- incremental interval join (the j4s replay body) ----------------------

import os as _os

from pyspark.sql import SparkSession

from real_time_data_warehouse_spark.streaming.state_store import (
    read_log,
    read_snapshot,
    write_snapshot,
)

_IJ_STATE_SCHEMA = "prior_id long, user_id long, ts timestamp"
_IJ_LOOKBACK_S = 1800  # 30 minutes — one source of truth with j4


def apply_interval_join_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
) -> None:
    """One micro-batch of the incremental interval join over
    time-range-ordered batches of (event_id, user_id, ts, event_type).

    Because batches are time ranges [lo, hi) and the join condition is
    STRICTLY prior (ts_e < ts_p), every event a purchase can match is
    in its own batch or an earlier one — so each purchase's count is
    COMPLETE at its batch and the output log is append-only (no
    upserts). State is exactly the trailing lookback window of events
    (rows older than max_ts − lookback can never match a future
    purchase), which is the same bound Spark's watermarked
    stream-stream join derives from the range predicate."""
    events = batch.select(
        "event_id", "user_id", "ts", "event_type"
    ).localCheckpoint(eager=True)
    state = read_snapshot(spark, state_dir, batch_id, _IJ_STATE_SCHEMA)
    all_ev = state.unionByName(
        events.select(
            F.col("event_id").alias("prior_id"), "user_id", "ts"
        )
    ).localCheckpoint(eager=True)
    pay = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pay_id"),
        F.col("user_id").alias("pay_user"),
        F.col("ts").alias("pay_ts"),
    )
    joined = pay.join(
        all_ev,
        (F.col("pay_user") == F.col("user_id"))
        & (
            F.col("ts")
            >= F.col("pay_ts") - F.expr(f"INTERVAL {_IJ_LOOKBACK_S} SECONDS")
        )
        & (F.col("ts") < F.col("pay_ts")),
    )
    out = joined.groupBy("pay_id").agg(
        F.count("prior_id").alias("prior_events")
    )
    write_snapshot(out, out_dir, batch_id)
    # evict: keep only the trailing lookback window (state stays O(rate
    # × lookback) forever — the watermark bound). The driver-side
    # max-ts round-trip was A/B-measured against a 1-row broadcast
    # crossJoin inside the write job and the round-trip is FASTER here
    # (the broadcast-nested-loop stage costs more than the tiny agg job,
    # +9%/batch) — kept deliberately (round-12 adjudication).
    mx = all_ev.agg(F.max("ts")).first()[0]
    new_state = all_ev.where(
        F.col("ts") > F.lit(mx) - F.expr(f"INTERVAL {_IJ_LOOKBACK_S} SECONDS")
    )
    write_snapshot(new_state, state_dir, batch_id)


def read_interval_join_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """Concatenate the append-only per-batch outputs (each purchase is
    emitted exactly once, in its own batch)."""
    return read_log(spark, out_dir).drop("batch_id")


# --- incremental left-outer join (the j2s replay body) --------------------

_LOJ_WINDOW_S = 1800  # payment window after the order event
_LOJ_STATE_SCHEMA = "order_id long, user_id long, o_ts timestamp, matched int"


def _loj_state_dir(out_dir: str) -> str:
    # underscore prefix: invisible to Spark's parquet discovery, so the
    # out_dir log read skips it and one scratch root serves both
    return _os.path.join(out_dir, "_state")


def apply_left_outer_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    out_dir: str,
) -> None:
    """One micro-batch of order ⟕ payment over time-range batches of
    (event_id, user_id, ts, event_type): 'click' events open an order
    that waits up to 30 min for a same-user 'purchase'.

    The Flink/Spark divergence op (SURVEY §7.4.1): Flink emits
    +I(order, null) immediately and retracts on match; here the
    unmatched order is HELD in state and the null-padded row is
    emitted exactly once — when event time proves no payment can still
    arrive (o_ts + window < max seen ts; future batches are strictly
    later). Matches emit append-only the moment the payment's batch
    runs, since a payment can never precede its order's batch under
    time-range splitting (p_ts >= o_ts).

    State lives under ``out_dir/_state`` (underscore-prefixed so the
    log read skips it) — derived here AND in ``finalize_left_outer``
    from the one ``out_dir`` handle, which is why this applier takes no
    separate state_dir argument."""
    state_dir = _loj_state_dir(out_dir)
    ev = batch.select(
        "event_id", "user_id", "ts", "event_type"
    ).localCheckpoint(eager=True)
    state = read_snapshot(spark, state_dir, batch_id, _LOJ_STATE_SCHEMA)
    new_orders = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("order_id"),
        "user_id",
        F.col("ts").alias("o_ts"),
        F.lit(0).alias("matched"),
    )
    pays = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pay_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    all_orders = state.unionByName(new_orders).localCheckpoint(eager=True)
    pairs = all_orders.join(
        pays,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("o_ts"))
        & (
            F.col("p_ts")
            <= F.col("o_ts") + F.expr(f"INTERVAL {_LOJ_WINDOW_S} SECONDS")
        ),
    ).select("order_id", "pay_id")
    matched_now = pairs.select("order_id").distinct()
    updated = (
        all_orders.join(
            matched_now.withColumn("hit", F.lit(1)), "order_id", "left"
        )
        .select(
            "order_id",
            "user_id",
            "o_ts",
            F.greatest("matched", F.coalesce("hit", F.lit(0))).alias(
                "matched"
            ),
        )
        .localCheckpoint(eager=True)
    )
    # driver max-ts round-trip kept deliberately: the 1-row broadcast
    # crossJoin alternative A/B-measured +8%/batch (round-12
    # adjudication — the broadcast-nested-loop stage costs more than
    # this tiny agg job at any bench scale)
    mx = ev.agg(F.max("ts")).first()[0]
    horizon = F.col("o_ts") + F.expr(f"INTERVAL {_LOJ_WINDOW_S} SECONDS")
    expired = updated.where(horizon < F.lit(mx)) if mx else updated.limit(0)
    nulls = expired.where(F.col("matched") == 0).select(
        "order_id", F.lit(None).cast("long").alias("pay_id")
    )
    write_snapshot(pairs.unionByName(nulls), out_dir, batch_id)
    keep = updated.where(horizon >= F.lit(mx)) if mx else updated
    write_snapshot(keep, state_dir, batch_id)


def finalize_left_outer(spark: SparkSession, out_dir: str) -> DataFrame:
    """End-of-stream flush: the watermark goes to infinity, so every
    still-pending unmatched order emits its null-padded row now; the
    append-only pair/null log plus the flush is the complete left-outer
    result."""
    state_dir = _loj_state_dir(out_dir)
    pending = read_snapshot(spark, state_dir, 1 << 30, _LOJ_STATE_SCHEMA)
    leftovers = pending.where(F.col("matched") == 0).select(
        "order_id", F.lit(None).cast("long").alias("pay_id")
    )
    return read_log(spark, out_dir).drop("batch_id").unionByName(leftovers)

"""Incremental traffic-stats state — streaming forms of ST4 and ST6,
completing driver-checked batch ≡ stream twins for EVERY stateful
operator family in SURVEY §2.6:

- ST4 first-event-per-day daily UV
  (``DwsTrafficVcChArIsNewPageViewWindow.java:58-106``): keyed state =
  the set of (user, day) pairs already counted; a batch contributes a
  day's count only for pairs not yet in the set. Set union is
  COMMUTATIVE+ASSOCIATIVE, so there is NO batch ordering contract —
  the replay splits on event_id like a5s/st1s.
- ST6 session-visit count (``DwsTrafficVcChArIsNewPageViewWindow.java:
  86-88`` generalized to the 30-min-gap rule): keyed state = the
  user's last event time plus the accumulated session count. The gap
  rule reads the carried last_ts, so batches MUST ascend in event time
  (the carried-state contract; replay splits on a derived time key).

Both emit CDC-style upsert logs (touched keys re-emit their full
accumulated value; compact last-wins per key by emitting batch), and
both follow the shared ``batch_id=N`` snapshot discipline
(``state_store.py``) so a retried batch is idempotent. State bounds:
ST4 is O(users × active days) — exactly the dedup set the reference
keeps with per-day TTL; ST6 is O(users).
"""

from __future__ import annotations

import os

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

# --- ST4: first-event-per-day daily UV ------------------------------------

_SEEN_SCHEMA = "user_id long, d date"


def _seen_dir(state_dir: str) -> str:
    return os.path.join(state_dir, "seen")


def apply_daily_uv_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
) -> None:
    """One micro-batch of daily-UV accumulation over (user_id, ts):
    each (user, day) pair counts once ever; touched days re-emit their
    accumulated count."""
    # job budget (the replay rows pay per-batch job overhead 4x): the
    # anti-join materializes once (it feeds the seen-snapshot write AND
    # the touched-day set), the seen write IS the membership-set
    # materialization (write_then_read), and the per-day counts are
    # DERIVED from the written set — uv_ct(d) is by definition the
    # number of (user, d) members, so the separate day-counter store
    # the original form maintained (1 read + 1 write per batch) held
    # nothing the membership set doesn't already say. Jobs per batch
    # are pinned by tests/test_jobs_per_batch.py.
    pairs = batch.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    seen = read_snapshot(spark, _seen_dir(state_dir), batch_id, _SEEN_SCHEMA)
    # the new-member flag rides IN the membership snapshot (projected
    # away by next batch's declared-schema read), so the anti-join has
    # ONE consumer (no checkpoint job) and touched days derive from the
    # written bytes (fold-touched-into-snapshot; guide §1.2).
    new = pairs.join(seen, ["user_id", "d"], "left_anti")
    all_seen = write_then_read(
        seen.withColumn("nb", F.lit(0))
        .unionByName(new.withColumn("nb", F.lit(1))),
        _seen_dir(state_dir),
        batch_id,
        _SEEN_SCHEMA + ", nb int",
    )
    touched = all_seen.where(F.col("nb") == 1).select("d").distinct()
    out = (
        all_seen.join(F.broadcast(touched), "d", "leftsemi")
        .groupBy("d")
        .agg(F.count("*").cast("long").alias("uv_ct"))
        .select(F.date_format("d", "yyyy-MM-dd").alias("cur_date"), "uv_ct")
    )
    if batch_id == 0:
        assert_no_cartesian(out, "visit_stats.apply_daily_uv_batch")
    write_snapshot(out, out_dir, batch_id)


def compact_daily_uv_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """Last-wins per cur_date by emitting batch."""
    return last_wins_log(spark, out_dir, ["cur_date"]).select(
        "cur_date", F.col("uv_ct").cast("bigint").alias("uv_ct")
    )


# --- ST6: session-visit count ---------------------------------------------

_SESS_SCHEMA = "user_id long, last_ts timestamp, ct long"
_GAP_S = 1800.0  # one source of truth with st6_session_count


def apply_session_count_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
) -> None:
    """One micro-batch of 30-min-gap session counting over
    (user_id, ts, event_id): a batch's first event per user consults
    the CARRIED last_ts (time-ascending contract), later events the
    in-batch lag; touched users re-emit their accumulated count."""
    # ev has one consumer — stays lazy (a checkpoint here is a whole
    # extra job per batch for nothing)
    ev = batch.select("user_id", "ts", "event_id")
    state = read_snapshot(spark, state_dir, batch_id, _SESS_SCHEMA)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap_vs = lambda base: (  # noqa: E731
        F.col("ts").cast("double") - base.cast("double")
    ) > _GAP_S
    marked = ev.withColumn("prev_ts", prev).join(
        state.select("user_id", "last_ts"), "user_id", "left"
    )
    is_new = F.when(
        F.col("prev_ts").isNotNull(), gap_vs(F.col("prev_ts")).cast("int")
    ).otherwise(
        (F.col("last_ts").isNull() | gap_vs(F.col("last_ts"))).cast("int")
    )
    per_user = marked.select("user_id", "ts", is_new.alias("n")).groupBy(
        "user_id"
    ).agg(
        F.sum("n").cast("long").alias("batch_new"),
        F.max("ts").alias("batch_last"),
    )
    # the snapshot write IS the state materialization, and the
    # touched-user flag (batch side present in the full join) rides IN
    # the snapshot — per_user has ONE consumer (no checkpoint job) and
    # the out pass filters the written bytes (fold-touched-into-
    # snapshot; guide §1.2; jobs per batch are pinned by
    # tests/test_jobs_per_batch.py). Next batch's declared-schema read
    # projects the flag away. INVARIANT: user_id is non-null (the flag filter
    # groups NULL keys where the old semi-join dropped them; the
    # fixtures guarantee non-null user_id, so the forms agree — see
    # last_wins.py).
    new_state = write_then_read(
        state.join(per_user, "user_id", "full")
        .select(
            "user_id",
            # time-ascending batches ⇒ batch ts >= carried last_ts
            F.coalesce("batch_last", "last_ts").alias("last_ts"),
            (F.coalesce("ct", F.lit(0)) + F.coalesce("batch_new", F.lit(0)))
            .cast("long")
            .alias("ct"),
            F.col("batch_new").isNotNull().cast("int").alias("tb"),
        ),
        state_dir,
        batch_id,
        _SESS_SCHEMA + ", tb int",
    )
    out = new_state.where(F.col("tb") == 1).select(
        "user_id", F.col("ct").cast("bigint").alias("session_ct")
    )
    if batch_id == 0:
        assert_no_cartesian(out, "visit_stats.apply_session_count_batch")
    write_snapshot(out, out_dir, batch_id)


def compact_session_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """Last-wins per user by emitting batch."""
    return last_wins_log(spark, out_dir, ["user_id"]).select(
        "user_id", F.col("session_ct").cast("bigint").alias("session_ct")
    )

"""Incremental per-user date state — the streaming forms of the two
reference ops SURVEY §7.3 calls genuinely custom:

- ST3 new/old-visitor flag repair (``DwdBaseLog.java:121-188``): keyed
  state = the user's first-ever visit date; every event is stamped
  ``is_new = 1`` iff its date equals that first date.
- ST5 returning-user detection (``DwsUserUserLoginWindow.java:80-124``):
  keyed state = the user's last login date; a login on a NEW date
  counts toward that date's unique users, and counts as "returning"
  when the gap since the previous login date is >= 8 days.

Both already have ``applyInPandasWithState`` forms
(``streaming/stateful.py:106,255``) covered by pytest; these are the
warehouse-native micro-batch bodies the ``_replay_batches`` harness can
drive against the BATCH oracles (``st3_visitor_state_fix``,
``st5_returning_user``), giving the batch ≡ stream claim hard driver
signal like a1s/a5s/j2s/j4s/st8s/st13s.

Ordering contract: batches ascend in EVENT TIME (the replay splits on a
derived time key), so a user's carried first/last date always precedes
or equals every date in the current batch. Within that contract:

- ST3 output is APPEND-ONLY: the first-ever date of a user is fixed by
  the earliest batch that sees the user, so an event's ``is_new`` flag
  is final the moment its own batch runs — no retraction, no upsert.
- ST5 output is a CDC-style upsert log keyed by date: a date's counts
  can still grow in later batches (a user's first login of that date
  may arrive later), so touched dates re-emit their full accumulated
  counts and the log compacts last-wins.

State is O(users) — one date per user, exactly the bound the
reference's keyed ValueState carries — plus, for ST5, O(active dates)
of count accumulators. Snapshots follow the shared ``batch_id=N``
replay discipline (``state_store.py``): retried batches re-read the
pre-batch snapshot and overwrite their own outputs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from real_time_data_warehouse_spark.streaming.state_store import (
    last_wins_log,
    read_snapshot,
    write_snapshot,
    write_then_read,
)

# --- ST3: visitor-flag repair ---------------------------------------------

_VISITOR_STATE_SCHEMA = "user_id long, first_d date"


def apply_visitor_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
) -> None:
    """One micro-batch of the visitor-flag repair over
    (event_id, user_id, ts): stamp every event with its user's
    first-ever visit date, append the stamped rows, fold the batch's
    minima into the per-user state."""
    ev = batch.select(
        "event_id", "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).localCheckpoint(eager=True)
    state = read_snapshot(spark, state_dir, batch_id, _VISITOR_STATE_SCHEMA)
    batch_first = ev.groupBy("user_id").agg(F.min("d").alias("batch_d"))
    # time-ascending batches ⇒ carried first_d <= every batch date, so
    # least(carried, batch_min) is the user's true first-ever date
    # the snapshot write IS the state materialization (write_then_read
    # replaces checkpoint + write + derive — one job fewer per batch)
    merged = write_then_read(
        state.join(batch_first, "user_id", "full")
        .select(
            "user_id",
            F.least(
                F.coalesce("first_d", "batch_d"),
                F.coalesce("batch_d", "first_d"),
            ).alias("first_d"),
        ),
        state_dir,
        batch_id,
        _VISITOR_STATE_SCHEMA,
    )
    out = ev.join(merged, "user_id").select(
        "event_id",
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("visit_date"),
        (F.col("d") == F.col("first_d")).cast("int").alias("is_new"),
    )
    write_snapshot(out, out_dir, batch_id)


# --- ST5: returning-user / daily-UU accumulation --------------------------

_USER_STATE_SCHEMA = "user_id long, last_d date"
_DAY_STATE_SCHEMA = "d date, uu_ct long, back_ct long"
_BACK_GAP_DAYS = 8  # one source of truth with st5_returning_user


def _users_dir(state_dir: str) -> str:
    return os.path.join(state_dir, "users")


def _days_dir(state_dir: str) -> str:
    return os.path.join(state_dir, "days")


def apply_returning_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
) -> None:
    """One micro-batch of the returning-user window over
    (user_id, ts, event_type): per user, each NEW login date counts 1
    unique user for that date and 1 returning user when the gap since
    the previous login date is >= ``_BACK_GAP_DAYS``; touched dates
    re-emit their accumulated (uu_ct, back_ct)."""
    logins = (
        batch.where(F.col("event_type").isin("signup", "click"))
        .select(
            "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    ustate = read_snapshot(
        spark, _users_dir(state_dir), batch_id, _USER_STATE_SCHEMA
    )
    # previous DISTINCT login date: earlier date in this batch if any,
    # else the carried last_d (time-ascending batches ⇒ last_d <= d)
    w = Window.partitionBy("user_id").orderBy("d")
    marked = (
        logins.withColumn("prev_in_batch", F.lag("d").over(w))
        .join(ustate, "user_id", "left")
        .withColumn("eff_prev", F.coalesce("prev_in_batch", "last_d"))
    )
    # d == last_d (a date spanning two batches) was already counted
    new_days = marked.where(
        F.col("last_d").isNull() | (F.col("d") > F.col("last_d"))
    )
    increments = new_days.groupBy("d").agg(
        F.count("*").cast("long").alias("uu_inc"),
        F.sum(
            (
                F.col("eff_prev").isNotNull()
                & (F.datediff("d", "eff_prev") >= _BACK_GAP_DAYS)
            ).cast("long")
        ).alias("back_inc"),
    )
    dstate = read_snapshot(
        spark, _days_dir(state_dir), batch_id, _DAY_STATE_SCHEMA
    )
    # the snapshot write IS the day-state materialization, and the
    # touched-date flag rides IN the snapshot (max of a 0/1 provenance
    # column through the merge agg; next batch's declared-schema read
    # projects it away) — increments has ONE consumer, so its
    # checkpoint job is gone and the out pass filters the written
    # bytes (fold-touched-into-snapshot; guide §1.2). INVARIANT: the
    # grouping key is non-null (the flag filter groups NULL keys where
    # the old semi-join dropped them; fixture-guaranteed — see
    # last_wins.py).
    new_dstate = write_then_read(
        dstate.withColumn("tb", F.lit(0))
        .unionByName(
            increments.select(
                "d",
                F.col("uu_inc").alias("uu_ct"),
                F.col("back_inc").alias("back_ct"),
            ).withColumn("tb", F.lit(1))
        )
        .groupBy("d")
        .agg(
            F.sum("uu_ct").cast("long").alias("uu_ct"),
            F.sum("back_ct").cast("long").alias("back_ct"),
            F.max("tb").alias("tb"),
        ),
        _days_dir(state_dir),
        batch_id,
        _DAY_STATE_SCHEMA + ", tb int",
    )
    write_snapshot(
        new_dstate.where(F.col("tb") == 1).select(
            F.date_format("d", "yyyy-MM-dd").alias("cur_date"),
            "uu_ct",
            "back_ct",
        ),
        out_dir,
        batch_id,
    )
    new_ustate = (
        ustate.unionByName(
            logins.select("user_id", F.col("d").alias("last_d"))
        )
        .groupBy("user_id")
        .agg(F.max("last_d").alias("last_d"))
    )
    write_snapshot(new_ustate, _users_dir(state_dir), batch_id)


def compact_returning_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """Last-wins per cur_date by emitting batch — the accumulated
    counts of the latest batch that touched each date."""
    return last_wins_log(spark, out_dir, ["cur_date"]).select(
        "cur_date",
        F.col("uu_ct").cast("bigint").alias("uu_ct"),
        F.col("back_ct").cast("bigint").alias("back_ct"),
    )


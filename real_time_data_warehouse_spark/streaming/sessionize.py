"""Incremental gap-based sessionization — the streaming form of the
``st13_sessionization`` registry query.

The reference's session notion is a stateless per-record marker
(``DwsTrafficVcChArIsNewPageViewWindow.java:86-88``: empty
``last_page_id`` starts a session); the stateful generalization every
clickstream warehouse ships is inactivity-gap sessionization, which in
a stream needs exactly ONE row of keyed state per user: the currently
open session ``(session_seq, session_start, last_ts, n_events,
value_sum)``. This module maintains that state across ordered
micro-batches with the same snapshot-store discipline as
``streaming/scd2.py``:

- state is a full snapshot per batch (``state/batch_id=N``), each batch
  reading the latest snapshot with id < its own — a crash-retried batch
  re-reads exactly the pre-batch state and overwrites its own output +
  snapshot partitions (idempotent under replay);
- per batch, only users PRESENT in the batch are touched; the carried
  open session joins in as a pseudo-row ahead of the user's batch
  events (its ``last_ts`` precedes every batch ts by the ordering
  contract), one lag + running-sum pass assigns session numbers
  CONTINUING from the carried sequence, and the rollup re-emits every
  session touched this batch;
- the out_dir is a CDC-style upsert log keyed (user_id, session_seq):
  a session extended in a later batch is simply re-emitted with its
  new totals, so last-wins compaction (the ST1 dedup) materializes the
  same table the one-pass st13 query produces.

Value sums are carried as DECIMAL(18,2) (the registry's money rule), so
cross-batch addition is exact and the final totals are independent of
where the batch boundaries fall. Batch ≡ stream equivalence is
driver-checked by the ``st13s_session_replay`` registry query against
the st13 oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from real_time_data_warehouse_spark.functions.money import dec

# one source of truth with the batch query
from real_time_data_warehouse_spark.operators.stateful import SESSION_GAP_S

from real_time_data_warehouse_spark.streaming.state_store import (
    last_wins_log,
    read_snapshot,
    write_snapshot,
    write_then_read,
)

_STATE_SCHEMA = (
    "user_id long, session_seq int, session_start timestamp, "
    "last_ts timestamp, n_events long, value_sum decimal(18,2)"
)


def apply_session_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
) -> None:
    """One sessionization micro-batch over (user_id, ts, value,
    event_id): continue session numbering from carried open sessions,
    re-emit every session touched this batch, snapshot the new open
    sessions."""
    events = batch.select(
        "user_id", "ts", "value", "event_id"
    ).localCheckpoint(eager=True)
    state = read_snapshot(spark, state_dir, batch_id, _STATE_SCHEMA)
    touched_users = events.select("user_id").distinct()
    carried = state.join(F.broadcast(touched_users), "user_id", "leftsemi")
    untouched = state.join(F.broadcast(touched_users), "user_id", "leftanti")

    # carried open session as a pseudo-row ahead of the batch's events:
    # ts = last_ts seeds the gap test; contribution columns carry the
    # session's accumulated start/count/sum into the rollup
    pseudo = carried.select(
        "user_id",
        F.col("last_ts").alias("ts"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("kind"),
        F.col("session_seq").alias("seq0"),
        F.col("session_start").alias("start_c"),
        F.col("n_events").alias("contrib_n"),
        F.col("value_sum").alias("contrib_sum"),
    )
    rows = pseudo.unionByName(
        events.select(
            "user_id",
            "ts",
            "event_id",
            F.lit(1).alias("kind"),
            F.lit(None).cast("int").alias("seq0"),
            F.col("ts").alias("start_c"),
            F.lit(1).cast("long").alias("contrib_n"),
            dec("value").alias("contrib_sum"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "kind", "event_id")
    wall = Window.partitionBy("user_id")
    sec = F.col("ts").cast("double")
    prev = F.lag(sec).over(w)
    is_new = (
        (F.col("kind") == 1)
        & (prev.isNull() | (sec - prev > SESSION_GAP_S))
    ).cast("int")
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    assigned = (
        rows.withColumn("is_new", is_new)
        .withColumn("base", F.max("seq0").over(wall))
        .withColumn(
            "session_seq",
            (F.coalesce("base", F.lit(0)) + F.sum("is_new").over(wcum))
            .cast("int"),
        )
    )
    # the out-partition write IS the touched-sessions materialization:
    # the open-session snapshot derives from the written bytes instead
    # of a separate checkpoint job (one job fewer per batch)
    sessions = assigned.groupBy("user_id", "session_seq").agg(
        F.min("start_c").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.sum("contrib_n").cast("long").alias("n_events"),
        F.sum("contrib_sum").cast("decimal(18,2)").alias("value_sum"),
    )
    sessions = write_then_read(
        sessions,
        out_dir,
        batch_id,
        "user_id long, session_seq int, session_start timestamp, "
        "session_end timestamp, n_events long, value_sum decimal(18,2)",
    )
    w_last = Window.partitionBy("user_id").orderBy(
        F.col("session_seq").desc()
    )
    new_open = (
        sessions.withColumn("rn", F.row_number().over(w_last))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "session_seq",
            "session_start",
            F.col("session_end").alias("last_ts"),
            "n_events",
            "value_sum",
        )
    )
    write_snapshot(untouched.unionByName(new_open), state_dir, batch_id)


def compact_session_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """Materialize the session table from the per-batch upsert log:
    last-wins per (user_id, session_seq) by emitting batch — a session
    extended across batches keeps only its final totals."""
    return last_wins_log(spark, out_dir, ["user_id", "session_seq"]).select(
        "user_id",
        F.col("session_seq").cast("int").alias("session_seq"),
        "session_start",
        "session_end",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("value_sum").cast("double").alias("value_sum"),
    )


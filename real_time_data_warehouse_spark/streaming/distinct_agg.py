"""Incremental windowed DISTINCT count — the streaming form of
``a5_windowed_uu`` (the reference's UU windows:
``DwsTradeCartAddUuWindow.java:99-139``, a keyed state Set per window).

DISTINCT is the aggregate that naive mergeable partials CANNOT handle
(count-partials double-count repeat users), which is why the reference
carries an explicit per-key Set in keyed state. The warehouse-native
equivalent: state is the SET ITSELF as a table of distinct
(cur_date, event_type, user_id) triples. Per micro-batch:

- the batch's triples anti-join the state → genuinely new members only;
- groups that gained members re-emit their full count (state count +
  new members) as a CDC-style upsert keyed (cur_date, event_type);
- the new members append to the snapshot (same ``batch_id=N`` replay
  discipline as the other gates — retried batches re-read the
  pre-batch snapshot and overwrite their outputs).

State is O(distinct members), exactly the reference's Set-state bound;
``a2c_hll_partial_union`` is the in-repo sketch alternative when exact
membership is too big. Last-wins compaction of the upsert log equals
the one-pass ``COUNT(DISTINCT ...)`` at ANY batch split — no ordering
contract, since set union is commutative and associative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.streaming.state_store import (
    last_wins_log,
    read_snapshot,
    write_snapshot,
    write_then_read,
)

_STATE_SCHEMA = "cur_date string, event_type string, user_id long"
_KEY = ["cur_date", "event_type"]


def apply_distinct_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
) -> None:
    """One micro-batch of the incremental windowed UU over
    (user_id, ts, event_type)."""
    # triples has one consumer (the anti-join) — stays lazy
    triples = batch.select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
            "cur_date"
        ),
        "event_type",
        "user_id",
    ).distinct()
    state = read_snapshot(spark, state_dir, batch_id, _STATE_SCHEMA)
    # the new-member flag rides IN the membership snapshot (projected
    # away by next batch's declared-schema read), so the anti-join has
    # ONE consumer (no checkpoint job) and the touched groups derive
    # from the written bytes (fold-touched-into-snapshot; guide §1.2;
    # jobs per batch are pinned by tests/test_jobs_per_batch.py). The
    # count pass still PRUNES to touched groups via the broadcast
    # semi-join, the scale-correct shape.
    new_members = triples.join(state, [*_KEY, "user_id"], "leftanti")
    all_members = write_then_read(
        state.withColumn("nb", F.lit(0))
        .unionByName(new_members.withColumn("nb", F.lit(1))),
        state_dir,
        batch_id,
        _STATE_SCHEMA + ", nb int",
    )
    touched = all_members.where(F.col("nb") == 1).select(*_KEY).distinct()
    counts = (
        all_members.join(F.broadcast(touched), _KEY, "leftsemi")
        .groupBy(*_KEY)
        .agg(F.count("*").cast("bigint").alias("uu_ct"))
    )
    write_snapshot(counts, out_dir, batch_id)


def compact_distinct_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """Last-wins per (cur_date, event_type) by emitting batch."""
    return last_wins_log(spark, out_dir, _KEY).select(
        *_KEY, F.col("uu_ct").cast("bigint").alias("uu_ct")
    )

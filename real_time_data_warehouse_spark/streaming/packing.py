"""Incremental sequence packing — the streaming form of the
``c3_sequence_packing`` registry query.

The trainer-facing tail of the live curation pipeline: documents arrive
in ordered micro-batches and must land in fixed token-budget bins with
GLOBALLY consistent (shard, bin, offset) addresses — the same addresses
the one-pass batch query assigns (pinned by tests/test_pack_stream.py).

What persists between batches is one running token total per shard —
``_PACK_SHARDS`` rows of state for an unbounded corpus, the starkest
case of the sketch-state principle the gates use (the corpus is never
re-read; 32 longs summarize everything packing needs from the past).

State is written as a FULL SNAPSHOT per batch (``state/batch_id=N``,
32 rows) and each batch reads the latest snapshot with id < its own:
a crash-retried batch therefore re-reads exactly the pre-batch state and
overwrites its own output + snapshot partitions — idempotent under
replay, same contract as every sink here. Ordering contract: ascending
doc_id ranges per batch (as the gates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.plans.audit import assert_no_cartesian
from pyspark.sql.window import Window

from real_time_data_warehouse_spark.functions.text import tokenize
from real_time_data_warehouse_spark.operators.curation import (
    _PACK_CAPACITY,
    _PACK_SHARDS,
)

from real_time_data_warehouse_spark.streaming.state_store import (
    read_snapshot,
    write_snapshot,
)

_STATE_SCHEMA = "shard long, cum_tokens long"


def apply_pack_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
) -> None:
    """One packing micro-batch: assign (shard, bin_id, offset_in_bin) to
    each doc continuing from the per-shard running totals, write
    assignments to out_dir/batch_id=N and the updated 32-row state
    snapshot to state_dir/batch_id=N (both overwrite → retry-safe)."""
    docs = (
        batch.select(
            "doc_id",
            F.size(tokenize("text")).cast("bigint").alias("n_tokens"),
            (F.col("doc_id") % _PACK_SHARDS).cast("bigint").alias("shard"),
        )
        .localCheckpoint(eager=True)
    )
    state = read_snapshot(spark, state_dir, batch_id, _STATE_SCHEMA)
    base = state.select("shard", F.col("cum_tokens").alias("base"))
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    intra_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    cum_before = F.coalesce("base", F.lit(0)) + intra_before
    out = docs.join(F.broadcast(base), "shard", "left").select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(cum_before.cast("double") / _PACK_CAPACITY)
        .cast("bigint")
        .alias("bin_id"),
        (cum_before % _PACK_CAPACITY).cast("bigint").alias("offset_in_bin"),
    )
    if batch_id == 0:
        # one-shot (plan shape is batch-invariant): the registry-wide
        # lint skips replay queries, so the guard lives in the applier
        assert_no_cartesian(out, "packing.apply_pack_batch")
    write_snapshot(out, out_dir, batch_id)
    batch_totals = docs.groupBy("shard").agg(
        F.sum("n_tokens").alias("batch_tokens")
    )
    new_state = (
        base.join(batch_totals, "shard", "full")
        .select(
            "shard",
            (
                F.coalesce("base", F.lit(0))
                + F.coalesce("batch_tokens", F.lit(0))
            ).alias("cum_tokens"),
        )
    )
    write_snapshot(new_state, state_dir, batch_id)


"""Incremental PageRank-graph maintenance — the streaming form of
``g1_pagerank``.

The streaming-hard part of PageRank over a clickstream is not the rank
loop (deterministic, bounded, offline-shaped); it is maintaining the
TRANSITION GRAPH incrementally when per-user event sequences straddle
micro-batch boundaries: the edge (last event of batch N, first event of
batch N+1) belongs to the graph but exists in neither batch alone —
exactly the carried-state problem of the reference's keyed
ValueState operators (DwsTrafficVcChArIsNewPageViewWindow.java-family,
SURVEY §2.6). Each batch therefore:

1. folds the carried per-user LAST-VALID-PAGE event into the batch's
   own ordered sequence (one union + one lead window, so the boundary
   transition is derived by the same code path as the in-batch ones,
   and each transition is emitted exactly once — a carried event is by
   construction one whose successor had not arrived yet);
2. merges the batch's (src, dst, count) partials into the carried edge
   catalog (sum is commutative+associative, so edge accumulation is
   order-free once chaining is right);
3. snapshots the last-event state and emits the merged catalog as
   that batch's generation — the emitted generations double as the
   edge snapshots (each re-emits the full bounded catalog), so the
   catalog is written once per batch, not twice.

The rank loop then runs ONCE, in ``finalize``, over the last
generation — fixed K iterations from the uniform init, identical to
the batch query, so the driver's check against the verbatim ``g1``
oracle verifies the claim that matters: incremental graph maintenance
across arbitrary time-range boundaries ≡ the one-pass derivation. (A
production deployment would additionally warm-start the loop from the
prior fixpoint to cut rounds on small deltas; that is a latency
optimization of the deterministic loop, not a semantics change, and
keeping the cold fixed-K form is what keeps the row oracle-exact.)

Same snapshot/replay discipline as compaction/window_agg: batch N reads
the latest snapshot with id < N and overwrites its own partitions, so a
crash-retried batch is idempotent.

Scale: both states are bounded and keyed — |users| rows of last-event
state (the ST3/ST4 state class) and |distinct edges| rows of catalog
(the pre-aggregated form the batch g1 iterates over anyway). Per batch
the work is one window over the batch keyed by user and one
catalog-sized merge; nothing rescans history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from real_time_data_warehouse_spark.plans.audit import assert_no_cartesian
from real_time_data_warehouse_spark.streaming.state_store import (
    read_snapshot,
    write_snapshot,
)

_LAST_SCHEMA = "user_id long, ts timestamp, event_id long, page bigint"
_EDGE_SCHEMA = "src bigint, dst bigint, w long"


def apply_pagerank_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
) -> None:
    """One micro-batch: chain carried last events into the batch's
    ordered sequences, fold new transitions into the edge catalog,
    snapshot both states, emit the catalog generation."""
    page = F.get_json_object("props", "$.k").try_cast("bigint")
    valid = (
        batch.select(
            "user_id", "ts", "event_id", page.alias("page")
        ).where(F.col("page").isNotNull())
    )
    last_dir = os.path.join(state_dir, "last")
    carried = read_snapshot(spark, last_dir, batch_id, _LAST_SCHEMA)
    seq = carried.unionByName(valid)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hops = (
        seq.select(
            "user_id",
            "ts",
            "event_id",
            F.col("page").alias("src"),
            F.lead("page").over(w).alias("dst"),
        )
        .localCheckpoint(eager=True)  # feeds edges AND the new last state
    )
    part = (
        hops.where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("w"))
    )
    # previous edge catalog = the PREVIOUS emitted generation — the
    # emitted generations ARE snapshots (each batch re-emits the full
    # merged catalog), so a separate state copy would write every byte
    # twice; read_snapshot's latest-id<N rule applies to out_dir as-is
    edges = (
        read_snapshot(spark, out_dir, batch_id, _EDGE_SCHEMA)
        .unionByName(part)
        .groupBy("src", "dst")
        .agg(F.sum("w").cast("long").alias("w"))
    )
    new_last = (
        hops.where(F.col("dst").isNull())  # per-user tail = no successor yet
        .select(
            "user_id", "ts", "event_id", F.col("src").alias("page")
        )
    )
    write_snapshot(new_last, last_dir, batch_id)
    if batch_id == 0:
        assert_no_cartesian(edges, "pagerank_stream.apply_pagerank_batch")
    write_snapshot(edges, out_dir, batch_id)


def pagerank_from_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """Final generation of the edge catalog → the fixed-K integer-
    lattice rank frame (g1's exact loop and output contract).

    Every batch re-emits the FULL merged catalog (generation N =
    generation N-1 ∪ batch partials, re-aggregated), so generation
    supports only ever grow and the LATEST generation is exactly the
    row the previous last-wins row_number window picked per (src, dst)
    — reading just that partition replaces a scan of every generation
    plus a full shuffle+sort with one pruned read (guide §1.2 fewer
    passes, §2.4 remove shuffles outright)."""
    from real_time_data_warehouse_spark.operators.graph import (
        PR_ITERS,
        pagerank_frame,
    )

    edges = read_snapshot(spark, out_dir, 1 << 62, _EDGE_SCHEMA).select(
        "src", "dst", F.col("w").cast("bigint").alias("w")
    )
    return pagerank_frame(edges, PR_ITERS)

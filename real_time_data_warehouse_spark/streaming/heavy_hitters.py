"""Streaming heavy-hitter tracker — the ingestion-time form of a13.

State is a bounded Misra-Gries summary (≤ cap counters), kept as
per-batch SNAPSHOTS (``state_store.py``): batch N reads the latest
snapshot below N, folds its token counts in, applies the MG decrement
if the summary overflows, and overwrites snapshot N. A retried batch
re-reads the same pre-batch snapshot and deterministically rewrites its
own — the gates' retry-idempotence contract (streaming/dedup_gate.py)
carried over to folded state.

The MG bound survives chunked folding: every decrement round removes
≥ cut·(cap+1) total mass and costs any single key ≤ cut, so across the
whole stream a key undercounts by at most N/(cap+1) — a key with true
count > N/k (cap ≥ k) therefore never leaves the summary, no matter
where the batch boundaries fall. Candidates from the FINAL snapshot are
a superset of the true heavy hitters; the exact verify pass decides,
so the streaming path returns the identical result to the one-pass a13
query (the equivalence the a13s replay puts in front of the driver).

Scale: the summary is ≤ cap rows (cap = 4K = 120 here); reading
cap+1 counters to the driver to find the decrement cut is the same
driver-state scale as the IVF centroid loop (similarity.py) — constant,
not data-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.plans.audit import assert_no_cartesian
from real_time_data_warehouse_spark.streaming.state_store import (
    read_snapshot,
    write_snapshot,
)

_STATE_SCHEMA = "w string, cnt bigint"


def apply_hh_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    store_dir: str,
    cap: int,
) -> None:
    """Fold one batch of (w) token rows into the MG summary snapshot."""
    prev = read_snapshot(spark, store_dir, batch_id, _STATE_SCHEMA)
    counts = batch.groupBy("w").agg(F.count("*").cast("bigint").alias("cnt"))
    merged = (
        prev.unionByName(counts)
        .groupBy("w")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    # ONE driver round-trip decides overflow AND the cut: the top cap+1
    # counters come back (≤ cap+1 rows — the same bounded driver state
    # as before); a full count() job just to test overflow is redundant
    top = merged.orderBy(F.col("cnt").desc(), "w").limit(cap + 1).collect()
    if len(top) > cap:
        # the (cap+1)-th largest counter is the MG decrement cut
        cut = top[-1]["cnt"]
        merged = merged.select(
            "w", (F.col("cnt") - cut).cast("bigint").alias("cnt")
        ).where(F.col("cnt") > 0)
    if batch_id == 0:
        # one-shot (plan shape is batch-invariant): the registry-wide
        # lint skips replay queries, so the guard lives in the applier
        assert_no_cartesian(merged, "heavy_hitters.apply_hh_batch")
    write_snapshot(merged, store_dir, batch_id)


def final_candidates(
    spark: SparkSession, store_dir: str, n_batches: int
) -> DataFrame:
    """Candidate keys after the last fold — ≤ cap rows."""
    return read_snapshot(spark, store_dir, n_batches, _STATE_SCHEMA).select(
        "w"
    )

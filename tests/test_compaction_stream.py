"""Incremental compaction planning (streaming/compaction.py, the z3s
applier): split-independence beyond the driver's fixed time split, and
the empty/straddle edge cases the oracle can't isolate."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F

from real_time_data_warehouse_spark.operators.layout import compaction_bins
from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map
from real_time_data_warehouse_spark.streaming.compaction import (
    apply_compaction_batch,
    compact_plan_log,
)
from real_time_data_warehouse_spark.streaming.state_store import (
    last_wins_log,
    read_log,
)
from real_time_data_warehouse_spark.tables import Tables
from tests.conftest import SF_DIR

query_map()


def _replay(spark, rows, split_col, n_batches, base):
    store = os.path.join(base, "store")
    out = os.path.join(base, "out")
    mx = rows.agg(F.max(split_col)).first()[0]
    span = (int(mx) if mx is not None else 0) + 1
    for b in range(n_batches):
        lo, hi = span * b // n_batches, span * (b + 1) // n_batches
        batch = rows.where(
            (F.col(split_col) >= lo) & (F.col(split_col) < hi)
        )
        apply_compaction_batch(spark, batch, b, store, out)
    return compact_plan_log(spark, out)


def _one_pass(spark):
    t = Tables(spark, SF_DIR)
    from real_time_data_warehouse_spark.operators.layout import (
        _Z3_ROW_OVERHEAD,
    )

    files = (
        t.events.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day"
            ),
            F.hour("ts").cast("int").alias("hour"),
            (F.octet_length("props") + F.lit(_Z3_ROW_OVERHEAD)).alias("b"),
        )
        .groupBy("day", "hour")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("b").cast("bigint").alias("bytes"),
        )
    )
    return compaction_bins(files)


def _as_map(df):
    return {
        (r.day, r.hour): (r.n_rows, r.bytes, r.cum_bytes, r.bin_id)
        for r in df.collect()
    }


def test_hash_split_equals_one_pass(spark, tmp_path_factory):
    """The catalog merge is ORDER-FREE (commutative sums + full re-plan
    per batch), so even a HASH split — every batch touching every hour,
    maximal straddling — must reproduce the one-pass plan. This is
    strictly stronger than the driver's ascending-time replay."""
    t = Tables(spark, SF_DIR)
    rows = t.events.select("ts", "props").withColumn(
        "hkey", F.pmod(F.xxhash64("ts", "props"), F.lit(97)).cast("long")
    )
    base = str(tmp_path_factory.mktemp(f"cmp_{uuid.uuid4().hex[:8]}"))
    got = _as_map(_replay(spark, rows, "hkey", 3, base))
    exp = _as_map(_one_pass(spark))
    assert got == exp


def test_empty_batches_are_harmless(spark, tmp_path_factory):
    """Batches 1..N-1 empty: the catalog must carry through unchanged
    and the final plan must equal the single-batch plan (empty-batch
    hardening — the d15 zero-divisor lesson applied to state carry)."""
    t = Tables(spark, SF_DIR)
    rows = t.events.select("ts", "props").withColumn(
        "k", F.lit(0).cast("long")
    )
    base = str(tmp_path_factory.mktemp(f"cmp_{uuid.uuid4().hex[:8]}"))
    # span=1 → batch 0 gets everything, batches 1-3 are empty
    store = os.path.join(base, "store")
    out = os.path.join(base, "out")
    apply_compaction_batch(spark, rows, 0, store, out)
    empty = rows.where(F.lit(False))
    for b in (1, 2, 3):
        apply_compaction_batch(spark, empty, b, store, out)
    got = _as_map(compact_plan_log(spark, out))
    exp = _as_map(_one_pass(spark))
    assert got == exp


def test_latest_generation_equals_last_wins_over_all(spark, tmp_path_factory):
    """The full-re-emit invariant behind compact_plan_log: every batch
    re-plans the whole (only-growing) catalog, so the latest generation
    alone equals last-wins per (day, hour) over ALL generations."""
    t = Tables(spark, SF_DIR)
    rows = t.events.select("event_id", "ts", "props")
    base = str(tmp_path_factory.mktemp(f"cmp_{uuid.uuid4().hex[:8]}"))
    latest = _as_map(_replay(spark, rows, "event_id", 3, base))
    out = os.path.join(base, "out")
    assert read_log(spark, out).select("batch_id").distinct().count() == 3
    every = last_wins_log(spark, out, ["day", "hour"]).select(
        "day",
        "hour",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("bytes").cast("bigint").alias("bytes"),
        F.col("cum_bytes").cast("bigint").alias("cum_bytes"),
        F.col("bin_id").cast("bigint").alias("bin_id"),
    )
    assert latest == _as_map(every)

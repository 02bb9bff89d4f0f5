"""Streaming SCD2 maintenance: the foreachBatch form must produce the
exact interval table of the one-pass st8 query — versions continuing
across batch boundaries, late closes re-emitted, last-wins compaction —
at any batch split, and crash-retried batches must change nothing."""

from __future__ import annotations

import os
import shutil
import time as _time

from pyspark.sql import functions as F

from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map
from real_time_data_warehouse_spark.streaming.scd2 import (
    apply_scd2_batch,
    compact_scd2_log,
)
from real_time_data_warehouse_spark.streaming.state_store import run_applier_stream
from real_time_data_warehouse_spark.tables import Tables
from tests.conftest import SF_DIR

query_map()

_KEY = ("user_id", "version")


def _expected(spark):
    return {
        (r["user_id"], r["version"]): (
            r["event_type"], r["valid_from"], r["valid_to"], r["is_current"]
        )
        for r in QUERY_REGISTRY["st8_scd2_intervals"].fn(spark, SF_DIR).collect()
    }


def _got(spark, out_dir):
    return {
        (r["user_id"], r["version"]): (
            r["event_type"], r["valid_from"], r["valid_to"], r["is_current"]
        )
        for r in compact_scd2_log(spark, out_dir).collect()
    }


def test_event_id_order_is_event_time_order(spark):
    """The replay splits by event_id ranges; the contract that makes
    that a valid time-ordered batching is pinned here."""
    inversions = (
        Tables(spark, SF_DIR)
        .events.select(
            "ts",
            F.lag("ts").over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.orderBy("event_id")
            ).alias("p"),
        )
        .where(F.col("p") > F.col("ts"))
        .count()
    )
    assert inversions == 0


def test_scd2_batches_match_one_pass_query(spark, tmp_path):
    events = (
        Tables(spark, SF_DIR)
        .events.select("user_id", "event_type", "ts", "event_id")
        .localCheckpoint(eager=True)
    )
    ids = sorted(r["event_id"] for r in events.select("event_id").collect())
    cuts = [ids[len(ids) * (i + 1) // 3 - 1] for i in range(3)]
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    lo = None
    for i, hi in enumerate(cuts):
        batch = events.where(
            (F.col("event_id") <= hi)
            & (F.col("event_id") > (lo if lo is not None else -1))
        )
        apply_scd2_batch(spark, batch, i, state, out)
        lo = hi
    assert _got(spark, out) == _expected(spark)


def test_scd2_batch_retry_idempotent(spark, tmp_path):
    """Replaying the last batch (crash-retry) must not change any
    interval: the batch re-reads the pre-batch snapshot and overwrites
    its own partitions."""
    events = (
        Tables(spark, SF_DIR)
        .events.select("user_id", "event_type", "ts", "event_id")
        .localCheckpoint(eager=True)
    )
    ids = sorted(r["event_id"] for r in events.select("event_id").collect())
    cut = ids[len(ids) // 2]
    b0 = events.where(F.col("event_id") <= cut)
    b1 = events.where(F.col("event_id") > cut)
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    apply_scd2_batch(spark, b0, 0, state, out)
    apply_scd2_batch(spark, b1, 1, state, out)
    first = _got(spark, out)
    apply_scd2_batch(spark, b1, 1, state, out)  # retry
    assert _got(spark, out) == first == _expected(spark)


def test_scd2_stream_wire(spark, tmp_path):
    """End-to-end through writeStream/foreachBatch with one file per
    trigger — the exact code path a deployment runs."""
    events = Tables(spark, SF_DIR).events.select(
        "user_id", "event_type", "ts", "event_id"
    )
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    ids = sorted(r["event_id"] for r in events.select("event_id").collect())
    cuts = [ids[len(ids) * (i + 1) // 3 - 1] for i in range(3)]
    lo = None
    for i, hi in enumerate(cuts):
        part = events.where(
            (F.col("event_id") <= hi)
            & (F.col("event_id") > (lo if lo is not None else -1))
        )
        stage = f"{src}_stage{i}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        pf = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        shutil.move(os.path.join(stage, pf), os.path.join(src, f"b{i}.parquet"))
        _time.sleep(0.2)
        lo = hi
    state, out, ckpt = (
        str(tmp_path / "state"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    stream = (
        spark.readStream.schema(
            "user_id long, event_type string, ts timestamp, event_id long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_applier_stream(stream, apply_scd2_batch, state, out, ckpt)
    q.awaitTermination(240)
    assert _got(spark, out) == _expected(spark)


def test_scd2_late_close_across_absent_batch(spark, tmp_path):
    """A version must close correctly even when its entity skips whole
    batches: the open interval passes through snapshots untouched, and
    the close re-emits the version in the later batch (compaction takes
    the newest emission)."""
    import datetime as dt

    def T(s):
        return dt.datetime(2024, 1, 1, 0, 0, s)

    rows = spark.createDataFrame(
        [
            (7, "x", T(1), 1),   # batch 0: user 7 opens version 1 (x)
            (8, "a", T(2), 2),   # batch 1: only user 8 — user 7 absent
            (7, "y", T(10), 3),  # batch 2: user 7 switches x -> y
        ],
        "user_id long, event_type string, ts timestamp, event_id long",
    )
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    for b in range(3):
        apply_scd2_batch(
            spark, rows.where(F.col("event_id") == b + 1), b, state, out
        )
    got = {
        (r["user_id"], r["version"]): (
            r["event_type"], r["valid_from"], r["valid_to"], r["is_current"]
        )
        for r in compact_scd2_log(spark, out).collect()
    }
    assert got == {
        (7, 1): ("x", T(1), T(10), 0),   # closed two batches later
        (7, 2): ("y", T(10), None, 1),
        (8, 1): ("a", T(2), None, 1),
    }

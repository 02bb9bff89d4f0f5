"""Batch ≡ stream for the last-write-wins applier
(streaming/last_wins.py): ST1/ST2 dedup-by-retraction. The argmax fold
under the (ts, event_id) total order is commutative+associative, so the
replay must reproduce the one-pass st1 query at ANY split — including
NON-time-ordered ones (hash splits), the property the carried-date
appliers do NOT have — plus retried batches and planted tie cases."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map
from real_time_data_warehouse_spark.streaming.last_wins import (
    apply_last_wins_batch,
    compact_last_wins_log,
)
from real_time_data_warehouse_spark.streaming.state_store import run_applier_stream
from real_time_data_warehouse_spark.tables import Tables
from tests.conftest import SF_DIR

query_map()

_COLS = ("user_id", "event_type", "last_event_id", "last_value")


def _expected(spark):
    return {
        tuple(r[c] for c in _COLS)
        for r in QUERY_REGISTRY["st1_dedup_last_wins"].fn(spark, SF_DIR).collect()
    }


def _replay(spark, tmp_path, batches, tag, retry_last=False):
    state = str(tmp_path / f"lw_state_{tag}")
    out = str(tmp_path / f"lw_out_{tag}")
    for b, batch in enumerate(batches):
        apply_last_wins_batch(spark, batch, b, state, out)
        if retry_last and b == len(batches) - 1:
            apply_last_wins_batch(spark, batch, b, state, out)
    return {
        tuple(r[c] for c in _COLS)
        for r in compact_last_wins_log(spark, out).collect()
    }


def _events(spark):
    return (
        Tables(spark, SF_DIR)
        .events.select("event_id", "user_id", "event_type", "ts", "value")
        .localCheckpoint(eager=True)
    )


def test_replay_matches_one_pass_id_splits(spark, tmp_path):
    ev = _events(spark)
    span = ev.agg(F.max("event_id")).first()[0] + 1
    for n in (1, 3):
        batches = [
            ev.where(
                (F.col("event_id") >= span * b // n)
                & (F.col("event_id") < span * (b + 1) // n)
            )
            for b in range(n)
        ]
        assert _replay(spark, tmp_path, batches, f"id{n}") == _expected(spark)


def test_replay_matches_one_pass_hash_split(spark, tmp_path):
    """Order-FREE claim: a modulo split interleaves late and early rows
    across batches — the carried-date appliers would be wrong here; the
    argmax fold must not care."""
    ev = _events(spark)
    batches = [ev.where(F.col("event_id") % 3 == b) for b in range(3)]
    assert _replay(spark, tmp_path, batches, "hash") == _expected(spark)


def test_retry_idempotent(spark, tmp_path):
    ev = _events(spark)
    span = ev.agg(F.max("event_id")).first()[0] + 1
    batches = [
        ev.where(
            (F.col("event_id") >= span * b // 2)
            & (F.col("event_id") < span * (b + 1) // 2)
        )
        for b in range(2)
    ]
    got = _replay(spark, tmp_path, batches, "retry", retry_last=True)
    assert got == _expected(spark)


def test_planted_winners(spark, tmp_path):
    """Later ts wins across batches; equal ts falls to higher event_id;
    a key seen in only one batch survives compaction untouched."""
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        # key (1,'a'): later ts arrives in the EARLIER batch
        (10, 1, "a", t0 + datetime.timedelta(hours=5), 5.0),
        (11, 1, "a", t0 + datetime.timedelta(hours=1), 1.0),
        # key (2,'b'): tie on ts → higher event_id wins
        (20, 2, "b", t0, 2.0),
        (21, 2, "b", t0, 3.0),
        # key (3,'c'): single batch only
        (30, 3, "c", t0, 9.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
        "ts timestamp, value double"
    )
    batches = [
        ev.where(F.col("event_id").isin(10, 20)),
        ev.where(F.col("event_id").isin(11, 21, 30)),
    ]
    got = _replay(spark, tmp_path, batches, "planted")
    assert got == {
        (1, "a", 10, 5.0),
        (2, "b", 21, 3.0),
        (3, "c", 30, 9.0),
    }


def test_last_wins_readstream_matches_batch(spark, tmp_path):
    """End-to-end Structured Streaming: a file-source stream (one file
    per micro-batch) through run_applier_stream must compact to the
    one-pass st1 result. Files are id-split — the order-free fold needs
    no arrival-order contract."""
    import os
    import shutil

    ev = _events(spark)
    span = ev.agg(F.max("event_id")).first()[0] + 1
    src = str(tmp_path / "lw_src")
    os.makedirs(src, exist_ok=True)
    for i in range(3):
        part = ev.where(
            (F.col("event_id") >= span * i // 3)
            & (F.col("event_id") < span * (i + 1) // 3)
        )
        stage = f"{src}_stage{i}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        pf = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        shutil.move(os.path.join(stage, pf), os.path.join(src, f"b{i}.parquet"))
    state, out, ckpt = (
        str(tmp_path / "lw_state"),
        str(tmp_path / "lw_out"),
        str(tmp_path / "lw_ckpt"),
    )
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, "
            "ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2 = run_applier_stream(stream, apply_last_wins_batch, state, out, ckpt)
    q2.awaitTermination(240)
    from real_time_data_warehouse_spark.streaming.last_wins import (
        compact_last_wins_log,
    )

    got = {
        tuple(r[c] for c in _COLS)
        for r in compact_last_wins_log(spark, out).collect()
    }
    assert got == _expected(spark)

"""Batch ≡ stream for the per-user date-state appliers
(streaming/user_state.py): ST3 visitor-flag repair and ST5
returning-user — the two reference ops SURVEY §7.3 calls genuinely
custom (DwdBaseLog.java:121-188, DwsUserUserLoginWindow.java:80-124).

The replay splits the fixture on ascending EVENT-TIME ranges (the
appliers' ordering contract) and must reproduce the one-pass batch
query at ANY split count, under a retried (replayed) batch, and on a
planted stream that plants the tricky cases: a date spanning two
batches, an exactly-8-day gap, a 7-day (non-returning) gap, and a user
first seen mid-stream.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map
from real_time_data_warehouse_spark.streaming.state_store import run_applier_stream
from real_time_data_warehouse_spark.streaming.user_state import (
    apply_returning_batch,
    apply_visitor_batch,
    compact_returning_log,
)
from real_time_data_warehouse_spark.tables import Tables
from tests.conftest import SF_DIR

query_map()


def _time_batches(events, n_batches):
    """Ascending event-time range batches covering every row exactly
    once (same contract as gate_replay's tsec splitting)."""
    lo_ts = events.agg(F.min("ts")).first()[0]
    span = (
        events.agg(F.max("ts")).first()[0] - lo_ts
    ).total_seconds() + 1
    sec = F.col("ts").cast("double") - F.lit(lo_ts).cast("double")
    return [
        events.where(
            (sec >= span * b / n_batches) & (sec < span * (b + 1) / n_batches)
        )
        for b in range(n_batches)
    ]


# --- ST3 visitor-flag repair ----------------------------------------------


def _st3_expected(spark):
    return {
        (r["event_id"], r["user_id"], r["visit_date"], r["is_new"])
        for r in QUERY_REGISTRY["st3_visitor_state_fix"]
        .fn(spark, SF_DIR)
        .collect()
    }


def _st3_replay(spark, tmp_path, n_batches, retry_last=False):
    ev = (
        Tables(spark, SF_DIR)
        .events.select("event_id", "user_id", "ts")
        .localCheckpoint(eager=True)
    )
    state = str(tmp_path / f"v_state{n_batches}")
    out = str(tmp_path / f"v_out{n_batches}")
    batches = _time_batches(ev, n_batches)
    for b, batch in enumerate(batches):
        apply_visitor_batch(spark, batch, b, state, out)
        if retry_last and b == n_batches - 1:
            apply_visitor_batch(spark, batch, b, state, out)
    log = spark.read.option("basePath", out).parquet(out)
    return {
        (r["event_id"], r["user_id"], r["visit_date"], r["is_new"])
        for r in log.collect()
    }


def test_visitor_replay_matches_one_pass_any_split(spark, tmp_path):
    exp = _st3_expected(spark)
    assert _st3_replay(spark, tmp_path, 3) == exp
    assert _st3_replay(spark, tmp_path, 7) == exp


def test_visitor_batch_retry_idempotent(spark, tmp_path):
    assert _st3_replay(spark, tmp_path, 4, retry_last=True) == _st3_expected(
        spark
    )


# --- ST5 returning-user ---------------------------------------------------


def _st5_expected(spark):
    return {
        (r["cur_date"], r["uu_ct"], r["back_ct"])
        for r in QUERY_REGISTRY["st5_returning_user"]
        .fn(spark, SF_DIR)
        .collect()
    }


def _st5_replay(spark, tmp_path, n_batches, retry_last=False):
    ev = (
        Tables(spark, SF_DIR)
        .events.select("user_id", "ts", "event_type")
        .localCheckpoint(eager=True)
    )
    state = str(tmp_path / f"r_state{n_batches}")
    out = str(tmp_path / f"r_out{n_batches}")
    batches = _time_batches(ev, n_batches)
    for b, batch in enumerate(batches):
        apply_returning_batch(spark, batch, b, state, out)
        if retry_last and b == n_batches - 1:
            apply_returning_batch(spark, batch, b, state, out)
    return {
        (r["cur_date"], r["uu_ct"], r["back_ct"])
        for r in compact_returning_log(spark, out).collect()
    }


def test_returning_replay_matches_one_pass_any_split(spark, tmp_path):
    exp = _st5_expected(spark)
    assert _st5_replay(spark, tmp_path, 3) == exp
    assert _st5_replay(spark, tmp_path, 7) == exp


def test_returning_batch_retry_idempotent(spark, tmp_path):
    assert _st5_replay(spark, tmp_path, 4, retry_last=True) == _st5_expected(
        spark
    )


# --- planted stream: boundary cases hand-checked --------------------------


def _ts(day, hour=0):
    return datetime.datetime(2024, 1, day, hour, 0, 0)


def _planted(spark):
    # user 1: day 1 spans batches; logs again day 9 (gap 8 -> back)
    # user 2: day 1, then day 8 (gap 7 -> NOT back)
    # user 3: first seen mid-stream (day 9) -> uu only, never back
    # user 4: 'purchase' events only -> invisible to st5, visible to st3
    rows = [
        (1, 1, _ts(1, 1), "click"),
        (2, 2, _ts(1, 2), "signup"),
        (3, 1, _ts(1, 20), "click"),     # same day, later batch
        (4, 2, _ts(8, 3), "click"),      # gap 7 days
        (5, 1, _ts(9, 4), "click"),      # gap 8 days -> back
        (6, 3, _ts(9, 5), "signup"),
        (7, 4, _ts(9, 6), "purchase"),
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    ).localCheckpoint(eager=True)


def test_planted_returning_counts(spark, tmp_path):
    ev = _planted(spark)
    state, out = str(tmp_path / "p_state"), str(tmp_path / "p_out")
    for b, batch in enumerate(_time_batches(ev, 4)):
        apply_returning_batch(spark, batch, b, state, out)
    got = {
        (r["cur_date"], r["uu_ct"], r["back_ct"])
        for r in compact_returning_log(spark, out).collect()
    }
    assert got == {
        ("2024-01-01", 2, 0),
        ("2024-01-08", 1, 0),   # 7-day gap is not returning
        ("2024-01-09", 2, 1),   # user 1 returns (gap 8); user 3 is new
    }


def test_planted_visitor_flags(spark, tmp_path):
    ev = _planted(spark)
    state, out = str(tmp_path / "pv_state"), str(tmp_path / "pv_out")
    for b, batch in enumerate(_time_batches(ev, 4)):
        apply_visitor_batch(spark, batch, b, state, out)
    got = {
        (r["event_id"], r["visit_date"], r["is_new"])
        for r in spark.read.option("basePath", out).parquet(out).collect()
    }
    assert got == {
        (1, "2024-01-01", 1),
        (2, "2024-01-01", 1),
        (3, "2024-01-01", 1),   # same first day, later batch: still new
        (4, "2024-01-08", 0),
        (5, "2024-01-09", 0),
        (6, "2024-01-09", 1),
        (7, "2024-01-09", 1),   # event_type does not matter for st3
    }


def test_returning_empty_mid_stream_batch(spark, tmp_path):
    ev = _planted(spark)
    empty = ev.limit(0)
    state, out = str(tmp_path / "e_state"), str(tmp_path / "e_out")
    batches = _time_batches(ev, 3)
    apply_returning_batch(spark, batches[0], 0, state, out)
    apply_returning_batch(spark, empty, 1, state, out)
    apply_returning_batch(spark, batches[1], 2, state, out)
    apply_returning_batch(spark, batches[2], 3, state, out)
    got = {
        (r["cur_date"], r["uu_ct"], r["back_ct"])
        for r in compact_returning_log(spark, out).collect()
    }
    assert got == {
        ("2024-01-01", 2, 0),
        ("2024-01-08", 1, 0),
        ("2024-01-09", 2, 1),
    }


# --- real Structured Streaming (readStream → foreachBatch wrappers) -------


def _write_time_batches(spark, events, src, n_batches=3):
    """One parquet file per ascending event-time range, written
    oldest-first (arrival order == event-time order — the carried-state
    contract), as the file-source stream delivers files in order."""
    import os
    import shutil
    import time as _time

    os.makedirs(src, exist_ok=True)
    for i, part in enumerate(_time_batches(events, n_batches)):
        stage = f"{src}_stage{i}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        pf = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        shutil.move(os.path.join(stage, pf), os.path.join(src, f"b{i}.parquet"))
        _time.sleep(0.2)


def test_visitor_readstream_matches_batch(spark, tmp_path):
    ev = (
        Tables(spark, SF_DIR)
        .events.select("event_id", "user_id", "ts")
        .localCheckpoint(eager=True)
    )
    src = str(tmp_path / "v_src")
    _write_time_batches(spark, ev, src)
    state, out, ckpt = (
        str(tmp_path / "vs_state"),
        str(tmp_path / "vs_out"),
        str(tmp_path / "vs_ckpt"),
    )
    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_applier_stream(stream, apply_visitor_batch, state, out, ckpt)
    q.awaitTermination(240)
    got = {
        (r["event_id"], r["user_id"], r["visit_date"], r["is_new"])
        for r in spark.read.option("basePath", out).parquet(out).collect()
    }
    assert got == _st3_expected(spark)


def test_returning_readstream_matches_batch(spark, tmp_path):
    ev = (
        Tables(spark, SF_DIR)
        .events.select("user_id", "ts", "event_type")
        .localCheckpoint(eager=True)
    )
    src = str(tmp_path / "r_src")
    _write_time_batches(spark, ev, src)
    state, out, ckpt = (
        str(tmp_path / "rs_state"),
        str(tmp_path / "rs_out"),
        str(tmp_path / "rs_ckpt"),
    )
    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_applier_stream(stream, apply_returning_batch, state, out, ckpt)
    q.awaitTermination(240)
    got = {
        (r["cur_date"], r["uu_ct"], r["back_ct"])
        for r in compact_returning_log(spark, out).collect()
    }
    assert got == _st5_expected(spark)


# --- hypothesis: random streams, random cuts ------------------------------


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),    # user_id
        st.integers(min_value=0, max_value=20),   # day offset
        st.integers(min_value=0, max_value=23),   # hour
        st.sampled_from(["click", "signup", "purchase"]),
    ),
    min_size=1,
    max_size=30,
)
_CUTS = st.tuples(
    st.floats(min_value=0.1, max_value=0.9),
    st.floats(min_value=0.1, max_value=0.9),
)


def _py_expected_returning(rows):
    """Pure-python one-pass truth for st5 semantics on a random stream."""
    days = {}
    for user, day, _h, etype in rows:
        if etype in ("click", "signup"):
            days.setdefault(user, set()).add(day)
    out = {}
    for user, ds in days.items():
        prev = None
        for d in sorted(ds):
            uu, back = out.get(d, (0, 0))
            out[d] = (uu + 1, back + (1 if prev is not None and d - prev >= 8 else 0))
            prev = d
    return {
        (f"2024-01-{d + 1:02d}", uu, back) for d, (uu, back) in out.items()
    }


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(rows=_EVENTS, cuts=_CUTS)
def test_returning_random_stream_split_invariance(
    spark, tmp_path_factory, rows, cuts
):
    """st5 incremental counts must equal the pure-python one-pass truth
    for ANY random stream at ANY random time cuts."""
    ev = spark.createDataFrame(
        [
            (i + 1, u, _ts(d + 1, h), t)
            for i, (u, d, h, t) in enumerate(rows)
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    ).localCheckpoint(eager=True)
    tmp = tmp_path_factory.mktemp("rus")
    state, out = str(tmp / "state"), str(tmp / "out")
    lo = ev.agg(F.min("ts")).first()[0]
    span = (ev.agg(F.max("ts")).first()[0] - lo).total_seconds() + 1
    sec = F.col("ts").cast("double") - F.lit(lo).cast("double")
    bounds = [0.0] + sorted(set(cuts)) + [1.0]
    for b in range(len(bounds) - 1):
        batch = ev.where(
            (sec >= span * bounds[b]) & (sec < span * bounds[b + 1])
        )
        apply_returning_batch(spark, batch, b, state, out)
    got = {
        (r["cur_date"], r["uu_ct"], r["back_ct"])
        for r in compact_returning_log(spark, out).collect()
    }
    assert got == _py_expected_returning(rows)

"""Streaming-mode tests: stream-vs-batch equivalence of the shared
transforms, cross-batch keyed state, and the CDC→DIM upsert path."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.sources.cdc import (
    maxwell_etl_filter,
    parse_maxwell,
    synthetic_cdc_json,
)
from real_time_data_warehouse_spark.streaming.dim import (
    default_dim_config,
    run_dim_batch,
)
from real_time_data_warehouse_spark.operators.streaming_exec import (
    _crash_once,
    _run_crash_restart,
)
from real_time_data_warehouse_spark.streaming.pipelines import (
    dws_windowed_agg,
    log_split,
    log_split_sink,
    stream_events,
)
from real_time_data_warehouse_spark.streaming.state_store import (
    epoch_dir,
    read_log,
    run_epoch_stream,
    run_file_stream,
    write_snapshot,
)
from real_time_data_warehouse_spark.streaming.stateful import (
    returning_user,
    visitor_fix,
)
from real_time_data_warehouse_spark.tables import Tables
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """events split into two time-ordered parquet files (two micro-batches)."""
    base = tmp_path_factory.mktemp("events_src")
    ev = Tables(spark, SF_DIR).events
    cut = ev.agg(F.expr("percentile_approx(cast(ts as double), 0.5)")).first()[0]
    first = ev.where(F.col("ts").cast("double") <= cut)
    second = ev.where(F.col("ts").cast("double") > cut)
    from tests.conftest import write_stream_file

    # write with raw long ts (as the source files carry nanos→long);
    # exact ns from µs (a double round-trip would lose precision >2^53)
    for i, part in enumerate([first, second]):
        out = part.withColumn(
            "ts", F.unix_micros("ts") * F.lit(1000).cast("bigint")
        ).select("event_id", "ts", "user_id", "event_type", "value", "props")
        write_stream_file(out, str(base), f"batch_{i}")
    return str(base)


def test_log_split_stream_matches_batch(spark, tmp_path, events_dir):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = run_epoch_stream(
        stream_events(spark, events_dir), log_split_sink(out), ckpt
    )
    q.awaitTermination(120)
    ev = Tables(spark, SF_DIR).events
    batch_sides = {k: df.count() for k, df in log_split(ev).items()}
    log = read_log(spark, out)
    for side, expected in batch_sides.items():
        got = log.where(F.col("side") == side).count()
        assert got == expected, f"{side}: stream={got} batch={expected}"


def test_dws_agg_stream_matches_batch(spark, tmp_path, events_dir):
    out, ckpt = str(tmp_path / "dws"), str(tmp_path / "ckpt2")
    q = run_file_stream(
        dws_windowed_agg(stream_events(spark, events_dir)), out, ckpt,
        partition_by="cur_date",
    )
    q.awaitTermination(120)
    ev = Tables(spark, SF_DIR).events
    batch = dws_windowed_agg(ev)
    # Append mode only emits windows whose end ≤ final watermark
    # (max event time - 10 s); compare on that closed subset.
    max_ts = ev.agg(F.max("ts")).first()[0]
    import datetime

    horizon = (max_ts - datetime.timedelta(seconds=10)).strftime("%Y-%m-%d %H:%M:%S")
    closed = batch.where(F.col("edt") <= horizon)
    got = spark.read.parquet(out)
    got_rows = {
        tuple(r) for r in got.select("stt", "sku_group", "order_amount", "order_ct").collect()
    }
    exp_rows = {
        tuple(r)
        for r in closed.select("stt", "sku_group", "order_amount", "order_ct").collect()
    }
    assert exp_rows <= got_rows, f"missing {len(exp_rows - got_rows)} closed windows"
    # and everything emitted must match batch values exactly
    all_rows = {
        tuple(r)
        for r in dws_windowed_agg(ev)
        .select("stt", "sku_group", "order_amount", "order_ct")
        .collect()
    }
    assert got_rows <= all_rows


def test_returning_user_stream_cross_batch_state(spark, tmp_path, events_dir):
    """ST5 via applyInPandasWithState across two micro-batches must equal
    the batch window-function twin (st5_returning_user semantics)."""
    stream_df = returning_user(
        stream_events(spark, events_dir)
        .where(F.col("event_type").isin("signup", "click"))
        .select("user_id", "ts")
    )
    ckpt = str(tmp_path / "ckpt3")
    sink = str(tmp_path / "ru")
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.read.parquet(sink)
        .groupBy("cur_date")
        .agg(
            F.sum("is_uu").cast("bigint").alias("uu_ct"),
            F.sum("is_back").cast("bigint").alias("back_ct"),
        )
    )
    from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map

    query_map()
    expected = QUERY_REGISTRY["st5_returning_user"].fn(spark, SF_DIR)
    got_rows = sorted(tuple(r) for r in got.collect())
    exp_rows = sorted(tuple(r) for r in expected.collect())
    assert got_rows == exp_rows


class _FakeGroupState:
    """Minimal GroupState double for driving the ST5 state function
    deterministically (a real ProcessingTimeTimeout keeps an
    availableNow query alive to service registered timeouts — the
    exact reason TTL is opt-in; see streaming/stateful.py docstring)."""

    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None
        self.removed = True

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def _ru_drive(fn, dates, state):
    import pandas as pd

    pdf = pd.DataFrame({"ts": pd.to_datetime(dates)})
    out = pd.concat(list(fn((7,), iter([pdf]), state)))
    return [tuple(r) for r in out.itertuples(index=False)]


def test_returning_user_idle_ttl_policy():
    """The deliberate ST5 state-bound policy (round-11 verdict task 5):
    the reference keeps returning-user state FOREVER
    (DwsUserUserLoginWindow.java:80-124); the Spark twin bounds it with
    an opt-in idle TTL (DEFAULT_IDLE_TTL_MS = 90 days ≫ the 8-day
    semantic gap). Three contracts, driven deterministically through
    the state function (a registered ProcessingTimeTimeout keeps an
    availableNow query alive, so the policy is pinned at this level):

    1. ACTIVE-USER INVARIANCE: with state retained (no eviction
       happened), the TTL'd function emits byte-identical rows and
       final state to the no-TTL function — the TTL only ever ADDS a
       setTimeoutDuration call.
    2. EVICTION: a timed-out key's state is removed, nothing emitted.
    3. THE DOCUMENTED TRADE: a login AFTER eviction re-emits
       is_uu=1/is_back=0 (the user re-counts as new-that-day and loses
       only is_back attribution) — vs is_back=1 had state survived.
       SCALE.md §ST5 documents why 90 days makes this acceptable."""
    from real_time_data_warehouse_spark.streaming.stateful import (
        DEFAULT_IDLE_TTL_MS,
        _make_returning_user_fn,
    )

    fn_ttl = _make_returning_user_fn(DEFAULT_IDLE_TTL_MS)
    fn_raw = _make_returning_user_fn(None)
    dates = ["2024-01-01", "2024-01-03", "2024-01-12", "2024-01-12"]

    # 1. active-user invariance (fresh key, then a pre-loaded key)
    for init in (None, ("2023-12-20",)):
        s_ttl = _FakeGroupState(init)
        s_raw = _FakeGroupState(init)
        assert _ru_drive(fn_ttl, dates, s_ttl) == _ru_drive(
            fn_raw, dates, s_raw
        )
        assert s_ttl.get == s_raw.get
        assert s_ttl.timeout_ms == DEFAULT_IDLE_TTL_MS  # TTL re-armed
        assert s_raw.timeout_ms is None

    # 2. eviction branch: timed-out key → state removed, no output
    s = _FakeGroupState(("2024-01-01",), timed_out=True)
    assert _ru_drive(fn_ttl, [], s) == []
    assert s.removed and not s.exists

    # 3. the trade: post-eviction login re-counts as uu, loses is_back
    evicted = _FakeGroupState(None)
    kept = _FakeGroupState(("2024-01-01",))
    assert _ru_drive(fn_ttl, ["2024-06-01"], evicted) == [
        (7, "2024-06-01", 1, 0)
    ]
    assert _ru_drive(fn_ttl, ["2024-06-01"], kept) == [
        (7, "2024-06-01", 1, 1)
    ]


def test_visitor_fix_stream(spark, tmp_path, events_dir):
    """ST3 streaming repair equals the batch min-date-over-partition twin."""
    stream_df = visitor_fix(
        stream_events(spark, events_dir).select("event_id", "user_id", "ts")
    )
    ckpt, sink = str(tmp_path / "ckpt4"), str(tmp_path / "vf")
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map

    query_map()
    expected = QUERY_REGISTRY["st3_visitor_state_fix"].fn(spark, SF_DIR)
    got_rows = sorted(tuple(r) for r in got.select("event_id", "is_new").collect())
    exp_rows = sorted(tuple(r) for r in expected.select("event_id", "is_new").collect())
    assert got_rows == exp_rows


def test_cdc_dim_pipeline(spark, tmp_path):
    """Maxwell CDC synth → ETL → config routing/pruning → keyed upsert:
    final dim table holds one latest row per order, updates applied,
    pruned to sink_columns."""
    t = Tables(spark, SF_DIR)
    raw = synthetic_cdc_json(t.orders)
    config = default_dim_config(spark)
    base = str(tmp_path / "dim")
    sinks = run_dim_batch(spark, raw, config, base)
    assert sinks == ["dim_order_info"]
    dim = spark.read.parquet(os.path.join(base, "dim_order_info"))
    n_orders = t.orders.count()
    assert dim.count() == n_orders  # one row per order key, updates merged
    # updates (status F, emitted 60 s later) must have won over inserts
    f_orders = t.orders.where(F.col("o_orderstatus") == "F").count()
    updated = dim.where(F.col("type") == "update").count()
    assert updated == f_orders
    # pruning: total_amount was NOT in sink_columns
    sample = dim.select(F.map_keys("data").alias("ks")).first()["ks"]
    assert "total_amount" not in sample
    assert set(sample) <= {"id", "user_id", "order_status"}


def test_stream_dedup_emit_once_across_batches(spark, tmp_path, events_dir):
    """ST1: a (user, event_type) key seen in batch 0 must NOT re-emit in
    batch 1 — dropDuplicates state carries across micro-batches."""
    from real_time_data_warehouse_spark.streaming.pipelines import stream_dedup

    dd = stream_dedup(stream_events(spark, events_dir))
    sink, ckpt = str(tmp_path / "dd"), str(tmp_path / "ckpt_dd")
    q = (
        dd.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    # exactly one row per key, and it is the FIRST-arriving event of that key
    assert got.count() == got.select("user_id", "event_type").distinct().count()
    ev = Tables(spark, SF_DIR).events
    assert got.count() == ev.select("user_id", "event_type").distinct().count()


def test_watermark_drops_late_data(spark, tmp_path):
    """W5: an event arriving in a later batch but older than the watermark
    must be excluded from its (already-closed) window."""
    import pyspark.sql.functions as F2

    from real_time_data_warehouse_spark.streaming.pipelines import (
        EVENTS_RAW_SCHEMA,
        dws_windowed_agg,
    )

    src = str(tmp_path / "late_src")
    os.makedirs(src)

    from tests.conftest import write_stream_file

    def write_batch(rows, name):
        df = spark.createDataFrame(rows, ["event_id", "ts_s", "user_id", "event_type", "value", "props"])
        out = df.select(
            "event_id",
            (F2.col("ts_s").cast("bigint") * 1_000_000_000).alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        write_stream_file(out, src, name)

    base = 1_700_000_000  # any epoch; windows are 10 s
    # Spark drops a late row only once its window has been EVICTED from
    # state (append-mode emission), which happens at the end of the batch
    # whose watermark passed the window end — so the window must be closed
    # in an earlier batch than the late arrival:
    # batch a: event in window W=[0,10) + event advancing max time to 100
    write_batch([(1, base + 0, 1, "click", 1.0, "{}"),
                 (2, base + 100, 1, "click", 1.0, "{}")], "a")
    # batch b: advances watermark past W's end → W emitted + evicted
    write_batch([(4, base + 110, 1, "click", 1.0, "{}")], "b")
    # batch c: a LATE event for the now-closed W → must be dropped
    write_batch([(3, base + 1, 1, "click", 1.0, "{}")], "c")

    agg = dws_windowed_agg(
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F2.timestamp_micros((F2.col("ts") / 1000).cast("bigint")))
    )
    sink, ckpt = str(tmp_path / "late_out"), str(tmp_path / "late_ckpt")
    q = (
        agg.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    first_window = got.where(
        F2.col("stt") == F2.from_unixtime(F2.lit(base), "yyyy-MM-dd HH:mm:ss")
    ).collect()
    # the closed t=0 window must contain ONLY event 1 — the late event 3
    # (same window, arrived after watermark passed) was dropped
    assert len(first_window) == 1
    assert first_window[0]["order_ct"] == 1


def test_dedup_within_watermark_ttl_semantics(spark, tmp_path):
    """ST1 TTL fidelity: duplicates within the watermark distance are
    suppressed; a duplicate far outside it passes (state expired) —
    matching the reference's 10 s StateTtlConfig behavior, which plain
    dropDuplicates would NOT reproduce."""
    import shutil
    import time as _time

    from real_time_data_warehouse_spark.streaming.pipelines import (
        stream_dedup_within_watermark,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)

    from tests.conftest import write_stream_file

    def wb(rows, name):
        df = spark.createDataFrame(
            rows, ["event_id", "ts_s", "user_id", "event_type", "value", "props"]
        ).select(
            "event_id",
            (F.col("ts_s").cast("bigint") * 1_000_000_000).alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        write_stream_file(df, src, name)

    b = 1_700_000_000
    # batch a: key (7, click) twice within seconds → dup suppressed
    wb([(1, b, 7, "click", 1.0, "{}"), (2, b + 5, 7, "click", 1.0, "{}")], "a")
    # batch b: another key 4 h later — the watermark advance it produces
    # takes effect one batch later (watermark lag)
    wb([(4, b + 4 * 3600, 9, "view", 1.0, "{}")], "bb")
    # batch b2: runs WITH watermark b+3 h in effect; its end-of-batch
    # cleanup evicts key 7's dedup state (expiry was b+1 h + 5 s)
    wb([(5, b + 4 * 3600 + 10, 10, "view", 1.0, "{}")], "bb2")
    # batch c: same key again at b+3.5 h — above the watermark (not late)
    # but past the state TTL → the "duplicate" passes
    wb([(3, b + 3 * 3600 + 1800, 7, "click", 1.0, "{}")], "cc")

    dd = stream_dedup_within_watermark(stream_events(spark, src))
    sink, ckpt = str(tmp_path / "ddw"), str(tmp_path / "ckpt_ddw")
    q = (
        dd.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["event_id"] for r in spark.read.parquet(sink).collect())
    # 1 kept, 2 suppressed (dup within watermark), 3 kept (TTL expired),
    # 4 and 5 kept (distinct keys)
    assert got == [1, 3, 4, 5], got


def test_dws_update_mode_upsert(spark, tmp_path, events_dir):
    """Update-mode DWS: the serving table holds the LATEST value per
    window key after late-but-in-watermark updates, equal to the batch
    recomputation for every window present."""
    from real_time_data_warehouse_spark.streaming.pipelines import (
        dws_upsert_sink,
    )

    serving, ckpt = str(tmp_path / "serving"), str(tmp_path / "ckpt_up")
    q = run_epoch_stream(
        dws_windowed_agg(stream_events(spark, events_dir), "1 hour"),
        dws_upsert_sink(spark, serving), ckpt, "update",
    )
    q.awaitTermination(180)
    got = spark.read.parquet(serving)
    ev = Tables(spark, SF_DIR).events
    batch = dws_windowed_agg(ev)
    assert got.count() > 0  # guard: an empty serving table must not pass
    merged = got.alias("g").join(
        batch.alias("b"),
        (F.col("g.stt") == F.col("b.stt")) & (F.col("g.sku_group") == F.col("b.sku_group")),
        "inner",
    )
    assert merged.count() == got.count()  # every serving row has a batch twin
    mismatched = merged.where(
        (F.col("g.order_amount") != F.col("b.order_amount"))
        | (F.col("g.order_ct") != F.col("b.order_ct"))
    ).count()
    assert mismatched == 0
    # every window key in the serving table is unique (upsert, not append)
    assert got.count() == got.select("stt", "sku_group").distinct().count()


def test_rate_source_pipeline(spark, tmp_path):
    """The DWS transform must run unchanged on a continuous (rate) source —
    proof the shells aren't file-source-specific (S1 stand-in #2)."""
    from real_time_data_warehouse_spark.streaming.pipelines import dws_windowed_agg

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 5).cast("string").alias("event_type"),
            (F.col("value") % 100 / 100.0).alias("value"),
        )
    )
    agg = dws_windowed_agg(rate, watermark="0 seconds")
    sink, ckpt = str(tmp_path / "rate_out"), str(tmp_path / "rate_ckpt")
    q = (
        agg.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            time.sleep(5)
            try:
                n = spark.read.parquet(sink).count()
            except Exception:
                n = 0
            if n > 0:
                break
    finally:
        q.stop()
    assert n > 0, "rate-source pipeline emitted no closed windows in 60s"


def test_progress_monitor_listener(spark, tmp_path, events_dir):
    """Monitoring: the progress listener must log one JSONL record per
    micro-batch with rows + watermark fields."""
    import json

    from real_time_data_warehouse_spark.streaming.monitor import (
        attach_progress_log,
        detach,
    )
    log = str(tmp_path / "progress.jsonl")
    listener = attach_progress_log(spark, log)
    try:
        q = run_file_stream(
            dws_windowed_agg(stream_events(spark, events_dir)),
            str(tmp_path / "out"), str(tmp_path / "ckpt"),
            partition_by="cur_date",
        )
        qid = str(q.id)
        q.awaitTermination(120)
        # listener delivery is async; give it a beat
        import time

        # wait for both DATA batches (an empty flush batch can be logged
        # before the second data batch under load)
        data_batches: list[dict] = []
        for _ in range(60):
            try:
                with open(log) as f:
                    recs = [json.loads(line) for line in f]
            except FileNotFoundError:
                recs = []
            # the listener is session-global: keep only THIS query's records
            recs = [r for r in recs if r["query_id"] == qid]
            data_batches = [r for r in recs if r["num_input_rows"] > 0]
            if len(data_batches) >= 2:
                break
            time.sleep(0.5)
    finally:
        detach(spark, listener)
    assert len(data_batches) == 2  # two source files = two data batches
    assert all(r["watermark"] is not None for r in recs if r["batch_id"] > 0)
    assert any(r["state_rows"] for r in recs)
    # trigger phases and per-operator state-store cost ride along
    for r in data_batches:
        assert {"addBatch", "queryPlanning", "walCommit", "commitOffsets",
                "latestOffset", "triggerExecution"} <= r["duration_ms"].keys()
        assert len(r["state_operators"]) == r["n_state_operators"] >= 1
        for op in r["state_operators"]:
            assert op["operator"]
            for m in ("numRowsTotal", "commitTimeMs", "allUpdatesTimeMs",
                      "memoryUsedBytes"):
                assert isinstance(op[m], int) and op[m] >= 0, (m, op)
        assert r["state_rows"] == sum(
            op["numRowsTotal"] for op in r["state_operators"]
        )


def test_log_split_crash_recovery_exactly_once(spark, tmp_path, events_dir):
    """Exactly-once across a mid-stream crash: batch 1's first attempt
    fails (the one-shot fault wrapped around the log-split body) after
    batch 0 committed; a partial file is planted in batch 1's output dir
    simulating the crash's debris; the restarted query must retry batch
    1, OVERWRITE the debris, and land exactly the batch-mode counts — no
    duplicates, no loss."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    fault, _ = _crash_once(1)
    sink = log_split_sink(out)

    def crashing(batch, batch_id: int) -> None:
        fault(batch_id)
        sink(batch, batch_id)

    with pytest.raises(Exception, match="injected crash"):
        run_epoch_stream(stream_events(spark, events_dir), crashing, ckpt)

    # simulate partial debris a real crash could leave in the epoch dir
    debris_dir = os.path.join(epoch_dir(out, 1), "side=page")
    os.makedirs(debris_dir, exist_ok=True)
    ev = Tables(spark, SF_DIR).events
    ev.where(F.col("event_type") == "purchase").limit(7).write.mode(
        "overwrite"
    ).parquet(debris_dir)

    # restart from the same checkpoint, no fault this time
    run_epoch_stream(stream_events(spark, events_dir), log_split_sink(out), ckpt)

    log = read_log(spark, out)
    for side, df in log_split(ev).items():
        got = log.where(F.col("side") == side).count()
        assert got == df.count(), f"{side}: {got} != {df.count()}"


def test_crash_restart_refuses_a_run_whose_fault_never_fired(
    spark, tmp_path, events_dir
):
    """The crash rows' coverage guard: over the 2-file source (epochs 0
    and 1) the fault ``_run_crash_restart`` arms for epoch 2 never
    fires — it must fail loud instead of passing a row that no longer
    covers a mid-stream restart, and must neither plant debris nor
    restart."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    planted = []
    with pytest.raises(AssertionError, match="fault injector never fired"):
        _run_crash_restart(
            stream_events(spark, events_dir),
            log_split_sink(out),
            ckpt,
            planted.append,
        )
    assert not planted


def test_crash_debris_follows_the_crash_epoch(
    spark, events_dir, monkeypatch
):
    """The crash driver hands the epoch it kills to the debris planter:
    with the crash moved to epoch 1 (the 2-file source's last), a build
    through the harness gets its debris planted in epoch 1 — whose
    writes the crash pre-empted — and the replay of epoch 1 replaces
    it, leaving exactly the batch counts."""
    from real_time_data_warehouse_spark.operators import streaming_exec

    monkeypatch.setattr(streaming_exec, "_CRASH_EPOCH", 1)
    ev = Tables(spark, SF_DIR).events
    planted = []

    def plan(base):
        out = os.path.join(base, "out")
        return stream_events(spark, events_dir), log_split_sink(out)

    def debris(base, epoch):
        out = os.path.join(base, "out")
        assert os.path.isdir(epoch_dir(out, epoch - 1))
        assert not os.path.exists(epoch_dir(out, epoch))
        rows = (
            ev.where(F.col("event_type") == "purchase")
            .limit(7)
            .withColumn("side", F.lit("page"))
        )
        write_snapshot(rows, out, epoch, partition_by="side")
        planted.append(spark.read.parquet(epoch_dir(out, epoch)).count())

    base = streaming_exec._stream_artifact(
        spark, events_dir, "crash_epoch_probe", plan, debris=debris
    )
    assert planted == [7]
    assert os.path.isfile(os.path.join(base, "progress.jsonl"))
    log = read_log(spark, os.path.join(base, "out"))
    assert {r[0] for r in log.select("batch_id").distinct().collect()} == {
        0, 1
    }
    for side, df in log_split(ev).items():
        got = log.where(F.col("side") == side).count()
        assert got == df.count(), f"{side}: {got} != {df.count()}"


def test_partitioned_epoch_overwrite_is_static(spark, tmp_path):
    """A retried epoch replaces EVERY partition of the epoch, even under
    a session set to dynamic partition overwrite: a retry that routes no
    rows to side b must not leave b's rows from the failed attempt."""
    out = str(tmp_path / "out")
    rows = spark.createDataFrame([(1, "a"), (2, "b")], "id long, side string")
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        write_snapshot(rows, out, 3, partition_by="side")
        write_snapshot(
            rows.where(F.col("side") == "a"), out, 3, partition_by="side"
        )
    finally:
        spark.conf.set(key, old)
    assert not os.path.exists(os.path.join(epoch_dir(out, 3), "side=b"))
    got = [tuple(r) for r in read_log(spark, out, "id long").collect()]
    assert got == [(1, 3, "a")]


def test_dws_sku_order_enriched_stream(spark, tmp_path, events_dir):
    """Flagship DWS app streaming form: windowed agg + post-agg broadcast
    dim enrichment, streamed end-to-end."""
    from real_time_data_warehouse_spark.streaming.pipelines import (
        dws_sku_order_enriched,
    )

    dim = spark.createDataFrame(
        [("click", "Click Stream"), ("purchase", "Purchases"), ("view", "Views")],
        ["dic_code", "dic_name"],
    )
    enriched = dws_sku_order_enriched(stream_events(spark, events_dir), dim)
    sink, ckpt = str(tmp_path / "sku"), str(tmp_path / "ckpt_sku")
    q = (
        enriched.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    assert got.count() > 0
    # enrichment applied where the dim has the code, null elsewhere
    assert got.where(
        (F.col("sku_group") == "click") & (F.col("dic_name") != "Click Stream")
    ).count() == 0
    assert got.where(
        (F.col("sku_group") == "error") & F.col("dic_name").isNotNull()
    ).count() == 0


def test_etl_filter_rejects(spark):
    """P1 gate: wrong database / empty data dropped."""
    rows = [
        ('{"database":"gmall2024","table":"order_info","type":"insert","ts":1,"data":{"id":"1"}}',),
        ('{"database":"other","table":"order_info","type":"insert","ts":1,"data":{"id":"2"}}',),
        ('{"database":"gmall2024","table":"order_info","type":"truncate","ts":1,"data":{"id":"3"}}',),
        ("not json at all",),
    ]
    raw = spark.createDataFrame(rows, ["value"])
    good = maxwell_etl_filter(parse_maxwell(raw))
    ids = [r["data"]["id"] for r in good.collect()]
    assert ids == ["1"]


def test_funnel_stream_matches_batch(spark, tmp_path, events_dir):
    """st11's streaming twin across two micro-batches: per-stage user
    counts from the stateful stream must equal the registered batch
    query (greedy chain state survives the batch boundary)."""
    from real_time_data_warehouse_spark.streaming.stateful import funnel_stream

    stream_df = funnel_stream(stream_events(spark, events_dir))
    ckpt = str(tmp_path / "ckpt_funnel")
    sink = str(tmp_path / "funnel")
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["step"]: r["n"]
        for r in spark.read.parquet(sink)
        .groupBy("step")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map

    query_map()
    expected = {
        r["step"]: r["n_users"]
        for r in QUERY_REGISTRY["st11_funnel"].fn(spark, SF_DIR).collect()
    }
    assert got == expected

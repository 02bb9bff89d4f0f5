"""Real-streaming driver rows (st14-18, j13-j15, w12/w13, x1s/x2s,
d7x/d9x) and the S9 DDL row (k5): source slicing determinism, stream ≡
batch on the full horizon, state eviction evidence, crash + checkpoint
restart exactly-once, and DDL fold semantics."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR


def test_sliced_source_is_time_ordered_and_complete(spark):
    from real_time_data_warehouse_spark.operators.streaming_exec import (
        _SRC_FILES,
        _sliced_source,
    )
    from real_time_data_warehouse_spark.tables import Tables

    src = _sliced_source(spark, SF_DIR, _SRC_FILES)
    files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    assert files == [f"batch_{b}.parquet" for b in range(_SRC_FILES)]
    # mtimes strictly increase in slice order — the file source follows
    # modification time, and a tie would make batch order a coin flip
    mtimes = [os.path.getmtime(os.path.join(src, f)) for f in files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes
    # slices are disjoint ascending time ranges covering every event
    total = 0
    prev_max = None
    for f in files:
        part = spark.read.parquet(os.path.join(src, f))
        lo, hi, n = part.agg(
            F.min("ts"), F.max("ts"), F.count("*")
        ).first()
        total += n
        if prev_max is not None:
            assert lo > prev_max, f"slice {f} overlaps the previous one"
        prev_max = hi
    assert total == Tables(spark, SF_DIR).events.count()


def test_st15_stream_equals_batch_on_full_horizon(spark):
    from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map

    query_map()
    got = {
        (r["cur_date"], r["uu_ct"], r["back_ct"])
        for r in QUERY_REGISTRY["st15_returning_user_stream_readback"]
        .fn(spark, SF_DIR)
        .collect()
    }
    want = {
        (r["cur_date"], r["uu_ct"], r["back_ct"])
        for r in QUERY_REGISTRY["st5_returning_user"].fn(spark, SF_DIR).collect()
    }
    # applyInPandasWithState emits everything by end-of-input: no horizon
    # cut — the stream result must equal the batch twin EXACTLY
    assert got == want


def test_st16_stream_equals_batch_on_full_horizon(spark):
    from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map

    query_map()
    got = {
        (r["cur_date"], r["uv_ct"])
        for r in QUERY_REGISTRY["st16_daily_uv_stream_readback"]
        .fn(spark, SF_DIR)
        .collect()
    }
    want = {
        (r["cur_date"], r["uv_ct"])
        for r in QUERY_REGISTRY["st4_first_per_day_uv"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_j13_progress_artifact_proves_eviction(spark):
    from real_time_data_warehouse_spark.operators.streaming_exec import (
        _j13_build,
    )
    from real_time_data_warehouse_spark.streaming.monitor import (
        assert_watermark_eviction,
    )

    base = _j13_build(spark, SF_DIR)  # raises inside build if no eviction
    with open(os.path.join(base, "progress.jsonl")) as f:
        records = [json.loads(line) for line in f if line.strip()]
    removed = assert_watermark_eviction(records, min_batches=2)
    assert removed > 0
    # the watermark moved across batches (cross-batch, not end-of-input)
    marks = [
        r["eventTime"]["watermark"]
        for r in records
        if r.get("eventTime", {}).get("watermark")
    ]
    assert len(set(marks)) >= 2, marks


def test_assert_watermark_eviction_rejects_growing_state():
    from real_time_data_warehouse_spark.streaming.monitor import (
        assert_watermark_eviction,
    )

    growing = [
        {"stateOperators": [{"numRowsRemoved": 0, "numRowsTotal": 10}]},
        {"stateOperators": [{"numRowsRemoved": 0, "numRowsTotal": 20}]},
    ]
    with pytest.raises(AssertionError, match="not being evicted"):
        assert_watermark_eviction(growing)
    with pytest.raises(AssertionError, match="progress records"):
        assert_watermark_eviction(growing[:1])
    ok = [
        {"stateOperators": [{"numRowsRemoved": 0}]},
        {"stateOperators": [{"numRowsRemoved": 7}]},
    ]
    assert assert_watermark_eviction(ok) == 7


def test_k5_ddl_fold_edge_sequences(spark, tmp_path):
    """Drive apply_config_ddl through the sequences the LAG-based oracle
    reasons about: create-if-absent no-op, u recreate, d+recreate, and
    final-d drop."""
    from real_time_data_warehouse_spark.streaming.sinks import apply_config_ddl

    ops = [
        # t1: c(1), c(5)      → exists, created_ver=1 (second c no-op)
        ("t1", 1, "c"), ("t1", 5, "c"),
        # t2: c(2), u(6)      → exists, created_ver=6 (u recreates)
        ("t2", 2, "c"), ("t2", 6, "u"),
        # t3: c(3), d(7), r(9) → exists, created_ver=9
        ("t3", 3, "c"), ("t3", 7, "d"), ("t3", 9, "r"),
        # t4: c(4), d(8)      → dropped
        ("t4", 4, "c"), ("t4", 8, "d"),
        # t5: d(10), u(11)    → u works even when absent
        ("t5", 10, "d"), ("t5", 11, "u"),
    ]
    config = spark.createDataFrame(
        [(t, op, v) for t, v, op in ops], "sink_table string, op string, ver long"
    )
    base = str(tmp_path / "catalog")
    os.makedirs(base)
    apply_config_ddl(spark, config, base, order_col="ver")
    metas = {}
    for d in os.listdir(base):
        with open(os.path.join(base, d, "meta.json")) as f:
            m = json.load(f)
        metas[m["sink_table"]] = m["created_ver"]
    assert metas == {"t1": 1, "t2": 6, "t3": 9, "t5": 11}
    assert not os.path.exists(os.path.join(base, "t4"))


def test_k5_readback_matches_manual_fold(spark):
    """k5 over the real sf dir: the FS state equals a driver-side replay
    of the same op stream (independent of the DuckDB oracle path)."""
    from real_time_data_warehouse_spark.operators.sink_readback import (
        _k5_ops,
        k5_config_ddl_readback,
    )

    got = {
        (r["sink_table"], r["created_ver"])
        for r in k5_config_ddl_readback(spark, SF_DIR).collect()
    }
    state: dict[str, int] = {}
    for r in sorted(_k5_ops(spark, SF_DIR).collect(), key=lambda r: r["ver"]):
        if r["op"] == "d":
            state.pop(r["sink_table"], None)
        elif r["op"] == "u":
            state[r["sink_table"]] = r["ver"]
        elif r["sink_table"] not in state:
            state[r["sink_table"]] = r["ver"]
    assert got == set(state.items())


def test_st17_stream_equals_batch_on_full_horizon(spark):
    from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map

    query_map()
    got = {
        tuple(r)
        for r in QUERY_REGISTRY["st17_visitor_fix_stream_readback"]
        .fn(spark, SF_DIR)
        .collect()
    }
    want = {
        tuple(r)
        for r in QUERY_REGISTRY["st3_visitor_state_fix"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_j14_emits_nulls_once_and_evicts(spark):
    """The retract-free outer join: unmatched orders appear exactly once
    (null-padded), matches are real pairs, and the progress artifact
    proves watermark cleanup removed state."""
    from real_time_data_warehouse_spark.operators.streaming_exec import (
        _j14_build,
    )
    from real_time_data_warehouse_spark.streaming.monitor import (
        assert_watermark_eviction,
    )

    base = _j14_build(spark, SF_DIR)
    out = spark.read.parquet(os.path.join(base, "out"))
    assert out.where(F.col("pay_id").isNull()).count() > 0  # nulls emitted
    dup_nulls = (
        out.where(F.col("pay_id").isNull())
        .groupBy("order_id")
        .count()
        .where("count > 1")
        .count()
    )
    assert dup_nulls == 0  # exactly once, no retract pairs
    with open(os.path.join(base, "progress.jsonl")) as f:
        records = [json.loads(line) for line in f if line.strip()]
    assert assert_watermark_eviction(records, min_batches=2) > 0


def test_k6_jdbc_roundtrip_is_bit_exact(spark):
    """The dim read back through the real JDBC database equals the
    parquet original row-for-row (not just the joined aggregate)."""
    from real_time_data_warehouse_spark.operators.sink_readback import (
        _K6_DRIVER,
        _k6_build,
        _k6_db_url,
    )
    from real_time_data_warehouse_spark.tables import Tables

    base = _k6_build(spark, SF_DIR)
    back = (
        spark.read.format("jdbc")
        .option("url", _k6_db_url(base))
        .option("dbtable", "base_dic")
        .option("driver", _K6_DRIVER)
        .load()
    )
    got = {tuple(r) for r in back.collect()}
    want = {tuple(r) for r in Tables(spark, SF_DIR).nation.collect()}
    assert got == want
    # derby's boot log stays inside the artifact dir, not the repo CWD
    assert not os.path.exists("/root/repo/derby.log")


def test_native_sink_checkpoint_resume_exactly_once(spark, tmp_path):
    """The production continuation pattern st14's docstring claims: the
    DWS append stream stops after consuming half the source, new files
    arrive, a NEW query object resumes from the same checkpoint — and
    the sink holds each closed window exactly once, matching the batch
    twin. This exercises the parquet-sink commit log across a restart
    (what the foreachBatch crash test cannot: that path manages its own
    idempotence; here Spark's file-sink manifest must)."""
    import shutil as _sh

    from real_time_data_warehouse_spark.operators.streaming_exec import (
        _SRC_FILES,
        _sliced_source,
    )
    from real_time_data_warehouse_spark.streaming.pipelines import (
        dws_windowed_agg,
        run_dws_agg_stream,
    )
    from real_time_data_warehouse_spark.tables import Tables

    shared = _sliced_source(spark, SF_DIR, _SRC_FILES)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    names = [f"batch_{b}.parquet" for b in range(_SRC_FILES)]
    for n in names[:2]:  # wave 1: first half of the timeline
        _sh.copy2(os.path.join(shared, n), os.path.join(src, n))
    run_dws_agg_stream(spark, src, out, ckpt)  # runs to completion
    for n in names[2:]:  # wave 2 arrives after the first query stopped
        _sh.copy2(os.path.join(shared, n), os.path.join(src, n))
    run_dws_agg_stream(spark, src, out, ckpt)  # resume, same ckpt

    back = spark.read.parquet(out)
    # exactly-once: no window key appears twice across the two runs
    dups = (
        back.groupBy("stt", "sku_group").count().where("count > 1").count()
    )
    assert dups == 0
    # equals the batch twin on the final closed horizon
    ev = Tables(spark, SF_DIR).events
    import datetime

    max_ts = ev.agg(F.max("ts")).first()[0]
    horizon = (max_ts - datetime.timedelta(seconds=20)).strftime(
        "%Y-%m-%d %H:%M:%S"
    )
    got = {
        tuple(r)
        for r in back.where(F.col("edt") <= F.lit(horizon))
        .select("stt", "edt", "sku_group", "order_amount", "order_ct")
        .collect()
    }
    want = {
        tuple(r)
        for r in dws_windowed_agg(ev)
        .where(F.col("edt") <= F.lit(horizon))
        .select("stt", "edt", "sku_group", "order_amount", "order_ct")
        .collect()
    }
    assert got == want


def test_returning_user_under_rocksdb_state_store(spark, tmp_path):
    """The production state backend: the same applyInPandasWithState
    pipeline under RocksDBStateStoreProvider (what a 100 TB deployment
    runs — billions of keys don't fit the default in-memory HDFS-backed
    store) must produce byte-identical results to the batch twin. The
    provider is pinned at query start from session conf, scoped and
    restored here."""
    from real_time_data_warehouse_spark.operators.streaming_exec import (
        _SRC_FILES,
        _sliced_source,
    )
    from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map
    from real_time_data_warehouse_spark.streaming.pipelines import stream_events
    from real_time_data_warehouse_spark.streaming.state_store import (
        run_file_stream,
    )
    from real_time_data_warehouse_spark.streaming.stateful import returning_user

    query_map()
    src = _sliced_source(spark, SF_DIR, _SRC_FILES)
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        logins = (
            stream_events(spark, src)
            .where(F.col("event_type").isin("signup", "click"))
            .select("user_id", "ts")
        )
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        run_file_stream(returning_user(logins), out, ckpt)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    got = (
        spark.read.parquet(out)
        .groupBy("cur_date")
        .agg(
            F.count("*").cast("bigint").alias("uu_ct"),
            F.sum("is_back").cast("bigint").alias("back_ct"),
        )
    )
    want = QUERY_REGISTRY["st5_returning_user"].fn(spark, SF_DIR)
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in want.collect()
    }


def test_k6_jdbc_scan_pushes_filters_to_the_database(spark):
    """Predicate pushdown crosses the JDBC boundary: a filter on the dim
    must appear as a PushedFilters entry on the JDBCRelation scan (the
    database evaluates it, not Spark) — at scale that is the difference
    between shipping 25 rows and shipping the table."""
    from real_time_data_warehouse_spark.operators.sink_readback import (
        _K6_DRIVER,
        _k6_build,
        _k6_db_url,
    )
    from real_time_data_warehouse_spark.plans.audit import pushed_filters

    base = _k6_build(spark, SF_DIR)
    dim = (
        spark.read.format("jdbc")
        .option("url", _k6_db_url(base))
        .option("dbtable", "base_dic")
        .option("driver", _K6_DRIVER)
        .load()
        .where(F.col("n_regionkey") == 2)
    )
    pushed = " ".join(pushed_filters(dim))
    assert "n_regionkey" in pushed, pushed
    assert dim.count() > 0


def test_x1s_fanout_crash_restart_equals_batch(spark):
    """The x1s row end-to-end: the injected crash must fire, the
    checkpoint restart must overwrite the planted debris, and the 5-side
    read-back must equal the batch x1 split's per-side counts/checksums
    — exactly-once across the foreachBatch failure."""
    from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map
    from real_time_data_warehouse_spark.streaming.pipelines import LOG_SIDES
    from real_time_data_warehouse_spark.tables import Tables

    query_map()
    got = {
        tuple(r)
        for r in QUERY_REGISTRY["x1s_log_split_stream_readback"]
        .fn(spark, SF_DIR)
        .collect()
    }
    ev = Tables(spark, SF_DIR).events
    want = set()
    for side, etype in LOG_SIDES.items():
        part = ev.where(F.col("event_type") == etype)
        n, id_sum, uu = part.agg(
            F.count("*").cast("bigint"),
            F.sum("event_id").cast("bigint"),
            F.countDistinct("user_id").cast("bigint"),
        ).first()
        want.add((side, n, id_sum, uu))
    assert got == want


def test_x2s_routing_drops_unconfigured_type(spark):
    """x2s must route ONLY config-listed event types: the sink tree
    holds exactly the 4 configured sink_tables (error is unconfigured
    → dropped), and per-sink counts equal the batch derivation."""
    from real_time_data_warehouse_spark.operators.streaming_exec import (
        _X2S_CONFIG,
    )
    from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map
    from real_time_data_warehouse_spark.tables import Tables

    query_map()
    rows = (
        QUERY_REGISTRY["x2s_dynamic_routing_stream_readback"]
        .fn(spark, SF_DIR)
        .collect()
    )
    assert {r["sink_table"] for r in rows} == {t for _, t in _X2S_CONFIG}
    ev = Tables(spark, SF_DIR).events
    for src_type, sink in _X2S_CONFIG:
        n = ev.where(F.col("event_type") == src_type).count()
        got = next(r["n_rows"] for r in rows if r["sink_table"] == sink)
        assert got == n, f"{sink}: {got} != {n}"


def test_d7x_gate_crash_restart_equals_one_pass_batch(spark):
    """The d7x row end-to-end: the real-runtime dedup gate (readStream →
    foreachBatch classify-against-store) with injected crash + planted
    debris in BOTH sinks + checkpoint restart must equal the one-pass
    batch gate — per-doc status AND dup_of, not just counts. Any debris
    survivor (wrong status, duplicate doc row) or store poisoning on the
    retry shows up as a row diff."""
    from real_time_data_warehouse_spark.operators.dedup import (
        dedup_gate_batch,
    )
    from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map
    from real_time_data_warehouse_spark.tables import Tables

    query_map()
    got = {
        tuple(r)
        for r in QUERY_REGISTRY["d7x_dedup_gate_stream_readback"]
        .fn(spark, SF_DIR)
        .collect()
    }
    docs = Tables(spark, SF_DIR).documents
    want = {tuple(r) for r in dedup_gate_batch(docs).collect()}
    assert got == want
    assert len(got) == docs.count()  # exactly-once: one decision per doc


def test_w12_sessions_merge_across_micro_batches(spark):
    """w12's whole point is MERGING window state: at least one emitted
    session must straddle a source-slice boundary (its events arrived
    in different micro-batches, so the session was extended/merged
    across batches — not assembled within one)."""
    from real_time_data_warehouse_spark.operators.streaming_exec import (
        _SRC_FILES,
    )
    from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map
    from real_time_data_warehouse_spark.tables import Tables

    query_map()
    rows = (
        QUERY_REGISTRY["w12_session_window_stream_readback"]
        .fn(spark, SF_DIR)
        .collect()
    )
    assert rows
    ev = Tables(spark, SF_DIR).events
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    import datetime as _dt

    span = (hi - lo) + _dt.timedelta(microseconds=1)
    bounds = [lo + span * b / _SRC_FILES for b in range(1, _SRC_FILES)]
    fmt = "%Y-%m-%d %H:%M:%S"
    straddles = 0
    for r in rows:
        stt = _dt.datetime.strptime(r["stt"], fmt)
        edt = _dt.datetime.strptime(r["edt"], fmt)
        if any(stt < b.replace(tzinfo=None) < edt for b in bounds):
            straddles += 1
    assert straddles > 0, "no session crossed a micro-batch boundary"


def test_d9x_semantic_gate_crash_restart_equals_one_pass_batch(spark):
    """The d9x row end-to-end: the real-runtime SEMANTIC gate with
    injected crash + debris in both the decision and banded-store sinks
    + checkpoint restart must equal the one-pass d9 batch query row for
    row (status and dup_of), with exactly one decision per vector."""
    from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map
    from real_time_data_warehouse_spark.tables import Tables

    query_map()
    got = {
        tuple(r)
        for r in QUERY_REGISTRY["d9x_semantic_gate_stream_readback"]
        .fn(spark, SF_DIR)
        .collect()
    }
    want = {
        tuple(r)
        for r in QUERY_REGISTRY["d9_semantic_gate"].fn(spark, SF_DIR).collect()
    }
    assert got == want
    n_vecs = Tables(spark, SF_DIR).embeddings.count()
    assert len(got) == n_vecs


def test_crash_once_fires_exactly_once():
    """The one-shot fault injector: raises on the armed batch's first
    attempt only — retries and other batches pass."""
    import pytest as _pytest

    from real_time_data_warehouse_spark.operators.streaming_exec import (
        _crash_once,
    )

    fault, calls = _crash_once(2)
    fault(0)
    fault(1)
    with _pytest.raises(RuntimeError, match="injected crash"):
        fault(2)
    fault(2)  # the retry passes
    fault(3)
    assert calls["n"] == 1


def test_j15_stream_static_join_equals_batch_and_is_exactly_once(spark):
    """The j15 row end-to-end: the stream-static broadcast dim join's
    sink must hold EXACTLY one enriched row per source event (stateless
    append = exactly-once delivery), and the per-nation aggregate must
    equal the batch join twin computed directly from the base tables."""
    import os as _os

    from real_time_data_warehouse_spark.operators.streaming_exec import (
        _j15_build,
    )
    from real_time_data_warehouse_spark.registry import (
        QUERY_REGISTRY,
        query_map,
    )
    from real_time_data_warehouse_spark.tables import Tables

    query_map()
    got = {
        tuple(r)
        for r in QUERY_REGISTRY["j15_dim_join_stream_readback"]
        .fn(spark, SF_DIR)
        .collect()
    }
    t = Tables(spark, SF_DIR)
    from real_time_data_warehouse_spark.functions.money import dec

    dim = t.customer.join(
        F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).select(
        F.col("c_custkey").alias("user_id"),
        F.col("n_name").alias("nation_name"),
    )
    want = {
        tuple(r)
        for r in t.events.join(dim, "user_id", "left")
        .withColumn("nation_name", F.coalesce("nation_name", F.lit("unknown")))
        .groupBy("nation_name")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
            F.countDistinct("user_id").cast("bigint").alias("uu"),
            F.sum(dec("value")).cast("double").alias("value_sum"),
        )
        .collect()
    }
    assert got == want
    sink = spark.read.parquet(_os.path.join(_j15_build(spark, SF_DIR), "out"))
    assert sink.count() == t.events.count()
    # the join really enriched: every row carries a non-null nation and
    # the distinct ids round-trip bit-exact
    assert sink.where(F.col("nation_name").isNull()).count() == 0


def test_w13_sliding_windows_overlap_and_match_batch_twin(spark):
    """The w13 row's emitted horizon must equal the batch twin (same
    window(size, slide) over the events table, same horizon), and the
    emitted windows must genuinely OVERLAP — adjacent starts one slide
    apart sharing event time — or the row silently degraded to
    tumbling."""
    import datetime as _dt

    from real_time_data_warehouse_spark.operators.streaming_exec import (
        _W13_HORIZON_S,
        _W13_SIZE_S,
        _W13_SLIDE_S,
    )
    from real_time_data_warehouse_spark.functions.money import dec_sum
    from real_time_data_warehouse_spark.registry import (
        QUERY_REGISTRY,
        query_map,
    )
    from real_time_data_warehouse_spark.tables import Tables

    query_map()
    rows = (
        QUERY_REGISTRY["w13_sliding_window_stream_readback"]
        .fn(spark, SF_DIR)
        .collect()
    )
    assert rows
    got = {tuple(r) for r in rows}
    ev = Tables(spark, SF_DIR).events
    hz = ev.agg(
        (F.max("ts") - F.expr(f"INTERVAL {_W13_HORIZON_S} SECOND")).alias("h")
    )
    want = {
        tuple(r)
        for r in ev.groupBy(
            F.window(
                "ts", f"{_W13_SIZE_S} seconds", f"{_W13_SLIDE_S} seconds"
            ).alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            dec_sum("value", "value_sum"),
        )
        .crossJoin(F.broadcast(hz))
        .where(F.col("w.end") <= F.col("h"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "event_type",
            "n_events",
            "value_sum",
        )
        .collect()
    }
    assert got == want
    # overlap evidence: some pair of emitted windows one slide apart
    fmt = "%Y-%m-%d %H:%M:%S"
    starts = sorted({_dt.datetime.strptime(r["stt"], fmt) for r in rows})
    assert any(
        (b - a).total_seconds() == _W13_SLIDE_S
        for a, b in zip(starts, starts[1:])
    ), "no adjacent overlapping windows were emitted"

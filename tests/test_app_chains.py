"""Whole-app topology rows (app1s/app2s/app3s): chained-stateful-operator
streaming queries equal the composed batch oracle EXACTLY (sentinel
flush — no horizon), the injected duplicates make the dedup stage
load-bearing, and the progress records pin the operator chain."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from conftest import SF_DIR, make_duck
from parity import compare


def _reg(name):
    from real_time_data_warehouse_spark.registry import ordered_registry

    return ordered_registry()[name]


def test_app_source_injects_duplicates_and_sentinel(spark):
    from real_time_data_warehouse_spark.operators.app_chains import (
        _app_source,
    )
    from real_time_data_warehouse_spark.tables import Tables

    src = _app_source(spark, SF_DIR)
    files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    assert files[-2:] == ["batch_4.parquet", "batch_5.parquet"]
    # ... and the last two slices are exactly the 2x4 sentinel rows
    tail = spark.read.parquet(*(os.path.join(src, f) for f in files[-2:]))
    assert tail.where(F.col("event_id") < 0).count() == tail.count() == 8
    # mtime order must equal slice order, sentinels last (the file
    # source follows modification time; the offsets are derived from
    # the file count, so this holds at ANY slice count)
    by_mtime = sorted(
        files, key=lambda f: os.path.getmtime(os.path.join(src, f))
    )
    assert by_mtime == files, by_mtime
    df = spark.read.parquet(src)
    base_n = Tables(spark, SF_DIR).events.count()
    n = df.count()
    # 2x4 sentinel rows + at least a few replayed-tail duplicates:
    # remove either and the app rows stop exercising dedup/state flush
    assert n > base_n + 8, (n, base_n)
    assert df.where(F.col("event_id") < 0).count() == 8
    dups = (
        df.where(F.col("event_id") >= 0)
        .groupBy("event_id")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dups > 0, "no duplicate event_ids — dedup is decorative"


def test_app1s_matches_composed_oracle(spark):
    q = _reg("app1s_order_detail_stream_chain")
    con = make_duck(SF_DIR)
    ok, msg = compare(q.fn(spark, SF_DIR), con, q.oracle)
    assert ok, msg


def test_app2s_matches_composed_oracle(spark):
    q = _reg("app2s_province_order_stream_chain")
    con = make_duck(SF_DIR)
    ok, msg = compare(q.fn(spark, SF_DIR), con, q.oracle)
    assert ok, msg


def test_app3s_matches_composed_oracle(spark):
    q = _reg("app3s_sku_order_stream_chain")
    con = make_duck(SF_DIR)
    ok, msg = compare(q.fn(spark, SF_DIR), con, q.oracle)
    assert ok, msg


def test_app3s_chain_is_dedup_then_window_agg(spark):
    from real_time_data_warehouse_spark.operators.app_chains import (
        _app3s_build,
    )

    records = _progress(spark, _app3s_build, "app3s")
    names = [
        sorted(s["operatorName"] for s in r["stateOperators"])
        for r in records
        if r.get("stateOperators")
    ]
    assert all(
        n == ["dedupeWithinWatermark", "stateStoreSave"] for n in names
    ), names


def _progress(spark, build, name):
    base = build(spark, SF_DIR)
    path = os.path.join(base, "progress.jsonl")
    assert os.path.exists(path), f"{name}: no progress records"
    with open(path) as f:
        return [json.loads(line) for line in f]


def test_app1s_chain_is_seven_stateful_operators(spark):
    from real_time_data_warehouse_spark.operators.app_chains import (
        _app1s_build,
    )

    records = _progress(spark, _app1s_build, "app1s")
    ops = {
        s["operatorName"]
        for r in records
        for s in r.get("stateOperators", [])
    }
    # 4 per-branch dedups + 3 symmetric hash joins (the reference's
    # full four-stream topology incl. order_detail_coupon)
    assert ops == {"dedupeWithinWatermark", "symmetricHashJoin"}, ops
    batch_counts = {
        len(r["stateOperators"])
        for r in records
        if r.get("stateOperators")
    }
    assert batch_counts == {7}, batch_counts
    # the dedup stage actually suppressed the replayed duplicates:
    # dedup output rows < dedup input rows in at least one batch
    suppressed = sum(
        s.get("numRowsUpdated", 0)
        for r in records
        for s in r.get("stateOperators", [])
        if s["operatorName"] == "dedupeWithinWatermark"
    )
    assert suppressed > 0


def test_app2s_chain_is_dedup_then_window_agg(spark):
    from real_time_data_warehouse_spark.operators.app_chains import (
        _app2s_build,
    )

    records = _progress(spark, _app2s_build, "app2s")
    names = [
        sorted(s["operatorName"] for s in r["stateOperators"])
        for r in records
        if r.get("stateOperators")
    ]
    assert all(
        n == ["dedupeWithinWatermark", "stateStoreSave"] for n in names
    ), names


def test_app1s_sink_has_no_sentinel_rows(spark):
    from real_time_data_warehouse_spark.operators.app_chains import (
        _app1s_build,
    )

    base = _app1s_build(spark, SF_DIR)
    back = spark.read.parquet(os.path.join(base, "out"))
    assert back.where(F.col("od_id") < 0).count() == 0


def test_app3s_dim_chain_is_all_broadcast_no_post_agg_shuffle(spark):
    """app3s's 3-hop dim chain must plan as per-batch broadcast hash
    joins with NO shuffle after the window aggregation — the window
    rows are enriched in place (the 100 TB posture of the reference's
    async dim chain). Asserted on the EXECUTED streaming plan via a
    throwaway memory-sink pass over the same chain shape."""
    from pyspark.sql import functions as F

    from real_time_data_warehouse_spark.functions.money import dec_sum
    from real_time_data_warehouse_spark.operators.app_chains import (
        _DELAY,
        _app_source,
    )
    from real_time_data_warehouse_spark.streaming.pipelines import (
        stream_events,
    )
    from real_time_data_warehouse_spark.tables import Tables

    src = _app_source(spark, SF_DIR)
    ded = (
        stream_events(spark, src)
        .where(F.col("event_type") == "purchase")
        .withWatermark("ts", _DELAY)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    agg = ded.groupBy(F.window("ts", "1 day").alias("w"), "user_id").agg(
        dec_sum("value", "order_amount")
    )
    t = Tables(spark, SF_DIR)
    res = (
        agg.join(
            F.broadcast(
                t.customer.select(
                    F.col("c_custkey").alias("user_id"), "c_nationkey"
                )
            ),
            "user_id",
            "left",
        )
        .join(
            F.broadcast(t.nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left",
        )
        .join(
            F.broadcast(t.region),
            F.col("n_regionkey") == F.col("r_regionkey"),
            "left",
        )
    )
    q = (
        res.writeStream.format("memory")
        .queryName("app3s_plan_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180)
        physical = q._jsq.explainInternal(False)
    finally:
        q.stop()
    import re

    assert physical.count("BroadcastHashJoin") == 3, physical
    assert "SortMergeJoin" not in physical, physical
    # the only hash exchanges are the stateful operators' key
    # partitioning (dedup on event_id, window agg on window+user) —
    # nothing re-shuffles the aggregated rows for the dim hops
    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", physical)
    assert len(shuffles) == 2, physical
    assert any("event_id" in s for s in shuffles), shuffles
    assert any("user_id" in s and "w#" in s or "window" in s.lower()
               for s in shuffles), shuffles


def test_app4s_matches_one_pass_lww_oracle(spark):
    q = _reg("app4s_dim_app_stream_chain")
    con = make_duck(SF_DIR)
    ok, msg = compare(q.fn(spark, SF_DIR), con, q.oracle)
    assert ok, msg


def test_app4s_dim_store_shape(spark):
    """Three per-table dim dirs, no sentinel/negative keys, no rows for
    unmapped event types (purchase/error dropped by the config join),
    and no key appears whose LAST record was a delete."""
    import os as _os

    from real_time_data_warehouse_spark.operators.app_chains import (
        _APP4_CONFIG,
        _app4s_build,
    )
    from real_time_data_warehouse_spark.operators.streaming_exec import (
        _sink_dir,
    )

    out = _sink_dir(_app4s_build(spark, SF_DIR))
    tables = sorted(_os.listdir(out))
    assert tables == sorted(s for _, s, _c in _APP4_CONFIG)
    for _e, sink, _c in _APP4_CONFIG:
        d = spark.read.parquet(_os.path.join(out, sink))
        assert d.where(F.col("user_id") < 0).count() == 0
        # every surviving row is an upsert (deletes leave no row)
        assert d.where(F.col("op") == "delete").count() == 0


def test_app5s_matches_composed_oracle(spark):
    q = _reg("app5s_base_log_stream_chain")
    con = make_duck(SF_DIR)
    ok, msg = compare(q.fn(spark, SF_DIR), con, q.oracle)
    assert ok, msg


def test_app5s_source_dirty_rule_and_sides(spark):
    """The injected dirty rows exist (the P2 side output is
    load-bearing), every side is written, and the crashed epoch's
    planted debris (is_new=9 rows) was REPLACED by the replay."""
    from real_time_data_warehouse_spark.operators.app_chains import (
        _APP5_SINK_SCHEMA,
        _app5s_build,
    )
    from real_time_data_warehouse_spark.streaming.pipelines import LOG_SIDES
    from real_time_data_warehouse_spark.streaming.state_store import (
        read_log,
    )

    base = _app5s_build(spark, SF_DIR)
    log = read_log(spark, os.path.join(base, "out"), _APP5_SINK_SCHEMA)
    sides = {r["side"] for r in log.select("side").distinct().collect()}
    assert sides == {"dirty", *LOG_SIDES}
    dirty = log.where(F.col("side") == "dirty")
    assert dirty.count() > 0, "no dirty rows — the P2 side is decorative"
    # dirty rows carry NULL is_new (state-neutral passthrough)
    assert dirty.where(F.col("is_new").isNotNull()).count() == 0
    action = log.where(F.col("side") == "action")
    assert action.where(F.col("is_new") == 9).count() == 0, (
        "planted debris survived the epoch replay"
    )


def test_app5s_chain_is_one_keyed_state_operator(spark):
    from real_time_data_warehouse_spark.operators.app_chains import (
        _app5s_build,
    )

    records = _progress(spark, _app5s_build, "app5s")
    names = [
        sorted(s["operatorName"] for s in r["stateOperators"])
        for r in records
        if r.get("stateOperators")
    ]
    assert names and all(len(n) == 1 for n in names), names
    assert {n[0] for n in names} == {"applyInPandasWithState"}, names


def test_app6s_matches_composed_oracle(spark):
    q = _reg("app6s_traffic_page_view_stream_chain")
    con = make_duck(SF_DIR)
    ok, msg = compare(q.fn(spark, SF_DIR), con, q.oracle)
    assert ok, msg


def test_app6s_chain_is_two_dedups_and_window_agg(spark):
    from real_time_data_warehouse_spark.operators.app_chains import (
        _app6s_build,
    )

    records = _progress(spark, _app6s_build, "app6s")
    names = [
        sorted(s["operatorName"] for s in r["stateOperators"])
        for r in records
        if r.get("stateOperators")
    ]
    assert names and all(
        n == ["dedupe", "dedupeWithinWatermark", "stateStoreSave"]
        for n in names
    ), names


def test_app7s_matches_st5_oracle(spark):
    q = _reg("app7s_user_login_stream_chain")
    con = make_duck(SF_DIR)
    ok, msg = compare(q.fn(spark, SF_DIR), con, q.oracle)
    assert ok, msg


def test_app7s_chain_is_keyed_state_then_agg(spark):
    """The load-bearing claim: applyInPandasWithState FEEDING a
    downstream stateful aggregate in one plan (2 state operators)."""
    from real_time_data_warehouse_spark.operators.app_chains import (
        _app7s_build,
    )

    records = _progress(spark, _app7s_build, "app7s")
    names = [
        sorted(s["operatorName"] for s in r["stateOperators"])
        for r in records
        if r.get("stateOperators")
    ]
    assert names and all(
        n == ["applyInPandasWithState", "stateStoreSave"] for n in names
    ), names


def test_app8s_matches_composed_oracle(spark):
    q = _reg("app8s_keyword_window_stream_chain")
    con = make_duck(SF_DIR)
    ok, msg = compare(q.fn(spark, SF_DIR), con, q.oracle)
    assert ok, msg


def test_app9s_matches_composed_oracle(spark):
    q = _reg("app9s_pay_detail_stream_chain")
    con = make_duck(SF_DIR)
    ok, msg = compare(q.fn(spark, SF_DIR), con, q.oracle)
    assert ok, msg


def test_app9s_chain_is_two_dedups_and_interval_join(spark):
    from real_time_data_warehouse_spark.operators.app_chains import (
        _app9s_build,
    )

    records = _progress(spark, _app9s_build, "app9s")
    names = [
        sorted(s["operatorName"] for s in r["stateOperators"])
        for r in records
        if r.get("stateOperators")
    ]
    assert names and all(
        n == ["dedupeWithinWatermark", "dedupeWithinWatermark",
              "symmetricHashJoin"]
        for n in names
    ), names


def test_app10s_matches_composed_oracle(spark):
    q = _reg("app10s_cart_add_uu_stream_chain")
    con = make_duck(SF_DIR)
    ok, msg = compare(q.fn(spark, SF_DIR), con, q.oracle)
    assert ok, msg


def test_app9x_matches_oracle_across_crash_restart(spark):
    q = _reg("app9x_pay_detail_crash_restart")
    con = make_duck(SF_DIR)
    ok, msg = compare(q.fn(spark, SF_DIR), con, q.oracle)
    assert ok, msg


def test_app9x_debris_replaced_and_chain_replayed(spark):
    from real_time_data_warehouse_spark.operators.app_chains import (
        _app9x_build,
    )

    base = _app9x_build(spark, SF_DIR)
    back = spark.read.option(
        "basePath", os.path.join(base, "out")
    ).parquet(os.path.join(base, "out"))
    assert back.where(F.col("pay_id") == -999).count() == 0, (
        "planted debris survived the epoch replay"
    )
    records = _progress(spark, _app9x_build, "app9x")
    names = [
        sorted(s["operatorName"] for s in r["stateOperators"])
        for r in records
        if r.get("stateOperators")
    ]
    assert names and all(
        n == ["dedupeWithinWatermark", "dedupeWithinWatermark",
              "symmetricHashJoin"]
        for n in names
    ), names


def test_app11s_matches_composed_oracle(spark):
    q = _reg("app11s_order_cancel_stream_chain")
    con = make_duck(SF_DIR)
    ok, msg = compare(q.fn(spark, SF_DIR), con, q.oracle)
    assert ok, msg


def test_app11s_sink_has_no_sentinel_self_joins(spark):
    """Regression pin for the round-11 bug: admitting OTHER types'
    sentinels through the cancel branch let the 'view' sentinel sit in
    both join branches and self-join (2 phantom groups at sf0.01)."""
    from real_time_data_warehouse_spark.operators.app_chains import (
        _app11s_build,
    )

    base = _app11s_build(spark, SF_DIR)
    back = spark.read.parquet(os.path.join(base, "out"))
    assert back.where(F.col("cancel_key") < 0).count() == 0


import pytest


@pytest.mark.parametrize("name", [
    "app12s_cart_add_stream_chain",
    "app13s_comment_info_stream_chain",
    "app14s_base_db_stream_chain",
    "app15s_order_refund_stream_chain",
    "app16s_home_detail_stream_chain",
    "app17s_refund_pay_suc_stream_chain",
])
def test_remaining_app_rows_match_composed_oracles(spark, name):
    q = _reg(name)
    con = make_duck(SF_DIR)
    ok, msg = compare(q.fn(spark, SF_DIR), con, q.oracle)
    assert ok, msg


def test_app14s_debris_replaced_and_unrouted_dropped(spark):
    from real_time_data_warehouse_spark.operators.app_chains import (
        _app14s_build,
    )

    base = _app14s_build(spark, SF_DIR)
    back = spark.read.option(
        "basePath", os.path.join(base, "out")
    ).parquet(os.path.join(base, "out"))
    assert back.where(F.col("event_id") == -777).count() == 0, (
        "planted debris survived the epoch replay"
    )
    tables = {
        r[0] for r in back.select("sink_table").distinct().collect()
    }
    # error unconfigured, signup bootstrap-excluded: neither may leak
    assert tables == {"dwd_display", "dwd_action", "dwd_page"}, tables


def test_every_app_build_writes_its_progress_records(spark):
    """Every streaming build writes ``progress.jsonl`` into its base dir,
    the merge-sink rows (app4s) included. Checked on the builds this
    module's tests already ran, so each call reads the session cache."""
    from real_time_data_warehouse_spark.operators import app_chains as ac

    builds = [
        ac._app1s_build, ac._app2s_build, ac._app3s_build, ac._app4s_build,
        ac._app5s_build, ac._app6s_build, ac._app7s_build, ac._app8s_build,
        ac._app9s_build, ac._app9x_build, ac._app10s_build,
        ac._app11s_build, ac._app12s_build, ac._app13s_build,
        ac._app14s_build, ac._app16s_build,
        lambda s, d: ac._refund_chain(s, d, "app15s", pay_suc=False),
        lambda s, d: ac._refund_chain(s, d, "app17s", pay_suc=True),
    ]
    for build in builds:
        base = build(spark, SF_DIR)
        with open(os.path.join(base, "progress.jsonl")) as f:
            assert [json.loads(line) for line in f], base

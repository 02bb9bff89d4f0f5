"""Trade pipeline integration: CDC (inserts + updates) → DWD dedup/enrich →
DWS province windows (update mode) → ADS GMV, checked against batch
recomputation from the orders fixture."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.functions.money import dec
from real_time_data_warehouse_spark.sources.cdc import (
    maxwell_etl_filter,
    parse_maxwell,
    synthetic_cdc_json,
)
from real_time_data_warehouse_spark.streaming.trade import (
    ads_gmv,
    run_trade_pipeline,
)
from real_time_data_warehouse_spark.tables import Tables
from tests.conftest import SF_DIR, write_stream_file


def _dim_user_province(t):
    return t.customer.join(
        F.broadcast(t.nation), t.customer.c_nationkey == t.nation.n_nationkey
    ).select(
        F.col("c_custkey").alias("user_id"),
        F.col("n_name").alias("province_name"),
    )


def test_trade_pipeline_end_to_end(spark, tmp_path):
    t = Tables(spark, SF_DIR)
    # ODS: the synthetic Maxwell stream (insert per order + update for F
    # orders — the updates are the dedup challenge), split into 2 files
    raw = synthetic_cdc_json(t.orders)
    src = str(tmp_path / "ods")
    os.makedirs(src)
    # deterministic split (limit()+subtract() re-evaluates and can drop or
    # duplicate rows across evaluations): hash parity of the payload
    half = raw.where(F.crc32("value") % 2 == 0)
    rest = raw.where(F.crc32("value") % 2 != 0)
    for i, part in enumerate([half, rest]):
        write_stream_file(part, src, f"b{i}")

    paths = run_trade_pipeline(spark, src, _dim_user_province(t), str(tmp_path / "wh"))

    # DWD: exactly one row per order (updates deduped), all enriched
    dwd = spark.read.parquet(paths["dwd"])
    assert dwd.count() == t.orders.count()
    assert dwd.where(F.col("province_name").isNull()).count() == 0

    # DWS/ADS: serving equals batch recomputation. Probe the busiest day
    # actually present (at sf0.001 most individual days have no orders).
    probe_day = (
        t.orders.groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"))
        .count()
        .orderBy(F.desc("count"), "d")
        .first()["d"]
    )
    got = ads_gmv(spark, paths["serving"], probe_day).first()
    exp = (
        t.orders.where(F.date_format("o_orderdate", "yyyy-MM-dd") == probe_day)
        .agg(
            F.sum(dec("o_totalprice")).cast("double").alias("gmv"),
            F.count("*").alias("order_ct"),
        )
        .first()
    )
    assert got is not None
    assert got["order_ct"] == exp["order_ct"]
    assert abs(got["gmv"] - exp["gmv"]) < 1e-6

    # serving is keyed: one row per (day, province)
    serving = spark.read.parquet(paths["serving"])
    assert serving.count() == serving.select("cur_date", "province_name").distinct().count()


def _event_time_slices(raw, n):
    """The CDC envelopes cut into *n* event-time-ordered slices. Each cut
    lands inside a run of same-ts inserts, so one day's orders straddle
    consecutive slices (its DWS window is updated again by the next
    call)."""
    rows = sorted(
        (e["ts"], e["type"] == "insert", v)
        for v in (r.value for r in raw.collect())
        for e in [json.loads(v)]
    )
    cuts = []
    for i in range(1, n):
        j = len(rows) * i // n
        while not (rows[j - 1][:2] == rows[j][:2] and rows[j][1]):
            j += 1
        cuts.append(j)
    bounds = [0, *cuts, len(rows)]
    return [[v for _, _, v in rows[a:b]] for a, b in zip(bounds, bounds[1:])]


def _land(spark, values, src, name):
    write_stream_file(spark.createDataFrame([(v,) for v in values], "value string"),
                      src, name)


def _batch_ids(path):
    """Batch ids logged in a streaming checkpoint's offsets/ dir."""
    return sorted(int(f) for f in os.listdir(path) if f.isdigit())


def test_trade_ingest_runs_one_batch_per_layer_per_call(spark, tmp_path):
    """Three landed files, one call: ONE DWD batch reads all of them and
    ONE DWS batch aggregates it — no per-file batches, no trailing
    no-data batches (nor the empty DWD output they wrote)."""
    t = Tables(spark, SF_DIR)
    src = str(tmp_path / "ods")
    for i, part in enumerate(_event_time_slices(synthetic_cdc_json(t.orders), 3)):
        _land(spark, part, src, f"b{i}")
    wh = str(tmp_path / "wh")
    paths = run_trade_pipeline(spark, src, _dim_user_province(t), wh)

    assert _batch_ids(os.path.join(wh, "ckpt_dwd", "offsets")) == [0]
    assert _batch_ids(os.path.join(wh, "ckpt_dws", "offsets")) == [0]
    assert [d for d in os.listdir(paths["dwd"]) if d.startswith("batch_id=")] == [
        "batch_id=0"
    ]
    assert spark.read.parquet(paths["dwd"]).count() == t.orders.count()


def _expected_daily(spark, files):
    """DECIMAL batch recomputation of the daily GMV over landed CDC
    files: the same envelope gate and first-wins order dedup as DWD."""
    cdc = maxwell_etl_filter(parse_maxwell(spark.read.parquet(*files)))
    orders = cdc.where(F.col("table") == "order_info").select(
        F.col("data")["id"].cast("long").alias("order_id"),
        F.col("data")["total_amount"].cast("double").alias("total_amount"),
        F.date_format("et", "yyyy-MM-dd").alias("cur_date"),
    ).dropDuplicates(["order_id"])
    return {
        r.cur_date: (r.gmv, r.order_ct)
        for r in orders.groupBy("cur_date").agg(
            F.sum(dec("total_amount")).cast("double").alias("gmv"),
            F.count("*").alias("order_ct"),
        ).collect()
    }


def test_trade_ingest_correct_across_calls(spark, tmp_path):
    """Files land over three calls in event-time order. DWS window
    eviction runs in the NEXT call's data batch (no trailing no-data
    batch), and each cut splits one day across two calls: after every
    call the serving table still equals the batch recomputation over the
    files landed so far, day by day, and stays keyed."""
    t = Tables(spark, SF_DIR)
    dim = _dim_user_province(t)
    src, wh = str(tmp_path / "ods"), str(tmp_path / "wh")
    slices = _event_time_slices(synthetic_cdc_json(t.orders), 3)
    landed = []
    for i, part in enumerate(slices):
        _land(spark, part, src, f"b{i}")
        landed.append(os.path.join(src, f"b{i}.parquet"))
        paths = run_trade_pipeline(spark, src, dim, wh)
        exp = _expected_daily(spark, landed)

        serving = spark.read.parquet(paths["serving"])
        assert serving.count() == serving.select(
            "cur_date", "province_name"
        ).distinct().count()
        # every day at once, with ads_gmv's own aggregation
        got = {
            r.cur_date: (r.gmv, r.order_ct)
            for r in serving.groupBy("cur_date").agg(
                F.sum("order_amount").alias("gmv"),
                F.sum("order_ct").cast("bigint").alias("order_ct"),
            ).collect()
        }
        assert got.keys() == exp.keys()
        for d, (gmv, ct) in exp.items():
            assert got[d][1] == ct, d
            assert abs(got[d][0] - gmv) < 1e-6, d
        # first and last day of this call's file (the cut days), through
        # the endpoint itself
        edges = {json.loads(v)["ts"] for v in (part[0], part[-1])}
        for ts in edges:
            d = time.strftime("%Y-%m-%d", time.gmtime(ts))
            row = ads_gmv(spark, paths["serving"], d).first()
            assert row["order_ct"] == exp[d][1]
            assert abs(row["gmv"] - exp[d][0]) < 1e-6


def test_trade_pipeline_scopes_no_data_batch_conf(spark, tmp_path, monkeypatch):
    """No-data micro-batches are OFF only while the trade queries start:
    the session value is back after a call returns and after a call
    whose query start raises."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    t = Tables(spark, SF_DIR)
    dim = _dim_user_province(t)
    src = str(tmp_path / "ods")
    _land(spark, _event_time_slices(synthetic_cdc_json(t.orders), 3)[0], src, "b0")

    spark.conf.set(key, "true")
    run_trade_pipeline(spark, src, dim, str(tmp_path / "wh"))
    assert spark.conf.get(key) == "true"

    seen = []

    def failing_start(self, *args, **kwargs):
        seen.append(spark.conf.get(key))
        raise RuntimeError("query start failed")

    monkeypatch.setattr(DataStreamWriter, "start", failing_start)
    with pytest.raises(RuntimeError, match="query start failed"):
        run_trade_pipeline(spark, src, dim, str(tmp_path / "wh2"))
    assert seen == ["false"]
    assert spark.conf.get(key) == "true"

"""Materialized serving layer: partition pruning must actually happen —
the lakehouse equivalent of Doris `partition par#{date}`."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from real_time_data_warehouse_spark.plans.audit import formatted_plan
from real_time_data_warehouse_spark.serving import (
    gmv_for_date,
    materialize_dws_trade_daily,
)
from tests.conftest import SF_DIR


def test_partition_pruned_serving(spark, tmp_path):
    path = str(tmp_path / "dws_trade_daily")
    materialize_dws_trade_daily(spark, SF_DIR, path)

    df = gmv_for_date(spark, path, "1998-01-01")
    plan = formatted_plan(df)
    # the day literal must land in PartitionFilters on the scan …
    assert re.search(r"PartitionFilters: \[[^\]]*cur_date", plan), plan
    # … and the result must match computing from the fact table directly
    got = df.first()
    from real_time_data_warehouse_spark.functions.money import dec
    from real_time_data_warehouse_spark.tables import Tables

    exp = (
        Tables(spark, SF_DIR)
        .orders.where(F.date_format("o_orderdate", "yyyy-MM-dd") == "1998-01-01")
        .agg(F.sum(dec("o_totalprice")).cast("double").alias("gmv"))
        .first()["gmv"]
    )
    if exp is None:
        assert got is None or got["gmv"] is None
    else:
        assert got is not None and abs(got["gmv"] - exp) < 1e-6


def test_province_and_channel_endpoints(spark, tmp_path):
    from real_time_data_warehouse_spark.serving import (
        channel_topk,
        materialize_dws_province_daily,
        province_stats,
    )

    path = str(tmp_path / "dws_province_daily")
    materialize_dws_province_daily(spark, SF_DIR, path)
    some_date = (
        spark.read.parquet(path).select("cur_date").orderBy("cur_date").first()[0]
    )
    prov = province_stats(spark, path, some_date)
    assert prov.count() > 0
    assert set(prov.columns) == {"province_name", "order_amount", "order_ct"}

    ch = channel_topk(spark, SF_DIR, "2024-01-05", limit=3).collect()
    assert len(ch) == 3
    assert ch[0]["uv_ct"] >= ch[-1]["uv_ct"]


def test_compact_table(spark, tmp_path):
    """OPTIMIZE analog: a fragmented day-partitioned table collapses to
    one file per partition with identical contents."""
    from real_time_data_warehouse_spark.streaming.sinks import compact_table
    from real_time_data_warehouse_spark.tables import Tables

    path = str(tmp_path / "frag")
    daily = (
        Tables(spark, SF_DIR)
        .orders.limit(300)
        .select(
            F.date_format("o_orderdate", "yyyy-MM").alias("cur_date"),
            "o_orderkey",
            "o_totalprice",
        )
    )
    # simulate 5 micro-batch appends → many small files per partition
    for _ in range(5):
        daily.write.mode("append").partitionBy("cur_date").parquet(path)
    before = spark.read.parquet(path).count()

    stats = compact_table(spark, path, partition_col="cur_date")
    assert stats["files_after"] < stats["files_before"]
    after_df = spark.read.parquet(path)
    assert after_df.count() == before
    # one file per partition dir
    import glob as g

    for pdir in g.glob(f"{path}/cur_date=*"):
        assert len(g.glob(f"{pdir}/*.parquet")) == 1, pdir


def test_compact_table_recovers_from_mid_swap_crash(spark, tmp_path):
    """Crash between rename(path, old) and rename(staging, path) leaves
    '.__old__' as the ONLY copy. The next invocation must restore it, not
    delete it."""
    import os

    from real_time_data_warehouse_spark.streaming.sinks import compact_table
    from real_time_data_warehouse_spark.tables import Tables

    path = str(tmp_path / "tbl")
    daily = Tables(spark, SF_DIR).events.limit(100).select("event_id", "user_id")
    for _ in range(3):
        daily.write.mode("append").parquet(path)
    expected = spark.read.parquet(path).count()

    # simulate the mid-swap crash state: path gone, .__old__ holds the data,
    # stale staging debris present
    os.rename(path, path + ".__old__")
    daily.limit(1).write.mode("overwrite").parquet(path + ".__compact__")

    stats = compact_table(spark, path)
    assert spark.read.parquet(path).count() == expected
    assert stats["files_after"] <= stats["files_before"]
    assert not os.path.exists(path + ".__old__")
    assert not os.path.exists(path + ".__compact__")


def test_upsert_dim_seq_tiebreak_across_partitions(spark, tmp_path):
    """Same key + same epoch-second ts (Maxwell ties), later-commit record in
    an EARLIER partition: the monotonically_increasing_id fallback ranks by
    partition index first and picks the stale row; a true commit-order
    seq_col (__seq from parse_maxwell) must pick the later one."""
    from real_time_data_warehouse_spark.streaming.sinks import upsert_dim

    schema = "row_key string, type string, ts long, status string, __seq long"
    later = spark.createDataFrame([("k1", "update", 1000, "F", 2)], schema).coalesce(1)
    earlier = spark.createDataFrame([("k1", "insert", 1000, "O", 1)], schema).coalesce(1)
    batch = later.unionAll(earlier)  # partition 0 = later, partition 1 = earlier

    buggy = str(tmp_path / "dim_fallback")
    upsert_dim(spark, batch, buggy, key_cols=["row_key"], order_col="ts",
               type_col="type")
    assert spark.read.parquet(buggy).collect()[0]["status"] == "O"  # stale pick

    fixed = str(tmp_path / "dim_seq")
    upsert_dim(spark, batch, fixed, key_cols=["row_key"], order_col="ts",
               type_col="type", seq_col="__seq")
    rows = spark.read.parquet(fixed).collect()
    assert len(rows) == 1 and rows[0]["status"] == "F"
    assert "__seq" not in spark.read.parquet(fixed).columns


def test_dynamic_routing_stream(spark, tmp_path):
    import os

    from real_time_data_warehouse_spark.streaming.pipelines import (
        routing_sink,
        stream_events,
    )
    from real_time_data_warehouse_spark.streaming.state_store import (
        run_epoch_stream,
    )
    from real_time_data_warehouse_spark.tables import Tables

    # single-file source dir
    src = str(tmp_path / "src")
    ev = Tables(spark, SF_DIR).events
    (
        ev.withColumn("ts", F.unix_micros("ts") * F.lit(1000).cast("bigint"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(src)
    )
    out, ckpt = str(tmp_path / "routed"), str(tmp_path / "ckpt")
    config = [("click", "dwd_click_log"), ("purchase", "dwd_trade_order")]
    q = run_epoch_stream(
        stream_events(spark, src), routing_sink(config, out), ckpt
    )
    q.awaitTermination(120)

    routed = spark.read.parquet(out)
    sinks = {r["sink_table"] for r in routed.select("sink_table").distinct().collect()}
    assert sinks == {"dwd_click_log", "dwd_trade_order"}
    n_click = ev.where(F.col("event_type") == "click").count()
    got_click = routed.where(F.col("sink_table") == "dwd_click_log").count()
    assert got_click == n_click
    # unrouted types (no config row) must not appear anywhere
    assert routed.where(F.col("event_type") == "error").count() == 0

"""Materialized serving layer: a request reads only its day directory,
and partition pruning must still show in the plan — the lakehouse
equivalent of Doris `partition par#{date}`."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.functions.money import dec
from real_time_data_warehouse_spark.plans.audit import formatted_plan
from real_time_data_warehouse_spark.serving import (
    DWS_PROVINCE_DAILY_SCHEMA,
    DWS_TRADE_DAILY_SCHEMA,
    channel_topk,
    gmv_for_date,
    materialize_dws_province_daily,
    materialize_dws_trade_daily,
    province_stats,
    read_days,
)
from real_time_data_warehouse_spark.tables import Tables
from tests.conftest import SF_DIR

PRESENT_DAY = "1998-01-04"  # has orders at sf0.001 (k2b relies on it too)
ABSENT_DAY = "1998-01-01"  # no orders at sf0.001, so no day directory


@pytest.fixture(scope="module")
def dws(spark, tmp_path_factory):
    """Both serving tables, materialized once for the module from the
    first quarter of 1998 of the sf0.001 orders: about 45 day dirs,
    past the 32 at which a read of the table root lists them in a
    parallel job, without writing all 1,094 of the fixture's days.
    Returns endpoint → (table root, declared schema)."""
    base = tmp_path_factory.mktemp("dws")
    src = base / "sf"
    src.mkdir()
    for name in ("customer", "nation"):
        os.symlink(os.path.join(SF_DIR, f"{name}.parquet"), src / f"{name}.parquet")
    Tables(spark, SF_DIR).orders.where(
        (F.col("o_orderdate") >= "1998-01-01") & (F.col("o_orderdate") < "1998-04-01")
    ).write.parquet(str(src / "orders.parquet"))
    trade, prov = str(base / "dws_trade_daily"), str(base / "dws_province_daily")
    materialize_dws_trade_daily(spark, str(src), trade)
    materialize_dws_province_daily(spark, str(src), prov)
    assert len(_day_dirs(trade)) > 32
    return {
        gmv_for_date: (trade, DWS_TRADE_DAILY_SCHEMA),
        province_stats: (prov, DWS_PROVINCE_DAILY_SCHEMA),
    }


def _day_dirs(root):
    return sorted(d for d in os.listdir(root) if d.startswith("cur_date="))


def test_partition_pruned_serving(spark, dws):
    path = dws[gmv_for_date][0]
    assert not os.path.exists(os.path.join(path, f"cur_date={ABSENT_DAY}"))
    df = gmv_for_date(spark, path, PRESENT_DAY)
    plan = formatted_plan(df)
    # the day literal must land in PartitionFilters on the scan …
    assert re.search(r"PartitionFilters: \[[^\]]*cur_date", plan), plan
    # … whose Location holds exactly the one requested day dir …
    (location,) = re.findall(r"Location: \w+ \[([^\]]*)\]", plan)
    assert location.split(", ") == [
        f"file:{os.path.join(path, f'cur_date={PRESENT_DAY}')}"
    ], location
    # … and the result must match computing from the fact table directly
    got = df.collect()
    exp = (
        Tables(spark, SF_DIR)
        .orders.where(F.date_format("o_orderdate", "yyyy-MM-dd") == PRESENT_DAY)
        .agg(F.sum(dec("o_totalprice")).cast("double").alias("gmv"))
        .first()["gmv"]
    )
    assert exp is not None and len(got) == 1
    assert str(got[0]["cur_date"]) == PRESENT_DAY
    assert abs(got[0]["gmv"] - exp) < 1e-6


def _is_empty_answer(df, present) -> bool:
    """*df* is an empty answer typed like *present*, planned with no
    scan (an empty LocalRelation, so nothing is read)."""
    optimized = df._jdf.queryExecution().optimizedPlan()
    return (
        df.schema == present.schema
        and optimized.getClass().getSimpleName() == "LocalRelation"
        and df.collect() == []
    )


def test_absent_day_is_the_empty_answer(spark, dws):
    """A day with no directory returns no rows, with the columns and
    types of a present day's answer, and never scans."""
    for fn, (path, _) in dws.items():
        present = fn(spark, path, PRESENT_DAY)
        assert present.count() > 0
        assert _is_empty_answer(fn(spark, path, ABSENT_DAY), present), fn
    # a table that does not exist is an error, not an empty answer
    missing = os.path.join(os.path.dirname(dws[gmv_for_date][0]), "not_built")
    for fn in dws:
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            fn(spark, missing, PRESENT_DAY)


@pytest.mark.parametrize(
    "day",
    ["1998-1-4", "19980104", "garbage", "", f"{PRESENT_DAY}/../..",
     f"../cur_date={PRESENT_DAY}"],
)
def test_malformed_day_is_the_empty_answer(spark, dws, day):
    """A day that is not exactly yyyy-MM-dd — including a path-like one
    that would climb out of the table root — is answered empty without
    reading anything, not an ANSI cast error and not a foreign dir."""
    for fn, (path, _) in dws.items():
        present = fn(spark, path, PRESENT_DAY)
        assert _is_empty_answer(fn(spark, path, day), present), (fn, day)


def test_day_dir_read_equals_root_read(spark, dws):
    """For every day dir of both tables, the rows read from that dir
    with the declared schema equal the rows a read of the table root
    infers for that day; the endpoints' answers match the root-read
    form on sampled days."""
    for fn, (path, schema) in dws.items():
        days = [d[len("cur_date="):] for d in _day_dirs(path)]
        root = spark.read.parquet(path)
        by_dir = read_days(spark, path, schema, days)
        assert by_dir.schema == root.schema
        assert sorted(by_dir.collect()) == sorted(root.collect())
        for day in days[:: max(1, len(days) // 5)] + [PRESENT_DAY]:
            rows = root.where(F.col("cur_date") == day)
            old = (
                rows.groupBy("cur_date").agg(F.sum("order_amount").alias("gmv"))
                if fn is gmv_for_date
                else rows.select("province_name", "order_amount", "order_ct")
            )
            assert sorted(fn(spark, path, day).collect()) == sorted(old.collect())


def test_declared_schemas_match_the_writers(spark, dws):
    """Each declared schema is the schema Spark infers from a freshly
    materialized table, so writer and reader cannot drift apart."""
    for path, schema in dws.values():
        declared = spark.createDataFrame([], schema).schema
        assert spark.read.parquet(path).schema == declared, schema


def test_at_most_two_jobs_per_request(spark, dws):
    """A request costs its pruned scan only: no partition-discovery or
    schema-inference job (job counts as in test_jobs_per_batch.py)."""
    sc = spark.sparkContext
    groups = {}
    for fn, (path, _) in dws.items():
        for day in (PRESENT_DAY, "1998-01-06"):
            group = f"serving-jobs-{fn.__name__}-{day}"
            sc.setJobGroup(group, group)
            try:
                assert fn(spark, path, day).collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            groups[group] = None
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = {g: len(tracker.getJobIdsForGroup(g)) for g in groups}
    assert all(1 <= n <= 2 for n in jobs.values()), jobs


def test_province_and_channel_endpoints(spark, dws):
    path = dws[province_stats][0]
    prov = province_stats(spark, path, PRESENT_DAY)
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

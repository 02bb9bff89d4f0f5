"""S5/S7 sink write→read-back rows: partition pruning + file layout."""

from __future__ import annotations

import glob
import os

from conftest import SF_DIR


def test_k2_readback_prunes_partitions(spark):
    from real_time_data_warehouse_spark.operators.sink_readback import (
        _K2_DAYS,
        k2_serving_partition_readback,
    )

    df = k2_serving_partition_readback(spark, SF_DIR)
    physical = df._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in physical.splitlines() if "PartitionFilters" in ln]
    assert scan, physical
    assert "cur_date" in scan[0]
    assert "1998-01-01" in scan[0]  # the literal range reaches the listing
    rows = df.collect()
    assert 0 < len(rows) <= _K2_DAYS  # ≤ one row per pruned partition
    assert all(r["order_ct"] > 0 for r in rows)


def test_k2b_rollover_prunes_to_two_partitions(spark):
    """The yesterday+today rollover range must reach the partition
    listing as a two-day filter — the scan touches exactly the two
    requested day dirs, not the year of partitions in the store."""
    from real_time_data_warehouse_spark.operators.sink_readback import (
        _K2B_DAYS,
        k2b_serving_rollover_readback,
    )

    df = k2b_serving_rollover_readback(spark, SF_DIR)
    physical = df._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in physical.splitlines() if "PartitionFilters" in ln]
    assert scan, physical
    assert "cur_date" in scan[0]
    # both range bounds reach the listing (1998-01-04 <= d < 1998-01-06)
    assert "1998-01-04" in scan[0] and "1998-01-06" in scan[0]
    rows = df.collect()
    assert 0 < len(rows) <= _K2B_DAYS
    assert all(r["order_ct"] > 0 for r in rows)


def test_k2_artifact_is_day_partitioned(spark):
    from real_time_data_warehouse_spark.operators.sink_readback import (
        _K2_SCHEMA,
        _k2_build,
    )

    base = _k2_build(spark, SF_DIR)
    days = [d for d in os.listdir(base) if d.startswith("cur_date=")]
    assert len(days) > 31  # orders span years → many day partitions
    # k2/k2b read their day dirs with the declared schema: it must be
    # the one Spark infers from the written store
    declared = spark.createDataFrame([], _K2_SCHEMA).schema
    assert spark.read.parquet(base).schema == declared


def test_k1_one_file_per_topic_and_json_roundtrip(spark):
    from real_time_data_warehouse_spark.operators.sink_readback import (
        _k1_build,
        k1_dynamic_topic_readback,
    )

    base = _k1_build(spark, SF_DIR)
    topics = [d for d in os.listdir(base) if d.startswith("topic=dwd_")]
    assert topics  # routed dirs exist and carry the dwd_ prefix
    for d in topics:
        files = glob.glob(os.path.join(base, d, "*.parquet"))
        assert len(files) == 1, (d, files)  # repartition(topic) discipline
    out = {r["topic"]: r for r in k1_dynamic_topic_readback(spark, SF_DIR).collect()}
    assert set(out) == {d.split("=", 1)[1] for d in topics}
    # checksum against a direct derivation from the base table
    from real_time_data_warehouse_spark.tables import Tables
    import pyspark.sql.functions as F

    direct = {
        r["topic"]: r
        for r in Tables(spark, SF_DIR)
        .events.groupBy(
            F.concat(F.lit("dwd_"), F.col("event_type")).alias("topic")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("event_id").alias("id_sum"),
        )
        .collect()
    }
    for topic, row in out.items():
        assert row["n_rows"] == direct[topic]["n_rows"]
        assert row["id_sum"] == direct[topic]["id_sum"]

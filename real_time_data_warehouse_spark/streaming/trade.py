"""Trade-side pipeline, streamed end-to-end (the reference's order flow:
DwdTradeOrderDetail → DwsTradeProvinceOrderWindow → TradeStatsController).

Layers decouple through storage, each its own streaming query:

- **ODS**: Maxwell CDC of `order_info` (raw JSON values).
- **DWD**: parse → ETL gate → first-wins dedup by order id (the ST1
  replacement for the reference's retract-dedup: CDC updates re-send the
  order; GMV must count it once) → broadcast dim enrichment
  (customer→nation = the province lookup) → epoch-partitioned parquet.
- **DWS**: daily (province, day) window aggregate in UPDATE mode,
  upserted into the serving table (the Doris stream-load analog).
- **ADS**: GMV/province queries over the serving table.

Dedup and windowed aggregation are separate queries on purpose: the layer
boundary keeps each query single-stateful-operator (no chained-stateful
restrictions) and independently restartable — the same reason the
reference splits apps across Kafka topics.

One call runs ONE micro-batch per layer. Per-trigger fixed cost
(planning, state-store commits, the sink's write jobs) dominates a
call's latency at ingest scale, so:

- the DWD source reads every pending file in one batch (no
  ``maxFilesPerTrigger``). Landed CDC files are contiguous in event time
  and rows of one batch are only checked against the PREVIOUS batch's
  watermark, so one batch drops no more late rows than per-file batches.
- both queries start with no-data micro-batches OFF. The trailing
  no-data batch of an ``availableNow`` run only advances the watermark:
  the DWD dedup key has no event-time column, so its state never
  evicts, and DWS eviction in update mode emits no rows — yet it costs
  a full trigger plus a whole-table serving rewrite of an empty batch.
  DWS eviction happens in the next call's data batch instead, which uses
  the same watermark for late-row filtering and eviction, so the
  serving table is the same; DWS state holds one call's closed windows
  until the next call. The conf is scoped to the two runner calls
  (``state_store.run_epoch_stream``). Spark reads it once, at query
  start, and the checkpoint does not store it, so holding it through
  the runner's wait changes nothing, and queries that need the trailing
  flush batch keep it.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.functions.money import dec
from real_time_data_warehouse_spark.session import tune
from real_time_data_warehouse_spark.sources.cdc import (
    maxwell_etl_filter,
    parse_maxwell,
)
from real_time_data_warehouse_spark.streaming.sinks import upsert_versioned
from real_time_data_warehouse_spark.streaming.state_store import (
    run_epoch_stream,
    write_snapshot,
)


def stream_cdc_values(spark: SparkSession, path: str) -> DataFrame:
    """Streaming source over parquet files holding one `value` JSON string
    per row (the Kafka topic_db stand-in)."""
    tune(spark)
    return spark.readStream.schema("value string").parquet(path)


_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


@contextmanager
def _no_data_batches_off(spark: SparkSession):
    """Scope no-data micro-batches OFF around a query's run (see the
    module docstring); the previous session value is restored even when
    the run raises."""
    old = spark.conf.get(_NO_DATA_BATCHES)
    spark.conf.set(_NO_DATA_BATCHES, "false")
    try:
        yield
    finally:
        spark.conf.set(_NO_DATA_BATCHES, old)


def dwd_trade_order(cdc_values: DataFrame, dim_user_province: DataFrame) -> DataFrame:
    """DWD transform: envelope parse → gate → order rows → first-wins
    dedup by order id → broadcast province enrichment."""
    cdc = maxwell_etl_filter(parse_maxwell(cdc_values))
    orders = cdc.where(F.col("table") == "order_info").select(
        F.col("data")["id"].cast("long").alias("order_id"),
        F.col("data")["user_id"].cast("long").alias("user_id"),
        F.col("data")["total_amount"].cast("double").alias("total_amount"),
        "et",
    )
    deduped = orders.dropDuplicates(["order_id"])
    return deduped.join(F.broadcast(dim_user_province), "user_id", "left")


# the DWS serving table as upsert_versioned writes it: run_trade_pipeline's
# window aggregate plus the epoch version; ads_gmv reads it with this
# schema instead of inferring it (one job) on every call
DWS_TRADE_PROVINCE_SCHEMA = (
    "cur_date string, province_name string, order_amount double, "
    "order_ct bigint, __ver bigint"
)


def run_trade_pipeline(
    spark: SparkSession,
    ods_path: str,
    dim_user_province: DataFrame,
    base_dir: str,
) -> dict[str, str]:
    """Run ODS→DWD→DWS over the available CDC files; returns layer paths."""
    dwd_dir = os.path.join(base_dir, "dwd_trade_order")
    serving = os.path.join(base_dir, "dws_trade_province")
    paths = {"dwd": dwd_dir, "serving": serving}

    # DWD query (stateful op: dedup), epoch-partitioned idempotent sink
    dwd = dwd_trade_order(stream_cdc_values(spark, ods_path), dim_user_province)

    def dwd_sink(batch: DataFrame, batch_id: int) -> None:
        write_snapshot(batch, dwd_dir, batch_id)

    with _no_data_batches_off(spark):
        run_epoch_stream(dwd, dwd_sink, os.path.join(base_dir, "ckpt_dwd"))

    # DWS query (stateful op: windowed agg) in update mode → upsert serving
    dwd_stream = (
        spark.readStream.schema(
            "order_id bigint, user_id bigint, total_amount double, "
            "et timestamp, province_name string, batch_id int"
        )
        .parquet(dwd_dir)
        .withWatermark("et", "1 day")
    )
    agg = (
        dwd_stream.groupBy(
            F.window("et", "1 day"),
            F.col("province_name"),
        )
        .agg(
            F.sum(dec("total_amount")).cast("double").alias("order_amount"),
            F.count("*").alias("order_ct"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd").alias("cur_date"),
            "province_name",
            "order_amount",
            "order_ct",
        )
    )

    def dws_sink(batch: DataFrame, batch_id: int) -> None:
        upsert_versioned(spark, batch, batch_id, serving,
                         key_cols=["cur_date", "province_name"])

    with _no_data_batches_off(spark):
        run_epoch_stream(
            agg, dws_sink, os.path.join(base_dir, "ckpt_dws"), "update"
        )
    return paths


def ads_gmv(spark: SparkSession, serving: str, date: str) -> DataFrame:
    """TradeStatsController./gmv analog over the streamed serving table."""
    return (
        spark.read.schema(DWS_TRADE_PROVINCE_SCHEMA).parquet(serving)
        .where(F.col("cur_date") == date)
        .groupBy("cur_date")
        .agg(
            F.sum("order_amount").alias("gmv"),
            F.sum("order_ct").cast("bigint").alias("order_ct"),
        )
    )

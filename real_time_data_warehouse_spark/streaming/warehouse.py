"""The full layered warehouse as one streaming topology — the integration
of SURVEY.md §0's table: ODS (raw stream) → DWD (cleaned fact streams) →
DWS (windowed aggregates) → ADS (day-partitioned serving tables).

The reference decouples layers through Kafka topics between separate Flink
jobs; the lakehouse form decouples through storage: each layer's sink
directory is the next layer's streaming source. This runner wires the
layers in-process for the integration test; in production each stage is an
independent ``writeStream`` job reading the previous stage's table (file
or Delta source), restartable from its own checkpoint.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.streaming.pipelines import (
    EVENTS_RAW_SCHEMA,
    dws_windowed_agg,
    log_split,
    stream_events,
)
from real_time_data_warehouse_spark.streaming.state_store import (
    run_epoch_stream,
    run_file_stream,
    write_snapshot,
)


def run_warehouse(
    spark: SparkSession, ods_path: str, base_dir: str
) -> dict[str, str]:
    """Run ODS→DWD→DWS→ADS once over the available ODS files, each layer a
    real streaming query with its own checkpoint. Returns layer paths.

    The DWD split keeps one directory per side (``dwd/<side>/batch_id=N``)
    rather than the one side-partitioned epoch write of
    ``run_log_split_stream``: the DWS layer streams ``dwd/page`` as its
    file source, and a file source over one side-partitioned tree would
    list every side's files each trigger to keep only the page rows."""
    dwd_dir = os.path.join(base_dir, "dwd")
    dws_path = os.path.join(base_dir, "dws_traffic_window")
    paths = {"dwd": dwd_dir, "dws": dws_path}

    # --- DWD: split the ODS behavior-log stream 5 ways (DwdBaseLog) ------
    ods = stream_events(spark, ods_path)

    def split_sink(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            for side, df in log_split(batch).items():
                # epoch-overwrite: a retried batch replaces partial output
                write_snapshot(df, os.path.join(dwd_dir, side), batch_id)
        finally:
            batch.unpersist()

    run_epoch_stream(ods, split_sink, os.path.join(base_dir, "ckpt_dwd"))

    # --- DWS: windowed aggregate over the DWD page stream ----------------
    # (each DWD side dir is itself a valid streaming source — the Kafka-
    # topic-between-jobs pattern, storage-decoupled)
    page = (
        spark.readStream.schema(
            # DWD sides carry the normalized µs timestamp already; batch_id
            # is the per-epoch partition dir from the idempotent split sink
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string, batch_id int"
        )
        .parquet(os.path.join(dwd_dir, "page"))
    )
    run_file_stream(
        dws_windowed_agg(page),
        dws_path,
        os.path.join(base_dir, "ckpt_dws"),
        partition_by="cur_date",
    )
    return paths


def ads_daily_totals(spark: SparkSession, dws_path: str, date: str) -> DataFrame:
    """ADS query over the streamed DWS table: one day partition's totals."""
    dws = spark.read.parquet(dws_path)
    return (
        dws.where(F.col("cur_date") == date)
        .groupBy("cur_date")
        .agg(
            F.sum("order_amount").alias("amount"),
            F.sum("order_ct").cast("bigint").alias("events"),
        )
    )

"""Streaming pipeline topologies (DIM / DWD / DWS app analogs).

Each reference app's `handle()` body becomes a pure df→df transform here,
and each foreachBatch sink an epoch body; a streaming query is file/kafka
source → transform → sink, started by the runners of
streaming/state_store. Tests run the same transform in batch for the
equivalence check.

Scale notes: watermarks bound all state (the reference's StateTtlConfig
analogs — SURVEY.md §4); `foreachBatch` tags each row of the micro-batch
with its side and writes ONE side-partitioned frame per epoch (the
side-output pattern X1) — one pass over the data, one write, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from real_time_data_warehouse_spark.functions.money import dec
from real_time_data_warehouse_spark.functions.time import tumble, window_meta
from real_time_data_warehouse_spark.session import tune
from real_time_data_warehouse_spark.streaming.state_store import write_snapshot

# events schema as the streaming file source sees it (ts arrives as bigint
# nanos under nanosAsLong — same normalization as tables.load).
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def file_stream(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Streaming source over a directory of parquet files of *schema*,
    one file per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def stream_events(spark: SparkSession, path: str) -> DataFrame:
    """Streaming source over a directory of events parquet files (the
    Kafka stand-in; S1), one file per micro-batch."""
    tune(spark)
    raw = file_stream(spark, path, EVENTS_RAW_SCHEMA)
    return raw.withColumn(
        # integer division: ts/1000 via double loses ~1 µs on ~1.6% of values
        # (nanos exceed 2^53) — div keeps the exact microsecond
        "ts", F.timestamp_micros(F.expr("ts div 1000"))
    )


# ---------------------------------------------------------------------------
# Transforms (pure df→df; batch and streaming)
# ---------------------------------------------------------------------------


# X1 routing: DwdBaseLog side → the event type it carries
LOG_SIDES = {
    "err": "error",
    "start": "signup",
    "display": "view",
    "action": "click",
    "page": "purchase",
}


def log_split(events: DataFrame) -> dict[str, DataFrame]:
    """X1: the DwdBaseLog 5-way split (DwdBaseLog.java:192-295) as five
    derived DataFrames over one parsed stream."""
    return {
        side: events.where(F.col("event_type") == etype)
        for side, etype in LOG_SIDES.items()
    }


def log_side() -> Column:
    """X1 as ONE column: the side a row routes to, NULL for an event
    type no side carries — the single-frame form of ``log_split`` that
    fan-out sinks partition by."""
    cases = " ".join(f"WHEN '{e}' THEN '{s}'" for s, e in LOG_SIDES.items())
    return F.expr(f"CASE event_type {cases} END")


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """ST1/ST2 streaming form: watermarked dropDuplicates on the business
    key — Spark's native replacement for the reference's retract-dedup
    state machine (DwsTradeSkuOrderWindow.java:190-223). Key state never
    expires here (the event-time column is not in the dedup subset, so the
    watermark does NOT evict it) — correct for bounded key domains; for
    TTL-bounded state use ``stream_dedup_within_watermark``. Emits each
    key's FIRST arrival — emit-once semantics, exactly the commented-out
    'state+timer' variant ST2."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.dropDuplicates(["user_id", "event_type"])


def stream_dedup_within_watermark(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """ST1 with the reference's TTL semantics *exactly*: the reference
    expires dedup state after 10 s (StateTtlConfig, DwsTradeSkuOrder
    Window.java:198), so a duplicate arriving later than the TTL is NOT
    suppressed. ``dropDuplicatesWithinWatermark`` reproduces that: state
    for a key is kept only within the watermark distance, duplicates
    farther apart in event time both pass — unlike ``stream_dedup`` whose
    key state never expires."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.dropDuplicatesWithinWatermark(["user_id", "event_type"])


def dws_windowed_agg(events: DataFrame, watermark: str = "10 seconds") -> DataFrame:
    """A1/W1/W7: the DWS tumbling-window aggregate with window metadata
    (DwsTradeSkuOrderWindow.java:271-302). In streaming the watermark
    bounds window state and enables append-mode emission."""
    src = (
        events.withWatermark("ts", watermark) if events.isStreaming else events
    )
    agg = src.groupBy(tumble("ts"), F.col("event_type").alias("sku_group")).agg(
        F.sum(dec("value")).cast("double").alias("order_amount"),
        F.count("*").alias("order_ct"),
    )
    return window_meta(agg)


def dws_sku_order_enriched(
    events: DataFrame, dim: DataFrame, watermark: str = "10 seconds"
) -> DataFrame:
    """The full DwsTradeSkuOrderWindow shape (DwsTradeSkuOrderWindow.java:
    271-302 window reduce + :480-619 async dim chain): watermarked tumbling
    aggregate, then broadcast dim enrichment of the *aggregated* rows —
    the reference enriches after windowing too (far fewer rows to enrich
    than events). Stream-static join keeps the result streamable."""
    agg = dws_windowed_agg(events, watermark)
    return agg.join(F.broadcast(dim), agg["sku_group"] == dim["dic_code"], "left")


# ---------------------------------------------------------------------------
# Epoch bodies (foreachBatch sinks)
# ---------------------------------------------------------------------------


def dws_upsert_sink(spark: SparkSession, serving_dir: str):
    """DWS update-mode epoch body: upsert each fired window row into the
    serving table keyed by (stt, sku_group), latest fire wins."""
    from real_time_data_warehouse_spark.streaming.sinks import upsert_versioned

    def upsert_batch(batch: DataFrame, batch_id: int) -> None:
        upsert_versioned(spark, batch, batch_id, serving_dir,
                         key_cols=["stt", "sku_group"])

    return upsert_batch


def log_split_sink(out_dir: str):
    """DwdBaseLog epoch body: tag each row with its side (``log_side``)
    and write ONE ``side``-partitioned frame per epoch — the Spark form
    of Flink side outputs: one pass and ONE write job per epoch for all
    five sides.

    Exactly-once across failures: each epoch writes its own
    ``batch_id=N`` directory with a static overwrite, so a retry of the
    same epoch (after a mid-batch crash) REPLACES any partial output of
    every side instead of appending next to it. Checkpoint replay +
    idempotent batch writes = end-to-end exactly-once on a plain file
    sink (the Delta path gets the same property from its transaction
    log). Read a side back as ``read_log(...).where(side == ...)``."""

    def sink_batch(batch: DataFrame, batch_id: int) -> None:
        routed = batch.withColumn("side", log_side()).where(
            F.col("side").isNotNull()
        )
        write_snapshot(routed, out_dir, batch_id, partition_by="side")

    return sink_batch


def routing_sink(config_rows: list[tuple[str, str]], out_dir: str):
    """X2/S5 epoch body: config-driven demux (DwdBaseDb.java:43-110 +
    dynamic-topic sink FlinkSinkUtil.java:44-65). The routing config
    joins as a broadcast per micro-batch; records land under their
    routed ``sink_table`` via partitioned write — the file-sink analog
    of Spark's per-row `topic` kafka column (sources/kafka.
    with_dynamic_topic is the Kafka form).

    Exactly-once across failures mirrors ``log_split_sink``: each epoch
    overwrites its own ``batch_id=N`` dir (static, whatever the
    session's partitionOverwriteMode), so a retried epoch replaces the
    partial output of every routed sink_table."""

    def sink_batch(batch: DataFrame, batch_id: int) -> None:
        config = batch.sparkSession.createDataFrame(
            config_rows, ["source_type", "sink_table"]
        )
        routed = batch.join(
            F.broadcast(config), batch["event_type"] == config["source_type"]
        ).drop("source_type")
        write_snapshot(routed, out_dir, batch_id, partition_by="sink_table")

    return sink_batch

"""Kafka source/sink builders — SURVEY.md §2.1 S1/S4/S5/S6.

The reference's FlinkSourceUtil.getKafkaSource (FlinkSourceUtil.java:23-58:
latest offsets, null-tolerant deserializer) and FlinkSinkUtil
(FlinkSinkUtil.java:27-65: fixed-topic and dynamic per-record-topic
producers). Spark natively covers both: the kafka source tolerates null
values (they arrive as null `value` rows — filter P11), and the kafka sink
honors a per-row `topic` column, which *is* the dynamic routing S5.

No Kafka broker exists in the test environment, so these builders are
exercised for plan construction only (tests build the source and the
sink-record shapes without starting a query); the file-source pipelines
in streaming/ are the runnable stand-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def kafka_source(
    spark: SparkSession,
    topic: str,
    brokers: str = "localhost:9092",
    starting_offsets: str = "latest",
) -> DataFrame:
    """S1: topic → streaming DataFrame of raw records. Null-tolerant: keep
    rows, drop nothing here (P11 filters tombstones downstream)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def with_fixed_topic(df: DataFrame, topic: str) -> DataFrame:
    """S4: value-only producer to one topic."""
    return df.select(
        F.to_json(F.struct(*df.columns)).alias("value"), F.lit(topic).alias("topic")
    )


def with_dynamic_topic(df: DataFrame, topic_col: str) -> DataFrame:
    """S5: per-record topic from the routing config (FlinkSinkUtil.java:
    44-65 takes it from TableProcessDwd.getSinkTable()); Spark's kafka sink
    reads the `topic` column per row."""
    payload = [c for c in df.columns if c != topic_col]
    return df.select(
        F.to_json(F.struct(*payload)).alias("value"),
        F.col(topic_col).alias("topic"),
    )


def with_upsert_key(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """S6: upsert-kafka analog — keyed records (Kafka log compaction gives
    the upsert semantics; in the Delta-first design this becomes MERGE,
    streaming/sinks.py)."""
    value_cols = [c for c in df.columns]
    return df.select(
        F.to_json(F.struct(*[F.col(c) for c in key_cols])).alias("key"),
        F.to_json(F.struct(*value_cols)).alias("value"),
    )


"""ADS serving layer over *materialized* day-partitioned DWS tables —
SURVEY.md §3.3.

The reference serves REST queries from Doris with explicit partition
selection (`partition par#{date}` — TradeStatsMapper.java:16-22). The
lakehouse form: DWS streaming/batch output written `partitionBy("cur_date")`
(streaming/sinks.write_serving_partitioned), and each request reads ONE
day directory, `<root>/cur_date=<day>`, through `read_days`:

- the read names its schema (`DWS_TRADE_DAILY_SCHEMA`,
  `DWS_PROVINCE_DAILY_SCHEMA`, declared beside the writers that fix those
  types). A read of the table root instead pays a schema-inference job
  and, past 32 day dirs, a parallel partition-discovery job before the
  pruned scan.
- `basePath` is the table root, so `cur_date` still comes back as a
  `date` partition column, and the `cur_date = <day>` predicate still
  lands in the scan's PartitionFilters, which is the Doris partition
  clause verbatim. tests/test_serving.py asserts the plan and that the
  scan's Location is that one directory.
- a day that is not a `yyyy-MM-dd` date, or that has no directory,
  returns the empty answer: the same columns and types, planned with no
  scan and no job. A root read raised on a malformed day (the
  string-to-date cast). A missing table root still raises, so a wrong
  or not-yet-built serving path is an error, not an empty answer.

Caveat: the `materialize_dws_*` writers overwrite the whole table, so a
request that runs during that overwrite can find its day directory gone
or half-written, exactly as a read of the table root could.
"""

from __future__ import annotations

import datetime
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.functions.money import dec
from real_time_data_warehouse_spark.tables import Tables


def _day(text: str) -> datetime.date | None:
    """The day ``text`` names when it is exactly that day's ISO
    ``yyyy-MM-dd`` form, else None (a day directory's name is only ever
    rebuilt from the parsed date, never from the request string)."""
    try:
        day = datetime.date.fromisoformat(text)
    except (TypeError, ValueError):
        return None
    return day if day.isoformat() == text else None


def read_days(
    spark: SparkSession, root: str, schema: str, days: Iterable[str]
) -> DataFrame:
    """Rows of the ``cur_date``-partitioned table at ``root`` for
    ``days``, read with the declared ``schema`` from those days'
    directories only. Days that do not parse or have no directory are
    skipped; with none left the frame is empty and plans with no scan.
    A missing ``root`` raises, as a read of it does: a wrong or unbuilt
    table is an error, not an empty answer. Existence is checked
    through the Hadoop FileSystem of ``root``. The caller keeps its
    ``cur_date`` predicate, which the scan shows as PartitionFilters."""
    jvm = spark._jvm
    base = jvm.org.apache.hadoop.fs.Path(root)
    fs = base.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(base):
        return spark.read.schema(schema).parquet(root)  # PATH_NOT_FOUND
    dirs = []
    for day in filter(None, map(_day, days)):
        path = jvm.org.apache.hadoop.fs.Path(base, f"cur_date={day.isoformat()}")
        if fs.exists(path):
            dirs.append(path.toString())
    if not dirs:
        # limit(0) optimizes to an empty LocalRelation: no scan, no job
        return spark.createDataFrame([], schema).limit(0)
    return spark.read.schema(schema).option("basePath", root).parquet(*dirs)


def _on_day(date: str):
    """The requests' ``cur_date = <date>`` predicate. try_cast makes a
    malformed date match nothing, where the ANSI string-to-date cast of
    a plain comparison raises while the query is planned."""
    return F.col("cur_date") == F.lit(date).try_cast("date")


# cur_date is written as the yyyy-MM-dd directory name and read back as
# a date partition column, last, as Spark orders partition columns
DWS_TRADE_DAILY_SCHEMA = "order_amount double, order_ct bigint, cur_date date"


def materialize_dws_trade_daily(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Build + persist the dws_trade daily serving table (A7's source),
    day-partitioned like the Doris par{date} tables."""
    t = Tables(spark, sf_dir)
    daily = (
        t.orders.groupBy(
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("cur_date")
        )
        .agg(
            F.sum(dec("o_totalprice")).cast("double").alias("order_amount"),
            F.count("*").alias("order_ct"),
        )
    )
    daily.write.mode("overwrite").partitionBy("cur_date").parquet(path)


def gmv_for_date(spark: SparkSession, serving_path: str, date: str) -> DataFrame:
    """`/gmv?date=` (TradeStatsController.java:25-37): one-day sum off the
    serving table's one day directory; a day with no directory, or that
    is not a yyyy-MM-dd date, gets the empty answer."""
    dws = read_days(spark, serving_path, DWS_TRADE_DAILY_SCHEMA, [date])
    return (
        dws.where(_on_day(date))
        .groupBy("cur_date")
        .agg(F.sum("order_amount").alias("gmv"))
    )


DWS_PROVINCE_DAILY_SCHEMA = (
    "province_name string, order_amount double, order_ct bigint, cur_date date"
)


def materialize_dws_province_daily(
    spark: SparkSession, sf_dir: str, path: str
) -> None:
    """dws_trade_province_order_window serving table (A8's source)."""
    t = Tables(spark, sf_dir)
    daily = (
        t.orders
        .join(F.broadcast(t.customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("cur_date"),
            F.col("n_name").alias("province_name"),
        )
        .agg(
            F.sum(dec("o_totalprice")).cast("double").alias("order_amount"),
            F.countDistinct("o_orderkey").alias("order_ct"),
        )
    )
    daily.write.mode("overwrite").partitionBy("cur_date").parquet(path)


def province_stats(spark: SparkSession, serving_path: str, date: str) -> DataFrame:
    """`/province?date=` (TradeStatsController.java:40-57): per-province
    amounts from one day directory; a day with no directory, or that is
    not a yyyy-MM-dd date, gets the empty answer."""
    dws = read_days(spark, serving_path, DWS_PROVINCE_DAILY_SCHEMA, [date])
    return dws.where(_on_day(date)).select(
        "province_name", "order_amount", "order_ct"
    )


def channel_topk(
    spark: SparkSession, sf_dir: str, date: str, limit: int = 3
) -> DataFrame:
    """`/ch?date=&limit=` (TrafficStatsController.java:27-48): top-k
    channels by UV for one day (TakeOrderedAndProject, no global sort)."""
    t = Tables(spark, sf_dir)
    return (
        t.events.where(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd") == date
        )
        .groupBy(F.col("event_type").alias("ch"))
        .agg(F.countDistinct("user_id").alias("uv_ct"))
        .orderBy(F.col("uv_ct").desc(), F.col("ch"))
        .limit(limit)
    )

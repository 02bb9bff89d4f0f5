"""Sink write→read-back rows — S5/S7 as DRIVER-CHECKED queries.

The Kafka per-row-topic sink (S5, FlinkSinkUtil.java:44-65) and the
day-partitioned Doris serving sink (S7, FlinkSinkUtil.java:82-107)
previously ran only as plan-level/pytest-verified code because the
sandbox has no broker and no Doris. These rows close that gap with the
j12/z1 written-artifact pattern: the sink path WRITES a real on-disk
artifact once per session (the file twin the streaming layer already
uses — ``sources/kafka.with_dynamic_topic`` for the per-row topic
column, ``streaming/sinks.write_serving_partitioned`` for the
day-partitioned table), then the registered query READS IT BACK and
aggregates, and the DuckDB oracle recomputes the same numbers straight
from the base tables. A green row is the driver verifying the full
serialize→route→write→scan→parse loop, not just the plan shape.

Scale notes: k1's route is one map-side column derivation + a
partitioned write (the Kafka form replaces the write with the broker
producer — same plan above the sink); k2's read-back predicate prunes
on the partition column, so the serving query touches one partition
dir per requested day exactly like Doris ``partition par#{date}``
(pruning is asserted in tests/test_sink_readback.py). Artifacts are
cached per (applicationId, sf_dir) with the j12 eviction discipline.
"""

from __future__ import annotations

import atexit
import datetime
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.functions.money import dec, oracle_dec_sum
from real_time_data_warehouse_spark.operators.serving import SERVING_DATE
from real_time_data_warehouse_spark.registry import register
from real_time_data_warehouse_spark.serving import read_days
from real_time_data_warehouse_spark.tables import Tables

_CACHE: dict[tuple[str, str, str], str] = {}  # (app, sf_dir, kind) → dir
# MUST stay above the number of artifact kinds one full bench/sweep
# touches (k1-k6, st14-18, j13/j14, x1s/x2s, d7x/d9x, w12, the three
# sliced sources, d6/d23/s15s, ...) or interleaved reps evict every
# artifact before its next read and the whole run silently degrades to
# cold rebuilds (round-9 session 2: extended_total 145 s → 271 s the
# moment kinds crossed 16). Each artifact is MBs at bench scale, so
# the disk cost of headroom is trivial next to a single rebuild.
_CACHE_MAX = 64  # round 12: kinds reached ~43 (j16/j16b/app7x/k2b new)
_ATEXIT_ARMED = False


def _evict(key: tuple[str, str, str]) -> None:
    d = _CACHE.pop(key, None)
    if d is not None:
        shutil.rmtree(d, ignore_errors=True)


def _cleanup_all() -> None:
    for key in list(_CACHE):
        _evict(key)


def _artifact_dir(spark: SparkSession, sf_dir: str, kind: str, build) -> str:
    """Session-cached sink artifact: build(path) writes it once; stale
    or over-capacity entries are reclaimed (the j12 discipline)."""
    global _ATEXIT_ARMED
    key = (spark.sparkContext.applicationId, sf_dir, kind)
    cached = _CACHE.get(key)
    if cached is not None and os.path.isdir(cached):
        # LRU touch (dicts iterate in insert order; eviction pops the
        # front): a hit must move the entry to the back, or a full
        # rotation of OTHER builds evicts the hottest artifact first
        del _CACHE[key]
        _CACHE[key] = cached
        return cached
    _evict(key)
    while len(_CACHE) >= _CACHE_MAX:
        _evict(next(iter(_CACHE)))
    if not _ATEXIT_ARMED:
        atexit.register(_cleanup_all)
        _ATEXIT_ARMED = True
    sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = tempfile.mkdtemp(prefix=f"rtdw_{kind}_{sfx}_")
    build(base)
    _CACHE[key] = base
    return base


# --- k1: per-row-topic routed sink, read back (S5) -------------------------


def _k1_build(spark: SparkSession, sf_dir: str) -> str:
    from real_time_data_warehouse_spark.sources.kafka import (
        with_dynamic_topic,
    )

    def build(base: str) -> None:
        t = Tables(spark, sf_dir)
        ev = t.events.select(
            "event_id",
            "user_id",
            F.col("event_type"),
            F.concat(F.lit("dwd_"), F.col("event_type")).alias("topic"),
        )
        routed = with_dynamic_topic(ev, "topic")  # (value JSON, topic)
        # one writer task per topic → one file per topic dir (the
        # compact_table discipline); without this every source split
        # writes a sliver into every topic and the read-back pays
        # thousands of file opens
        routed.repartition(F.col("topic")).write.mode(
            "overwrite"
        ).partitionBy("topic").parquet(base)

    return _artifact_dir(spark, sf_dir, "k1", build)


@register(
    "k1_dynamic_topic_readback",
    survey="S5,X2",
    doc="Per-row-topic sink round-trip: every event is serialized to a "
        "JSON value with its routed topic column (sources/kafka."
        "with_dynamic_topic — the exact frame a Kafka writer consumes, "
        "FlinkSinkUtil.java:44-65), written topic-partitioned (the "
        "file twin of the broker), then read back, the JSON payload "
        "re-parsed, and per-topic row counts + integer id checksums "
        "aggregated. A green row verifies serialize→route→write→scan→"
        "parse end-to-end against the oracle's derivation from the "
        "base table; a routing or serialization regression breaks the "
        "checksum, not just a plan assertion.",
    oracle="""
        SELECT 'dwd_' || event_type AS topic,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(event_id) AS BIGINT) AS id_sum,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uu
        FROM events
        GROUP BY 'dwd_' || event_type
    """,
)
def k1_dynamic_topic_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _k1_build(spark, sf_dir)
    back = spark.read.option("basePath", base).parquet(base)
    parsed = back.select(
        "topic",
        F.get_json_object("value", "$.event_id")
        .cast("bigint")
        .alias("event_id"),
        F.get_json_object("value", "$.user_id")
        .cast("bigint")
        .alias("user_id"),
    )
    return parsed.groupBy("topic").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
        F.countDistinct("user_id").cast("bigint").alias("uu"),
    )


# --- k2: day-partitioned serving table, partition-pruned read-back (S7) ----

_K2_DAYS = 7  # the serving query's date range (one partition per day)
# the store's rows as _k2_build writes them; cur_date comes back as a
# date partition column
_K2_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_totalprice double, cur_date date"
)


def _k2_build(spark: SparkSession, sf_dir: str) -> str:
    from real_time_data_warehouse_spark.streaming.sinks import (
        write_serving_partitioned,
    )

    def build(base: str) -> None:
        t = Tables(spark, sf_dir)
        # bounded retention, the Doris serving-table discipline: one
        # year of day partitions around the serving date (the fixture's
        # orders span ~7 years → ~2400 day dirs; the read-back lists
        # only the requested day dirs, but the write and any root scan
        # pay for every dir kept)
        year = SERVING_DATE[:4]
        serving = t.orders.where(
            (F.col("o_orderdate") >= F.lit(f"{year}-01-01"))
            & (F.col("o_orderdate") < F.lit(f"{int(year) + 1}-01-01"))
        ).select(
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("cur_date"),
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
        )
        # one writer task per day → one file per partition dir; without
        # this every source split writes a sliver into every day dir and
        # each read pays a file stat per sliver — the compaction problem
        # z3 plans against, avoided at write time
        write_serving_partitioned(
            serving.repartition(F.col("cur_date")), base
        )

    return _artifact_dir(spark, sf_dir, "k2", build)


@register(
    "k2_serving_partition_readback",
    survey="S7,A7",
    doc=f"Day-partitioned serving sink round-trip: the order detail is "
        "written partitionBy(cur_date) (streaming/sinks."
        "write_serving_partitioned — the Doris par{date} analog, "
        "FlinkSinkUtil.java:82-107), then the serving query reads it "
        f"back with a {_K2_DAYS}-day literal range on the PARTITION "
        "column — the predicate prunes at the directory listing (one "
        "dir per requested day; asserted on the plan in tests/"
        "test_sink_readback.py) exactly like Doris `partition "
        "par#{date}`. The oracle recomputes the same days straight "
        "from orders, so a green row verifies write → partition "
        "layout → pruned scan → aggregate end-to-end.",
    oracle=f"""
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS cur_date,
               CAST(COUNT(*) AS BIGINT) AS order_ct,
               {oracle_dec_sum('o_totalprice', 'gmv')}
        FROM orders
        WHERE o_orderdate >= DATE '{SERVING_DATE}'
          AND o_orderdate < DATE '{SERVING_DATE}' + INTERVAL {_K2_DAYS} DAY
        GROUP BY strftime(o_orderdate, '%Y-%m-%d')
    """,
)
def k2_serving_partition_readback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _k2_range_totals(spark, sf_dir, SERVING_DATE, _K2_DAYS)


def _k2_range_totals(
    spark: SparkSession, sf_dir: str, first: str, n_days: int
) -> DataFrame:
    """Per-day totals of the k2 store over ``n_days`` days from
    ``first``, read from those day dirs only (serving.read_days, the
    ADS endpoints' read); the range predicate on the partition column
    still reaches the scan's PartitionFilters."""
    start = datetime.date.fromisoformat(first)
    days = [(start + datetime.timedelta(days=i)).isoformat() for i in range(n_days)]
    back = read_days(spark, _k2_build(spark, sf_dir), _K2_SCHEMA, days)
    lo = F.lit(first).cast("date")
    # the output casts cur_date back to the serving layer's yyyy-MM-dd
    pruned = back.where(
        (F.col("cur_date") >= lo)
        & (F.col("cur_date") < F.date_add(lo, n_days))
    ).withColumn("cur_date", F.col("cur_date").cast("string"))
    return pruned.groupBy("cur_date").agg(
        F.count("*").cast("bigint").alias("order_ct"),
        F.sum(dec("o_totalprice")).cast("double").alias("gmv"),
    )


# --- k2b: multi-day range scan over the serving store (S7 rollover) --------

_K2B_DAYS = 2  # yesterday + today — the publisher's midnight rollover
# the rollover's "yesterday": chosen so BOTH days carry orders at every
# test scale (sf0.001's order stream is sparse — ~1 order/day — and the
# serving window's first days are empty there; an empty-vs-empty match
# would be a vacuous driver signal)
_K2B_FROM = "1998-01-04"


@register(
    "k2b_serving_rollover_readback",
    survey="S7,A7",
    doc="The publisher's midnight-ROLLOVER serving path over the k2 "
        "day-partitioned store: the default 'today' query widened to a "
        "date RANGE of yesterday+today (DateFormatUtil.java:12-15 in "
        "the publisher module — stats pages query today and fall back "
        "across the midnight boundary), i.e. a partition-column "
        f"predicate spanning {_K2B_DAYS} days. k2 proves single-range "
        "pruning at 7 days from the range's start; this row pins the "
        "MULTI-partition pruning contract at the rollover shape — the "
        "directory listing must touch exactly the two requested day "
        "dirs (PartitionFilters with both bounds, asserted on the plan "
        "in tests/test_sink_readback.py), and the totals must equal "
        "the oracle's recomputation from orders. Same artifact as k2 "
        "(shared via the session cache), so this row costs one pruned "
        "scan, not a rebuild.",
    oracle=f"""
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS cur_date,
               CAST(COUNT(*) AS BIGINT) AS order_ct,
               {oracle_dec_sum('o_totalprice', 'gmv')}
        FROM orders
        WHERE o_orderdate >= DATE '{_K2B_FROM}'
          AND o_orderdate < DATE '{_K2B_FROM}'
              + INTERVAL {_K2B_DAYS} DAY
        GROUP BY strftime(o_orderdate, '%Y-%m-%d')
    """,
)
def k2b_serving_rollover_readback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _k2_range_totals(spark, sf_dir, _K2B_FROM, _K2B_DAYS)


# --- k3: fixed-topic sink, read back (S4) ----------------------------------


def _k3_build(spark: SparkSession, sf_dir: str) -> str:
    from real_time_data_warehouse_spark.sources.kafka import (
        with_fixed_topic,
    )

    def build(base: str) -> None:
        t = Tables(spark, sf_dir)
        ev = t.events.select("event_id", "user_id", "event_type")
        framed = with_fixed_topic(ev, "ods_events")  # (value JSON, topic)
        framed.repartition(F.col("topic")).write.mode(
            "overwrite"
        ).partitionBy("topic").parquet(base)

    return _artifact_dir(spark, sf_dir, "k3", build)


@register(
    "k3_fixed_topic_readback",
    survey="S4",
    doc="Fixed-topic sink round-trip (FlinkSinkUtil.java:27-42's "
        "value-only producer): the full event stream is serialized to "
        "the single-topic JSON frame (sources/kafka.with_fixed_topic — "
        "the exact frame a Kafka writer consumes), written, read back, "
        "re-parsed, and checksummed per event_type against the "
        "oracle's derivation from the base table. k1's per-row routing "
        "minus the routing — together they make both reference Kafka "
        "producer shapes driver-checked.",
    oracle="""
        SELECT 'ods_events' AS topic,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(event_id) AS BIGINT) AS id_sum
        FROM events
        GROUP BY event_type
    """,
)
def k3_fixed_topic_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _k3_build(spark, sf_dir)
    back = spark.read.option("basePath", base).parquet(base)
    parsed = back.select(
        "topic",
        F.get_json_object("value", "$.event_type").alias("event_type"),
        F.get_json_object("value", "$.event_id")
        .cast("bigint")
        .alias("event_id"),
    )
    return parsed.groupBy("topic", "event_type").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
    )


# --- k4: keyed-upsert sink applied batchwise, read back (S6) ---------------

_K4_BATCHES = 4


def _k4_build(spark: SparkSession, sf_dir: str) -> str:
    from real_time_data_warehouse_spark.streaming.sinks import upsert_dim

    def build(base: str) -> None:
        t = Tables(spark, sf_dir)
        # synthetic keyed CDC off the event stream: one record per event,
        # key = user_id, unique total order ord = epoch-seconds·2^31 +
        # event_id (engine-exact bigint; 2^31 not 2^20 — sf1 already
        # reaches event_id 999,999 and outgrowing the modulus silently
        # inverts LWW order), every 11th event a delete
        cdc = t.events.select(
            "user_id",
            (
                F.unix_timestamp("ts").cast("bigint") * F.lit(1 << 31)
                + F.col("event_id")
            ).alias("ord"),
            F.when(F.col("event_id") % 11 == 0, "delete")
            .otherwise("upsert")
            .alias("type"),
            F.col("event_type").alias("last_event_type"),
        )
        lo, hi = cdc.agg(F.min("ord"), F.max("ord")).first()
        span = (hi - lo) + 1
        table = os.path.join(base, "dim")
        for b in range(_K4_BATCHES):
            b_lo = lo + span * b // _K4_BATCHES
            b_hi = lo + span * (b + 1) // _K4_BATCHES
            batch = cdc.where(
                (F.col("ord") >= b_lo) & (F.col("ord") < b_hi)
            )
            upsert_dim(
                spark,
                batch,
                table,
                key_cols=["user_id"],
                order_col="ord",
                type_col="type",
            )

    return _artifact_dir(spark, sf_dir, "k4", build)


@register(
    "k4_keyed_upsert_readback",
    survey="S6,S8",
    doc=f"Keyed-upsert sink round-trip (the upsert-Kafka → HBase dim "
        "net semantics, HBaseSinkFunction.java:36-61): a synthetic "
        "keyed CDC stream (unique bigint commit order, every 11th "
        f"record a delete) is applied in {_K4_BATCHES} ascending "
        "commit-order micro-batches through streaming/sinks."
        "upsert_dim — real read-modify-write against the on-disk table "
        "per batch (the Delta MERGE branch is env-gated; net semantics "
        "identical) — then the FINAL table is read back. The oracle "
        "reduces the whole stream in one pass: each key's max-order "
        "record decides (absent if delete). A green row is the driver "
        "verifying batchwise upsert/delete application ≡ one-pass "
        "last-write-wins, the S6/S8 contract, on the written artifact "
        "rather than in a pytest.",
    oracle="""
        SELECT user_id,
               CAST(ord AS BIGINT) AS ord,
               last_event_type
        FROM (
            SELECT user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) * 2147483648 + event_id AS ord,
                   CASE WHEN event_id % 11 = 0 THEN 'delete'
                        ELSE 'upsert' END AS type,
                   event_type AS last_event_type,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                                * 2147483648 + event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1 AND type <> 'delete'
    """,
)
def k4_keyed_upsert_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _k4_build(spark, sf_dir)
    dim = spark.read.parquet(os.path.join(base, "dim"))
    return dim.select(
        "user_id",
        F.col("ord").cast("bigint").alias("ord"),
        "last_event_type",
    )


# --- k5: S9 DDL-from-config replay, catalog read back -----------------------

_K5_BATCHES = 4


def _k5_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic table_process CDC stream (the DimApp.java:237-280 config
    topic): a deterministic 1-in-7 sample of events, each a DDL op on one
    of ~20 dim tables. event_id doubles as the unique commit version;
    op mix ≈ 20% d / 20% u / 10% r / 50% c so tables get dropped,
    recreated, and no-op re-created along the way."""
    t = Tables(spark, sf_dir)
    m = F.col("event_id") % 10
    return t.events.where(F.col("event_id") % 7 == 0).select(
        F.concat(
            F.lit("dim_"),
            F.col("event_type"),
            F.lit("_"),
            (F.col("user_id") % 4).cast("string"),
        ).alias("sink_table"),
        F.col("event_id").alias("ver"),
        F.when(m.isin(0, 1), "d")
        .when(m.isin(2, 3), "u")
        .when(m == 4, "r")
        .otherwise("c")
        .alias("op"),
    )


def _k5_build(spark: SparkSession, sf_dir: str) -> str:
    from real_time_data_warehouse_spark.streaming.sinks import (
        apply_config_ddl,
    )

    def build(base: str) -> None:
        # control-plane stream: ONE scan collects the tiny op set, then
        # batches slice driver-side (the old form re-scanned events five
        # times — one agg + four filters — for tens of rows)
        rows = sorted(
            _k5_ops(spark, sf_dir).collect(), key=lambda r: r["ver"]
        )
        if not rows:
            # the 1-in-7 event sample can be empty on a tiny/custom sf
            # dir — fail with the cause, not a bare IndexError below
            raise ValueError(
                f"k5: empty table_process op stream for {sf_dir}"
            )
        lo, hi = rows[0]["ver"], rows[-1]["ver"]
        span = (hi - lo) + 1
        catalog = os.path.join(base, "catalog")
        os.makedirs(catalog, exist_ok=True)
        for b in range(_K5_BATCHES):
            b_lo = lo + span * b // _K5_BATCHES
            b_hi = lo + span * (b + 1) // _K5_BATCHES
            batch = spark.createDataFrame(
                [r for r in rows if b_lo <= r["ver"] < b_hi],
                "sink_table string, ver long, op string",
            )
            apply_config_ddl(spark, batch, catalog, order_col="ver")

    return _artifact_dir(spark, sf_dir, "k5", build)


@register(
    "k5_config_ddl_readback",
    survey="S9,S2",
    doc=f"DDL-from-config round-trip (DimApp.java:237-280: op d → drop "
        "table, r/c → create if absent, u → drop + recreate): a "
        "synthetic table_process CDC stream (unique bigint commit "
        f"version) is applied in {_K5_BATCHES} ascending commit-order "
        "micro-batches through streaming/sinks.apply_config_ddl — real "
        "create/drop against the on-disk catalog, each effective create "
        "recording a meta.json catalog row — then the FINAL catalog is "
        "read back (surviving tables + the version that created them). "
        "The oracle folds the whole op stream in SQL: a table survives "
        "iff its last op isn't d; its created_ver is the latest op that "
        "created anew (u always; c/r only when the preceding op state "
        "was absent — the LAG formulation). A green row is the driver "
        "verifying batchwise DDL application ≡ the one-pass fold, "
        "turning S9 from code-only into a checked contract.",
    oracle="""
        WITH ops AS (
            SELECT concat('dim_', event_type, '_',
                          CAST(user_id % 4 AS VARCHAR)) AS sink_table,
                   event_id AS ver,
                   CASE WHEN event_id % 10 IN (0, 1) THEN 'd'
                        WHEN event_id % 10 IN (2, 3) THEN 'u'
                        WHEN event_id % 10 = 4 THEN 'r'
                        ELSE 'c' END AS op
            FROM events WHERE event_id % 7 = 0
        ), marked AS (
            SELECT *,
                   LAG(op) OVER (PARTITION BY sink_table
                                 ORDER BY ver) AS prev_op,
                   ROW_NUMBER() OVER (PARTITION BY sink_table
                                      ORDER BY ver DESC) AS rn_last
            FROM ops
        ), survivors AS (
            SELECT sink_table FROM marked WHERE rn_last = 1 AND op <> 'd'
        )
        SELECT m.sink_table,
               CAST(MAX(m.ver) AS BIGINT) AS created_ver
        FROM marked m JOIN survivors s USING (sink_table)
        WHERE m.op = 'u'
           OR (m.op IN ('c', 'r')
               AND (m.prev_op IS NULL OR m.prev_op = 'd'))
        GROUP BY m.sink_table
    """,
)
def k5_config_ddl_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _k5_build(spark, sf_dir)
    cat = spark.read.schema("sink_table string, created_ver long").json(
        os.path.join(base, "catalog", "*", "meta.json")
    )
    return cat.select(
        "sink_table", F.col("created_ver").cast("bigint").alias("created_ver")
    )


# --- k6: S3 JDBC batch source, executed against a REAL database ------------


def _k6_db_url(base: str) -> str:
    return f"jdbc:derby:{os.path.join(base, 'db')};create=true"


_K6_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _k6_build(spark: SparkSession, sf_dir: str) -> str:
    def build(base: str) -> None:
        # keep Derby's boot log inside the artifact dir, not the CWD
        spark._jvm.System.setProperty(  # type: ignore[attr-defined]
            "derby.stream.error.file", os.path.join(base, "derby.log")
        )
        dim = Tables(spark, sf_dir).nation
        (
            dim.write.format("jdbc")
            .option("url", _k6_db_url(base))
            .option("dbtable", "base_dic")
            .option("driver", _K6_DRIVER)
            .mode("overwrite")
            .save()
        )

    return _artifact_dir(spark, sf_dir, "k6", build)


@register(
    "k6_jdbc_dim_roundtrip",
    survey="S3,J5",
    doc="S3 executed against a REAL database — no longer env-gated: the "
        "nation dim is written into an embedded Apache Derby database "
        "(the JDBC driver Spark ships for its own metastore), then read "
        "back through spark.read.jdbc as a PARTITIONED batch query "
        "(partitionColumn/numPartitions — the parallel form of the "
        "reference's JdbcUtil.java:34-61 batch SELECT) and broadcast-"
        "joined to customer for per-nation counts. The oracle recomputes "
        "straight from the parquet tables, so a green row certifies the "
        "full dim → JDBC write → SQL database → partitioned JDBC scan → "
        "broadcast join loop bit-exactly. Embedded Derby shares the "
        "driver JVM (fine on local; a cluster points the same code at a "
        "networked MySQL/Postgres URL — only the options change).",
    oracle="""
        SELECT n.n_name AS nation,
               CAST(COUNT(*) AS BIGINT) AS customer_ct
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """,
)
def k6_jdbc_dim_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _k6_build(spark, sf_dir)
    lo, hi = Tables(spark, sf_dir).nation.agg(
        F.min("n_nationkey"), F.max("n_nationkey")
    ).first()
    dim = (
        spark.read.format("jdbc")
        .option("url", _k6_db_url(base))
        .option("dbtable", "base_dic")
        .option("driver", _K6_DRIVER)
        .option("partitionColumn", "n_nationkey")
        .option("lowerBound", str(lo))
        .option("upperBound", str(hi + 1))
        .option("numPartitions", "4")
        .load()
    )
    cust = Tables(spark, sf_dir).customer
    return (
        cust.join(
            F.broadcast(dim), cust.c_nationkey == dim.n_nationkey
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").cast("bigint").alias("customer_ct"))
    )

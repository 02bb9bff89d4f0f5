"""j16: MID-STREAM dim refresh visibility — the S11 cache-invalidation
semantics as a driver-checked row.

The reference invalidates its Redis dim cache whenever a dimension row
is updated or deleted (HBaseSinkFunction.java:57-61 → RedisUtil.delKey;
the lookup-join side caches with a TTL, SQLUtil.java:29-33), so a DWS
join observes the NEW dim value on its next lookup. The Spark twin j15
joins a dim snapshot built once before the stream starts — correct for
a static dim, but it never exercises the one behavior that traps real
deployments: a dimension table that is REWRITTEN while the stream runs.
A static DataFrame (or a registered temp view) built before the update
keeps its InMemoryFileIndex and silently serves the stale file listing
— at 100 TB that is day-old dim values joined into tonight's facts with
no error anywhere.

This row proves the refresh discipline end-to-end:

- a dim store (province_id → province_name, the 25-row nation table) is
  written to disk BEFORE the stream starts (generation v1);
- the 4-slice time-ordered event source streams through foreachBatch;
  when the first micro-batch of time-slice ≥ _SWAP_SLICE arrives, a
  concurrent-writer stand-in OVERWRITES the dim dir with generation v2
  (even keys renamed ``<name>_v2`` — keyed granularity, half the dim
  changes and half must NOT change);
- every batch re-reads the dim dir FRESH (``spark.read.parquet`` inside
  the batch body constructs a new file index per batch — the Spark
  equivalent of the reference's cache invalidation; reusing a
  pre-built DataFrame across batches is exactly the stale-index trap)
  and broadcast-joins the micro-batch against it;
- the sink is read back and compared to a TIME-VERSIONED DuckDB oracle:
  each event joins the dim generation active at its time slice, using
  the SAME all-integer slice arithmetic the source builder uses
  (streaming_exec._write_time_sliced_source), so stream and oracle
  cannot drift on a boundary.

The swap is keyed to the batch's event-time slice (min wire-ts over the
batch, one control-plane row), NOT the micro-batch id: empty time
slices (gappy data) shift batch ids but not slice membership, and the
oracle's rule is slice-based.

Scale: the dim re-read is one directory listing + a 25-row broadcast
per micro-batch — |dim|-bounded, independent of stream length. For a
large dim the same shape holds with a partition-pruned read (only the
changed generation's partitions re-listed); the stream side never
shuffles (stateless enrichment).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.operators.streaming_exec import (
    _SRC_FILES,
    _beside_sink,
    _sink_dir,
    _sliced_events,
    _stream_artifact,
)
from real_time_data_warehouse_spark.registry import register
from real_time_data_warehouse_spark.streaming.state_store import (
    read_log,
    write_snapshot,
)
from real_time_data_warehouse_spark.tables import Tables

_N_DIM = 25  # nation-table domain; province_id = user_id % 25
_SWAP_SLICE = 2  # dim goes v2 at the first batch of time-slice >= 2
_DEL_MOD = 5  # j16b: keys ≡ 0 (mod 5) are DELETED in generation v2


def _dim_df(
    spark: SparkSession, sf_dir: str, v2: bool, deletes: bool = False
) -> DataFrame:
    name = F.col("n_name")
    dim = Tables(spark, sf_dir).nation.select(
        F.col("n_nationkey").alias("province_id"), F.col("n_name")
    )
    if v2:
        # keyed update: even keys renamed, odd keys untouched — the
        # read-back must show BOTH (granular invalidation, not a
        # whole-table reload artifact)
        name = F.when(
            F.pmod("province_id", F.lit(2)) == 0,
            F.concat(F.col("n_name"), F.lit("_v2")),
        ).otherwise(F.col("n_name"))
        if deletes:
            # j16b: the DELETE path of the reference's invalidation —
            # the row is gone from the store, so post-swap lookups must
            # miss (→ the left join's 'unknown'), not serve the cached
            # v1 row
            dim = dim.where(F.pmod("province_id", F.lit(_DEL_MOD)) != 0)
    return dim.select("province_id", name.alias("province_name"))


def _j16_build(
    spark: SparkSession, sf_dir: str, kind: str = "j16",
    deletes: bool = False,
) -> str:
    swapped = {"done": False}

    def plan(out: str):
        dim_dir = _beside_sink(out, "dim")
        # generation v1 on disk before the stream starts
        _dim_df(spark, sf_dir, v2=False).coalesce(1).write.mode(
            "overwrite"
        ).parquet(dim_dir)
        # slice arithmetic constants — identical to the source builder's
        # (one control-plane row; the oracle recomputes the same bounds)
        lo, hi = (
            Tables(spark, sf_dir)
            .events.agg(F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts")))
            .first()
        )
        span = (hi - lo) + 1

        def body(b: DataFrame, bid: int) -> None:
            # batch → time slice: min event time over the batch (slices
            # are non-overlapping ascending ranges, so min is enough)
            mn = b.agg(F.min(F.unix_micros("ts"))).first()[0]
            if mn is not None:
                sl = min(_SRC_FILES - 1, (mn - lo) * _SRC_FILES // span)
                if sl >= _SWAP_SLICE and not swapped["done"]:
                    # the concurrent writer commits generation v2
                    # between micro-batches (HBaseSinkFunction.java:
                    # 57-61 — update path; deletes=True adds the
                    # delete path: rows REMOVED from the store)
                    _dim_df(
                        spark, sf_dir, v2=True, deletes=deletes
                    ).coalesce(1).write.mode("overwrite").parquet(dim_dir)
                    swapped["done"] = True
            # FRESH read per batch — a new file index every time; this
            # line is the whole point (a DataFrame built once outside
            # this body would keep v1's file listing forever)
            dim = spark.read.parquet(dim_dir)
            enriched = (
                b.withColumn(
                    "province_id",
                    F.pmod("user_id", F.lit(_N_DIM)).cast("bigint"),
                )
                .join(F.broadcast(dim), "province_id", "left")
                .select(
                    "event_id",
                    "user_id",
                    # a missed lookup (deleted dim row) is 'unknown' —
                    # inert for j16 (every key matches both gens)
                    F.coalesce(
                        "province_name", F.lit("unknown")
                    ).alias("province_name"),
                )
            )
            write_snapshot(enriched, out, bid)

        return _sliced_events(spark, sf_dir), body

    def check(records: list[dict]) -> None:
        assert swapped["done"], (
            "dim swap never fired — no micro-batch reached time-slice "
            f">= {_SWAP_SLICE}; the row would no longer cover a "
            "mid-stream dim update"
        )

    return _stream_artifact(spark, sf_dir, kind, plan, check=check)


@register(
    "j16_dim_refresh_stream_readback",
    survey="S11,J5,S10",
    doc="Mid-stream dim UPDATE visibility — the S11 Redis-invalidation "
        "semantics (HBaseSinkFunction.java:57-61 delKey on dim "
        "update/delete; lookup-cache TTL SQLUtil.java:29-33) as a "
        "driver row: a dim store on disk is OVERWRITTEN to generation "
        "v2 (even keys renamed) by a concurrent-writer stand-in "
        "between micro-batches, at the first batch of time-slice >= "
        f"{_SWAP_SLICE}; every micro-batch re-reads the dim directory "
        "FRESH inside foreachBatch (new file index per batch — the "
        "invalidation discipline; a DataFrame built once before the "
        "stream would serve v1's stale file listing forever) and "
        "broadcast-joins against it. The sink is compared to a "
        "TIME-VERSIONED oracle joining each event to the generation "
        "active at its slice, with the source builder's own "
        "all-integer slice arithmetic — a stale read shows v1 names "
        "after the swap and breaks the checksum. Scale: one listing + "
        "a |dim|-bounded broadcast per batch, stateless stream side.",
    oracle=f"""
        WITH bounds AS (
            SELECT MIN(epoch_us(ts)) AS lo,
                   MAX(epoch_us(ts)) - MIN(epoch_us(ts)) + 1 AS span
            FROM events
        ),
        sliced AS (
            SELECT e.event_id, e.user_id,
                   e.user_id % {_N_DIM} AS province_id,
                   LEAST({_SRC_FILES - 1},
                         ((epoch_us(e.ts) - b.lo) * {_SRC_FILES})
                             // b.span) AS sl
            FROM events e CROSS JOIN bounds b
        )
        SELECT CASE WHEN s.sl >= {_SWAP_SLICE}
                     AND n.n_nationkey % 2 = 0
                    THEN n.n_name || '_v2' ELSE n.n_name
               END AS province_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(s.event_id) AS BIGINT) AS id_sum,
               CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS uu
        FROM sliced s
        LEFT JOIN nation n ON n.n_nationkey = s.province_id
        GROUP BY 1
    """,
)
def j16_dim_refresh_stream_readback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _j16_readback(spark, _j16_build(spark, sf_dir))


def _j16_readback(spark: SparkSession, base: str) -> DataFrame:
    back = read_log(spark, _sink_dir(base))
    return back.groupBy("province_name").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
        F.countDistinct("user_id").cast("bigint").alias("uu"),
    )


@register(
    "j16b_dim_delete_stream_readback",
    survey="S11,S8,J5",
    doc="The DELETE path of the S11 invalidation (HBaseSinkFunction"
        ".java:57-61 fires delKey on delete too, and the dim row is "
        "removed from HBase): same topology as j16, but generation v2 "
        f"also REMOVES every key ≡ 0 (mod {_DEL_MOD}) from the dim "
        "store. Post-swap batches must MISS those keys — the fresh "
        "per-batch re-read sees the shrunken store and the left join "
        "falls to 'unknown' — while a stale cached listing would keep "
        "serving the deleted rows' v1 files. Pre-swap batches still "
        "enrich every key; the time-versioned oracle encodes all "
        "three post-swap outcomes (deleted → 'unknown', even → "
        "renamed, odd → unchanged) per slice.",
    oracle=f"""
        WITH bounds AS (
            SELECT MIN(epoch_us(ts)) AS lo,
                   MAX(epoch_us(ts)) - MIN(epoch_us(ts)) + 1 AS span
            FROM events
        ),
        sliced AS (
            SELECT e.event_id, e.user_id,
                   e.user_id % {_N_DIM} AS province_id,
                   LEAST({_SRC_FILES - 1},
                         ((epoch_us(e.ts) - b.lo) * {_SRC_FILES})
                             // b.span) AS sl
            FROM events e CROSS JOIN bounds b
        )
        SELECT CASE
                 WHEN s.sl >= {_SWAP_SLICE}
                      AND n.n_nationkey % {_DEL_MOD} = 0
                   THEN 'unknown'
                 WHEN s.sl >= {_SWAP_SLICE} AND n.n_nationkey % 2 = 0
                   THEN n.n_name || '_v2'
                 ELSE n.n_name
               END AS province_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(s.event_id) AS BIGINT) AS id_sum,
               CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS uu
        FROM sliced s
        LEFT JOIN nation n ON n.n_nationkey = s.province_id
        GROUP BY 1
    """,
)
def j16b_dim_delete_stream_readback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _j16_readback(
        spark, _j16_build(spark, sf_dir, kind="j16b", deletes=True)
    )

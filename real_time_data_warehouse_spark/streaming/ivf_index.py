"""Incremental IVF+SQ8 index maintenance — the streaming form of
``s15_ivf_sq8_topk``'s inverted list.

A production vector index is not rebuilt per batch: the coarse
quantizer is a FROZEN training artifact (re-trained offline on drift)
and ingestion only APPENDS each arriving vector to its assigned cell's
inverted list, carrying its compressed code. This module is that
ingestion path: per micro-batch, assign (top-1 cell under the frozen
quantizer, s3's exact quantized-cosine discipline), SQ8-encode (s14's
uniform symmetric codes), and write (cell, vec_id, code) rows as that
batch's ``batch_id=N`` overwrite partition of the inverted list (the
repo's retry-idempotence contract — a replayed batch overwrites its
own rows). The search served from the final list equals the
batch-built s15 — appends are order-free (no cross-row interaction),
so the equivalence holds under ANY batch split:
``s15s_ivf_ingest_replay`` puts the ascending split in front of the
driver against the verbatim s15 oracle, and
tests/test_ivf_ingest.py pins a hash split.

At 100 TB the list store is additionally partitioned by cell so a
query's probe reads only its cells' files; int8 codes keep it ~1/4
the vector bytes (the s14/s15 argument).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.plans.audit import assert_no_cartesian
from real_time_data_warehouse_spark.streaming.state_store import (
    read_log,
    write_snapshot,
)


def make_ingest_applier(cents: list[tuple[int, list[float]]]):
    """Bind the frozen quantizer artifact into a harness-shaped applier
    ``(spark, batch, batch_id, state_dir, out_dir) -> None``."""

    def apply_ingest_batch(
        spark: SparkSession,
        batch: DataFrame,
        batch_id: int,
        state_dir: str,
        out_dir: str,
    ) -> None:
        from real_time_data_warehouse_spark.operators.similarity import (
            _as_double,
            _sq8_code_col,
            _topcells_udf,
        )

        # cell assignment and SQ8 encoding are both per-row functions of
        # v — ONE projection, where the previous form built two derived
        # frames and equi-joined them back on vec_id (a shuffle per
        # micro-batch for nothing; guide §2.4). _sq8_code_col replays
        # the exact _sq8_codes(_normalized(...)) IEEE sequence.
        emb = batch.select("vec_id", _as_double("embedding").alias("v"))
        best = _topcells_udf(cents, 1)
        rows = emb.select(
            "vec_id",
            best(F.col("v"))[0].alias("cell"),
            _sq8_code_col(F.col("v")).alias("ncode"),
        )
        if batch_id == 0:
            assert_no_cartesian(rows, "ivf_index.apply_ingest_batch")
        write_snapshot(rows, out_dir, batch_id)

    return apply_ingest_batch


def make_searcher(probes: DataFrame):
    """Bind the query probe frame (query_id, cell, qcode — the search-
    time input) into a harness-shaped finalize ``(spark, out_dir) ->
    DataFrame`` serving the s15 search from the ingested list."""

    def search_index(spark: SparkSession, out_dir: str) -> DataFrame:
        from pyspark.sql.window import Window

        from real_time_data_warehouse_spark.operators.similarity import (
            _TOP_K,
            int_dot,
        )

        inv = read_log(spark, out_dir).select(
            F.col("vec_id").alias("neighbor_id"), "cell", "ncode"
        )
        scored = (
            F.broadcast(probes)
            .join(inv, "cell")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                int_dot(F.col("qcode"), F.col("ncode")).alias("score"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("neighbor_id")
        )
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= _TOP_K)
            .select(
                "query_id",
                "neighbor_id",
                F.col("rnk").cast("int").alias("rnk"),
                F.col("score").cast("bigint").alias("score"),
            )
        )

    return search_index

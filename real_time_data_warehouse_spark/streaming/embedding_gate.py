"""Incremental SEMANTIC ingestion gate — the streaming form of the
``d9_semantic_gate`` registry query (the embedding rung of the dedup
ladder; the lexical rung is ``streaming/dedup_gate.py``).

Vectors arrive in ordered micro-batches; each is admitted or refused
against everything seen so far by cosine similarity among its banded-LSH
candidates — the SemDeDup-style gate that catches paraphrased or
re-encoded redundancy exact/MinHash gates cannot see. The persistent
state is a vector store of (band, bucket, vec_id, v): one row per band
(the classic multi-table LSH index layout — FAISS-style hash tables
store a payload per table; here the payload is the vector itself, needed
for the exact cosine verify). At 10⁹ docs × 64 dims × 8 bands ≈ 4 TB —
still ~25× smaller than the text corpus — PARTITIONED BY (band, bucket)
so a batch's candidate read prunes to the cells the batch actually
touches. At larger dims, store PQ/int8 codes (or ids only) per band and
re-rank from a single vector table — the plumbing below is unchanged.

The banded OR-construction (collide in ANY of the 8 × 4-bit bands →
candidate) replaced the original single 6-bit/64-bucket table: per-cell
candidate work stays bounded as the corpus grows, where the single
table's per-bucket cost grows quadratically (SCALE.md sizing math).

Per micro-batch (``foreachBatch``):
- signature each vector with the shared plane stream (identical literals
  to d5/s2b, so gate candidates match the batch query exactly);
- candidates = (band, bucket) join against store ∪ earlier-in-batch,
  deduped on the pair, with the ``tid < vec_id`` bound (ordering
  contract + crash-retry idempotence: a replayed batch finds its own
  rows in the store and must not match against them);
- cosine ≥ the d5 threshold → near_dup, earliest match wins;
- every vector joins the store whether or not it was refused (dup-of-a-
  dup is still a dup — what makes the sequential gate ≡ the one-pass
  query, pinned by tests/test_embedding_gate.py);
- outputs and store segments land in ``batch_id=N`` overwrite partitions
  (retry-idempotent, same contract as every sink here).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.plans.audit import assert_no_cartesian

from real_time_data_warehouse_spark.operators.similarity import (
    _NEARDUP_COS,
    _banded_sig,
    dot,
)
from real_time_data_warehouse_spark.streaming.state_store import (
    read_log,
    write_snapshot,
)

_STORE_SCHEMA = "vec_id long, band int, bucket int, v array<double>"


def _empty_store(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], _STORE_SCHEMA)


def _read_store(spark: SparkSession, store_dir: str) -> DataFrame:
    import glob

    if glob.glob(os.path.join(store_dir, "**", "*.parquet"), recursive=True):
        return read_log(spark, store_dir)
    return _empty_store(spark)


def classify_batch(
    spark: SparkSession, vecs: DataFrame, store_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Classify a materialized (vec_id, v array<double>) batch against the
    store → ((vec_id, status, dup_of), batch store entries). Pure read
    path — callers decide what/where to write."""
    batch_entry = _banded_sig(vecs, "v").select(
        "vec_id", "band", "bucket", "v"
    )
    store = _read_store(spark, store_dir).drop("batch_id")
    targets = store.unionByName(batch_entry)
    # norms precomputed per side row (the s1 discipline): the verify
    # then pays ONE array fold per deduped pair instead of three —
    # sqrt(dot(x,x)) just moves above the join, identical doubles
    cand = (
        batch_entry.withColumn(
            "nv", F.sqrt(dot(F.col("v"), F.col("v")))
        ).join(
            targets.select(
                F.col("vec_id").alias("tid"), "band", "bucket",
                F.col("v").alias("tv"),
                F.sqrt(dot(F.col("v"), F.col("v"))).alias("tn"),
            ),
            ["band", "bucket"],
        )
        .where(F.col("tid") < F.col("vec_id"))
        # a pair colliding in several bands is one candidate — dedupe
        # before the exact-cosine verify so each pair is scored once
        .dropDuplicates(["vec_id", "tid"])
    )
    pair_sim = dot(F.col("v"), F.col("tv")) / (F.col("nv") * F.col("tn"))
    near = (
        cand.where(pair_sim >= _NEARDUP_COS)
        .groupBy("vec_id")
        .agg(F.min("tid").alias("dup_of"))
    )
    out = vecs.select("vec_id").join(near, "vec_id", "left").select(
        "vec_id",
        F.when(F.col("dup_of").isNotNull(), "near_dup")
        .otherwise("unique")
        .alias("status"),
        F.col("dup_of").cast("bigint").alias("dup_of"),
    )
    return out, batch_entry


def apply_gate_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    store_dir: str,
    out_dir: str,
) -> None:
    """One gate micro-batch: classify, write decisions to
    out_dir/batch_id=N and the batch's vectors to store_dir/batch_id=N
    (both overwrite → retry-safe)."""
    vecs = (
        batch.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .localCheckpoint(eager=True)
    )
    out, batch_entry = classify_batch(spark, vecs, store_dir)
    if batch_id == 0:
        # one-shot (plan shape is batch-invariant): the registry-wide
        # lint skips replay queries, so the guard lives in the applier
        assert_no_cartesian(out, "embedding_gate.apply_gate_batch")
    write_snapshot(out, out_dir, batch_id)
    # (band, bucket)-partitioned store layout: a future batch's candidate
    # read can prune to the cells it touches (8×16 dirs per batch segment)
    write_snapshot(
        batch_entry, store_dir, batch_id, partition_by=["band", "bucket"]
    )


"""Incremental ingestion dedup gate — the streaming form of the
``d7_dedup_gate`` registry query.

The canonical training-data ingestion problem: documents arrive in
batches, and each one must be admitted or rejected against EVERYTHING
seen so far — exact duplicates by content hash, near-duplicates by
MinHash similarity — without ever rescanning the corpus. The state that
persists between batches is a signature store of (doc_id, md5 text hash,
K minhash values): ~100 bytes per document regardless of document size,
the property that makes the gate viable at 100 TB (the corpus text never
re-enters the pipeline; only sketches do).

Per micro-batch (``foreachBatch``):
- exact: batch hash vs store hashes ∪ earlier-in-batch hashes → earliest
  match wins;
- near: LSH band join of batch signatures vs store ∪ earlier-in-batch
  signatures (candidates only on band collision — never all-pairs),
  exact MinHash estimate ≥ the d3 threshold on candidates;
- every batch doc is appended to the store whether or not it was a
  duplicate (dup-of-a-dup is still a dup — this is what makes the
  sequential gate equal to the one-pass batch query, pinned by
  tests/test_dedup_gate.py);
- outputs and store segments are written to ``batch_id=N`` partitions
  with overwrite: a retried batch overwrites its own partition, so the
  sink and store are idempotent under crash-retry (same contract as the
  other exactly-once sinks in this package).

Ordering contract: batches must arrive in ascending doc_id ranges
(arrival order IS the dedup precedence). Kafka-keyed ingestion with a
monotone id satisfies this per partition; replays satisfy it by
construction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.plans.audit import assert_no_cartesian
from pyspark.sql.window import Window

from real_time_data_warehouse_spark.operators.dedup import (
    _BAND_ROWS,
    _EST_THRESHOLD,
    _LSH_BANDS,
    _MINHASH_K,
    minhash_sigs_for,
)
from real_time_data_warehouse_spark.streaming.state_store import (
    read_log,
    write_snapshot,
)

SIG_COLS = [f"mh{j}" for j in range(_MINHASH_K)]
_STORE_SCHEMA = "doc_id long, th string, " + ", ".join(
    f"{c} long" for c in SIG_COLS
)


def _bands(sigs: DataFrame, id_alias: str) -> DataFrame:
    """Signature frame → (id, band_idx, band_sig) rows, one per band —
    identical banding to d3 so gate candidates match the batch query."""
    out = None
    for b in range(_LSH_BANDS):
        sig = F.concat_ws(
            ":",
            *[
                F.col(f"mh{b * _BAND_ROWS + r}").cast("string")
                for r in range(_BAND_ROWS)
            ],
        )
        part = sigs.select(
            F.col("doc_id").alias(id_alias),
            F.lit(b).alias("band_idx"),
            sig.alias("band_sig"),
        )
        out = part if out is None else out.unionAll(part)
    return out


def _near_matches(batch_sigs: DataFrame, target_sigs: DataFrame) -> DataFrame:
    """(doc_id, near_of): the earliest target doc with MinHash estimate ≥
    the d3 threshold, considering only targets with a smaller doc_id.
    Candidates come from band collisions only — never |batch|×|store|."""
    cand = (
        _bands(batch_sigs, "doc_id")
        .join(_bands(target_sigs, "tid"), ["band_idx", "band_sig"])
        .where(F.col("tid") < F.col("doc_id"))
        .select("doc_id", "tid")
        .distinct()
    )
    a = batch_sigs.select(
        "doc_id", *[F.col(c).alias(f"a_{c}") for c in SIG_COLS]
    )
    b = target_sigs.select(
        F.col("doc_id").alias("tid"),
        *[F.col(c).alias(f"b_{c}") for c in SIG_COLS],
    )
    matches = sum(
        F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0)
        for c in SIG_COLS
    )
    est = matches.cast("double") / _MINHASH_K
    return (
        cand.join(a, "doc_id")
        .join(b, "tid")
        .where(est >= _EST_THRESHOLD)
        .groupBy("doc_id")
        .agg(F.min("tid").alias("near_of"))
    )


def _empty_store(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], _STORE_SCHEMA)


def _read_store(spark: SparkSession, store_dir: str) -> DataFrame:
    import glob

    if glob.glob(os.path.join(store_dir, "**", "*.parquet"), recursive=True):
        return read_log(spark, store_dir)
    return _empty_store(spark)


def classify_batch(
    spark: SparkSession, docs: DataFrame, store_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Classify a materialized (doc_id, text) batch against the store →
    ((doc_id, status, dup_of), batch signature entries). Pure read path —
    callers decide what/where to write."""
    hashed = docs.select("doc_id", F.md5(F.lower("text")).alias("th"))
    sigs = minhash_sigs_for(docs)
    batch_entry = hashed.join(sigs, "doc_id", "left")  # short docs: null sigs

    store = _read_store(spark, store_dir).drop("batch_id")

    # exact: earliest same-hash doc among store ∪ earlier-in-batch
    w = Window.partitionBy("th")
    intra = hashed.withColumn("intra_first", F.min("doc_id").over(w))
    # sid < doc_id: earlier batches always have smaller ids (ordering
    # contract), and on a crash-RETRY the store already contains this
    # batch's own rows — without the bound every doc would exact-match
    # itself on the second run
    store_match = (
        hashed.join(
            store.select(F.col("th"), F.col("doc_id").alias("sid")), "th"
        )
        .where(F.col("sid") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.min("sid").alias("store_first"))
    )
    exact = (
        intra.join(store_match, "doc_id", "left")
        .select(
            "doc_id",
            F.least(
                F.when(F.col("intra_first") < F.col("doc_id"), F.col("intra_first")),
                "store_first",
            ).alias("exact_of"),
        )
    )

    # near: batch signatures vs store ∪ earlier-in-batch signatures
    store_sigs = store.where(F.col("mh0").isNotNull()).select("doc_id", *SIG_COLS)
    targets = store_sigs.unionByName(sigs)
    near = _near_matches(sigs, targets)

    out = (
        docs.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_of").isNotNull(), "exact_dup")
            .when(F.col("near_of").isNotNull(), "near_dup")
            .otherwise("unique")
            .alias("status"),
            F.coalesce("exact_of", "near_of").cast("bigint").alias("dup_of"),
        )
    )
    return out, batch_entry


def apply_gate_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    store_dir: str,
    out_dir: str,
) -> None:
    """Classify one batch of (doc_id, text) docs against the store, write
    (doc_id, status, dup_of) to out_dir/batch_id=N and the batch's
    signatures to store_dir/batch_id=N (both overwrite → retry-safe)."""
    # the batch is referenced by the hash path, the signature path and the
    # final join — materialize once
    docs = batch.select("doc_id", "text").localCheckpoint(eager=True)
    out, batch_entry = classify_batch(spark, docs, store_dir)
    if batch_id == 0:
        # one-shot (plan shape is batch-invariant): the registry-wide
        # lint skips replay queries, so the guard lives in the applier
        assert_no_cartesian(out, "dedup_gate.apply_gate_batch")
    write_snapshot(out, out_dir, batch_id)
    write_snapshot(batch_entry, store_dir, batch_id)


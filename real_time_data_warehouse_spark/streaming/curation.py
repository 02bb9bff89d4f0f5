"""Live corpus curation — the streaming form of ``c1_corpus_curation``.

The capstone topology for the training-data side of the engine: documents
arrive in ordered micro-batches and each batch flows through the full
admission pipeline in one pass —

    dedup gate (persistent signature store) → language-ID → quality score
    → keep/drop with an auditable reason → curated corpus append

The per-doc signals are the SAME Column expressions the batch queries
use (``predicted_lang_col``/``quality_frame``/``classify_batch``), so a
corpus curated live is byte-identical to one curated by the one-pass c1
query over the same documents — pinned by tests/test_curation_stream.py.
Decisions land in ``decisions/batch_id=N`` and admitted documents in
``curated/batch_id=N`` (partition overwrite → retry-idempotent, same
contract as every sink here).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.plans.audit import assert_no_cartesian

from real_time_data_warehouse_spark.operators.curation import _QUALITY_MIN
from real_time_data_warehouse_spark.operators.textanalysis import (
    predicted_lang_col,
    quality_frame,
)
from real_time_data_warehouse_spark.streaming.dedup_gate import classify_batch
from real_time_data_warehouse_spark.streaming.state_store import (
    write_snapshot,
    write_then_read,
)


def curate_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    store_dir: str,
    base_dir: str,
) -> None:
    """One curation micro-batch: classify vs the signature store, attach
    language + quality, decide, persist decisions + admitted docs."""
    docs = batch.select("doc_id", "text").localCheckpoint(eager=True)
    gate, batch_entry = classify_batch(spark, docs, store_dir)
    lang = docs.select("doc_id", predicted_lang_col().alias("predicted_lang"))
    qual = quality_frame(docs).select("doc_id", "quality_score")
    keep = (
        (F.col("status") == "unique")
        & (F.col("predicted_lang") == "en")
        & (F.col("quality_score") >= _QUALITY_MIN)
    )
    decisions = (
        gate.join(lang, "doc_id")
        .join(qual, "doc_id")
        .select(
            "doc_id",
            keep.cast("int").alias("keep"),
            F.when(
                F.col("status") != "unique",
                F.concat(F.lit("dup:"), F.col("status")),
            )
            .when(
                F.col("predicted_lang") != "en",
                F.concat(F.lit("lang:"), F.col("predicted_lang")),
            )
            .when(F.col("quality_score") < _QUALITY_MIN, "low_quality")
            .otherwise("kept")
            .alias("reason"),
        )
    )
    if batch_id == 0:
        # one-shot (plan shape is batch-invariant): the registry-wide
        # lint skips replay queries, so the guard lives in the applier
        assert_no_cartesian(decisions, "curation.apply_curation_batch")
    # the decisions write IS their materialization: the admitted filter
    # reads the written bytes back (one job fewer per batch than
    # checkpoint + two writes)
    decisions = write_then_read(
        decisions,
        os.path.join(base_dir, "decisions"),
        batch_id,
        "doc_id long, keep int, reason string",
    )
    admitted = docs.join(
        decisions.where(F.col("keep") == 1).select("doc_id"), "doc_id"
    )
    write_snapshot(admitted, os.path.join(base_dir, "curated"), batch_id)
    write_snapshot(batch_entry, store_dir, batch_id)


"""Incremental corpus profiling — the streaming form of
``c10_corpus_profile`` (profile-at-ingest).

A data card / mixture-design pass wants the per-(source, language)
document count, token volume, and mean quality WITHOUT re-scanning the
corpus after every ingest batch. The profile's leaf aggregates are all
MERGEABLE partials — count, token sum, and an exact DECIMAL(18,4)
quality sum (the quality scores are 4-decimal-rounded by construction,
so the cast is lossless) — so the state is just the leaf-partials
table; the ROLLUP hierarchy and the floor-rounded mean are computed
from the final partials at read time (aggregate-state + view, the
standard warehouse pattern for hierarchical metrics over a stream).

Per micro-batch:
- the batch's documents get the SAME per-doc expressions the batch
  query uses (predicted_lang_col, quality_frame, tokenize — one code
  path, not a re-implementation);
- batch leaf partials merge into the carried snapshot (groupBy sum);
- the merged leaf table is ALSO emitted to the output log (a CDC-style
  full-leaf emission: the leaf space is |sources| x |langs| — tens of
  rows — so re-emitting it per batch is O(groups), not O(corpus)).

Commutative/associative merge ⇒ no ordering contract: ANY batch split
folds to the identical leaf table, hence the identical rollup — which
is exactly what the c10s replay row has the driver verify against the
one-pass c10 oracle. State follows the shared ``batch_id=N`` snapshot
discipline (state_store.py): retried batches re-read the pre-batch
snapshot and overwrite their outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.functions.money import dec4
from real_time_data_warehouse_spark.functions.text import tokenize
from real_time_data_warehouse_spark.streaming.state_store import (
    read_snapshot,
    write_snapshot,
)

_STATE_SCHEMA = (
    "source string, predicted_lang string, n_docs long, "
    "total_tokens long, quality_sum decimal(18,4)"
)
_KEY = ["source", "predicted_lang"]


def _leaf_partials(batch: DataFrame) -> DataFrame:
    """(doc_id, text, source) batch → per-(source, lang) mergeable
    partials, via the batch query's own per-doc expressions."""
    from real_time_data_warehouse_spark.operators.textanalysis import (
        predicted_lang_col,
        quality_frame,
    )

    per_doc = batch.select(
        "doc_id",
        "source",
        predicted_lang_col().alias("predicted_lang"),
        F.size(tokenize("text")).cast("bigint").alias("ws_tokens"),
    ).join(
        quality_frame(batch.select("doc_id", "text")).select(
            "doc_id", "quality_score"
        ),
        "doc_id",
    )
    return per_doc.groupBy(*_KEY).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("ws_tokens").cast("long").alias("total_tokens"),
        F.sum(dec4("quality_score")).alias("quality_sum"),
    )


def apply_profile_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
) -> None:
    """One profiling micro-batch over (doc_id, text, source).

    The emitted generations ARE snapshots (each batch re-emits the full
    bounded leaf table — the pagerank_stream discipline), so the carried
    state reads the PREVIOUS generation from out_dir and the batch runs
    as ONE job; a separate state copy would write every byte twice.
    ``state_dir`` stays in the signature for the shared harness shape
    but holds nothing."""
    del state_dir  # generations double as snapshots — see docstring
    partials = _leaf_partials(batch)
    state = read_snapshot(spark, out_dir, batch_id, _STATE_SCHEMA)
    merged = (
        state.unionByName(partials)
        .groupBy(*_KEY)
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_tokens").cast("long").alias("total_tokens"),
            F.sum("quality_sum")
            .cast("decimal(18,4)")
            .alias("quality_sum"),
        )
    )
    write_snapshot(merged, out_dir, batch_id)


def rollup_profile(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the LATEST leaf emission and expand the rollup + floor-
    rounded mean — answers the one-pass c10 oracle."""
    leaves = read_snapshot(spark, out_dir, 1 << 30, _STATE_SCHEMA)
    return leaves.rollup(*_KEY).agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("total_tokens").cast("bigint").alias("total_tokens"),
        (
            F.floor(
                F.sum("quality_sum").cast("double")
                / F.sum("n_docs")
                * 10000
                + F.lit(0.5)
            )
            / 10000
        )
        .cast("double")
        .alias("mean_quality"),
    )


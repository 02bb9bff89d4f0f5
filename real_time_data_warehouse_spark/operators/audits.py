"""Quality-gate audit queries — recall claims as DRIVER-CHECKED rows.

COVERAGE.md reports ANN recall (s3 IVF = 0.84 vs exact s1) and MinHash
recall (d3 vs exact-Jaccard d2 = 255/256) as measured numbers, but a
doc is not a gate: a regression in the quantizer, the band scheme, or a
fixture regeneration could silently erode them. These two queries turn
each claim into a registry row with the a2b bounds-oracle discipline —
the Spark side computes the recall against the exact operator and emits
a boolean floor assertion; the oracle asserts the SAME boolean as a
literal TRUE (plus the exactly-recomputable counts), so recall falling
through the floor flips a driver row red instead of rotting in a doc.
Floors sit well under the measured values (0.6 vs 0.84; 0.9 vs 0.996)
to absorb fixture-regeneration noise while still catching real breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# composition: the audited rows register first (their oracles are read
# below) and their functions are called directly
from real_time_data_warehouse_spark.operators import dedup as _dedup
from real_time_data_warehouse_spark.operators import similarity as _similarity
from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, register

_ANN_FLOOR_X100 = 60
_MINHASH_FLOOR_X100 = 90


@register(
    "s9_ann_recall_audit",
    survey="ext-similarity",
    doc="Driver-checked ANN quality gate: recall@5 of the trained-IVF "
        "search (s3, 2 probes) against the exact brute-force top-5 "
        "(s1), asserted ≥ 0.60 (measured 0.84 — the floor absorbs "
        "fixture noise, not real regressions). Counts that both engines "
        "can recompute exactly (n_queries, n_truth) ride along; the "
        "recall value itself is Spark-side only, so the contract column "
        "is the boolean.",
    oracle=f"""
        SELECT CAST(LEAST(10, COUNT(*)) AS BIGINT) AS n_queries,
               CAST(LEAST(10, COUNT(*)) * 5 AS BIGINT) AS n_truth,
               TRUE AS above_floor
        FROM embeddings WHERE vec_id < 10
    """,
)
def s9_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOTE (round-12 adjudication): truth feeds the stats agg AND the
    # semi-join, but Catalyst's ReuseExchange already deduplicates the
    # exact-scan subtree — an explicit localCheckpoint here A/B-measured
    # SLOWER (+25% on s14b, the same shape), so the lazy form is kept.
    truth = _similarity.s1_cosine_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = _similarity.s3_ivf_ann_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    hit = truth.join(approx, ["query_id", "neighbor_id"], "left_semi")
    stats = truth.agg(
        F.countDistinct("query_id").cast("bigint").alias("n_queries"),
        F.count("*").cast("bigint").alias("n_truth"),
    ).crossJoin(
        F.broadcast(hit.agg(F.count("*").cast("bigint").alias("n_hit")))
    )
    return stats.select(
        "n_queries",
        "n_truth",
        (F.col("n_hit") * 100 >= F.col("n_truth") * _ANN_FLOOR_X100).alias(
            "above_floor"
        ),
    )


@register(
    "d14_minhash_recall_audit",
    survey="ext-dedup",
    doc="Driver-checked MinHash quality gate: the fraction of exact "
        "Jaccard ≥ 0.6 pairs (d2) that the MinHash-LSH pipeline (d3) "
        "recovers, asserted ≥ 0.90 (measured 255/256 ≈ 0.996). n_truth "
        "is recomputed exactly by the oracle from d2's own pair SQL, so "
        "the audit also re-pins the exact pair count.",
    oracle=f"""
        WITH d2_pairs AS (
            {QUERY_REGISTRY["d2_ngram_jaccard_pairs"].oracle}
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_truth, TRUE AS above_floor
        FROM d2_pairs
    """,
)
def d14_minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = _dedup.d2_ngram_jaccard_pairs(spark, sf_dir).select(
        "doc_a", "doc_b"
    )  # lazy on purpose — see the s9 ReuseExchange note
    approx = _dedup.d3_minhash_lsh_pairs(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    hit = truth.join(approx, ["doc_a", "doc_b"], "left_semi")
    stats = truth.agg(
        F.count("*").cast("bigint").alias("n_truth")
    ).crossJoin(
        F.broadcast(hit.agg(F.count("*").cast("bigint").alias("n_hit")))
    )
    return stats.select(
        "n_truth",
        (
            F.col("n_hit") * 100 >= F.col("n_truth") * _MINHASH_FLOOR_X100
        ).alias("above_floor"),
    )


_SQ8_FLOOR_X100 = 80


@register(
    "s14b_sq8_recall_audit",
    survey="ext-similarity",
    doc="Driver-checked SQ8 quality gate: recall@5 of the int8 "
        "uniform-symmetric code search (s14) against the exact "
        "brute-force top-5 (s1), asserted >= 0.80 (measured 0.98 at "
        "sf0.01, 0.94 at sf0.1 — the floor absorbs fixture noise, not "
        "real regressions; the rejected per-dim-offset scheme scored "
        "0.04 and would trip it instantly). Same contract shape as s9: "
        "exactly-recomputable counts ride along, the boolean is the "
        "gate.",
    oracle=f"""
        SELECT CAST(LEAST(10, COUNT(*)) AS BIGINT) AS n_queries,
               CAST(LEAST(10, COUNT(*)) * 5 AS BIGINT) AS n_truth,
               TRUE AS above_floor
        FROM embeddings WHERE vec_id < 10
    """,
)
def s14b_sq8_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.operators.similarity import (
        sq8_topk_matmul,
    )

    truth = _similarity.s1_cosine_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )  # lazy on purpose — see the s9 ReuseExchange note
    # the approx side through the s10c numpy-matmul pattern (guide
    # §4.2): bit-identical rows to s14's pinned BroadcastNestedLoopJoin
    # form (integer scores, same tie-break — pinned by
    # test_semantic_dedup.py::test_s14b_matmul_matches_s14), without
    # re-running the interpreted per-pair int_dot fold here. The s14
    # registry row itself is untouched — it IS the brute-force
    # contract row.
    approx = sq8_topk_matmul(spark, sf_dir)
    hit = truth.join(approx, ["query_id", "neighbor_id"], "left_semi")
    stats = truth.agg(
        F.countDistinct("query_id").cast("bigint").alias("n_queries"),
        F.count("*").cast("bigint").alias("n_truth"),
    ).crossJoin(
        F.broadcast(hit.agg(F.count("*").cast("bigint").alias("n_hit")))
    )
    return stats.select(
        "n_queries",
        "n_truth",
        (F.col("n_hit") * 100 >= F.col("n_truth") * _SQ8_FLOOR_X100).alias(
            "above_floor"
        ),
    )


_S10B_RECALL_FLOOR_X100 = 25


@register(
    "s10c_knn_shortlist_recall",
    survey="ext-similarity,ext-curation",
    doc="Driver-checked gate for the s10b scale path: recall@5 of the "
        "IVF-SQ8 shortlist kNN (the candidates feeding s10b's vote) "
        "against the EXACT top-5 under the identical SQ8 metric over "
        "the full collection, asserted >= 0.25. The fixture embeddings "
        "are isotropic random unit vectors (no cluster structure), so "
        "any partition-pruned index's recall tracks its probed "
        "fraction: 2/16 cells -> chance level 0.125, measured 0.45 "
        "(sf0.01) / 0.36 (sf0.1). The floor sits 2x above chance — a "
        "broken cell assignment or probe ranking collapses recall to "
        "the chance line and flips this row red, while fixture noise "
        "does not. On clustered real corpora the identical index gives "
        "the usual 0.8+ (the d17 SemDeDup argument). Counts both "
        "engines recompute exactly ride along; the boolean is the "
        "contract.",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_anchors,
               CAST(COUNT(*) * 5 AS BIGINT) AS n_truth,
               TRUE AS above_floor
        FROM embeddings WHERE vec_id % 10 = 0
    """,
)
def s10c_knn_shortlist_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.operators.similarity import (
        s10b_shortlist_knn,
        sq8_fullscan_knn,
    )

    truth = sq8_fullscan_knn(spark, sf_dir)
    approx = s10b_shortlist_knn(spark, sf_dir).select("qid", "nid")
    hit = truth.join(approx, ["qid", "nid"], "left_semi")
    stats = truth.agg(
        F.countDistinct("qid").cast("bigint").alias("n_anchors"),
        F.count("*").cast("bigint").alias("n_truth"),
    ).crossJoin(
        F.broadcast(hit.agg(F.count("*").cast("bigint").alias("n_hit")))
    )
    return stats.select(
        "n_anchors",
        "n_truth",
        (
            F.col("n_hit") * 100 >= F.col("n_truth") * _S10B_RECALL_FLOOR_X100
        ).alias("above_floor"),
    )

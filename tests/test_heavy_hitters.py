"""a13 heavy hitters: the two-phase sketch-prune plan's guarantees.

The registry fixture is near-uniform, so the distribution-free claims —
no false negatives, bounded candidate emission, bounded summary memory —
are proven here on a genuinely zipfian synthetic key column instead.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.operators.aggregations import (
    heavy_hitter_candidates,
)

K = 10
PARTS = 8


@pytest.fixture(scope="module")
def zipf_stream(spark):
    # zipf-ish: key i appears ~30000/i times; key 1 is ~29% of mass,
    # keys beyond ~K/3 fall under the N/K threshold — a real split.
    rows = [(f"k{i:04d}",) for i in range(1, 200) for _ in range(30000 // i // 30)]
    return spark.createDataFrame(rows, "w string").repartition(PARTS)


def exact_heavy(df, k):
    n = df.count()
    return {
        r["w"]
        for r in df.groupBy("w").count().where(F.col("count") * k > n).collect()
    }


def test_no_false_negatives_zipf(zipf_stream):
    truth = exact_heavy(zipf_stream, K)
    assert truth, "fixture must contain heavy hitters"
    cand = {
        r["w"] for r in heavy_hitter_candidates(zipf_stream, "w", K).collect()
    }
    assert truth <= cand


def test_candidate_emission_bounded(zipf_stream):
    # ≤ cap_factor·K rows per partition regardless of vocabulary size
    per_part = (
        heavy_hitter_candidates(zipf_stream, "w", K)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    assert per_part and all(r["count"] <= 4 * K for r in per_part)


def test_summary_memory_bounded_unit():
    # drive the per-partition MG loop directly through mapInPandas on a
    # single partition whose vocabulary (600) far exceeds the cap (40):
    # the emitted summary must respect the cap, and the uniform-tail +
    # one-giant-key mix must keep the giant key.
    import real_time_data_warehouse_spark.operators.aggregations as agg

    pdf = pd.DataFrame(
        {"w": ["giant"] * 2000 + [f"tail{i}" for i in range(600)] * 2}
    )
    captured = []

    class _FakeStream:
        def mapInPandas(self, fn, schema):
            captured.append(list(fn([pdf.iloc[:1500], pdf.iloc[1500:]])))
            return None

    agg.heavy_hitter_candidates(_FakeStream(), "w", K)
    out = captured[0][0]
    assert len(out) <= 4 * K
    assert "giant" in set(out["w"])


def test_matches_plain_groupby_on_zipf(zipf_stream, tmp_path):
    # end-to-end two-phase result == plain groupBy+HAVING on the same data
    n = zipf_stream.count()
    cand = heavy_hitter_candidates(zipf_stream, "w", K).distinct()
    two_phase = {
        (r["w"], r["cnt"])
        for r in zipf_stream.join(F.broadcast(cand), "w")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") * K > n)
        .collect()
    }
    plain = {
        (r["w"], r["count"])
        for r in zipf_stream.groupBy("w")
        .count()
        .where(F.col("count") * K > n)
        .collect()
    }
    assert two_phase == plain


class TestStreamingFold:
    """streaming/heavy_hitters.py — the snapshot-folded MG state."""

    def test_chunked_fold_matches_batch_guarantees(self, spark, zipf_stream, tmp_path):
        # fold the zipf stream in 4 ordered chunks; final snapshot keys
        # must still contain every true heavy hitter (chunking-
        # independent MG bound), and the exact verify must equal the
        # one-pass answer
        from real_time_data_warehouse_spark.streaming import heavy_hitters as hh

        rows = zipf_stream.withColumn("rid", F.monotonically_increasing_id())
        ids = sorted(r["rid"] for r in rows.select("rid").collect())
        bounds = [ids[len(ids) * i // 4] for i in range(4)] + [ids[-1] + 1]
        store = str(tmp_path / "hh_store")
        for b in range(4):
            batch = rows.where(
                (F.col("rid") >= bounds[b]) & (F.col("rid") < bounds[b + 1])
            ).select("w")
            hh.apply_hh_batch(spark, batch, b, store, cap=4 * K)
        cand = {
            r["w"] for r in hh.final_candidates(spark, store, 4).collect()
        }
        assert len(cand) <= 4 * K
        assert exact_heavy(zipf_stream, K) <= cand

    def test_retry_is_idempotent(self, spark, zipf_stream, tmp_path):
        # re-applying a batch must rewrite an identical snapshot (the
        # gates' retry contract): snapshot N depends only on snapshot
        # N-1 and the batch content
        from real_time_data_warehouse_spark.streaming import heavy_hitters as hh
        from real_time_data_warehouse_spark.streaming.state_store import (
            read_snapshot,
        )

        store = str(tmp_path / "hh_store")
        half = zipf_stream.limit(2000).select("w")
        hh.apply_hh_batch(spark, half, 0, store, cap=4 * K)
        hh.apply_hh_batch(spark, zipf_stream.select("w"), 1, store, cap=4 * K)
        snap1 = sorted(
            (r["w"], r["cnt"])
            for r in read_snapshot(spark, store, 2, hh._STATE_SCHEMA).collect()
        )
        hh.apply_hh_batch(spark, zipf_stream.select("w"), 1, store, cap=4 * K)
        snap1_retry = sorted(
            (r["w"], r["cnt"])
            for r in read_snapshot(spark, store, 2, hh._STATE_SCHEMA).collect()
        )
        assert snap1 == snap1_retry

"""Incremental packing must assign every doc the exact (shard, bin_id,
offset_in_bin) the one-pass c3 batch query assigns, across any ordered
batch split, and survive a crash-retry of the last batch."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map
from real_time_data_warehouse_spark.streaming.packing import (
    apply_pack_batch,
)
from real_time_data_warehouse_spark.streaming.state_store import run_applier_stream
from real_time_data_warehouse_spark.tables import Tables
from tests.conftest import SF_DIR
from tests.test_dedup_gate import _write_batches

query_map()


def _expected(spark):
    return {
        r["doc_id"]: (r["shard"], r["n_tokens"], r["bin_id"], r["offset_in_bin"])
        for r in QUERY_REGISTRY["c3_sequence_packing"].fn(spark, SF_DIR).collect()
    }


def _got(spark, out_dir):
    return {
        r["doc_id"]: (r["shard"], r["n_tokens"], r["bin_id"], r["offset_in_bin"])
        for r in spark.read.option("basePath", out_dir).parquet(out_dir).collect()
    }


def test_streaming_packing_matches_c3(spark, tmp_path):
    docs = Tables(spark, SF_DIR).documents.select("doc_id", "text")
    src = str(tmp_path / "src")
    _write_batches(spark, docs, src)
    state, out, ckpt = (
        str(tmp_path / "state"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_applier_stream(stream, apply_pack_batch, state, out, ckpt)
    q.awaitTermination(240)
    expected = _expected(spark)
    got = _got(spark, out)
    assert len(got) == len(expected)
    diffs = {k: (got[k], expected[k]) for k in expected if got[k] != expected[k]}
    assert not diffs, f"{len(diffs)} mismatches, e.g. {list(diffs.items())[:5]}"
    # bins must actually straddle batches: some shard's first doc of batch 2+
    # lands mid-bin (offset > 0) — otherwise the state carry was never used
    assert any(
        off > 0 for (_, _, _, off) in got.values()
    )


def test_pack_batch_retry_idempotent(spark, tmp_path):
    docs = (
        Tables(spark, SF_DIR)
        .documents.select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    b0 = docs.where(F.col("doc_id") <= cut)
    b1 = docs.where(F.col("doc_id") > cut)
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    apply_pack_batch(spark, b0, 0, state, out)
    apply_pack_batch(spark, b1, 1, state, out)
    first = _got(spark, out)
    apply_pack_batch(spark, b1, 1, state, out)  # crash-retry the last batch
    assert _got(spark, out) == first == _expected(spark)

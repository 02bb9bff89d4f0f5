"""Streaming semantic gate: the foreachBatch form must classify every
vector exactly like the one-pass d9 batch query — cross-batch near-dups,
dup-of-a-dup, earliest-match precedence — at any batch split."""

from __future__ import annotations

import os
import shutil
import time as _time

from pyspark.sql import functions as F

from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map
from real_time_data_warehouse_spark.streaming.embedding_gate import (
    apply_gate_batch,
)
from real_time_data_warehouse_spark.streaming.state_store import run_applier_stream
from real_time_data_warehouse_spark.tables import Tables
from tests.conftest import SF_DIR

query_map()


def _expected(spark):
    return {
        r["vec_id"]: (r["status"], r["dup_of"])
        for r in QUERY_REGISTRY["d9_semantic_gate"].fn(spark, SF_DIR).collect()
    }


def _write_batches(spark, vecs, src, n_batches=3):
    """vec_id-ordered ranges, one parquet file per range, oldest first."""
    os.makedirs(src, exist_ok=True)
    ids = sorted(r["vec_id"] for r in vecs.select("vec_id").collect())
    cuts = [ids[len(ids) * (i + 1) // n_batches - 1] for i in range(n_batches)]
    lo = None
    for i, hi in enumerate(cuts):
        part = vecs.where(
            (F.col("vec_id") <= hi)
            & (F.col("vec_id") > (lo if lo is not None else -1))
        )
        stage = f"{src}_stage{i}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        pf = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        shutil.move(os.path.join(stage, pf), os.path.join(src, f"b{i}.parquet"))
        _time.sleep(0.2)
        lo = hi


def _collect_decisions(spark, out_dir):
    return {
        r["vec_id"]: (r["status"], r["dup_of"])
        for r in spark.read.option("basePath", out_dir).parquet(out_dir).collect()
    }


def test_streaming_semantic_gate_matches_batch_query(spark, tmp_path):
    vecs = Tables(spark, SF_DIR).embeddings.select("vec_id", "embedding")
    src = str(tmp_path / "vec_src")
    _write_batches(spark, vecs, src)
    store, out, ckpt = (
        str(tmp_path / "store"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_applier_stream(stream, apply_gate_batch, store, out, ckpt)
    q.awaitTermination(240)

    got, expected = _collect_decisions(spark, out), _expected(spark)
    assert len(got) == len(expected)
    diffs = {k: (got[k], expected[k]) for k in expected if got[k] != expected[k]}
    assert not diffs, f"{len(diffs)} mismatches, e.g. {list(diffs.items())[:5]}"
    # the fixture must actually exercise a cross-batch near-dup
    assert any(s == "near_dup" for s, _ in expected.values())


def test_semantic_gate_batch_retry_idempotent(spark, tmp_path):
    """Re-applying a batch (crash-retry) must not change any decision:
    the tid < vec_id bound stops a replay from matching its own store
    rows, and overwrite partitions replace rather than append."""
    vecs = (
        Tables(spark, SF_DIR)
        .embeddings.select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )
    ids = sorted(r["vec_id"] for r in vecs.select("vec_id").collect())
    cut = ids[len(ids) // 2]
    b0 = vecs.where(F.col("vec_id") <= cut)
    b1 = vecs.where(F.col("vec_id") > cut)
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    apply_gate_batch(spark, b0, 0, store, out)
    apply_gate_batch(spark, b1, 1, store, out)
    first = _collect_decisions(spark, out)
    apply_gate_batch(spark, b1, 1, store, out)  # retry the last batch
    assert _collect_decisions(spark, out) == first == _expected(spark)

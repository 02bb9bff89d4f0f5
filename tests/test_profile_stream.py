"""Incremental corpus profiling (streaming/profile.py) must fold to the
identical rollup as the one-pass c10 query at any batch split, under a
retried batch, and through the real readStream wrapper."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map
from real_time_data_warehouse_spark.streaming.profile import (
    apply_profile_batch,
    rollup_profile,
)
from real_time_data_warehouse_spark.streaming.state_store import run_applier_stream
from real_time_data_warehouse_spark.tables import Tables
from tests.conftest import SF_DIR
from tests.test_dedup_gate import _write_batches

query_map()


def _key(r):
    return (r["source"], r["predicted_lang"])


def _expected(spark):
    return {
        _key(r): (r["n_docs"], r["total_tokens"], r["mean_quality"])
        for r in QUERY_REGISTRY["c10_corpus_profile"].fn(spark, SF_DIR).collect()
    }


def _got(spark, out):
    return {
        _key(r): (r["n_docs"], r["total_tokens"], r["mean_quality"])
        for r in rollup_profile(spark, out).collect()
    }


def _replay(spark, tmp_path, n_batches, retry_last=False):
    docs = (
        Tables(spark, SF_DIR)
        .documents.select("doc_id", "text", "source")
        .localCheckpoint(eager=True)
    )
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    cuts = [ids[len(ids) * (i + 1) // n_batches - 1] for i in range(n_batches)]
    state = str(tmp_path / f"state{n_batches}")
    out = str(tmp_path / f"out{n_batches}")
    lo = None
    for i, hi in enumerate(cuts):
        batch = docs.where(
            (F.col("doc_id") <= hi)
            & (F.col("doc_id") > (lo if lo is not None else -1))
        )
        apply_profile_batch(spark, batch, i, state, out)
        if retry_last and i == len(cuts) - 1:
            apply_profile_batch(spark, batch, i, state, out)
        lo = hi
    return _got(spark, out)


def test_profile_replay_matches_one_pass_any_split(spark, tmp_path):
    exp = _expected(spark)
    assert _replay(spark, tmp_path, 3) == exp
    assert _replay(spark, tmp_path, 5) == exp


def test_profile_batch_retry_idempotent(spark, tmp_path):
    assert _replay(spark, tmp_path, 4, retry_last=True) == _expected(spark)


def test_profile_readstream_matches_batch(spark, tmp_path):
    docs = (
        Tables(spark, SF_DIR)
        .documents.select("doc_id", "text", "source")
        .localCheckpoint(eager=True)
    )
    src = str(tmp_path / "src")
    _write_batches(spark, docs, src)
    state, out, ckpt = (
        str(tmp_path / "state"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_applier_stream(stream, apply_profile_batch, state, out, ckpt)
    q.awaitTermination(240)
    assert _got(spark, out) == _expected(spark)

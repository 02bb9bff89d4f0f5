"""Incremental dedup gate: the streaming foreachBatch form must classify
every document exactly like the one-pass batch query (d7), including
exact-dup precedence, dup-of-a-dup, and cross-batch near-dups."""

from __future__ import annotations

import os
import shutil
import time as _time

from pyspark.sql import functions as F

from real_time_data_warehouse_spark.operators.dedup import dedup_gate_batch
from real_time_data_warehouse_spark.streaming.dedup_gate import (
    apply_gate_batch,
)
from real_time_data_warehouse_spark.streaming.state_store import run_applier_stream
from real_time_data_warehouse_spark.tables import Tables
from tests.conftest import SF_DIR


def _corpus(spark):
    """sf0.001 documents (24 natural near-dups) + injected exact copies:
    two copies of early docs and one copy-of-a-copy, all with late ids so
    they land in later stream batches."""
    docs = Tables(spark, SF_DIR).documents.select("doc_id", "text")
    first = {r["doc_id"]: r["text"] for r in docs.orderBy("doc_id").limit(5).collect()}
    ids = sorted(first)
    extra = spark.createDataFrame(
        [
            (100001, first[ids[0]]),  # exact copy of the earliest doc
            (100002, first[ids[2]]),
            (100003, first[ids[0]]),  # copy-of-a-copy: dup_of must be ids[0]
        ],
        "doc_id long, text string",
    )
    return docs.unionByName(extra)


def _write_batches(spark, corpus, src, n_batches=3):
    """Split the corpus into doc_id-ordered ranges, one parquet file per
    range, written oldest-first (arrival order == id order)."""
    os.makedirs(src, exist_ok=True)
    ids = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    cuts = [ids[len(ids) * (i + 1) // n_batches - 1] for i in range(n_batches)]
    lo = None
    for i, hi in enumerate(cuts):
        part = corpus.where(
            (F.col("doc_id") <= hi)
            & (F.col("doc_id") > (lo if lo is not None else -1))
        )
        stage = f"{src}_stage{i}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        pf = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        shutil.move(os.path.join(stage, pf), os.path.join(src, f"b{i}.parquet"))
        _time.sleep(0.2)
        lo = hi


def test_streaming_gate_matches_batch_query(spark, tmp_path):
    corpus = _corpus(spark).localCheckpoint(eager=True)
    src = str(tmp_path / "docs_src")
    _write_batches(spark, corpus, src)

    store, out, ckpt = (
        str(tmp_path / "store"),
        str(tmp_path / "gate_out"),
        str(tmp_path / "ckpt"),
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_applier_stream(stream, apply_gate_batch, store, out, ckpt)
    q.awaitTermination(240)

    got = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in spark.read.option("basePath", out).parquet(out).collect()
    }
    expected = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in dedup_gate_batch(corpus).collect()
    }
    assert len(got) == len(expected) == corpus.count()
    diffs = {k: (got[k], expected[k]) for k in expected if got[k] != expected[k]}
    assert not diffs, f"{len(diffs)} mismatches, e.g. {list(diffs.items())[:5]}"

    # the injected copies behave as specified
    ids = sorted(k for k in expected if k < 100000)[:5]
    assert got[100001] == ("exact_dup", ids[0])
    assert got[100003] == ("exact_dup", ids[0])  # dup-of-a-dup → earliest

    # cross-batch near-dups exist (the store actually participated)
    batch_starts = sorted(got)[0]
    assert any(
        s == "near_dup" for s, _ in got.values()
    ), "fixture lost its near-dups"


def test_gate_batch_retry_is_idempotent(spark, tmp_path):
    """Re-running a batch (crash-retry) must not duplicate store entries
    or flip any classification."""
    corpus = _corpus(spark).localCheckpoint(eager=True)
    ids = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    half = ids[len(ids) // 2]
    b0 = corpus.where(F.col("doc_id") <= half)
    b1 = corpus.where(F.col("doc_id") > half)

    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    apply_gate_batch(spark, b0, 0, store, out)
    apply_gate_batch(spark, b1, 1, store, out)
    first = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in spark.read.option("basePath", out).parquet(out).collect()
    }
    # retry batch 1
    apply_gate_batch(spark, b1, 1, store, out)
    again = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in spark.read.option("basePath", out).parquet(out).collect()
    }
    assert first == again
    store_df = spark.read.option("basePath", store).parquet(store)
    assert store_df.count() == corpus.count()
    assert store_df.select("doc_id").distinct().count() == corpus.count()

"""Live curation must equal the one-pass c1 batch query: same decisions,
same reasons, and the curated corpus is exactly the kept documents."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map
from real_time_data_warehouse_spark.streaming.curation import curate_batch
from real_time_data_warehouse_spark.streaming.state_store import run_applier_stream
from tests.conftest import SF_DIR
from tests.test_dedup_gate import _write_batches

query_map()


def test_streaming_curation_matches_c1(spark, tmp_path):
    from real_time_data_warehouse_spark.tables import Tables

    corpus = (
        Tables(spark, SF_DIR).documents.select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    src = str(tmp_path / "docs_src")
    _write_batches(spark, corpus, src)

    store, base, ckpt = (
        str(tmp_path / "store"),
        str(tmp_path / "curation"),
        str(tmp_path / "ckpt"),
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_applier_stream(stream, curate_batch, store, base, ckpt)
    q.awaitTermination(240)

    got = {
        r["doc_id"]: (r["keep"], r["reason"])
        for r in spark.read.option("basePath", base + "/decisions")
        .parquet(base + "/decisions")
        .collect()
    }
    expected = {
        r["doc_id"]: (r["keep"], r["reason"])
        for r in QUERY_REGISTRY["c1_corpus_curation"].fn(spark, SF_DIR).collect()
    }
    assert len(got) == len(expected) == corpus.count()
    diffs = {k: (got[k], expected[k]) for k in expected if got[k] != expected[k]}
    assert not diffs, f"{len(diffs)} mismatches, e.g. {list(diffs.items())[:5]}"

    curated = spark.read.option("basePath", base + "/curated").parquet(
        base + "/curated"
    )
    kept_ids = {k for k, (keep, _) in expected.items() if keep == 1}
    assert {r["doc_id"] for r in curated.collect()} == kept_ids
    # curated rows carry the original text unchanged
    joined = curated.alias("c").join(
        corpus.alias("o"), F.col("c.doc_id") == F.col("o.doc_id")
    )
    assert joined.where(F.col("c.text") != F.col("o.text")).count() == 0

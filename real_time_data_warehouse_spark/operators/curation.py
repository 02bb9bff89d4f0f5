"""Corpus-curation operators — the end-to-end training-data decisions
composed from the analysis families: keep/drop with reasons (c1),
deterministic stratified sampling (c2), sharded sequence packing (c3).

These are the operators a 100 TB pre-training pipeline actually runs
LAST: after language-ID, quality scoring and dedup have produced per-doc
signals, something has to (a) decide membership with an auditable
reason, (b) rebalance the language/quality mix reproducibly, and (c)
pack documents into fixed token budgets for the trainer. All three stay
pure Catalyst; determinism comes from content hashes and explicit
orderings, never from `rand()` — a re-run over the same corpus yields
byte-identical curation decisions (the property that makes data
ablations comparable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.functions.text import (
    md5_hash,
    md5_hash_sql,
    tokenize_sql,
)
from real_time_data_warehouse_spark.operators import dedup as _dep_dedup
from real_time_data_warehouse_spark.operators import textanalysis as _dep_text
from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, register

_QUALITY_MIN = 0.45  # ≈ 40th percentile on the fixture — non-trivial split

# per-language sampling rates out of 100 (c2): downsample the dominant
# language, keep the rest
_SAMPLE_RATES = {"en": 60, "de": 100, "es": 100, "und": 25}

_PACK_CAPACITY = 512  # tokens per training sequence (c3)
_PACK_SHARDS = 32  # packing parallelism; bins are (shard, bin) pairs


def _c1_oracle() -> str:
    d7 = QUERY_REGISTRY["d7_dedup_gate"].oracle
    t1 = QUERY_REGISTRY["t1_lang_id"].oracle
    t2 = QUERY_REGISTRY["t2_quality_score"].oracle
    return f"""
        WITH gate AS ({d7}),
        lang AS ({t1}),
        qual AS ({t2})
        SELECT g.doc_id,
               CAST(CASE WHEN g.status = 'unique'
                          AND l.predicted_lang = 'en'
                          AND q.quality_score >= {_QUALITY_MIN}
                    THEN 1 ELSE 0 END AS INT) AS keep,
               CASE WHEN g.status <> 'unique' THEN concat('dup:', g.status)
                    WHEN l.predicted_lang <> 'en'
                        THEN concat('lang:', l.predicted_lang)
                    WHEN q.quality_score < {_QUALITY_MIN} THEN 'low_quality'
                    ELSE 'kept' END AS reason
        FROM gate g
        JOIN lang l ON g.doc_id = l.doc_id
        JOIN qual q ON g.doc_id = q.doc_id
    """


@register(
    "c1_corpus_curation",
    survey="ext-curation,ext-text,ext-dedup",
    doc="Membership decision per document with an auditable reason, in "
        "strict precedence order (dedup > language > quality): composes "
        "the d7 gate, t1 language-ID and t2 quality score — three "
        "broadcast-friendly doc_id equi-joins over per-doc signal frames; "
        "at scale each signal is a materialized column table and this is "
        "a zipper join, no recomputation.",
    oracle=_c1_oracle(),
)
def c1_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    gate = _dep_dedup.d7_dedup_gate(spark, sf_dir)
    lang = _dep_text.t1_lang_id(spark, sf_dir).select(
        "doc_id", "predicted_lang"
    )
    qual = _dep_text.t2_quality_score(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    keep = (
        (F.col("status") == "unique")
        & (F.col("predicted_lang") == "en")
        & (F.col("quality_score") >= _QUALITY_MIN)
    )
    return (
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


def _rates_sql() -> str:
    return " ".join(
        f"WHEN '{lang}' THEN {rate}" for lang, rate in _SAMPLE_RATES.items()
    )


@register(
    "c2_stratified_sample",
    survey="ext-curation",
    doc="Deterministic stratified sampling: per-language keep rates "
        "applied via a content-derived hash (md5 of the doc id) — no "
        "rand(), so re-runs and engine changes reproduce the exact sample "
        "(ablation comparability). The hash is uniform per stratum, so "
        "realized rates converge to the configured ones; a rate table "
        "swap is a broadcast, not a reshuffle.",
    oracle=f"""
        WITH lang AS ({QUERY_REGISTRY["t1_lang_id"].oracle})
        SELECT l.doc_id, l.predicted_lang AS lang,
               CAST(CASE WHEN {md5_hash_sql("CAST(l.doc_id AS VARCHAR)")} % 100 <
                         CASE l.predicted_lang {_rates_sql()} ELSE 100 END
                    THEN 1 ELSE 0 END AS INT) AS sampled
        FROM lang l
    """,
)
def c2_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    lang = _dep_text.t1_lang_id(spark, sf_dir).select(
        "doc_id", F.col("predicted_lang").alias("lang")
    )
    rate = F.lit(100)
    for lg, r in reversed(_SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == lg, r).otherwise(rate)
    bucket = md5_hash(F.col("doc_id").cast("string")) % 100
    return lang.select(
        "doc_id", "lang", (bucket < rate).cast("int").alias("sampled")
    )


@register(
    "c3_sequence_packing",
    survey="ext-curation",
    doc=f"Sharded sequence packing: docs are assigned to fixed "
        f"{_PACK_CAPACITY}-token training bins by a running token cumsum "
        f"within each of {_PACK_SHARDS} doc_id-hash shards (bin = "
        "floor(cum_before/capacity); a doc may straddle its bin boundary "
        "— the trainer-side truncate/pad handles it, the standard "
        "fixed-boundary approximation of next-fit). The window runs PER "
        "SHARD: an unpartitioned global cumsum would serialize the whole "
        "corpus through one reducer at 100 TB; sharding keeps packing "
        "embarrassingly parallel and bins globally addressable as "
        "(shard, bin).",
    oracle=f"""
        WITH toks AS ({QUERY_REGISTRY["t3_token_count"].oracle}),
        sharded AS (
            SELECT doc_id, ws_tokens,
                   CAST(doc_id % {_PACK_SHARDS} AS BIGINT) AS shard
            FROM toks
        )
        SELECT doc_id, shard, ws_tokens AS n_tokens,
               CAST(floor(CAST(
                   COALESCE(SUM(ws_tokens) OVER (PARTITION BY shard
                       ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS DOUBLE) / {_PACK_CAPACITY})
                    AS BIGINT) AS bin_id,
               CAST(COALESCE(SUM(ws_tokens) OVER (PARTITION BY shard
                       ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) % {_PACK_CAPACITY}
                    AS BIGINT) AS offset_in_bin
        FROM sharded
    """,
)
def c3_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    toks = _dep_text.t3_token_count(spark, sf_dir).select(
        "doc_id", "ws_tokens"
    )
    sharded = toks.withColumn(
        "shard", (F.col("doc_id") % _PACK_SHARDS).cast("bigint")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("ws_tokens").over(w), F.lit(0))
    return sharded.select(
        "doc_id",
        "shard",
        F.col("ws_tokens").alias("n_tokens"),
        F.floor(cum_before.cast("double") / _PACK_CAPACITY)
        .cast("bigint")
        .alias("bin_id"),
        (cum_before % _PACK_CAPACITY).cast("bigint").alias("offset_in_bin"),
    )


_SHUFFLE_SHARDS = 16  # c4: parallel shard count for the epoch shuffle
_SHUFFLE_SEED = "c4:epoch0"  # changing the seed string re-deals the epoch


@register(
    "c4_corpus_shuffle",
    survey="ext-curation",
    doc="Deterministic epoch shuffle: every doc gets a content-derived "
        "48-bit hash of (seed, doc_id); shard = hash mod "
        f"{_SHUFFLE_SHARDS}, position = rank of (hash, doc_id) within the "
        "shard. Reading shards in order yields a uniform pseudo-random "
        "permutation that any engine reproduces bit-for-bit (no rand(), "
        "no partitioning dependence) — and a new seed string is a new "
        "epoch order. The sort runs PER SHARD, so the 100 TB corpus never "
        "funnels through one reducer; each shard's sort key is an int64, "
        "the cheapest possible ordering.",
    oracle=f"""
        SELECT doc_id,
               CAST(h % {_SHUFFLE_SHARDS} AS INT) AS shard,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY h % {_SHUFFLE_SHARDS} ORDER BY h, doc_id
               ) AS BIGINT) AS pos
        FROM (
            SELECT doc_id,
                   {md5_hash_sql(
                       "concat('" + _SHUFFLE_SEED + ":', CAST(doc_id AS VARCHAR))",
                       48,
                   )} AS h
            FROM documents
        ) hashed
    """,
)
def c4_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from real_time_data_warehouse_spark.tables import Tables

    t = Tables(spark, sf_dir)
    h = md5_hash(
        F.concat(F.lit(_SHUFFLE_SEED + ":"), F.col("doc_id").cast("string")),
        bits=48,
    )
    hashed = t.documents.select("doc_id", h.alias("h"))
    w = Window.partitionBy(F.col("h") % _SHUFFLE_SHARDS).orderBy("h", "doc_id")
    return hashed.select(
        "doc_id",
        (F.col("h") % _SHUFFLE_SHARDS).cast("int").alias("shard"),
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


_PSEUDO_PEPPER = "pepper0"  # rotate to re-key the pseudonym space
_K_ANON = 3  # users with fewer events than this are suppressed outright


@register(
    "c5_pseudonymize",
    survey="ext-curation",
    doc="Privacy stage for log-derived training data: user ids are "
        "replaced by a peppered-md5 pseudonym (stable within a pepper "
        "rotation, unlinkable across rotations), and users appearing in "
        f"fewer than {_K_ANON} events are suppressed entirely "
        "(pseudonym nulled) — the cheap k-anonymity floor that stops "
        "singleton users from being re-identifiable by their single "
        "event. One window count per user_id — a single shuffle on the "
        "natural key; the pseudonym itself is map-side codegen.",
    oracle=f"""
        SELECT event_id,
               CASE WHEN COUNT(*) OVER (PARTITION BY user_id) >= {_K_ANON}
                    THEN md5(concat('{_PSEUDO_PEPPER}:',
                                    CAST(user_id AS VARCHAR)))
               END AS user_pseudo,
               event_type,
               value,
               CAST(CASE WHEN COUNT(*) OVER (PARTITION BY user_id)
                         < {_K_ANON} THEN 1 ELSE 0 END AS INT) AS suppressed
        FROM events
    """,
)
def c5_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from real_time_data_warehouse_spark.tables import Tables

    t = Tables(spark, sf_dir)
    n_user = F.count("*").over(Window.partitionBy("user_id"))
    pseudo = F.md5(
        F.concat(F.lit(_PSEUDO_PEPPER + ":"), F.col("user_id").cast("string"))
    )
    return t.events.select(
        "event_id",
        F.when(n_user >= _K_ANON, pseudo).alias("user_pseudo"),
        "event_type",
        "value",
        (n_user < _K_ANON).cast("int").alias("suppressed"),
    )


# c6: target mixture config — curated sources get 3× the weight of the
# long tail. In production this is a config table; literals keep both
# engines on identical inputs.
_MIX_CURATED = ("src0", "src1", "src2", "src3", "src4")
_MIX_CURATED_W = 3.0
_MIX_TAIL_W = 1.0


@register(
    "c6_mixture_weights",
    survey="ext-curation",
    doc="Data-mixture rebalancing: each source's sampling rate is derived "
        "from a target weight config (curated sources upweighted 3×) and "
        "the OBSERVED per-source counts — rate = min(1, N·share/n_s), "
        "then applied per doc with the same content-hash threshold as c2 "
        "(reproducible, engine-independent; no rand()). Two tiny "
        "aggregations produce the 20-row rate table, which broadcasts "
        "back onto the corpus — at 100 TB the rebalance is one map-side "
        "join, not a reshuffle. Upsampling (rate > 1) is clamped: "
        "replication is the trainer's job, not the corpus store's.",
    oracle=f"""
        WITH counts AS (
            SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
        ),
        weighted AS (
            SELECT source, n_s,
                   CASE WHEN source IN {_MIX_CURATED}
                        THEN {_MIX_CURATED_W} ELSE {_MIX_TAIL_W} END AS w,
                   SUM(n_s) OVER () AS n_total,
                   SUM(CASE WHEN source IN {_MIX_CURATED}
                            THEN {_MIX_CURATED_W} ELSE {_MIX_TAIL_W} END)
                       OVER () AS w_total
            FROM counts
        ),
        rates AS (
            SELECT source,
                   LEAST(1.0, CAST(n_total AS DOUBLE) * w / w_total / n_s)
                       AS rate
            FROM weighted
        )
        SELECT d.doc_id, d.source,
               CAST(ROUND(r.rate, 4) AS DOUBLE) AS rate,
               CAST(CASE WHEN {md5_hash_sql("CAST(d.doc_id AS VARCHAR)")}
                         % 10000 < floor(r.rate * 10000 + 0.5)
                    THEN 1 ELSE 0 END AS INT) AS keep
        FROM documents d JOIN rates r ON d.source = r.source
    """,
)
def c6_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.tables import Tables

    t = Tables(spark, sf_dir)
    docs = t.documents
    w_lit = F.when(
        F.col("source").isin(*_MIX_CURATED), _MIX_CURATED_W
    ).otherwise(_MIX_TAIL_W)
    counts = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    # totals as a 1-row aggregate cross-joined back — the rate table is
    # O(#sources) rows, so every piece of this is broadcast-sized
    totals = counts.select("n_s", w_lit.alias("w")).agg(
        F.sum("n_s").alias("n_total"), F.sum("w").alias("w_total")
    )
    rates = counts.crossJoin(F.broadcast(totals)).select(
        "source",
        F.least(
            F.lit(1.0),
            F.col("n_total").cast("double")
            * w_lit
            / F.col("w_total")
            / F.col("n_s"),
        ).alias("rate"),
    )
    bucket = md5_hash(F.col("doc_id").cast("string")) % 10000
    return docs.join(F.broadcast(rates), "source").select(
        "doc_id",
        "source",
        F.round("rate", 4).cast("double").alias("rate"),
        (bucket < F.floor(F.col("rate") * 10000 + F.lit(0.5)))
        .cast("int")
        .alias("keep"),
    )


_QUOTA_PER_STRATUM = 5


@register(
    "c7_quota_sample",
    survey="ext-curation",
    doc=f"Quota (cap-per-stratum) sampling — the mixing-side complement "
        f"of c2's rate-based sampling: each (lang, source) stratum keeps "
        f"at most {_QUOTA_PER_STRATUM} docs, chosen by deterministic "
        "content-hash order (md5 of doc_id, doc_id tiebreak) — no "
        "rand(), so the selected corpus is identical across runs, "
        "engines and partitionings (ablation comparability), and "
        "over-represented strata are truncated instead of down-weighted "
        "(the dominant-source cap of real pretraining mixes). One "
        "shuffle on the stratum key; the rank window is per-stratum, "
        "never global.",
    oracle=f"""
        SELECT doc_id, lang, source,
               CAST(rn AS INT) AS pick_rank,
               CAST(CASE WHEN rn <= {_QUOTA_PER_STRATUM} THEN 1 ELSE 0 END
                    AS INT) AS kept
        FROM (
            SELECT doc_id, lang, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang, source
                       ORDER BY {md5_hash_sql("CAST(doc_id AS VARCHAR)")},
                                doc_id
                   ) AS rn
            FROM documents
        )
    """,
)
def c7_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from real_time_data_warehouse_spark.tables import Tables

    t = Tables(spark, sf_dir)
    w = Window.partitionBy("lang", "source").orderBy(
        md5_hash(F.col("doc_id").cast("string")), "doc_id"
    )
    return t.documents.select(
        "doc_id",
        "lang",
        "source",
        F.row_number().over(w).cast("int").alias("pick_rank"),
        (F.row_number().over(w) <= _QUOTA_PER_STRATUM)
        .cast("int")
        .alias("kept"),
    )


_TRAIN_PCT = 90


def _c8_oracle() -> str:
    d6 = QUERY_REGISTRY["d6_dedup_clusters"].oracle
    h = md5_hash_sql("CAST(cluster_id AS VARCHAR)")
    return f"""
        WITH d6 AS ({d6})
        SELECT doc_id, cluster_id,
               CASE WHEN {h} % 100 < {_TRAIN_PCT}
                    THEN 'train' ELSE 'val' END AS split
        FROM d6
    """


@register(
    "c8_leakage_safe_split",
    survey="ext-curation,ext-dedup",
    doc=f"Leakage-safe train/val split: the {_TRAIN_PCT}/"
        f"{100 - _TRAIN_PCT} assignment hashes the near-dup CLUSTER id "
        "(d6's connected components over MinHash candidate pairs), not "
        "the document id — so a near-duplicate of a training document "
        "can never land in validation (the eval-leakage failure mode "
        "doc-level random splits have). Deterministic content hash, no "
        "rand(): the split is reproducible across runs, engines and "
        "partitionings. Composes d6; the split itself adds only a "
        "narrow projection.",
    oracle=_c8_oracle(),
)
def c8_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = _dep_dedup.d6_dedup_clusters(spark, sf_dir)
    bucket = md5_hash(F.col("cluster_id").cast("string")) % 100
    return clusters.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < _TRAIN_PCT, "train")
        .otherwise("val")
        .alias("split"),
    )


_CHUNK_SIZE = 64  # tokens per chunk (c9)
_CHUNK_STRIDE = 48  # chunk start spacing → 16-token overlap


@register(
    "c9_doc_chunks",
    survey="ext-curation,ext-text",
    doc=f"Overlapping document chunking: every doc is split into "
        f"{_CHUNK_SIZE}-token windows every {_CHUNK_STRIDE} tokens "
        f"({_CHUNK_SIZE - _CHUNK_STRIDE}-token overlap) — the unit "
        "retrieval indexes and long-context training actually consume; "
        "the overlap keeps boundary-straddling spans findable. Chunk "
        "count, offsets and the per-chunk content hash are all integer/"
        "md5 arithmetic; the explode is map-side (sequence + slice "
        "inside codegen, zero shuffle) so chunking is embarrassingly "
        "parallel at any scale. Short docs yield exactly one chunk.",
    oracle=f"""
        WITH c AS (
            SELECT doc_id, toks,
                   CAST(1 + floor((greatest(len(toks) - {_CHUNK_SIZE}, 0)
                        + {_CHUNK_STRIDE - 1}) / {_CHUNK_STRIDE}.0)
                        AS BIGINT) AS n_chunks
            FROM (SELECT doc_id, {tokenize_sql("text")} AS toks FROM documents) b
        ),
        e AS (
            SELECT doc_id, toks,
                   unnest(range(0, n_chunks)) AS chunk_id
            FROM c
        )
        SELECT doc_id,
               CAST(chunk_id AS BIGINT) AS chunk_id,
               CAST(chunk_id * {_CHUNK_STRIDE} AS BIGINT) AS start_tok,
               CAST(len(list_slice(toks, chunk_id * {_CHUNK_STRIDE} + 1,
                        chunk_id * {_CHUNK_STRIDE} + {_CHUNK_SIZE}))
                    AS BIGINT) AS chunk_len,
               md5(array_to_string(
                   list_slice(toks, chunk_id * {_CHUNK_STRIDE} + 1,
                       chunk_id * {_CHUNK_STRIDE} + {_CHUNK_SIZE}), ' '))
                   AS chunk_hash
        FROM e
    """,
)
def c9_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.functions.text import tokenize
    from real_time_data_warehouse_spark.tables import Tables

    t = Tables(spark, sf_dir)
    base = t.documents.select("doc_id", tokenize("text").alias("toks"))
    n = F.size("toks")
    n_chunks = (
        1
        + F.floor(
            (F.greatest(n - _CHUNK_SIZE, F.lit(0)) + (_CHUNK_STRIDE - 1))
            / F.lit(float(_CHUNK_STRIDE))
        )
    ).cast("bigint")
    exploded = base.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias(
            "chunk_id"
        ),
    )
    start = F.col("chunk_id") * _CHUNK_STRIDE
    chunk = F.slice("toks", start + 1, F.lit(_CHUNK_SIZE))
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        start.cast("bigint").alias("start_tok"),
        F.size(chunk).cast("bigint").alias("chunk_len"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


@register(
    "c3s_packing_replay",
    survey="ext-curation",
    doc="Streaming sequence-packing replay: the documents table is split "
        "into 4 ascending-doc_id batches and pushed through "
        "streaming/packing.apply_pack_batch — the exact foreachBatch "
        "body, continuing each batch from the persisted 32-row per-shard "
        "running-total snapshot — then the per-batch assignments are "
        "concatenated. Checked against the ONE-PASS c3 oracle: a green "
        "row is the driver verifying incremental packing ≡ the batch "
        "cumsum (previously pinned only by tests/test_pack_stream.py). "
        "Completes the replay family (d7s lexical, d9s semantic, st8s "
        "SCD2, c3s packing).",
    oracle=QUERY_REGISTRY["c3_sequence_packing"].oracle,
)
def c3s_packing_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.operators.gate_replay import (
        _replay_batches,
    )
    from real_time_data_warehouse_spark.streaming import packing
    from real_time_data_warehouse_spark.tables import Tables

    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    return _replay_batches(spark, docs, "doc_id", packing.apply_pack_batch)


@register(
    "c1s_curation_replay",
    survey="ext-curation,ext-dedup,ext-text",
    doc="Streaming curation replay: the documents table is split into 4 "
        "ascending-doc_id batches and pushed through "
        "streaming/curation.curate_batch — the exact foreachBatch body: "
        "signature-store classification, language + quality signals, "
        "keep/drop decision with reason — then the per-batch decision "
        "logs are concatenated. Checked against the ONE-PASS c1 oracle: "
        "a green row is the driver verifying the LIVE admission pipeline "
        "≡ the batch curation query (previously pinned only by "
        "tests/test_curation_stream.py). With c3s/d7s/d9s/st8s this "
        "driver-verifies every streaming gate in the repo.",
    oracle=QUERY_REGISTRY["c1_corpus_curation"].oracle,
)
def c1s_curation_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from real_time_data_warehouse_spark.operators.gate_replay import (
        _replay_batches,
    )
    from real_time_data_warehouse_spark.streaming import curation
    from real_time_data_warehouse_spark.streaming.state_store import read_log
    from real_time_data_warehouse_spark.tables import Tables

    def read_decisions(spark_, base_dir):
        return read_log(spark_, os.path.join(base_dir, "decisions")).drop(
            "batch_id"
        )

    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    return _replay_batches(
        spark, docs, "doc_id", curation.curate_batch,
        finalize=read_decisions,
    )


def _c10_oracle() -> str:
    t1 = QUERY_REGISTRY["t1_lang_id"].oracle
    t2 = QUERY_REGISTRY["t2_quality_score"].oracle
    t3 = QUERY_REGISTRY["t3_token_count"].oracle
    return f"""
        WITH lang AS ({t1}), qual AS ({t2}), toks AS ({t3}),
        j AS (
            SELECT d.source, l.predicted_lang, t.ws_tokens, q.quality_score
            FROM documents d
            JOIN lang l ON d.doc_id = l.doc_id
            JOIN qual q ON d.doc_id = q.doc_id
            JOIN toks t ON d.doc_id = t.doc_id
        )
        SELECT source, predicted_lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(ws_tokens) AS BIGINT) AS total_tokens,
               CAST(floor(CAST(SUM(CAST(quality_score AS DECIMAL(18,4)))
                        AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000
                    AS DOUBLE) AS mean_quality
        FROM j
        GROUP BY ROLLUP (source, predicted_lang)
    """


@register(
    "c10_corpus_profile",
    survey="ext-curation,ext-text,A10",
    doc="Corpus datasheet: per-(source, predicted language) rollup of "
        "document count, token volume and mean quality — the profile "
        "table a data card or mixture-design pass reads, at every "
        "hierarchy level (source × lang, source, corpus) in ONE pass "
        "(Catalyst expands the rollup into grouping sets over a single "
        "shuffle; the reference computes such rollup levels as separate "
        "apps). Mean quality sums exactly through DECIMAL(18,4) (the "
        "quality scores are 4-decimal-rounded by construction, so the "
        "cast is exact) and surfaces with the engine-independent "
        "floor-rounding.",
    oracle=_c10_oracle(),
)
def c10_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.functions.money import dec4
    from real_time_data_warehouse_spark.tables import Tables

    t = Tables(spark, sf_dir)
    lang = _dep_text.t1_lang_id(spark, sf_dir).select(
        "doc_id", "predicted_lang"
    )
    qual = _dep_text.t2_quality_score(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    toks = _dep_text.t3_token_count(spark, sf_dir).select(
        "doc_id", "ws_tokens"
    )
    j = (
        t.documents.select("doc_id", "source")
        .join(lang, "doc_id")
        .join(qual, "doc_id")
        .join(toks, "doc_id")
    )
    return j.rollup("source", "predicted_lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws_tokens").cast("bigint").alias("total_tokens"),
        (
            F.floor(
                F.sum(dec4("quality_score")).cast("double")
                / F.count("*")
                * 10000
                + F.lit(0.5)
            )
            / 10000
        )
        .cast("double")
        .alias("mean_quality"),
    )


# --- c11: token-budget epoch planning ------------------------------------

# Epoch cap: repeating pretraining data beyond ~4 epochs stops helping
# (public data-constrained-scaling result), so the planner clamps there
# and reports the shortfall rather than over-allocating repeats.
_BUDGET_EPOCH_CAP = 4
# Integer weights (same mixture as c6: curated sources upweighted 3×) so
# every allocation step below is exact integer arithmetic.
_BUDGET_CURATED_W = 3
_BUDGET_TAIL_W = 1


@register(
    "c11_token_budget_plan",
    survey="ext-curation",
    doc="Token-budget epoch planner — the step between mixture weights "
        "(c6) and a training run: with budget B = 4× observed corpus "
        "tokens, each source's target is B·w_s/Σw, its epoch count is "
        "target/available clamped at 4 (the public data-constrained "
        "scaling heuristic), and alloc_tokens is what the run can "
        "actually draw. Curated sources (3× weight) overshoot the cap "
        "and get clamped; tail sources stay under it — both branches "
        "fire on any roughly-uniform fixture. All allocations are exact "
        "integer arithmetic (targets via integer DIV); the epochs "
        "double uses the t2 floor-rounding discipline. Plan shape: two "
        "tiny aggregations and a broadcast join — nothing corpus-wide "
        "shuffles.",
    oracle=f"""
        WITH tok AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len({tokenize_sql("text")})) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ),
        w AS (
            SELECT source, n_docs, n_tokens,
                   CAST(CASE WHEN source IN {_MIX_CURATED} THEN {_BUDGET_CURATED_W}
                        ELSE {_BUDGET_TAIL_W} END AS BIGINT) AS w_s,
                   SUM(CAST(CASE WHEN source IN {_MIX_CURATED} THEN {_BUDGET_CURATED_W}
                       ELSE {_BUDGET_TAIL_W} END AS BIGINT)) OVER () AS w_total,
                   SUM(n_tokens) OVER () AS t_total
            FROM tok
        ),
        plan AS (
            SELECT source, n_docs, n_tokens,
                   ({_BUDGET_EPOCH_CAP} * t_total * w_s) // w_total
                       AS target_tokens
            FROM w
        )
        SELECT source, n_docs, n_tokens,
               CAST(target_tokens AS BIGINT) AS target_tokens,
               CAST(LEAST(target_tokens, {_BUDGET_EPOCH_CAP} * n_tokens)
                    AS BIGINT) AS alloc_tokens,
               CAST(floor(CAST(target_tokens AS DOUBLE) / n_tokens * 10000
                          + 0.5) / 10000 AS DOUBLE) AS epochs_raw,
               (target_tokens > {_BUDGET_EPOCH_CAP} * n_tokens) AS capped
        FROM plan
    """,
)
def c11_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.functions.text import tokenize
    from real_time_data_warehouse_spark.tables import Tables

    t = Tables(spark, sf_dir)
    tok = (
        t.documents.select("source", F.size(tokenize("text")).alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
    w_s = (
        F.when(F.col("source").isin(*_MIX_CURATED), _BUDGET_CURATED_W)
        .otherwise(_BUDGET_TAIL_W)
        .cast("bigint")
    )
    weighted = tok.select("*", w_s.alias("w_s"))
    totals = weighted.agg(
        F.sum("w_s").alias("w_total"), F.sum("n_tokens").alias("t_total")
    )
    plan = weighted.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr(
            f"CAST(({_BUDGET_EPOCH_CAP} * t_total * w_s) DIV w_total AS BIGINT)"
        ).alias("target_tokens"),
    )
    return plan.select(
        "source",
        "n_docs",
        "n_tokens",
        "target_tokens",
        F.least(
            F.col("target_tokens"), _BUDGET_EPOCH_CAP * F.col("n_tokens")
        )
        .cast("bigint")
        .alias("alloc_tokens"),
        (
            F.floor(
                F.col("target_tokens").cast("double")
                / F.col("n_tokens")
                * 10000
                + F.lit(0.5)
            )
            / 10000
        )
        .cast("double")
        .alias("epochs_raw"),
        (F.col("target_tokens") > _BUDGET_EPOCH_CAP * F.col("n_tokens")).alias(
            "capped"
        ),
    )


# --- c12: quality-weighted soft sampling ----------------------------------

# (lower-band-edge, keep-rate%) — descending; score >= 0.55 keeps all
_QW_BANDS = ((0.55, 100), (0.45, 50), (0.35, 20), (0.0, 5))


def _c12_oracle() -> str:
    t2 = QUERY_REGISTRY["t2_quality_score"].oracle
    h = md5_hash_sql("CAST(doc_id AS VARCHAR)")
    band_case = " ".join(
        f"WHEN quality_score >= {edge} THEN {i}"
        for i, (edge, _) in enumerate(_QW_BANDS)
    )
    rate_case = " ".join(
        f"WHEN quality_score >= {edge} THEN {r}"
        for edge, r in _QW_BANDS
    )
    return f"""
        WITH t2 AS ({t2})
        SELECT doc_id, quality_score,
               CAST(CASE {band_case} END AS INT) AS band,
               CAST(CASE {rate_case} END AS INT) AS rate_pct,
               CAST(CASE WHEN {h} % 100 < (CASE {rate_case} END)
                    THEN 1 ELSE 0 END AS INT) AS kept
        FROM t2
    """


@register(
    "c12_quality_weighted_sample",
    survey="ext-curation,ext-text",
    doc="Quality-WEIGHTED soft sampling (the FineWeb/LLM-corpus practice "
        "of down-sampling rather than hard-dropping mid-quality text): "
        "t2's composite score maps to a keep-rate band (>=0.55 keeps "
        "100%, 0.45-0.55 50%, 0.35-0.45 20%, below 5%) and the keep "
        "decision is the deterministic md5(doc_id) % 100 < rate coin — "
        "no rand(), so the sampled corpus is identical across runs, "
        "engines and partitionings, and every decision is auditable "
        "(band + rate + kept are all emitted). Composes t2 exactly like "
        "c1/c2 compose their signals: a map-side projection over the "
        "scored frame, zero extra shuffles.",
    oracle=_c12_oracle(),
)
def c12_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _dep_text.t2_quality_score(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    rate = F.lit(None).cast("int")
    band = F.lit(None).cast("int")
    for i, (edge, r) in enumerate(_QW_BANDS):
        cond = F.col("quality_score") >= edge
        rate = F.coalesce(rate, F.when(cond, r))
        band = F.coalesce(band, F.when(cond, i))
    bucket = md5_hash(F.col("doc_id").cast("string")) % 100
    return scored.select(
        "doc_id",
        "quality_score",
        band.cast("int").alias("band"),
        rate.cast("int").alias("rate_pct"),
        (bucket < rate).cast("int").alias("kept"),
    )


# --- c13: dedup-aware cluster-weighted downsampling ------------------------


def _c13_oracle() -> str:
    d6 = QUERY_REGISTRY["d6_dedup_clusters"].oracle
    h = md5_hash_sql("CAST(doc_id AS VARCHAR)")
    return f"""
        WITH d6 AS ({d6}),
        s AS (
            SELECT doc_id, cluster_id,
                   CAST(COUNT(*) OVER (PARTITION BY cluster_id)
                        AS BIGINT) AS cluster_size,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY cluster_id
                       ORDER BY {h}, doc_id) AS INT) AS pick_rank
            FROM d6
        )
        SELECT doc_id, cluster_id, cluster_size, pick_rank,
               CAST(CASE WHEN pick_rank <=
                        ceil(sqrt(CAST(cluster_size AS DOUBLE)))
                    THEN 1 ELSE 0 END AS INT) AS kept
        FROM s
    """


@register(
    "c13_cluster_weighted_sample",
    survey="ext-curation,ext-dedup",
    doc="Dedup-aware SOFT downsampling: instead of keeping one doc per "
        "near-dup cluster (hard dedup, d6 is_canonical) or all of them, "
        "keep ceil(sqrt(cluster_size)) per cluster — the sublinear "
        "thinning rule that preserves some natural-frequency signal "
        "while destroying the duplicate-flood gradient (the middle "
        "ground training-mixture work reaches for between dedup-none "
        "and dedup-all). Picks are deterministic content-hash ranks "
        "within each cluster (c7's discipline, no rand()); singleton "
        "clusters keep their doc. Composes d6's connected components; "
        "ceil(sqrt) on a bigint is a single exact IEEE op on both "
        "engines. Scale: one window over the cluster key on top of "
        "d6's cost — the cluster table is corpus-sized, never pairwise.",
    oracle=_c13_oracle(),
)
def c13_cluster_weighted_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    clusters = _dep_dedup.d6_dedup_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    wc = Window.partitionBy("cluster_id")
    wr = Window.partitionBy("cluster_id").orderBy(
        md5_hash(F.col("doc_id").cast("string")), "doc_id"
    )
    cap = F.ceil(F.sqrt(F.col("cluster_size").cast("double")))
    return (
        clusters.withColumn(
            "cluster_size", F.count("*").over(wc).cast("bigint")
        )
        .withColumn("pick_rank", F.row_number().over(wr).cast("int"))
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            "pick_rank",
            (F.col("pick_rank") <= cap).cast("int").alias("kept"),
        )
    )


# --- d19: chunk-granularity exact dedup -----------------------------------


def _d19_oracle() -> str:
    c9 = QUERY_REGISTRY["c9_doc_chunks"].oracle
    return f"""
        WITH c9 AS ({c9})
        SELECT doc_id, chunk_id, chunk_hash,
               CAST(COUNT(*) OVER (PARTITION BY chunk_hash) AS BIGINT)
                   AS n_copies,
               CAST(CASE WHEN ROW_NUMBER() OVER (
                        PARTITION BY chunk_hash
                        ORDER BY doc_id, chunk_id) = 1
                    THEN 1 ELSE 0 END AS INT) AS kept
        FROM c9
    """


@register(
    "d19_chunk_dedup",
    survey="ext-dedup,ext-curation",
    doc="Paragraph/chunk-granularity exact dedup: the dedup unit drops "
        "from the document (d1) to the c9 chunk — the granularity at "
        "which boilerplate headers, license blocks and templated spans "
        "actually repeat across otherwise-distinct documents (and the "
        "granularity retrieval indexes ingest). Keep-first per content "
        "hash under the (doc_id, chunk_id) total order; every chunk "
        "reports its copy count. One shuffle on the chunk hash over "
        "c9's map-side explode — at 100 TB this is the cheapest rung "
        "of the dedup ladder and the one that usually removes the most "
        "tokens per dollar.",
    oracle=_d19_oracle(),
)
def d19_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    chunks = c9_doc_chunks(spark, sf_dir).select(
        "doc_id", "chunk_id", "chunk_hash"
    )
    wc = Window.partitionBy("chunk_hash")
    wr = Window.partitionBy("chunk_hash").orderBy("doc_id", "chunk_id")
    return chunks.select(
        "doc_id",
        "chunk_id",
        "chunk_hash",
        F.count("*").over(wc).cast("bigint").alias("n_copies"),
        (F.row_number().over(wr) == 1).cast("int").alias("kept"),
    )


# --- c15: curriculum phases by quality rank -------------------------------

_C15_PHASES = 10
_C15_BUCKETS = 32


def _c15_oracle() -> str:
    t2 = QUERY_REGISTRY["t2_quality_score"].oracle
    return f"""
        WITH t2 AS ({t2}),
        r AS (
            SELECT doc_id, quality_score,
                   ROW_NUMBER() OVER (
                       ORDER BY floor(quality_score * 10000 + 0.5),
                                doc_id) AS q_rank,
                   COUNT(*) OVER () AS n
            FROM t2
        )
        SELECT doc_id, quality_score,
               CAST(q_rank AS BIGINT) AS q_rank,
               CAST(floor(CAST((q_rank - 1) * {_C15_PHASES} AS DOUBLE) / n)
                    AS INT) AS phase
        FROM r
    """


@register(
    "c15_curriculum_phases",
    survey="ext-curation,ext-text,ext-scale",
    doc=f"Curriculum ordering: every document ranked by its t2 quality "
        f"score (composed verbatim — the audit-vs-query single-source "
        f"rule) and assigned to one of {_C15_PHASES} equal-width rank "
        "phases, the train-easy-first schedule curriculum-learning "
        "recipes consume. The global rank is the scale problem — "
        "NTILE/ROW_NUMBER over an unpartitioned ORDER BY is a "
        "one-reducer sort — so the rank IS a bucketed_prefix cumulative "
        "count over quality-range buckets (a18's two-phase machinery, "
        "second consumer): parallel local ranks, 32-row offsets, "
        "broadcast back. Quality sits on the 1e-4 lattice, so the "
        "(quantized quality, doc_id) order and the phase arithmetic "
        "are integer-exact cross-engine.",
    oracle=_c15_oracle(),
)
def c15_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.functions.prefix import (
        bucketed_prefix,
    )

    q = _dep_text.t2_quality_score(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    qm = F.floor(F.col("quality_score") * 10000 + F.lit(0.5)).cast("long")
    base = q.select("doc_id", "quality_score", qm.alias("qm"))
    lo, hi = base.agg(F.min("qm"), F.max("qm")).first()
    if lo is None:  # empty corpus
        return spark.createDataFrame(
            [], "doc_id long, quality_score double, q_rank long, phase int"
        )
    n = base.count()
    span = int(hi) - int(lo) + 1
    bucket = F.least(
        F.floor((F.col("qm") - int(lo)) * _C15_BUCKETS / span),
        F.lit(_C15_BUCKETS - 1),
    ).cast("int")
    ranked = bucketed_prefix(
        base,
        bucket,
        ["qm", "doc_id"],
        {"cnt": (F.lit(1).cast("bigint"), F.lit(0).cast("bigint"))},
        n_buckets=_C15_BUCKETS,
    )
    phase = F.floor(
        (F.col("cum_cnt") - 1).cast("double") * _C15_PHASES / n
    ).cast("int")
    return ranked.select(
        "doc_id",
        "quality_score",
        F.col("cum_cnt").cast("bigint").alias("q_rank"),
        phase.alias("phase"),
    )


# --- c16: dedup-adjusted mixture shares ------------------------------------


def _c16_oracle() -> str:
    d6 = QUERY_REGISTRY["d6_dedup_clusters"].oracle
    return f"""
        WITH d6 AS ({d6}),
        docs AS (
            SELECT doc_id, source,
                   CAST(len({tokenize_sql("text")}) AS BIGINT) AS toks
            FROM documents
        ),
        agg AS (
            SELECT d.source,
                   CAST(COUNT(*) AS BIGINT) AS raw_docs,
                   CAST(SUM(d.toks) AS BIGINT) AS raw_tokens,
                   CAST(SUM(c.is_canonical) AS BIGINT) AS dedup_docs,
                   CAST(SUM(CASE WHEN c.is_canonical = 1 THEN d.toks
                            ELSE 0 END) AS BIGINT) AS dedup_tokens
            FROM docs d JOIN d6 c ON d.doc_id = c.doc_id
            GROUP BY d.source
        ),
        tot AS (
            SELECT CAST(SUM(raw_tokens) AS BIGINT) AS tr,
                   CAST(SUM(dedup_tokens) AS BIGINT) AS td
            FROM agg
        )
        SELECT a.source, a.raw_docs, a.raw_tokens, a.dedup_docs,
               a.dedup_tokens,
               CAST(floor(CAST(a.raw_tokens AS DOUBLE) / t.tr * 10000
                          + 0.5) / 10000 AS DOUBLE) AS raw_share,
               CAST(floor(CAST(a.dedup_tokens AS DOUBLE) / t.td * 10000
                          + 0.5) / 10000 AS DOUBLE) AS dedup_share
        FROM agg a CROSS JOIN tot t
    """


@register(
    "c16_dedup_adjusted_mixture",
    survey="ext-curation,ext-dedup",
    doc="Mixture-share drift under deduplication: per-source document "
        "and token mass BEFORE dedup vs AFTER keeping only each "
        "near-dup cluster's canonical doc (d6 is_canonical) — the "
        "report a mixture designer reads before reweighting, because "
        "near-dup removal hits sources unevenly (a crawl-heavy source "
        "loses far more mass than a curated one) and c6-style target "
        "weights tuned on RAW counts silently drift after the dedup "
        "pass runs. Shares are floor(x*1e4+0.5)/1e4 lattice doubles "
        "(t2's discipline). Composes the cached d6 cluster artifact: "
        "cost on top of it is one doc_id join (corpus-keyed shuffle, "
        "AQE-broadcastable when the cluster table is small) and a "
        "#sources-row aggregate; token counts are map-side "
        "size(tokenize(text)).",
    oracle=_c16_oracle(),
)
def c16_dedup_adjusted_mixture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from real_time_data_warehouse_spark.functions.text import tokenize
    from real_time_data_warehouse_spark.tables import Tables

    t = Tables(spark, sf_dir)
    clusters = _dep_dedup.d6_dedup_clusters(spark, sf_dir).select(
        "doc_id", "is_canonical"
    )
    docs = t.documents.select(
        "doc_id",
        "source",
        F.size(tokenize("text")).cast("bigint").alias("toks"),
    )
    agg = (
        docs.join(clusters, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("raw_docs"),
            F.sum("toks").cast("bigint").alias("raw_tokens"),
            F.sum("is_canonical").cast("bigint").alias("dedup_docs"),
            F.sum(F.when(F.col("is_canonical") == 1, F.col("toks")).otherwise(0))
            .cast("bigint")
            .alias("dedup_tokens"),
        )
    )
    totals = agg.agg(
        F.sum("raw_tokens").alias("tr"), F.sum("dedup_tokens").alias("td")
    )
    share = lambda num, den: (  # noqa: E731
        F.floor(F.col(num).cast("double") / F.col(den) * 10000 + F.lit(0.5))
        / 10000
    ).cast("double")
    return agg.crossJoin(F.broadcast(totals)).select(
        "source",
        "raw_docs",
        "raw_tokens",
        "dedup_docs",
        "dedup_tokens",
        share("raw_tokens", "tr").alias("raw_share"),
        share("dedup_tokens", "td").alias("dedup_share"),
    )


# --- c18: k-anonymity audit over quasi-identifiers ------------------------

K_ANON = 5
_QI_BUCKET = 100  # n_chars coarsening step


@register(
    "c18_k_anonymity_audit",
    survey="ext-curation",
    doc=f"k-anonymity audit of the release metadata: group docs by the "
        "quasi-identifier tuple (lang, source, n_chars div "
        f"{_QI_BUCKET}) and flag equivalence classes smaller than "
        f"k = {K_ANON} — the classes where published metadata alone "
        "could re-identify a contributor, the governance sibling of "
        "the t11 PII audit and the c5 pseudonymizer (which removes "
        "direct identifiers but not quasi-identifier joins). One "
        "groupBy; the full class profile is emitted (not only "
        "violations) so the datasheet shows the anonymity "
        "distribution, and suppression/coarsening decisions can be "
        "made downstream without a second scan.",
    oracle=f"""
        SELECT lang, source,
               CAST(floor(n_chars / {_QI_BUCKET}) AS INT) AS size_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(CASE WHEN COUNT(*) < {K_ANON} THEN 1 ELSE 0 END
                    AS INT) AS is_risky
        FROM documents
        GROUP BY lang, source, CAST(floor(n_chars / {_QI_BUCKET}) AS INT)
    """,
)
def c18_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.tables import Tables

    t = Tables(spark, sf_dir)
    n = F.count("*")
    return (
        t.documents.groupBy(
            "lang",
            "source",
            F.floor(F.col("n_chars") / _QI_BUCKET)
            .cast("int")
            .alias("size_bucket"),
        )
        .agg(
            n.cast("bigint").alias("n_docs"),
            F.when(n < K_ANON, 1).otherwise(0).cast("int").alias("is_risky"),
        )
    )

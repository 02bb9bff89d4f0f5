"""Ranked retrieval + corpus n-gram statistics over `documents`
(north-star extension: the search/index side of a training-data
pipeline — find what's IN the corpus before deciding what to train on).

s6 is BM25 keyword search in inverted-index shape: tokens are filtered
to the query terms BEFORE the explode (map-side, the corpus never
shuffles at full token width), per-(doc, term) tf and per-term df each
take one partial-agg shuffle over rows already reduced to query-term
hits, the 3-row df table and the 1-row corpus stats broadcast back.
That is exactly the posting-list scan a search engine does, expressed
declaratively — at 100 TB the only wide data in flight is
|docs matching any query term| x |query terms|.

Cross-engine value discipline (the registry's contract): the only
transcendental (idf's ln) is quantized to 1e-3 before use, every other
step is IEEE-exact (divisions/multiplications of the same expression
shape evaluate bit-identically in Spark and DuckDB), and per-term
contributions are floored to integer micros so the final per-doc SUM is
associative — engine aggregation order cannot change the result.

t7 is corpus-level bigram statistics (the n-gram profile behind
contamination screens and domain mixing): explode bigrams, one
partial-agg shuffle, top-k with a deterministic (count desc, bigram asc)
tie-break — integers only, no float risk.

Reference parity: the reference's keyword pipeline tokenizes and counts
keywords per window (KeywordUDTF.java:14-21 via DwsTrafficSourceKeyword
PageViewWindow.java); s6/t7 are the corpus-retrieval generalization of
that same tokenize→explode→aggregate shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.functions.text import tokenize, tokenize_sql
from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, register
from real_time_data_warehouse_spark.tables import Tables

# Fixed query — literals shared by the Spark plan and the oracle.
_QUERY_TERMS = ("merge", "spark", "vector")
_K1 = 1.2
_K1P1 = 2.2  # k1 + 1 as ONE literal: both engines parse the same double
_B = 0.75
_TOPK = 20


def _terms_sql() -> str:
    return "(" + ", ".join(f"'{t}'" for t in _QUERY_TERMS) + ")"


@register(
    "s6_bm25_topk",
    survey="ext-text,ext-similarity,U1,A6",
    doc="BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed query-term "
        "set, inverted-index shape: filter tokens to query terms BEFORE "
        "exploding (map-side shrink), one shuffle each for per-(doc,term) "
        "tf and per-term df, df + corpus stats broadcast back, top-k via "
        "TakeOrderedAndProject. idf is ln-quantized to 1e-3 and per-term "
        "contributions floor to integer micros, so the per-doc sum is "
        "associative and engine-independent.",
    oracle=f"""
        WITH d AS (
            SELECT doc_id,
                   CAST(len({{t}}) AS BIGINT) AS dl,
                   list_filter({{t}}, x -> x IN {_terms_sql()}) AS qtoks
            FROM documents
        ),
        stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(dl) AS BIGINT) AS sum_dl
            FROM d
        ),
        tf AS (
            SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, dl, unnest(qtoks) AS term FROM d) x
            GROUP BY doc_id, dl, term
        ),
        df AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf GROUP BY term
        ),
        scored AS (
            SELECT tf.doc_id,
                   CAST(floor(
                       (floor(ln(1 + (CAST(s.n_docs AS DOUBLE) - df.df + 0.5)
                                     / (df.df + 0.5)) * 1000 + 0.5) / 1000)
                       * (tf.tf * {_K1P1})
                       / (tf.tf + {_K1} * (1 - {_B} + {_B} * tf.dl
                              / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
                       * 1000000 + 0.5) AS BIGINT) AS contrib_micro
            FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats s
        )
        SELECT doc_id,
               CAST(CAST(SUM(contrib_micro) AS DOUBLE) / 1000000
                    AS DOUBLE) AS bm25,
               CAST(COUNT(*) AS BIGINT) AS n_terms
        FROM scored
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id
        LIMIT {_TOPK}
    """.format(t=tokenize_sql("text")),
)
def s6_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    toks = tokenize("text")
    d = t.documents.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("dl"),
        # map-side shrink: only query-term hits survive to the explode
        F.filter(toks, lambda x: x.isin(*_QUERY_TERMS)).alias("qtoks"),
    )
    stats = d.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    # materialize tf ONCE: df is derived from it, and without the
    # checkpoint Catalyst re-computes the whole corpus-scan subtree for
    # each consumer (the d3 discipline — one pass over the big table)
    tf = (
        d.select("doc_id", "dl", F.explode("qtoks").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    # idf quantized to 1e-3: the single ln is the only non-IEEE-exact op
    idf_q = (
        F.floor(
            F.log(
                1
                + (F.col("n_docs").cast("double") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            )
            * 1000
            + F.lit(0.5)
        )
        / 1000
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    contrib = (
        idf_q
        * (F.col("tf") * F.lit(_K1P1))
        / (F.col("tf") + F.lit(_K1) * (1 - F.lit(_B) + F.lit(_B) * F.col("dl") / avgdl))
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(contrib * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("contrib_micro"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            (F.sum("contrib_micro").cast("double") / 1000000)
            .cast("double")
            .alias("bm25"),
            F.count("*").alias("n_terms"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_TOPK)
    )


_NGRAM_TOPK = 50


@register(
    "t7_ngram_stats",
    survey="ext-text",
    doc="Corpus-level bigram statistics: explode word-2-grams, ONE "
        "partial-agg shuffle computing occurrence count + document "
        "frequency per bigram, top-50 with deterministic "
        "(count desc, bigram asc) tie-break — the n-gram profile that "
        "feeds contamination screens and domain-mix decisions. Integers "
        "only; count_distinct(doc_id) rides the same shuffle as the "
        "count (Spark plans a two-phase distinct agg, no extra pass "
        "over the corpus).",
    oracle=f"""
        SELECT bigram,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM (
            SELECT doc_id, unnest(
                CASE WHEN len(toks) >= 2 THEN
                    list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i + 1])
                ELSE [] END) AS bigram
            FROM (SELECT doc_id, {{t}} AS toks FROM documents) b
        ) g
        GROUP BY bigram
        ORDER BY n_occurrences DESC, bigram
        LIMIT {_NGRAM_TOPK}
    """.format(t=tokenize_sql("text")),
)
def t7_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    # Pair adjacent tokens by zipping two slices of the SAME array — the
    # element_at-inside-transform form re-evaluates the tokenize
    # expression per element access (the nested-HOF pitfall documented
    # at operators/dedup.py; measured 10× slower here). The repartition
    # parallelizes past the single-row-group input split AND acts as the
    # barrier that materializes the token arrays once (t1b discipline).
    sc = t.documents.sparkSession.sparkContext
    base = (
        t.documents.select("doc_id", "text")
        .repartition(sc.defaultParallelism)
        .select("doc_id", tokenize("text").alias("toks"))
    )
    pairs = base.where(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("toks", 1, F.size("toks") - 1).alias("w1"),
                F.slice("toks", 2, F.size("toks") - 1).alias("w2"),
            )
        ).alias("p"),
    )
    g = pairs.select(
        "doc_id",
        F.concat(F.col("p.w1"), F.lit(" "), F.col("p.w2")).alias("bigram"),
    )
    return (
        g.groupBy("bigram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), "bigram")
        .limit(_NGRAM_TOPK)
    )


_RERANK_K = 10
_QUERY_VEC_ID = 0  # fixed query-intent vector for the s7 rerank stage


@register(
    "s7_hybrid_rerank",
    survey="ext-similarity,ext-text",
    doc=f"Hybrid two-stage retrieval: the s6 BM25 top-{_TOPK} shortlist "
        "is re-ranked by EXACT cosine against a fixed query-intent "
        f"vector (embeddings.vec_id = {_QUERY_VEC_ID}), top-{_RERANK_K} "
        "kept — lexical recall, semantic precision, the standard "
        "retrieve-then-rerank architecture. The expensive exact cosine "
        "touches only the |shortlist| rows (never the corpus — the whole "
        "point of the two-stage shape at 100 TB); the query vector is a "
        "1-row broadcast and the rerank window runs on the "
        f"{_TOPK}-row shortlist, so the single-partition window is "
        "trivially bounded. Ranking orders by the unrounded sim with a "
        "doc_id tie-break (the s1 discipline); sim surfaces rounded to "
        "6 places.",
    oracle=f"""
        WITH s6 AS ({QUERY_REGISTRY["s6_bm25_topk"].oracle}),
        e AS (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
        q AS (SELECT v AS qv FROM e WHERE vec_id = {_QUERY_VEC_ID}),
        scored AS (
            SELECT s6.doc_id, s6.bm25,
                   list_inner_product(q.qv, e.v) /
                       (sqrt(list_inner_product(q.qv, q.qv)) *
                        sqrt(list_inner_product(e.v, e.v))) AS sim
            FROM s6 JOIN e ON e.vec_id = s6.doc_id CROSS JOIN q
        )
        SELECT doc_id, bm25, CAST(rnk AS INT) AS rnk,
               CAST(ROUND(sim, 6) AS DOUBLE) AS sim
        FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS rnk
            FROM scored
        ) WHERE rnk <= {_RERANK_K}
    """,
)
def s7_hybrid_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from real_time_data_warehouse_spark.operators.similarity import cosine

    shortlist = s6_bm25_topk(spark, sf_dir).select(
        "doc_id", "bm25"
    )
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qv = emb.where(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("v").alias("qv")
    )
    scored = (
        shortlist.join(emb, shortlist.doc_id == emb.vec_id)
        .crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            "bm25",
            cosine(F.col("qv"), F.col("v")).alias("sim"),
        )
    )
    from real_time_data_warehouse_spark.functions.windows import (
        bounded_part_col,
        with_bounded_part,
    )

    # GLOBAL rank over the ≤top-K shortlist: partitionBy(lit(1)) gets
    # folded out by the optimizer (the warning returns) — use the
    # non-foldable constant partition (functions/windows.py). The
    # limit(_TOPK) is a semantic no-op bound witness (scored is the
    # s6 top-_TOPK shortlist inner-joined to its embeddings, ≤ _TOPK
    # rows by construction) so Catalyst's maxRows proves the window
    # input bounded for the registry-wide lint — an inner join's
    # maxRows is undefined unless BOTH sides are bounded, and the
    # embeddings side isn't.
    w = Window.partitionBy(bounded_part_col()).orderBy(
        F.col("sim").desc(), F.col("doc_id")
    )
    return (
        with_bounded_part(scored.limit(_TOPK), "doc_id")
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _RERANK_K)
        .select(
            "doc_id",
            "bm25",
            F.col("rnk").cast("int").alias("rnk"),
            F.round("sim", 6).cast("double").alias("sim"),
        )
    )


_PMI_MIN_COUNT = 5
_PMI_TOPK = 30


@register(
    "t8_pmi_bigrams",
    survey="ext-text",
    doc=f"Collocation mining: PMI-scored bigrams (count ≥ "
        f"{_PMI_MIN_COUNT}, top-{_PMI_TOPK}) — which word pairs co-occur "
        "far above chance; the phrase-detection signal tokenizer and "
        "domain-vocabulary analyses start from. Unigram and bigram "
        "counts each take one partial-agg shuffle; the bigram table then "
        "joins the unigram table on each side's word (shuffle joins — "
        "the vocabulary is NOT assumed broadcast-small at corpus scale). "
        "PMI's ln is quantized to 1e-6 (the s6 discipline) and the "
        "probability ratio is computed divisions-first so every "
        "intermediate stays in IEEE-exact range (a naive count product "
        "overflows 2^53 at large T).",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {{t}} AS toks FROM documents
        ),
        uni AS (
            SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT unnest(toks) AS tok FROM toks) u
            GROUP BY tok
        ),
        tot AS (
            SELECT CAST(SUM(c) AS BIGINT) AS t_uni FROM uni
        ),
        big AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_xy
            FROM (
                SELECT unnest(list_transform(range(1, len(toks)),
                           i -> toks[i])) AS w1,
                       unnest(list_transform(range(1, len(toks)),
                           i -> toks[i + 1])) AS w2
                FROM toks
                WHERE len(toks) >= 2
            ) p
            GROUP BY w1, w2
        ),
        btot AS (
            SELECT CAST(SUM(n_xy) AS BIGINT) AS t_big FROM big
        )
        SELECT b.w1, b.w2, b.n_xy,
               CAST(floor(ln(
                   (CAST(b.n_xy AS DOUBLE) / t.t_big)
                   / ((u1.c / CAST(s.t_uni AS DOUBLE))
                      * (u2.c / CAST(s.t_uni AS DOUBLE)))
               ) * 1000000 + 0.5) / 1000000 AS DOUBLE) AS pmi
        FROM big b
        JOIN uni u1 ON b.w1 = u1.w
        JOIN uni u2 ON b.w2 = u2.w
        CROSS JOIN tot s CROSS JOIN btot t
        WHERE b.n_xy >= {_PMI_MIN_COUNT}
        ORDER BY pmi DESC, b.w1, b.w2
        LIMIT {_PMI_TOPK}
    """.format(t=tokenize_sql("text")),
)
def t8_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    toks_col = tokenize("text")
    base = t.documents.select("doc_id", toks_col.alias("toks"))
    # materialize the token arrays once: unigrams and bigrams both
    # derive from them (the s6/d3 one-pass-over-the-corpus discipline)
    base = base.localCheckpoint(eager=True)
    uni = (
        base.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)  # consumed twice (w1 and w2 joins)
    )
    tot = uni.agg(F.sum("c").alias("t_uni"))
    pairs = base.where(F.size("toks") >= 2).select(
        F.explode(
            F.arrays_zip(
                F.slice("toks", 1, F.size("toks") - 1).alias("w1"),
                F.slice("toks", 2, F.size("toks") - 1).alias("w2"),
            )
        ).alias("p")
    )
    big = (
        pairs.select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_xy"))
        .localCheckpoint(eager=True)  # feeds btot AND the scored join
    )
    btot = big.agg(F.sum("n_xy").alias("t_big"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    ratio = (F.col("n_xy").cast("double") / F.col("t_big")) / (
        (F.col("c1") / F.col("t_uni").cast("double"))
        * (F.col("c2") / F.col("t_uni").cast("double"))
    )
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .where(F.col("n_xy") >= _PMI_MIN_COUNT)
        .select(
            "w1",
            "w2",
            "n_xy",
            (F.floor(F.log(ratio) * 1000000 + F.lit(0.5)) / 1000000)
            .cast("double")
            .alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(_PMI_TOPK)
    )


# --- s8: MMR diversified re-rank -----------------------------------------

_MMR_NQ = 10  # query vectors: vec_id < 10 (the s1 convention)
_MMR_SHORTLIST = 20
_MMR_K = 5
# λ = 0.7 ⇒ score·10 = 7·relevance − 3·max-sim-to-selected: the whole
# greedy runs in INTEGER arithmetic, so argmax ties and ordering cannot
# diverge between engines.
_MMR_REL_W = 7
_MMR_DIV_W = 3


def _ivec_sql(col: str) -> str:
    # ×1024 is a power of two: exact in IEEE doubles, so floor() lands
    # identically in both engines (the s3/s5 integer-quantization rule)
    return (
        f"list_transform({col}, x -> CAST(floor(CAST(x AS DOUBLE) * 1024) "
        "AS BIGINT))"
    )


def _idot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, 65), i -> {a}[CAST(i AS INT)] * "
        f"{b}[CAST(i AS INT)]))"
    )


def _mmr_oracle() -> str:
    head = f"""
        WITH e AS (SELECT vec_id, {_ivec_sql('embedding')} AS v
                   FROM embeddings),
        cand AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, n.v AS nv,
                   CAST({_idot_sql('q.v', 'n.v')} AS BIGINT) AS rel
            FROM e q JOIN e n ON n.vec_id <> q.vec_id
            WHERE q.vec_id < {_MMR_NQ}
        ),
        short AS (
            SELECT query_id, neighbor_id, nv, rel FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY rel DESC, neighbor_id) rn
                FROM cand
            ) WHERE rn <= {_MMR_SHORTLIST}
        ),
        pairsim AS (
            SELECT a.query_id, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
                   CAST({_idot_sql('a.nv', 'b.nv')} AS BIGINT) AS sim
            FROM short a JOIN short b
              ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
        ),
        pick1 AS (
            SELECT query_id, neighbor_id, 1 AS rnk,
                   CAST({_MMR_REL_W} * rel AS BIGINT) AS score10
            FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY {_MMR_REL_W} * rel DESC, neighbor_id) rn
                FROM short
            ) WHERE rn = 1
        ),
        chosen1 AS (SELECT * FROM pick1)"""
    steps = []
    for k in range(2, _MMR_K + 1):
        steps.append(f"""
        scored{k} AS (
            SELECT s.query_id, s.neighbor_id,
                   CAST({_MMR_REL_W} * s.rel
                        - {_MMR_DIV_W} * MAX(ps.sim) AS BIGINT) AS score10
            FROM short s
            JOIN pairsim ps
              ON ps.query_id = s.query_id AND ps.a_id = s.neighbor_id
            JOIN chosen{k - 1} c
              ON c.query_id = ps.query_id AND c.neighbor_id = ps.b_id
            WHERE s.neighbor_id NOT IN (
                SELECT cc.neighbor_id FROM chosen{k - 1} cc
                WHERE cc.query_id = s.query_id)
            GROUP BY s.query_id, s.neighbor_id, s.rel
        ),
        pick{k} AS (
            SELECT query_id, neighbor_id, {k} AS rnk, score10 FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score10 DESC, neighbor_id) rn
                FROM scored{k}
            ) WHERE rn = 1
        ),
        chosen{k} AS (
            SELECT * FROM chosen{k - 1}
            UNION ALL SELECT * FROM pick{k}
        )""")
    tail = f"""
        SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk, score10
        FROM chosen{_MMR_K}"""
    return head + "," + ",".join(steps) + tail


@register(
    "s8_mmr_rerank",
    survey="ext-similarity",
    doc=f"Maximal-marginal-relevance diversified re-rank: brute top-"
        f"{_MMR_SHORTLIST} shortlist per query by inner product, then "
        f"greedy MMR selection of {_MMR_K} (λ=0.7) trading relevance "
        "against max similarity to the already-selected set — the "
        "standard retrieval-diversification step after any ANN stage "
        "(composes with s2b/s3/s5 shortlists unchanged). Embeddings are "
        "integer-quantized (×1024, exact in IEEE) so relevance, pairwise "
        "similarity, and the greedy argmax are ALL integer arithmetic — "
        "engine-independent to the last tie. Spark side: shortlists stay "
        "distributed, the sequential greedy runs per-query-group in one "
        "applyInPandas over ≤20-row groups (state never leaves the "
        "executor); the oracle unrolls the same greedy as 5 chained "
        "CTEs.",
    oracle=_mmr_oracle(),
)
def s8_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    e = t.embeddings.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 1024).cast("bigint"),
        ).alias("v"),
    )
    q = e.where(F.col("vec_id") < _MMR_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    n = e.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"))
    rel = F.aggregate(
        F.zip_with(F.col("qv"), F.col("nv"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    cand = (
        F.broadcast(q)
        .crossJoin(n)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "nv", rel.alias("rel"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("neighbor_id")
    )
    short = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _MMR_SHORTLIST)
        .drop("rn")
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        vecs = np.stack(pdf["nv"].to_numpy()).astype(np.int64)
        rels = pdf["rel"].to_numpy(dtype=np.int64)
        ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
        sims = vecs @ vecs.T  # exact int64 pairwise dots
        chosen: list[int] = []
        out = []
        for rnk in range(1, min(_MMR_K, len(ids)) + 1):
            if chosen:
                maxsim = sims[:, chosen].max(axis=1)
            else:
                maxsim = np.zeros(len(ids), dtype=np.int64)
            score = _MMR_REL_W * rels - _MMR_DIV_W * maxsim
            avail = np.ones(len(ids), dtype=bool)
            avail[chosen] = False
            # argmax by (score desc, neighbor_id asc) among available
            order = np.lexsort((ids, -score))
            pick = next(i for i in order if avail[i])
            chosen.append(pick)
            out.append(
                (int(pdf["query_id"].iloc[0]), int(ids[pick]), rnk,
                 int(score[pick]))
            )
        return pd.DataFrame(
            out, columns=["query_id", "neighbor_id", "rnk", "score10"]
        )

    return short.groupBy("query_id").applyInPandas(
        greedy, "query_id long, neighbor_id long, rnk int, score10 long"
    )


# --- s10: kNN label-noise audit -------------------------------------------

_KNN_K = 5  # neighbors per audited vector
_KNN_SAMPLE_MOD = 10  # audit every 10th vector (vec_id % 10 == 0)


@register(
    "s10_knn_label_noise",
    survey="ext-similarity,ext-curation",
    doc=f"kNN label-noise audit (confident-learning lite): for a "
        f"deterministic 1/{_KNN_SAMPLE_MOD} sample of vectors "
        f"(vec_id % {_KNN_SAMPLE_MOD} == 0), find the exact top-"
        f"{_KNN_K} inner-product neighbors over the FULL collection "
        "(self excluded), take the majority neighbor label (ties -> "
        "smaller label), and flag disagreement with the stored label — "
        "the standard screen for mislabeled examples before training "
        "on a labeled corpus. Embeddings are integer-quantized (x1024, "
        "exact in IEEE — the s8 rule) so similarities, ranking, and "
        "the vote are ALL integer arithmetic. Shape: the anchor matrix "
        "rides to the workers (10x smaller by construction) and the "
        "collection streams through ONE vectorized numpy matmul per "
        "Arrow batch inside mapInPandas with a per-batch top-k "
        "combiner, so the single exchange carries batches x anchors x "
        "k rows, never anchors x collection — exact by design on the "
        "audit sample; the full-corpus scale path is IMPLEMENTED as "
        "s10b_knn_noise_ivf (IVF-SQ8 shortlist, no driver collect), "
        "gated by s10c.",
    oracle=f"""
        WITH e AS (SELECT vec_id, label, {_ivec_sql('embedding')} AS v
                   FROM embeddings),
        cand AS (
            SELECT q.vec_id, q.label, n.label AS nlabel,
                   CAST({_idot_sql('q.v', 'n.v')} AS BIGINT) AS sim,
                   n.vec_id AS nid
            FROM e q JOIN e n ON n.vec_id <> q.vec_id
            WHERE q.vec_id % {_KNN_SAMPLE_MOD} = 0
        ),
        knn AS (
            SELECT vec_id, label, nlabel FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY sim DESC, nid) AS rn
                FROM cand
            ) WHERE rn <= {_KNN_K}
        ),
        votes AS (
            SELECT vec_id, label, nlabel, COUNT(*) AS cnt
            FROM knn GROUP BY vec_id, label, nlabel
        )
        SELECT vec_id, CAST(label AS INT) AS label,
               CAST(nlabel AS INT) AS knn_label,
               CAST(CASE WHEN nlabel = label THEN 1 ELSE 0 END AS INT)
                   AS agree
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY cnt DESC, nlabel) AS rn
            FROM votes
        ) WHERE rn = 1
    """,
)
def s10_knn_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return knn_label_vote(t.embeddings, sample_mod=_KNN_SAMPLE_MOD, k=_KNN_K)


def _anchor_topk_candidates(
    embeddings: DataFrame,
    *,
    sample_mod: int,
    k: int,
    exclude_same_label: bool,
) -> DataFrame:
    """Shared exact-kNN kernel for s10/s11: integer-quantize, pull the
    1/sample_mod anchor matrix to the workers (same memory class as
    broadcasting it — the scale path that swaps this stage for the
    IVF-SQ8 shortlist is implemented as s10b_shortlist_knn), then
    ONE numpy matmul per Arrow batch with a per-batch
    top-k COMBINER: each batch emits at most k candidates per anchor
    (ordered by sim desc, nid asc — exact int64 arithmetic, so the
    per-batch prune is deterministic), and a final per-anchor window
    keeps the global top k. Replaces the codegen lambda-aggregate
    cross join: the same 262M multiply-adds run as one BLAS-shaped
    matmul instead of per-row expression trees, and the shuffle
    carries batches×anchors×k rows instead of anchors×collection."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.window import Window

    e = embeddings.select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 1024).cast("bigint"),
        ).alias("v"),
    )
    qrows = e.where(F.col("vec_id") % sample_mod == 0).collect()
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qlabels = np.array([r["label"] for r in qrows], dtype=np.int64)
    qmat = np.array([r["v"] for r in qrows], dtype=np.int64)
    bc = embeddings.sparkSession.sparkContext.broadcast(
        (qids, qlabels, qmat)
    )

    def batches(it):
        aqids, aqlabels, aq = bc.value
        m = len(aqids)
        for pdf in it:
            if not len(pdf) or not m:
                continue
            nids = pdf["vec_id"].to_numpy(dtype=np.int64)
            nlabels = pdf["label"].to_numpy(dtype=np.int64)
            vmat = np.array(list(pdf["v"]), dtype=np.int64)
            sims = aq @ vmat.T  # m × n, exact int64
            out = {c: [] for c in ("qid", "qlabel", "nid", "nlabel", "sim")}
            for i in range(m):
                if exclude_same_label:
                    valid = nlabels != aqlabels[i]
                else:
                    valid = nids != aqids[i]
                if not valid.any():
                    continue
                vn, vl, vs = nids[valid], nlabels[valid], sims[i][valid]
                order = np.lexsort((vn, -vs))[:k]
                out["qid"].extend([aqids[i]] * len(order))
                out["qlabel"].extend([aqlabels[i]] * len(order))
                out["nid"].extend(vn[order])
                out["nlabel"].extend(vl[order])
                out["sim"].extend(vs[order])
            yield pd.DataFrame(out)

    cand = e.mapInPandas(
        batches, "qid long, qlabel int, nid long, nlabel int, sim long"
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return cand.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= k
    )


def knn_label_vote(
    embeddings: DataFrame, *, sample_mod: int, k: int
) -> DataFrame:
    """(vec_id, embedding, label) frame → kNN majority-vote audit rows
    (the s10 body, exposed so tests can run it on planted fixtures)."""
    from pyspark.sql.window import Window

    knn = _anchor_topk_candidates(
        embeddings, sample_mod=sample_mod, k=k, exclude_same_label=False
    )
    votes = knn.groupBy("qid", "qlabel", "nlabel").agg(
        F.count("*").alias("cnt")
    )
    wv = Window.partitionBy("qid").orderBy(
        F.col("cnt").desc(), F.col("nlabel")
    )
    return (
        votes.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("qlabel").cast("int").alias("label"),
            F.col("nlabel").cast("int").alias("knn_label"),
            F.when(F.col("nlabel") == F.col("qlabel"), 1)
            .otherwise(0)
            .cast("int")
            .alias("agree"),
        )
    )


# --- s11: hard-negative mining for contrastive training -------------------

_NEG_K = 5  # hard negatives per anchor


@register(
    "s11_hard_negatives",
    survey="ext-similarity,ext-curation",
    doc=f"Hard-negative mining: for the same deterministic "
        f"1/{_KNN_SAMPLE_MOD} anchor sample as s10, the top-{_NEG_K} "
        "most-similar vectors with a DIFFERENT label — the pairs a "
        "contrastive/embedding trainer wants as in-batch negatives "
        "(high similarity, wrong class). Integer-quantized dot "
        "products (x1024) keep similarity, ranking, and ties exact in "
        "both engines. Shape: identical to s10 — one vectorized matmul "
        "per Arrow batch with a per-batch top-k combiner, no join, one "
        "exchange, WindowGroupLimit pruning. At full-corpus scale the "
        "identical ranking consumes the s10b IVF-SQ8 shortlist "
        "(implemented; s10c-gated) instead of the exact candidate set.",
    oracle=f"""
        WITH e AS (SELECT vec_id, label, {_ivec_sql('embedding')} AS v
                   FROM embeddings),
        cand AS (
            SELECT q.vec_id, q.label,
                   n.vec_id AS neighbor_id, n.label AS neg_label,
                   CAST({_idot_sql('q.v', 'n.v')} AS BIGINT) AS sim
            FROM e q JOIN e n
              ON n.vec_id <> q.vec_id AND n.label <> q.label
            WHERE q.vec_id % {_KNN_SAMPLE_MOD} = 0
        )
        SELECT vec_id, CAST(label AS INT) AS label, neighbor_id,
               CAST(neg_label AS INT) AS neg_label,
               CAST(rn AS INT) AS rnk, sim
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY sim DESC, neighbor_id) AS rn
            FROM cand
        ) WHERE rn <= {_NEG_K}
    """,
)
def s11_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return hard_negative_pairs(
        t.embeddings, sample_mod=_KNN_SAMPLE_MOD, k=_NEG_K
    )


def hard_negative_pairs(
    embeddings: DataFrame, *, sample_mod: int, k: int
) -> DataFrame:
    """(vec_id, embedding, label) frame → top-k different-label
    neighbors per sampled anchor (the s11 body, exposed for planted
    fixtures)."""
    top = _anchor_topk_candidates(
        embeddings, sample_mod=sample_mod, k=k, exclude_same_label=True
    )
    return top.select(
        F.col("qid").alias("vec_id"),
        F.col("qlabel").cast("int").alias("label"),
        F.col("nid").alias("neighbor_id"),
        F.col("nlabel").cast("int").alias("neg_label"),
        F.col("rn").cast("int").alias("rnk"),
        "sim",
    )


# --- s13: reciprocal-rank fusion ------------------------------------------

_RRF_K = 60  # the standard RRF dampening constant
_RRF_LIST = 20  # per-modality candidate list length
_RRF_OUT = 10


@register(
    "s13_rrf_fusion",
    survey="ext-similarity,ext-text",
    doc=f"Reciprocal-rank fusion of the lexical and dense retrieval "
        f"lists: BM25 top-{_RRF_LIST} (s6) and exact-cosine "
        f"top-{_RRF_LIST} against the fixed query-intent vector, fused "
        f"by Σ 1/({_RRF_K}+rank) over the lists each doc appears in — "
        "the score-free fusion that needs NO cross-modality score "
        "calibration (the practical reason RRF beats weighted sums "
        "when BM25 and cosine live on unrelated scales; s7 is the "
        "score-rerank alternative). Ranks are integers, each RRF term "
        "is one IEEE division, and the two-term sum is a fixed "
        "expression — engine-exact without quantization. Cost: both "
        "lists are top-K TakeOrdered pulls; the fusion joins two "
        f"{_RRF_LIST}-row frames.",
    oracle=f"""
        WITH s6 AS ({QUERY_REGISTRY["s6_bm25_topk"].oracle}),
        lex AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
                        AS INT) AS r_lex
            FROM s6
        ),
        e AS (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
        q AS (SELECT v AS qv FROM e WHERE vec_id = {_QUERY_VEC_ID}),
        den AS (
            SELECT doc_id, CAST(rn AS INT) AS r_den FROM (
                SELECT e.vec_id AS doc_id,
                       ROW_NUMBER() OVER (
                           ORDER BY list_inner_product(q.qv, e.v) /
                               (sqrt(list_inner_product(q.qv, q.qv)) *
                                sqrt(list_inner_product(e.v, e.v))) DESC,
                           e.vec_id) AS rn
                FROM e CROSS JOIN q
                WHERE e.vec_id <> {_QUERY_VEC_ID})
            WHERE rn <= {_RRF_LIST}
        ),
        fused AS (
            SELECT COALESCE(lex.doc_id, den.doc_id) AS doc_id,
                   lex.r_lex, den.r_den,
                   COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + lex.r_lex), 0.0)
                   + COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + den.r_den),
                              0.0) AS rrf_raw
            FROM lex FULL OUTER JOIN den ON lex.doc_id = den.doc_id
        )
        SELECT doc_id, CAST(rnk AS INT) AS rnk,
               CAST(floor(rrf_raw * 1000000 + 0.5) / 1000000 AS DOUBLE)
                   AS rrf,
               CAST(r_lex AS INT) AS r_lex,
               CAST(r_den AS INT) AS r_den
        FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_raw DESC, doc_id)
                       AS rnk
            FROM fused
        ) WHERE rnk <= {_RRF_OUT}
    """,
)
def s13_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from real_time_data_warehouse_spark.operators.similarity import cosine

    from real_time_data_warehouse_spark.functions.windows import (
        bounded_part_col,
        with_bounded_part,
    )

    # the three GLOBAL-ordering windows below are ON PURPOSE: each
    # ranks a ≤top-K frame (s6's TakeOrdered list, the dense
    # top-_RRF_LIST pull, and their ≤2K-row fusion) — the Limits below
    # them are the bound, verified structurally by the registry-wide
    # global-window lint in test_plan_lint.py. Each spec partitions by
    # the with_bounded_part constant (one partition, same execution)
    # so WindowExec stays quiet; the lint still treats the reserved
    # column as a global spec (functions/windows.py).
    w1 = Window.partitionBy(bounded_part_col()).orderBy(
        F.col("bm25").desc(), "doc_id"
    )
    lex = (
        with_bounded_part(
            s6_bm25_topk(spark, sf_dir).select("doc_id", "bm25"), "doc_id"
        )
        .withColumn("r_lex", F.row_number().over(w1).cast("int"))
        .drop("__bounded_part")
    )
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    from real_time_data_warehouse_spark.operators.similarity import dot

    qv = emb.where(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("v").alias("qv"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("qn"),
    )
    # norms precomputed per row (s1 discipline): the corpus scan pays
    # two array folds per row instead of three, same doubles
    scored = (
        emb.where(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            (
                dot(F.col("qv"), F.col("v"))
                / (F.col("qn") * F.sqrt(dot(F.col("v"), F.col("v"))))
            ).alias("sim"),
        )
    )
    topd = with_bounded_part(
        scored.orderBy(F.col("sim").desc(), "doc_id").limit(_RRF_LIST),
        "doc_id",
    )
    w2 = Window.partitionBy(bounded_part_col()).orderBy(
        F.col("sim").desc(), "doc_id"
    )
    den = topd.withColumn("r_den", F.row_number().over(w2).cast("int"))
    fused = lex.select("doc_id", "r_lex").join(
        den.select("doc_id", "r_den"), "doc_id", "full"
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_lex")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_den")), F.lit(0.0)
    )
    w3 = Window.partitionBy(bounded_part_col()).orderBy(
        F.col("rrf_raw").desc(), "doc_id"
    )
    return (
        with_bounded_part(fused, "doc_id").withColumn("rrf_raw", rrf)
        .withColumn("rnk", F.row_number().over(w3).cast("int"))
        .where(F.col("rnk") <= _RRF_OUT)
        .select(
            "doc_id",
            "rnk",
            (F.floor(F.col("rrf_raw") * 1000000 + F.lit(0.5)) / 1000000)
            .cast("double")
            .alias("rrf"),
            F.col("r_lex").cast("int").alias("r_lex"),
            F.col("r_den").cast("int").alias("r_den"),
        )
    )

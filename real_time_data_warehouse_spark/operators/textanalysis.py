"""Text-analysis operators over `documents` (north-star extension):
language-ID, quality scoring, token counting, document fingerprinting.
All pure Catalyst expressions (regex/array built-ins inside codegen).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.functions.text import (
    md5_hash,
    md5_hash_sql,
    tokenize,
    tokenize_sql,
)
from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, register
from real_time_data_warehouse_spark.tables import Tables

# Marker lexicon — the single source of truth for t1: both the Spark hits
# and the oracle SQL are generated from it (t1b's char-trigram profiles are
# the heuristic proper; this is the word-marker variant).
_MARKER_WORDS = {
    "en": ("the", "a", "and"),
    "de": ("der", "und"),
    "es": ("el", "la"),
}


def _markers_sql(lang: str) -> str:
    return "(" + ", ".join(f"'{w}'" for w in _MARKER_WORDS[lang]) + ")"

_STOPWORDS = ("the", "a", "and", "of", "to", "in")


@register(
    "t1_lang_id",
    survey="ext-text",
    doc="Language-ID heuristic: marker-word voting over the token stream "
        "(argmax language by marker hits, deterministic 'und' fallback).",
    oracle="""
        WITH toks AS (
            SELECT doc_id, lang,
                   len(list_filter({t}, x -> x IN {en})) AS en_hits,
                   len(list_filter({t}, x -> x IN {de})) AS de_hits,
                   len(list_filter({t}, x -> x IN {es})) AS es_hits
            FROM documents
        )
        SELECT doc_id, lang AS labeled_lang,
               CASE
                 WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
                 WHEN de_hits >= es_hits AND de_hits > 0 THEN 'de'
                 WHEN es_hits > 0 THEN 'es'
                 ELSE 'und' END AS predicted_lang
        FROM toks
    """.format(t=tokenize_sql("text"), en=_markers_sql("en"),
               de=_markers_sql("de"), es=_markers_sql("es")),
)
def t1_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.documents.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        predicted_lang_col().alias("predicted_lang"),
    )


def predicted_lang_col() -> F.Column:
    """Marker-word language vote over a `text` column — reused by the t1
    query and the streaming curation pipeline (identical predictions by
    construction)."""
    toks = tokenize("text")

    def hits(words: tuple[str, ...]) -> F.Column:
        return F.size(F.filter(toks, lambda x: x.isin(*words)))

    en, de, es = (hits(_MARKER_WORDS[lang]) for lang in ("en", "de", "es"))
    return (
        F.when((en >= de) & (en >= es) & (en > 0), "en")
        .when((de >= es) & (de > 0), "de")
        .when(es > 0, "es")
        .otherwise("und")
    )


@register(
    "t2_quality_score",
    survey="ext-text",
    doc="Quality scoring: length, token count, mean token length, stopword "
        "ratio, alpha ratio → composite score (decimal-rounded for a "
        "stable cross-engine value).",
    oracle="""
        WITH m AS (
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars_m,
                   CAST(len({t}) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter({t}, x -> x IN {sw})) AS BIGINT) AS n_stop,
                   CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                        AS BIGINT) AS n_alpha
            FROM documents
        )
        SELECT doc_id, n_chars_m, n_tokens,
               -- floor(x*1e4 + 0.5)/1e4: engine-independent rounding (plain
               -- ROUND diverges at repr boundaries — Spark rounds the
               -- decimal repr, DuckDB the binary value)
               CAST(floor(CAST(n_stop AS DOUBLE) / NULLIF(n_tokens, 0) * 10000 + 0.5) / 10000
                    AS DOUBLE) AS stopword_ratio,
               CAST(floor(CAST(n_alpha AS DOUBLE) / NULLIF(n_chars_m, 0) * 10000 + 0.5) / 10000
                    AS DOUBLE) AS alpha_ratio,
               CAST(floor((
                   0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 100, 1.0)
                 + 0.3 * (CAST(n_stop AS DOUBLE) / NULLIF(n_tokens, 0))
                 + 0.3 * (CAST(n_alpha AS DOUBLE) / NULLIF(n_chars_m, 0))) * 10000 + 0.5) / 10000
                    AS DOUBLE) AS quality_score
        FROM m
    """.format(t=tokenize_sql("text"), sw=str(_STOPWORDS)),
)
def t2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return quality_frame(t.documents)


def quality_frame(docs: DataFrame) -> DataFrame:
    """t2's quality metrics over any (doc_id, text) frame — shared with
    the streaming curation pipeline."""
    toks = tokenize("text")
    n_tokens = F.size(toks).cast("bigint")
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS))).cast("bigint")
    n_chars = F.length("text").cast("bigint")
    n_alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("bigint")
    stop_ratio = n_stop.cast("double") / F.nullif(n_tokens, F.lit(0))
    alpha_ratio = n_alpha.cast("double") / F.nullif(n_chars, F.lit(0))
    score = (
        0.4 * F.least(n_tokens.cast("double") / 100, F.lit(1.0))
        + 0.3 * stop_ratio
        + 0.3 * alpha_ratio
    )
    def r4(c):
        # engine-independent round-to-4: floor on the binary double, which
        # Spark and DuckDB evaluate identically (F.round goes through the
        # decimal string repr and can differ at boundaries)
        return (F.floor(c * 10000 + F.lit(0.5)) / 10000).cast("double")

    return docs.select(
        "doc_id",
        n_chars.alias("n_chars_m"),
        n_tokens.alias("n_tokens"),
        r4(stop_ratio).alias("stopword_ratio"),
        r4(alpha_ratio).alias("alpha_ratio"),
        r4(score).alias("quality_score"),
    )


@register(
    "t3_token_count",
    survey="ext-text",
    doc="Token counting: whitespace tokens + a BPE-ish regex token count "
        "(word pieces / digits / punctuation as separate tokens).",
    oracle=r"""
        SELECT doc_id,
               CAST(len({t}) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(lower(text),
                    '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpeish_tokens
        FROM documents
    """.format(t=tokenize_sql("text")),
)
def t3_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.documents.select(
        "doc_id",
        F.size(tokenize("text")).cast("bigint").alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(
                F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0
            )
        )
        .cast("bigint")
        .alias("bpeish_tokens"),
    )


@register(
    "t4_fingerprint",
    survey="ext-text,ext-dedup",
    doc="Document fingerprinting: 60-bit content hash (md5 prefix, native "
        "in both engines) over the normalized token stream; fingerprint "
        "collisions = exact near-dup clusters (content-defined identity, "
        "whitespace/punct-insensitive).",
    oracle="""
        SELECT doc_id,
               {h} AS fingerprint,
               CAST(COUNT(*) OVER (PARTITION BY {h}) AS BIGINT) AS cluster_size
        FROM (SELECT doc_id, array_to_string({t}, ' ') AS norm FROM documents) n
    """.format(h=md5_hash_sql("norm", bits=60), t=tokenize_sql("text")),
)
def t4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    norm = t.documents.select(
        "doc_id", F.array_join(tokenize("text"), " ").alias("norm")
    )
    fp = norm.withColumn("fingerprint", md5_hash("norm", bits=60))
    return fp.select(
        "doc_id",
        "fingerprint",
        F.count("*").over(Window.partitionBy("fingerprint")).alias("cluster_size"),
    )


# Char-trigram profiles (public-knowledge frequency lists, ASCII only).
# Deterministic literals shared by the Spark plan and the oracle.
_TRIGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "he ", " th", "ing", "and", "nd ", " an", "ed ", " to", "er "),
    "de": ("der", "ein", "sch", "ich", "nde", "die", "che", "en ", "und", "ge "),
    "es": ("de ", " de", "la ", " la", "que", "ue ", "os ", "ión", "ent", " en"),
}


def _doc_trigrams(col):
    """Distinct char trigrams of the normalized (token-joined) text."""
    norm = F.concat(F.lit(" "), F.array_join(tokenize(col), " "), F.lit(" "))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(norm) - 2),
            lambda i: norm.substr(i, F.lit(3)),
        )
    )


@register(
    "t1b_trigram_langid",
    survey="ext-text",
    doc="Language-ID via char-trigram profile overlap (the n-gram "
        "heuristic proper): distinct trigrams of the normalized text "
        "scored against fixed per-language profiles; argmax with "
        "deterministic tie order en>de>es.",
    oracle="""
        WITH tg AS (
            SELECT doc_id, lang,
                   list_distinct(list_transform(
                       range(1, length(norm) - 1),
                       i -> substr(norm, i, 3))) AS tgs
            FROM (SELECT doc_id, lang,
                         ' ' || array_to_string(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> length(t) > 0), ' ') || ' ' AS norm
                  FROM documents) n
        )
        SELECT doc_id, lang AS labeled_lang,
               CASE
                 WHEN en >= de AND en >= es THEN 'en'
                 WHEN de >= es THEN 'de'
                 ELSE 'es' END AS predicted_lang,
               CAST(en AS INT) AS en_hits,
               CAST(de AS INT) AS de_hits,
               CAST(es AS INT) AS es_hits
        FROM (
            SELECT doc_id, lang,
                   len(list_intersect(tgs, ['the', 'he ', ' th', 'ing', 'and', 'nd ', ' an', 'ed ', ' to', 'er '])) AS en,
                   len(list_intersect(tgs, ['der', 'ein', 'sch', 'ich', 'nde', 'die', 'che', 'en ', 'und', 'ge '])) AS de,
                   len(list_intersect(tgs, ['de ', ' de', 'la ', ' la', 'que', 'ue ', 'os ', 'ión', 'ent', ' en'])) AS es
            FROM tg
        ) scored
    """,
)
def t1b_trigram_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    # Materialize the trigram array ONCE behind an exchange: the scoring
    # projection references it 3× (and the argmax CASE references each
    # score again), and project-collapse would otherwise inline the
    # interpreted trigram transform into every use. The repartition also
    # parallelizes the per-char work past a single-row-group input split.
    sc = t.documents.sparkSession.sparkContext
    tg = (
        t.documents.select("doc_id", "lang", "text")
        .repartition(sc.defaultParallelism)
        .select("doc_id", "lang", _doc_trigrams("text").alias("tgs"))
    )

    def hits(lang: str):
        profile = F.array(*[F.lit(x) for x in _TRIGRAM_PROFILES[lang]])
        return F.size(F.array_intersect("tgs", profile))

    scored = tg.select(
        "doc_id",
        "lang",
        hits("en").alias("en"),
        hits("de").alias("de"),
        hits("es").alias("es"),
    )
    en, de, es = F.col("en"), F.col("de"), F.col("es")
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.when((en >= de) & (en >= es), "en")
        .when(de >= es, "de")
        .otherwise("es")
        .alias("predicted_lang"),
        en.cast("int").alias("en_hits"),
        de.cast("int").alias("de_hits"),
        es.cast("int").alias("es_hits"),
    )


@register(
    "t5_normalize",
    survey="ext-text",
    doc="Canonical text normalization — the first transform of every "
        "ingest pipeline: lowercase, collapse whitespace runs, trim. "
        "The fixture text is already canonical, so deterministic dirt is "
        "planted first (doc_id % 7 → uppercased + padded) and the "
        "normalizer must erase exactly it: norm_hash of a dirtied doc "
        "equals md5(lower(text)) of the clean one — the key exact dedup "
        "and the ingestion gate hash on (normalize BEFORE hashing is what "
        "makes 'same doc modulo whitespace/case' one cluster). Map-side "
        "codegen only.",
    oracle="""
        SELECT doc_id,
               CAST(length(dirty) AS BIGINT) AS n_raw,
               CAST(length(norm) AS BIGINT) AS n_norm,
               CAST(CASE WHEN norm <> dirty THEN 1 ELSE 0 END AS INT)
                   AS changed,
               md5(norm) AS norm_hash
        FROM (
            SELECT doc_id, dirty,
                   trim(regexp_replace(lower(dirty), '\\s+', ' ', 'g')) AS norm
            FROM (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                            THEN concat('  ', upper(text), '  ')
                            ELSE text END AS dirty
                FROM documents
            ) d
        ) n
    """,
)
def t5_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    dirty = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.lit("  "), F.upper("text"), F.lit("  ")),
    ).otherwise(F.col("text"))
    base = t.documents.select("doc_id", dirty.alias("dirty"))
    norm = F.trim(F.regexp_replace(F.lower("dirty"), r"\s+", " "))
    return base.select(
        "doc_id",
        F.length("dirty").cast("bigint").alias("n_raw"),
        F.length(norm).cast("bigint").alias("n_norm"),
        (norm != F.col("dirty")).cast("int").alias("changed"),
        F.md5(norm).alias("norm_hash"),
    )


@register(
    "t6_repetition",
    survey="ext-text",
    doc="Within-document repetition ratio — the Gopher/C4-class quality "
        "signal exact dedup can't see: fraction of a doc's word-3-grams "
        "that are repeats of an earlier 3-gram in the SAME doc "
        "(1 − distinct/total). Degenerate looping text scores high and "
        "gets filtered before training. Pure map-side array arithmetic "
        "(no shuffle at all); docs under 3 tokens emit NULL rather than "
        "a fake 0 — unratable is not 'not repetitive'. Rounding uses the "
        "engine-independent floor(x·10⁴+0.5)/10⁴ form (t2's discipline).",
    oracle=f"""
        SELECT doc_id,
               CAST(n_grams AS BIGINT) AS n_grams,
               CAST(n_distinct AS BIGINT) AS n_distinct,
               CAST(CASE WHEN n_grams > 0 THEN
                        floor((1.0 - CAST(n_distinct AS DOUBLE) / n_grams)
                              * 10000 + 0.5) / 10000
                    END AS DOUBLE) AS rep_ratio
        FROM (
            SELECT doc_id,
                   len(shs) AS n_grams,
                   len(list_distinct(shs)) AS n_distinct
            FROM (
                SELECT doc_id,
                       CASE WHEN len(toks) >= 3 THEN
                           list_transform(range(1, len(toks) - 1),
                               i -> array_to_string(toks[i:i+2], ' '))
                       ELSE [] END AS shs
                FROM (SELECT doc_id, {tokenize_sql("text")} AS toks FROM documents) b
            ) s
        ) c
    """,
)
def t6_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    toks = tokenize("text")
    shs = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.array_join(F.slice(toks, i + 1, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = t.documents.select(
        "doc_id",
        F.size(shs).alias("n_grams"),
        F.size(F.array_distinct(shs)).alias("n_distinct"),
    )
    ratio = 1.0 - F.col("n_distinct").cast("double") / F.col("n_grams")
    return base.select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        F.when(
            F.col("n_grams") > 0,
            (F.floor(ratio * 10000 + F.lit(0.5)) / 10000).cast("double"),
        ).alias("rep_ratio"),
    )


@register(
    "t9_unigram_surprisal",
    survey="ext-text",
    doc="Unigram-LM surprisal score (the perplexity-proxy quality "
        "signal, KenLM's 1-gram degenerate case): train unigram "
        "probabilities on the corpus itself, score each doc by its mean "
        "token surprisal -ln p(w) — low = boilerplate/repetitive, "
        "high = rare-token soup; both tails get reviewed before "
        "training. Exactness: per-VOCAB-WORD surprisal is ln-quantized "
        "to integer micros once (the s6 idf discipline), docs sum "
        "tf-weighted integer micros (associative), one final division. "
        "Per-(doc,word) tf collapses map-side before the vocab join, "
        "and the vocab join is a plain shuffle join — vocabulary is "
        "not broadcast-small at corpus scale (t8's argument).",
    oracle="""
        WITH tf AS (
            SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest({t}) AS w FROM documents) x
            GROUP BY doc_id, w
        ),
        uni AS (
            SELECT w, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY w
        ),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t_uni FROM uni),
        surp AS (
            SELECT u.w,
                   CAST(floor(ln(CAST(t.t_uni AS DOUBLE) / u.c)
                        * 1000000 + 0.5) AS BIGINT) AS s_micro
            FROM uni u CROSS JOIN tot t
        )
        SELECT tf.doc_id,
               CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
               CAST(CAST(SUM(tf.tf * s.s_micro) AS DOUBLE)
                    / SUM(tf.tf) / 1000000 AS DOUBLE) AS mean_surprisal
        FROM tf JOIN surp s ON tf.w = s.w
        GROUP BY tf.doc_id
    """.format(t=tokenize_sql("text")),
)
def t9_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    # per-(doc, word) tf — collapses the corpus map-side before anything
    # joins; materialized once because uni derives from it (one corpus
    # pass, the s6/d3 discipline)
    tf = (
        t.documents.select("doc_id", F.explode(tokenize("text")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    uni = tf.groupBy("w").agg(F.sum("tf").alias("c"))
    tot = uni.agg(F.sum("c").alias("t_uni"))
    surp = uni.crossJoin(F.broadcast(tot)).select(
        "w",
        F.floor(
            F.log(F.col("t_uni").cast("double") / F.col("c")) * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("s_micro"),
    )
    return (
        tf.join(surp, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            (
                F.sum(F.col("tf") * F.col("s_micro")).cast("double")
                / F.sum("tf")
                / 1000000
            )
            .cast("double")
            .alias("mean_surprisal"),
        )
    )


@register(
    "t10_gopher_rules",
    survey="ext-text",
    doc="Gopher-style quality-rule audit (Rae et al. 2021 §A1.1, public):"
        " per-document booleans for word-count bounds, mean-word-length "
        "bounds, alpha-word ratio, symbol-to-word ratio, and minimum "
        "stopword evidence, plus the conjunctive keep flag. Thresholds "
        "are corpus-calibrated so both branches of every discriminating "
        "rule fire on the fixture. All rule comparisons are EXACT "
        "integer cross-multiplications (38·n ≤ 10·Σlen, not "
        "Σlen/n ≥ 3.8) so the booleans cannot diverge between engines "
        "at a float boundary; the reported mean_word_len double uses "
        "the t2 floor(x·10⁴+0.5)/10⁴ discipline. Pure map-side "
        "Catalyst — zero shuffles at any scale.",
    oracle="""
        WITH m AS (
            SELECT doc_id, text, {t} AS toks FROM documents
        ),
        s AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_words,
                   CAST(list_sum(list_transform(toks, x -> length(x)))
                        AS BIGINT) AS sum_len,
                   CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                        AS BIGINT) AS n_alpha_words,
                   CAST(len(list_filter(toks, x -> x IN {sw}))
                        AS BIGINT) AS n_stop,
                   CAST(length(text) - length(replace(text, '#', ''))
                        + (length(text) - length(replace(text, '...', ''))) / 3
                        AS BIGINT) AS n_symbol
            FROM m
        )
        SELECT doc_id, n_words,
               CAST(CASE WHEN n_words > 0 THEN
                    floor(CAST(sum_len AS DOUBLE) / n_words * 10000 + 0.5)
                    / 10000 END AS DOUBLE) AS mean_word_len,
               (n_words BETWEEN 20 AND 80) AS rule_word_count,
               (38 * n_words <= 10 * sum_len
                AND 10 * sum_len <= 48 * n_words) AS rule_mean_word_len,
               (10 * n_alpha_words >= 8 * n_words) AS rule_alpha_words,
               (10 * n_symbol <= n_words) AS rule_symbol_ratio,
               (n_stop >= 2) AS rule_stopwords,
               ((n_words BETWEEN 20 AND 80)
                AND 38 * n_words <= 10 * sum_len
                AND 10 * sum_len <= 48 * n_words
                AND 10 * n_alpha_words >= 8 * n_words
                AND 10 * n_symbol <= n_words
                AND n_stop >= 2) AS keep
        FROM s
    """.format(t=tokenize_sql("text"), sw=str(_STOPWORDS)),
)
def t10_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    toks = tokenize("text")
    s = t.documents.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        F.aggregate(
            F.transform(toks, F.length),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("sum_len"),
        F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
        .cast("bigint")
        .alias("n_alpha_words"),
        F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS)))
        .cast("bigint")
        .alias("n_stop"),
        (
            F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
            + (F.length("text")
               - F.length(F.replace(F.col("text"), F.lit("...")))) / 3
        )
        .cast("bigint")
        .alias("n_symbol"),
    )
    n, sl = F.col("n_words"), F.col("sum_len")
    r_wc = (n >= 20) & (n <= 80)
    r_mwl = (38 * n <= 10 * sl) & (10 * sl <= 48 * n)
    r_alpha = 10 * F.col("n_alpha_words") >= 8 * n
    r_sym = 10 * F.col("n_symbol") <= n
    r_stop = F.col("n_stop") >= 2
    return s.select(
        "doc_id",
        "n_words",
        F.when(
            n > 0, F.floor(sl.cast("double") / n * 10000 + F.lit(0.5)) / 10000
        )
        .cast("double")
        .alias("mean_word_len"),
        r_wc.alias("rule_word_count"),
        r_mwl.alias("rule_mean_word_len"),
        r_alpha.alias("rule_alpha_words"),
        r_sym.alias("rule_symbol_ratio"),
        r_stop.alias("rule_stopwords"),
        (r_wc & r_mwl & r_alpha & r_sym & r_stop).alias("keep"),
    )


# --- t11: PII audit + redaction -------------------------------------------

# Patterns kept to the RE2 ∩ Java-regex common subset (no lookaround,
# no backreferences) so Spark and DuckDB match identically.
_PII_PATTERNS = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"),
    # card/account-length digit runs (13-19); Luhn validation is a
    # downstream refinement — the audit flags the candidate surface
    ("idnum", r"\b\d{13,19}\b"),
)


@register(
    "t11_pii_audit",
    survey="ext-text,ext-curation",
    doc="PII audit + redaction (the pre-training scrub pass every "
        "public pipeline ships — emails, IPv4s, phone numbers, "
        "card-length digit runs): per-doc match counts per class on "
        "the raw text, plus redacted text with each class replaced by "
        "a typed tag in a fixed class order (email→ip→phone→idnum, "
        "left-to-right non-overlapping within a class — identical "
        "semantics in Java regex and RE2 because the patterns avoid "
        "lookaround/backreferences). Complements c5 (which "
        "pseudonymizes structured keys): this scrubs free text. Pure "
        "map-side codegen — zero shuffles at any scale. The synthetic "
        "fixture is PII-free, so the driver row pins the no-op path "
        "exactly; the planted-corpus pytest pins the positive path.",
    oracle=f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                    '{_PII_PATTERNS[0][1]}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(text,
                    '{_PII_PATTERNS[1][1]}')) AS BIGINT) AS n_ipv4,
               CAST(len(regexp_extract_all(text,
                    '{_PII_PATTERNS[2][1]}')) AS BIGINT) AS n_phone,
               CAST(len(regexp_extract_all(text,
                    '{_PII_PATTERNS[3][1]}')) AS BIGINT) AS n_idnum,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                   text,
                   '{_PII_PATTERNS[0][1]}', '<email>', 'g'),
                   '{_PII_PATTERNS[1][1]}', '<ip>', 'g'),
                   '{_PII_PATTERNS[2][1]}', '<phone>', 'g'),
                   '{_PII_PATTERNS[3][1]}', '<idnum>', 'g') AS redacted
        FROM documents
    """,
)
def t11_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return pii_audit(t.documents)


def pii_audit(documents: DataFrame) -> DataFrame:
    """(doc_id, text) frame → per-doc PII counts + redacted text (the
    t11 body, exposed so tests can run it on planted corpora)."""
    # idx=0 (the full match) must be explicit: Spark defaults to group 1
    # and raises AT MATCH TIME on group-free patterns — the PII-free
    # fixture would mask that, the planted tests don't
    counts = [
        F.size(F.regexp_extract_all("text", F.lit(pat), 0))
        .cast("bigint")
        .alias(f"n_{name}")
        for name, pat in _PII_PATTERNS
    ]
    red = F.col("text")
    for name, pat in _PII_PATTERNS:
        red = F.regexp_replace(red, pat, f"<{name if name != 'ipv4' else 'ip'}>")
    return documents.select("doc_id", *counts, red.alias("redacted"))


# --- t12: character-entropy quality signal --------------------------------

_ENT_QUANT = 1 << 20  # ln-lattice quantization (t9's discipline)
_LN2 = 0.6931471805599453  # literal on BOTH sides — never engine ln(2)


@register(
    "t12_char_entropy",
    survey="ext-text",
    doc="Character-level Shannon entropy per document — the classic "
        "gibberish/boilerplate quality signal (low = one repeated "
        "char/compression bomb, high = random bytes; natural text sits "
        "in a band). Exactness: H = ln N − (Σ nᵢ·ln nᵢ)/N is computed "
        "on an INTEGER ln-lattice — ln of each small-integer count is "
        "quantized floor(ln(k)·2²⁰+0.5) (a bigint both engines agree "
        "on for the whole count domain; pinned by a lattice pytest), "
        "so the Σ nᵢ·Q(ln nᵢ) partial is an exact bigint sum — "
        "order-independent, mergeable, safe under Spark's partial "
        "aggregation — and the final nats→bits division uses a literal "
        "ln 2. Two shuffles: (doc,char) count, then per-doc fold; both "
        "combine map-side. Chars via regexp_extract_all('[\\s\\S]') — "
        "identical RE2∩Java tokenization.",
    oracle=f"""
        WITH ch AS (
            SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (SELECT doc_id,
                         unnest(regexp_extract_all(text, '[\\s\\S]')) AS c
                  FROM documents)
            GROUP BY doc_id, c
        ),
        agg AS (
            SELECT doc_id,
                   CAST(SUM(cnt) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS u,
                   CAST(SUM(cnt * CAST(floor(ln(CAST(cnt AS DOUBLE))
                                 * {_ENT_QUANT} + 0.5) AS BIGINT))
                        AS BIGINT) AS s
            FROM ch GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(a.n, 0) AS n_chars,
               COALESCE(a.u, 0) AS n_unique_chars,
               CAST(CASE WHEN COALESCE(a.n, 0) = 0 THEN 0.0 ELSE
                   floor(((floor(ln(CAST(a.n AS DOUBLE)) * {_ENT_QUANT}
                                 + 0.5) / {_ENT_QUANT}.0
                           - CAST(a.s AS DOUBLE)
                             / (CAST(a.n AS DOUBLE) * {_ENT_QUANT}.0))
                          / {_LN2}) * 10000 + 0.5) / 10000
               END AS DOUBLE) AS char_entropy
        FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """,
)
def t12_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return char_entropy_frame(t.documents)


def char_entropy_frame(documents: DataFrame) -> DataFrame:
    """(doc_id, text) frame → per-doc char entropy (the t12 body,
    exposed so tests can run it on planted corpora)."""
    docs = documents.select("doc_id", "text")
    ch = (
        docs.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all("text", F.lit(r"[\s\S]"), 0)
            ).alias("c"),
        )
        .groupBy("doc_id", "c")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    qln = lambda col: F.floor(  # noqa: E731
        F.log(col.cast("double")) * _ENT_QUANT + F.lit(0.5)
    ).cast("bigint")
    agg = ch.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("u"),
        F.sum(F.col("cnt") * qln(F.col("cnt"))).cast("bigint").alias("s"),
    )
    h_nats = (
        qln(F.col("n")).cast("double") / _ENT_QUANT
        - F.col("s").cast("double")
        / (F.col("n").cast("double") * float(_ENT_QUANT))
    )
    ent = F.when(F.coalesce("n", F.lit(0)) == 0, F.lit(0.0)).otherwise(
        F.floor((h_nats / _LN2) * 10000 + F.lit(0.5)) / 10000
    )
    return docs.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_chars"),
        F.coalesce("u", F.lit(0)).cast("bigint").alias("n_unique_chars"),
        ent.cast("double").alias("char_entropy"),
    )


# --- t13: Zipf rank-frequency slope ---------------------------------------

_ZIPF_K = 1000  # vocabulary head the law is fit on
_ZIPF_QUANT = 1 << 16  # ln-lattice: qx·qy sums stay < 2^53 at K=1000


@register(
    "t13_zipf_slope",
    survey="ext-text,ext-curation",
    doc=f"Corpus-level Zipf audit: OLS slope/intercept of ln(freq) vs "
        f"ln(rank) over the top-{_ZIPF_K} vocabulary head — natural "
        "corpora sit near slope −1; template/boilerplate corpora and "
        "synthetic spam bend the curve, so the slope is a one-number "
        "drift alarm for an ingest pipeline. Exactness: ranks and "
        f"frequencies go through the floor(ln k·2¹⁶+0.5) integer "
        "lattice (parity pinned 1..10⁶ by pytest), every OLS moment "
        "(Σx, Σy, Σx², Σxy) is an exact bigint sum — mergeable "
        "map-side partials, n·Σxy bounded < 2^60 — and the final "
        "slope/intercept are a fixed IEEE op sequence on exact "
        "integers. Scale: one token-count shuffle + a top-K "
        "TakeOrdered; the fit itself touches only K rows.",
    oracle="""
        WITH tok AS (
            SELECT unnest({t}) AS tok FROM documents
        ),
        freq AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS f
            FROM tok GROUP BY tok
        ),
        top AS (
            SELECT tok, f, r FROM (
                SELECT tok, f,
                       ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS r
                FROM freq)
            WHERE r <= {k}
        ),
        q AS (
            SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * {q} + 0.5)
                        AS BIGINT) AS qx,
                   CAST(floor(ln(CAST(f AS DOUBLE)) * {q} + 0.5)
                        AS BIGINT) AS qy
            FROM top
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(qx) AS BIGINT) AS sx,
                   CAST(SUM(qy) AS BIGINT) AS sy,
                   CAST(SUM(qx * qx) AS BIGINT) AS sxx,
                   CAST(SUM(qx * qy) AS BIGINT) AS sxy
            FROM q
        )
        SELECT n AS n_vocab,
               CAST(CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN 0.0
                    ELSE floor(CAST(n * sxy - sx * sy AS DOUBLE)
                               / CAST(n * sxx - sx * sx AS DOUBLE)
                               * 10000 + 0.5) / 10000
               END AS DOUBLE) AS zipf_slope,
               CAST(CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN 0.0
                    ELSE floor((CAST(sy AS DOUBLE)
                                - CAST(n * sxy - sx * sy AS DOUBLE)
                                  / CAST(n * sxx - sx * sx AS DOUBLE)
                                  * CAST(sx AS DOUBLE))
                               / (CAST(n AS DOUBLE) * {q}.0)
                               * 10000 + 0.5) / 10000
               END AS DOUBLE) AS zipf_intercept
        FROM s
    """.format(t=tokenize_sql("text"), k=_ZIPF_K, q=_ZIPF_QUANT),
)
def t13_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    # Spread tokenization past the input-split granularity (the d2
    # idiom): a compact single-row-group documents file yields ONE
    # split, and the whole regex-tokenize+explode stage runs on one
    # task — measured 17.3x on 10x data (round-12 decade probe) before
    # this repartition, 55x of single-thread work hiding behind a
    # perfect TakeOrdered plan. Shuffling the skinny text projection is
    # ~free relative to the per-token work it parallelizes.
    docs = t.documents.select("text").repartition(
        spark.sparkContext.defaultParallelism
    )
    freq = (
        docs.select(F.explode(tokenize("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("f"))
    )
    from real_time_data_warehouse_spark.functions.windows import (
        bounded_part_col,
        with_bounded_part,
    )

    top = with_bounded_part(
        freq.orderBy(F.col("f").desc(), "tok").limit(_ZIPF_K), "f"
    )
    # GLOBAL ordering ON PURPOSE: the window ranks the ≤_ZIPF_K-row top
    # frame — the Limit right above is the bound, verified structurally
    # by test_plan_lint.test_global_windows_are_bounded. Partitioned by
    # the with_bounded_part constant so WindowExec stays quiet
    # (functions/windows.py) while the lint still sees a global spec.
    w = Window.partitionBy(bounded_part_col()).orderBy(
        F.col("f").desc(), "tok"
    )
    qln = lambda col: F.floor(  # noqa: E731
        F.log(col.cast("double")) * _ZIPF_QUANT + F.lit(0.5)
    ).cast("bigint")
    lat = top.withColumn("r", F.row_number().over(w)).select(
        qln(F.col("r")).alias("qx"), qln(F.col("f")).alias("qy")
    )
    s = lat.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("qx").cast("bigint").alias("sx"),
        F.sum("qy").cast("bigint").alias("sy"),
        F.sum(F.col("qx") * F.col("qx")).cast("bigint").alias("sxx"),
        F.sum(F.col("qx") * F.col("qy")).cast("bigint").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    den = (n * F.col("sxx") - sx * sx).cast("double")
    degenerate = (n < 2) | (n * F.col("sxx") - sx * sx == 0)
    slope_raw = num / den
    slope = F.when(degenerate, F.lit(0.0)).otherwise(
        F.floor(slope_raw * 10000 + F.lit(0.5)) / 10000
    )
    intercept = F.when(degenerate, F.lit(0.0)).otherwise(
        F.floor(
            (sy.cast("double") - slope_raw * sx.cast("double"))
            / (n.cast("double") * float(_ZIPF_QUANT))
            * 10000
            + F.lit(0.5)
        )
        / 10000
    )
    return s.select(
        n.alias("n_vocab"),
        slope.cast("double").alias("zipf_slope"),
        intercept.cast("double").alias("zipf_intercept"),
    )


# --- t14: Heaps-law vocabulary growth curve -------------------------------

_T14_BUCKETS = 32


@register(
    "t14_vocab_growth",
    survey="ext-text,ext-curation,ext-scale",
    doc="Vocabulary-growth (Heaps-law) curve in ingestion order: after "
        "each document, the cumulative token count and cumulative "
        "DISTINCT-type count — the datasheet curve that tells a corpus "
        "builder whether new data still adds vocabulary or has gone "
        "asymptotic (dedup/rebalance signal). Distinct-growth is made "
        "prefix-summable by attributing each type to its FIRST document "
        "(min doc_id per token — one shuffle), after which both curves "
        "are exact bigint prefix sums under the shared two-phase "
        "bucketed_prefix helper (a18's pattern: parallel local "
        "prefixes, 32-row offsets frame, broadcast back — never a "
        "global sort).",
    oracle="""
        WITH per_doc AS (
            SELECT doc_id, CAST(len({t}) AS BIGINT) AS n FROM documents
        ),
        ex AS (SELECT doc_id, unnest({t}) AS tok FROM documents),
        firsts AS (
            SELECT first_doc, CAST(COUNT(*) AS BIGINT) AS c FROM (
                SELECT tok, MIN(doc_id) AS first_doc FROM ex GROUP BY tok)
            GROUP BY first_doc
        )
        SELECT d.doc_id,
               CAST(SUM(d.n) OVER w AS BIGINT) AS cum_tokens,
               CAST(SUM(COALESCE(f.c, 0)) OVER w AS BIGINT) AS cum_vocab
        FROM per_doc d LEFT JOIN firsts f ON d.doc_id = f.first_doc
        WINDOW w AS (ORDER BY d.doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """.format(t=tokenize_sql("text")),
)
def t14_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_warehouse_spark.functions.prefix import (
        bucketed_prefix,
    )

    t = Tables(spark, sf_dir)
    # tokenize ONCE: the size() curve and the first-doc-per-type curve
    # both read the checkpointed token arrays (round-12 drift fix —
    # two separate passes each re-ran the regex split over the corpus)
    toked = t.documents.select(
        "doc_id", tokenize("text").alias("toks")
    ).localCheckpoint(eager=True)
    per_doc = toked.select(
        "doc_id", F.size("toks").cast("bigint").alias("n")
    )
    firsts = (
        toked.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    joined = per_doc.join(
        firsts, per_doc.doc_id == firsts.first_doc, "left"
    ).select(
        "doc_id", "n", F.coalesce("c", F.lit(0)).cast("bigint").alias("c")
    )
    max_id = joined.agg(F.max("doc_id")).first()[0]
    if max_id is None:  # empty corpus → empty curve, correct schema
        return spark.createDataFrame(
            [], "doc_id long, cum_tokens long, cum_vocab long"
        )
    width = (int(max_id) + _T14_BUCKETS) // _T14_BUCKETS
    bucket = (F.col("doc_id") / width).cast("int")
    out = bucketed_prefix(
        joined,
        bucket,
        ["doc_id"],
        {
            "tokens": (F.col("n"), F.lit(0).cast("bigint")),
            "vocab": (F.col("c"), F.lit(0).cast("bigint")),
        },
        n_buckets=_T14_BUCKETS,
    )
    return out.select(
        "doc_id",
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        F.col("cum_vocab").cast("bigint").alias("cum_vocab"),
    )


# --- t15: language-ID confusion matrix ------------------------------------


def _t15_oracle() -> str:
    t1 = QUERY_REGISTRY["t1_lang_id"].oracle
    return f"""
        WITH t1 AS ({t1}),
        cells AS (
            SELECT labeled_lang, predicted_lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM t1 GROUP BY labeled_lang, predicted_lang
        ),
        totals AS (
            SELECT labeled_lang, CAST(COUNT(*) AS BIGINT) AS n_label
            FROM t1 GROUP BY labeled_lang
        )
        SELECT c.labeled_lang, c.predicted_lang, c.n_docs,
               CAST(floor(CAST(c.n_docs AS DOUBLE) / t.n_label * 10000
                          + 0.5) / 10000 AS DOUBLE) AS row_share
        FROM cells c JOIN totals t ON c.labeled_lang = t.labeled_lang
    """


@register(
    "t15_lang_confusion",
    survey="ext-text,ext-curation",
    doc="Classifier-audit rollup for the t1 language-ID heuristic: the "
        "labeled-vs-predicted confusion matrix with per-cell counts and "
        "the cell's share of its labeled row (floor-rounded) — the "
        "datasheet a lang-filtered training mix is signed off against "
        "(which languages leak into which buckets, how much 'und' "
        "fallback each label produces). Composes the t1 prediction "
        "expression verbatim (predictions cannot drift between the "
        "query and the audit); one (label, prediction) aggregation + a "
        "broadcast of the per-label totals.",
    oracle=_t15_oracle(),
)
def t15_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    preds = t1_lang_id(spark, sf_dir)
    # the |langs|² cell table feeds BOTH the output and the row totals —
    # checkpoint it so the documents scan runs once (tiny frame, the
    # _assigned_cells discipline)
    cells = (
        preds.groupBy("labeled_lang", "predicted_lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .localCheckpoint(eager=True)
    )
    totals = cells.groupBy("labeled_lang").agg(
        F.sum("n_docs").cast("bigint").alias("n_label")
    )
    share = F.col("n_docs").cast("double") / F.col("n_label")
    return cells.join(F.broadcast(totals), "labeled_lang").select(
        "labeled_lang",
        "predicted_lang",
        "n_docs",
        (F.floor(share * 10000 + F.lit(0.5)) / 10000)
        .cast("double")
        .alias("row_share"),
    )


# --- t16: bigram-LM perplexity quality filter -------------------------------
# CCNet/RedPajama-style LM quality signal (Wenzek et al. 2020, public):
# train an n-gram LM on the corpus itself and score every document by
# mean per-bigram negative log-likelihood. Docs far below the corpus
# mean are boilerplate; far above are rare-token soup. The reference
# has no LM surface; this extends t9's unigram degenerate case to the
# first real conditional model.

_T16_Q = 1_000_000  # ln-lattice quantum (micro-nats, t9's discipline)


def _t16_oracle() -> str:
    tok = tokenize_sql("text")
    return f"""
        WITH toked AS (SELECT doc_id, {tok} AS toks FROM documents),
        grams AS (
            SELECT doc_id, g.w1 AS w1, g.w2 AS w2
            FROM (
                SELECT doc_id,
                       unnest(CASE WHEN len(toks) >= 2 THEN
                           list_transform(range(1, len(toks)),
                               i -> struct_pack(w1 := toks[i],
                                                w2 := toks[i + 1]))
                           ELSE [] END) AS g
                FROM toked
            )
        ),
        tf AS (
            SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
            FROM grams GROUP BY doc_id, w1, w2
        ),
        bg AS (
            SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS cb
            FROM tf GROUP BY w1, w2
        ),
        hist AS (
            SELECT w1, CAST(SUM(cb) AS BIGINT) AS cu FROM bg GROUP BY w1
        ),
        vocab AS (
            SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
            FROM (SELECT unnest(toks) AS w FROM toked)
        ),
        nll AS (
            SELECT b.w1, b.w2,
                   CAST(floor(ln(CAST(h.cu + vb.v AS DOUBLE)
                                 / CAST(b.cb + 1 AS DOUBLE))
                              * {_T16_Q} + 0.5) AS BIGINT) AS nll_micro
            FROM bg b JOIN hist h ON b.w1 = h.w1 CROSS JOIN vocab vb
        ),
        scored AS (
            SELECT tf.doc_id,
                   CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
                   CAST(CAST(SUM(tf.tf * n.nll_micro) AS DOUBLE)
                        / SUM(tf.tf) / {_T16_Q} AS DOUBLE) AS mean_nll
            FROM tf JOIN nll n ON tf.w1 = n.w1 AND tf.w2 = n.w2
            GROUP BY tf.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               CAST(s.mean_nll AS DOUBLE) AS mean_nll
        FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """


@register(
    "t16_bigram_perplexity",
    survey="ext-text",
    doc="Bigram-LM mean negative log-likelihood per document — the "
        "KenLM-style perplexity quality filter, trained on the corpus "
        "itself with add-one smoothing: p(w2|w1) = (c(w1,w2)+1) / "
        "(c(w1)+V). Exactness: each distinct bigram's NLL is "
        "ln-quantized ONCE to integer micro-nats (floor(ln(num/den)"
        "*1e6+0.5) — the t9/s6 lattice, engine-exact), docs fold "
        "tf-weighted integer sums (associative, partitioning-"
        "independent), one final double division. Scale: tokens "
        "explode map-side and collapse to per-(doc,bigram) tf before "
        "any shuffle; the two count tables shuffle keyed by gram "
        "(Zipf-skew bounded: the count side of the scoring join is "
        "one row per gram, so hot grams fan out only on the doc side, "
        "which AQE splits); V and the model tables are corpus "
        "artifacts a deployment would persist once per snapshot. "
        "Docs with <2 tokens carry no bigram evidence and emit NULL "
        "score with n_bigrams=0 — unratable, not 'perfect'.",
    oracle=_t16_oracle(),
)
def t16_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return bigram_nll_frame(t.documents)


def bigram_nll_frame(documents: DataFrame) -> DataFrame:
    """t16's body over any (doc_id, text) frame — the planted-fixture
    seam (tests/test_pipeline_ops.py)."""
    toks = tokenize("text")
    # bigram stream: map-side transform over the token array, exploded,
    # then collapsed to per-(doc, w1, w2) tf BEFORE the shuffle — the
    # t9 discipline one order up. The token array is PROJECTED first and
    # the gram lambda references the column: lambdas defeat common-
    # subexpression elimination, so element_at(tokenize(...), i) inline
    # would re-run the split per gram element — O(len²) per doc, a
    # measured 5× slowdown at sf0.1. The Generate (explode) boundary
    # keeps CollapseProject from re-inlining it (t1b documents the same
    # trap; there a repartition barrier is needed because no Generate
    # intervenes).
    tcol = F.col("toks")
    # every token emits one row: token i as w1 with its successor as w2,
    # the LAST token with w2 = NULL. The null-w2 tail rows make V
    # derivable from the tf table itself (distinct w1 == distinct
    # tokens), dropping the separate full corpus re-tokenize + explode
    # pass the vocab count used to pay (guide §1.2: fewer passes). They
    # are bigram-inert everywhere else: the model aggregation filters
    # them and the scoring equi-join on w2 never matches NULL.
    grams = F.when(
        F.size(tcol) >= 1,
        F.transform(
            F.sequence(F.lit(0), F.size(tcol) - 1),
            lambda i: F.struct(
                F.element_at(tcol, i + 1).alias("w1"),
                F.when(
                    i < F.size(tcol) - 1, F.element_at(tcol, i + 2)
                ).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    base = (
        documents.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    )
    tf = (
        base.groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)  # feeds model, vocab AND scoring
    )
    bg = (
        tf.where(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.sum("tf").alias("cb"))
    )
    hist = bg.groupBy("w1").agg(F.sum("cb").alias("cu"))
    # V = |vocabulary| over the full token stream (last tokens of docs
    # included) — distinct w1 of tf, which the null-w2 tail rows make
    # exactly the distinct-token count
    vocab = tf.agg(F.countDistinct("w1").alias("v"))
    nll = (
        bg.join(hist, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.floor(
                F.log(
                    (F.col("cu") + F.col("v")).cast("double")
                    / (F.col("cb") + F.lit(1)).cast("double")
                )
                * _T16_Q
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("nll_micro"),
        )
    )
    scored = (
        tf.join(nll, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            (
                F.sum(F.col("tf") * F.col("nll_micro")).cast("double")
                / F.sum("tf")
                / _T16_Q
            )
            .cast("double")
            .alias("mean_nll"),
        )
    )
    # re-attach bigram-free docs (n_tokens < 2): NULL score, zero count
    return (
        documents.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias(
                "n_bigrams"
            ),
            F.col("mean_nll").cast("double").alias("mean_nll"),
        )
    )


# --- t18: per-source Jensen-Shannon drift vs the rest of the corpus --------

# Drift-monitor geometry: distributions live on a CAPPED vocabulary —
# the top _T18_V tokens by global count (deterministic tie-break) plus
# one '<oov>' bucket holding everything else, so each side's
# distribution still sums to 1 and the per-source relation is
# O(sources × (V+1)) rows regardless of corpus vocabulary. V is set
# below the fixture's vocabulary on purpose so the OOV bucket is
# exercised, not a dead branch.
_T18_V = 25
_T18_Q = 1_000_000  # ln-lattice quantum (micro-nats, t9's discipline)


@register(
    "t18_js_source_drift",
    survey="ext-text,ext-curation",
    doc="Corpus drift monitor: per-source Jensen-Shannon divergence "
        "between the source's token distribution and the REST of the "
        "corpus — the mixture-health signal a training pipeline tracks "
        "across crawl snapshots (a drifting source gets re-reviewed "
        "before it shifts the mixture). Distributions are over the top-"
        f"{_T18_V} global tokens + an '<oov>' bucket (both sides sum to "
        "1; the per-source relation is O(sources × V), never O(vocab)). "
        "Exactness: JSD = ½·KL(P‖M) + ½·KL(Q‖M) with every ln argument "
        "a ratio of exact BIGINT products (2aN_r vs aN_r + bN_s — the "
        "mixture denominator cleared of fractions), ln-quantized once "
        "to integer micro-nats and summed count-weighted as bigints "
        "(associative, reduction-order free); one final double divide. "
        "Zero-count terms are exact algebraic zeros, guarded, not "
        "epsilon-smoothed.",
    oracle=f"""
        WITH raw AS (
            SELECT source, unnest({{t}}) AS w FROM documents
        ),
        rw AS (
            SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
            FROM raw GROUP BY 1, 2
        ),
        gw AS (SELECT w, CAST(SUM(c) AS BIGINT) AS g FROM rw GROUP BY w),
        vocab AS (SELECT w FROM gw ORDER BY g DESC, w LIMIT {_T18_V}),
        mapped AS (
            SELECT rw.source,
                   CASE WHEN v.w IS NOT NULL THEN rw.w
                        ELSE '<oov>' END AS w,
                   CAST(SUM(c) AS BIGINT) AS a
            FROM rw LEFT JOIN vocab v ON rw.w = v.w
            GROUP BY 1, 2
        ),
        g2 AS (SELECT w, CAST(SUM(a) AS BIGINT) AS g FROM mapped GROUP BY w),
        ns AS (SELECT source, CAST(SUM(a) AS BIGINT) AS n_s
               FROM mapped GROUP BY source),
        ntot AS (SELECT CAST(SUM(g) AS BIGINT) AS n_tot FROM g2),
        pairs AS (
            SELECT ns.source, g2.w, ns.n_s, ntot.n_tot,
                   COALESCE(m.a, 0) AS a, g2.g AS g
            FROM ns CROSS JOIN g2 CROSS JOIN ntot
            LEFT JOIN mapped m ON m.source = ns.source AND m.w = g2.w
        ),
        terms AS (
            SELECT source, n_s, n_tot,
                   CASE WHEN a > 0 THEN a * CAST(floor(ln(
                        CAST(2 * a * (n_tot - n_s) AS DOUBLE)
                        / CAST(a * (n_tot - n_s) + (g - a) * n_s AS DOUBLE))
                        * {_T18_Q} + 0.5) AS BIGINT) ELSE 0 END AS s1,
                   CASE WHEN g - a > 0 THEN (g - a) * CAST(floor(ln(
                        CAST(2 * (g - a) * n_s AS DOUBLE)
                        / CAST(a * (n_tot - n_s) + (g - a) * n_s AS DOUBLE))
                        * {_T18_Q} + 0.5) AS BIGINT) ELSE 0 END AS s2
            FROM pairs
        )
        SELECT source,
               n_s AS n_tokens,
               CAST((CAST(SUM(s1) AS DOUBLE) / n_s
                     + CAST(SUM(s2) AS DOUBLE) / (n_tot - n_s))
                    / 2 / {_T18_Q} AS DOUBLE) AS jsd
        FROM terms GROUP BY source, n_s, n_tot
    """.format(t=tokenize_sql("text")),
)
def t18_js_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    # per-(source, token) counts — ONE corpus scan feeds the vocab cut,
    # the bucketed recount and the totals (the t9/s6 discipline)
    rw = (
        t.documents.select("source", F.explode(tokenize("text")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    gw = rw.groupBy("w").agg(F.sum("c").alias("g"))
    vocab = (
        gw.orderBy(F.desc("g"), F.asc("w"))
        .limit(_T18_V)
        .select("w", F.lit(True).alias("in_v"))
    )
    mapped = (
        rw.join(F.broadcast(vocab), "w", "left")
        .select(
            "source",
            F.when(F.col("in_v"), F.col("w"))
            .otherwise(F.lit("<oov>"))
            .alias("w"),
            "c",
        )
        .groupBy("source", "w")
        .agg(F.sum("c").cast("bigint").alias("a"))
        .localCheckpoint(eager=True)
    )
    g2 = mapped.groupBy("w").agg(F.sum("a").cast("bigint").alias("g"))
    ns = mapped.groupBy("source").agg(F.sum("a").cast("bigint").alias("n_s"))
    ntot = g2.agg(F.sum("g").cast("bigint").alias("n_tot"))
    pairs = (
        ns.crossJoin(F.broadcast(g2))
        .join(mapped, ["source", "w"], "left")
        .crossJoin(F.broadcast(ntot))
        .select(
            "source",
            "n_s",
            "n_tot",
            F.coalesce("a", F.lit(0)).cast("bigint").alias("a"),
            "g",
        )
    )
    b = F.col("g") - F.col("a")
    nr = F.col("n_tot") - F.col("n_s")
    den = (F.col("a") * nr + b * F.col("n_s")).cast("double")
    ln1 = (
        F.floor(
            F.log((F.lit(2) * F.col("a") * nr).cast("double") / den)
            * _T18_Q
            + F.lit(0.5)
        ).cast("bigint")
    )
    ln2 = (
        F.floor(
            F.log((F.lit(2) * b * F.col("n_s")).cast("double") / den)
            * _T18_Q
            + F.lit(0.5)
        ).cast("bigint")
    )
    terms = pairs.select(
        "source",
        "n_s",
        "n_tot",
        F.when(F.col("a") > 0, F.col("a") * ln1)
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("s1"),
        F.when(b > 0, b * ln2).otherwise(F.lit(0)).cast("bigint").alias("s2"),
    )
    return terms.groupBy("source", "n_s", "n_tot").agg(
        F.sum("s1").alias("S1"), F.sum("s2").alias("S2")
    ).select(
        "source",
        F.col("n_s").alias("n_tokens"),
        (
            (
                F.col("S1").cast("double") / F.col("n_s")
                + F.col("S2").cast("double") / (F.col("n_tot") - F.col("n_s"))
            )
            / 2
            / _T18_Q
        )
        .cast("double")
        .alias("jsd"),
    )

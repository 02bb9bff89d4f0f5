"""Deduplication operators over the `documents` table (north-star
extension: training-data pipeline dedup at 100 TB).

Ladder of fidelity/cost:
- exact dedup (d1): md5 over normalized text → hash groupBy. One shuffle on
  a 16-byte key; at 100 TB this is the cheapest and always-first pass.
- n-gram Jaccard near-dup (d2): word-3-gram shingles → inverted index
  (explode) → candidate pairs via shingle co-occurrence → exact Jaccard.
  The self-join happens on the *shingle* key, so cost is Σ |docs per
  shingle|² — bounded by frequent-shingle capping, not |docs|².
- MinHash + LSH (d3): k portable hash functions over shingle hashes →
  band-bucket join (candidates only where a band collides) → verify with
  estimated Jaccard. The scale path: state per doc is k integers
  regardless of length.
- SimHash (d4): 64-bit weighted-bit fingerprint; near-dups = small Hamming
  distance within LSH-ish bucket on the top bits.

All hashes are the portable polynomial hash (functions/text.py) so the
DuckDB oracle recomputes identical values — no engine-specific hashing in
results.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.functions.text import (
    POLY_P,
    md5_hash,
    md5_hash_sql,
    tokenize,
    tokenize_sql,
)
from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, register
from real_time_data_warehouse_spark.tables import Tables


@register(
    "d1_exact_dedup",
    survey="ext-dedup",
    doc="Exact dedup: md5 of lowercased text → keep min doc_id per cluster, "
        "emit cluster size + keeper flag per doc.",
    oracle="""
        SELECT doc_id,
               md5(lower(text)) AS text_hash,
               CAST(COUNT(*) OVER (PARTITION BY md5(lower(text))) AS BIGINT)
                   AS cluster_size,
               CAST(CASE WHEN doc_id = MIN(doc_id) OVER (
                        PARTITION BY md5(lower(text)))
                    THEN 1 ELSE 0 END AS INT) AS is_keeper
        FROM documents
    """,
)
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    hashed = t.documents.withColumn("text_hash", F.md5(F.lower("text")))
    w = Window.partitionBy("text_hash")
    return hashed.select(
        "doc_id",
        "text_hash",
        F.count("*").over(w).alias("cluster_size"),
        F.when(F.col("doc_id") == F.min("doc_id").over(w), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_keeper"),
    )


# Shared shingling: word 3-grams, hashed with the portable polynomial hash.
# (A token-hash-then-combine variant was tried and benchmarked 5× slower on
# the Spark side at sf0.1 — the extra nested higher-order function forced
# the projection out of codegen; char-level hashing of the joined shingle
# string stays fastest.)
_SHINGLE_N = 3


def _shingles_sql(hashed: bool = True) -> str:
    """DuckDB shingle relation (doc_id, sh). ``hashed`` → portable 32-bit
    md5-prefix hash (int64-safe MinHash input both engines compute with
    NATIVE functions — md5 + hex parse — instead of the interpreted
    per-character poly-hash); else the raw shingle string (cheapest, used
    where only shingle *identity* matters: exact-Jaccard d2/d2b)."""
    inner = "array_to_string(toks[i:i+" + str(_SHINGLE_N - 1) + "], ' ')"
    elem = md5_hash_sql(inner) if hashed else inner
    return f"""
        SELECT doc_id, unnest(shs) AS sh
        FROM (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, len(toks) - {_SHINGLE_N} + 2),
                       i -> {elem}
                   )) AS shs
            FROM (SELECT doc_id, {tokenize_sql('text')} AS toks FROM documents) base
            WHERE len(toks) >= {_SHINGLE_N}
        ) shingled
    """


_SHINGLES_SQL = _shingles_sql(hashed=True)


def shingle_sets_for(docs: DataFrame, hashed: bool = True) -> DataFrame:
    """(doc_id, text) frame → (doc_id, shs) distinct shingle array (word
    3-grams). Kept as an array so downstream ops choose: map-side array
    expressions (MinHash — no shuffle at all) or explode (inverted index).

    ``hashed=True`` hashes each shingle to the first 32 bits of its md5 —
    native (codegen'd) md5+conv on Spark, native md5+hex-cast in DuckDB,
    identical values. The earlier portable poly-hash computed the same
    thing as an interpreted per-character fold at ~100× the cost.
    Identity-only consumers (d2/d2b) skip hashing entirely and use the
    raw shingle strings."""
    # Spread the CPU-heavy shingle work across all cores: a compact
    # single-row-group parquet file otherwise yields ONE input split, and
    # the whole stage runs on one task. Shuffling the skinny (doc_id, text)
    # projection is ~free relative to the per-shingle work it parallelizes;
    # on a many-file cluster layout this is a cheap no-op-equivalent guard.
    docs = docs.select("doc_id", "text").repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    toks = docs.select("doc_id", tokenize("text").alias("toks")).where(
        F.size("toks") >= _SHINGLE_N
    )

    def shingle_at(i):
        s = F.array_join(F.slice("toks", i + 1, _SHINGLE_N), " ")
        return md5_hash(s) if hashed else s

    return toks.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - _SHINGLE_N),
                shingle_at,
            )
        ).alias("shs"),
    )


def _explode_shingles(sets: DataFrame, *extra: F.Column) -> DataFrame:
    """Explode the shingle array WITHOUT triggering Catalyst's
    InferFiltersFromGenerate: that rule adds ``size(shs)>0 AND
    isnotnull(shs)`` below the Generate, and predicate pushdown then
    inlines the whole shingle-transform expression into the parquet scan
    filter — below the parallelizing repartition, evaluated twice on one
    input split (measured 7× the cost of the shingling itself at sf0.1).
    ``explode_outer`` infers no filters; the post-Generate ``isNotNull``
    drops the null row an empty array would emit (none exist here — the
    token-count guard ensures ≥1 shingle) and is NOT pushed through the
    Generate because it references the generated column."""
    cols = ["doc_id", *extra, F.explode_outer("shs").alias("sh")]
    return sets.select(*cols).where(F.col("sh").isNotNull())


def _doc_shingle_sets(t: Tables, hashed: bool = True) -> DataFrame:
    return shingle_sets_for(t.documents, hashed=hashed)


def _doc_shingles(t: Tables, hashed: bool = True) -> DataFrame:
    """doc_id → exploded distinct shingles (word 3-grams)."""
    return _explode_shingles(_doc_shingle_sets(t, hashed=hashed))


# --- MinHash + LSH ---------------------------------------------------------
# k hash functions h_j(x) = (a_j·x + b_j) mod P over the 32-bit shingle
# hashes. a_j must be LARGE (≈2^25..2^30): with x < 2^32, a small a_j
# keeps a_j·x + b_j below P so the mod never wraps — then every h_j is
# monotone in x, all K functions share one argmin shingle, and the
# signature collapses to a single bit of information (observed: est ∈
# {0,1}, 15× spurious pairs). Bounds: a_j < 2^30 keeps a_j·x + b_j <
# 2^62 + 2^55 < 2^63 — no int64 overflow in either engine (Spark would
# wrap silently, DuckDB would raise). The same (a_j, b_j) constants
# generate both the Spark plan and the oracle SQL.
_MINHASH_K = 16
_LSH_BANDS = 4  # 4 bands × 4 rows
_BAND_ROWS = _MINHASH_K // _LSH_BANDS
_MH_A = [(2654435761 * (j + 7)) % (1 << 30) | 1 for j in range(_MINHASH_K)]
_MH_B = [(982451653 * (j + 1)) % POLY_P for j in range(_MINHASH_K)]

_EST_THRESHOLD = 0.5


def minhash_sigs_for(docs: DataFrame) -> DataFrame:
    """(doc_id, text) frame → doc_id + K minhash values over the
    shingle-hash set.

    Computed as ``array_min(transform(shs, ...))`` per hash function —
    pure map-side array expressions over the per-doc shingle array, ZERO
    shuffle (vs. the naive explode + groupBy(doc_id).agg(K mins), which
    shuffles every (doc, shingle) row). Per-doc output is K int64s — the
    100 TB path: signature size independent of document length."""
    sets = shingle_sets_for(docs)
    mins = [
        F.array_min(
            F.transform(F.col("shs"), lambda s: (s * a + b) % POLY_P)
        ).alias(f"mh{j}")
        for j, (a, b) in enumerate(zip(_MH_A, _MH_B))
    ]
    return sets.select("doc_id", *mins)


def _minhash_sigs(t: Tables) -> DataFrame:
    return minhash_sigs_for(t.documents)


def _minhash_sql() -> str:
    """DuckDB twin of _minhash_sigs (same constants)."""
    mins = ",\n               ".join(
        f"MIN((sh * {a} + {b}) % {POLY_P}) AS mh{j}"
        for j, (a, b) in enumerate(zip(_MH_A, _MH_B))
    )
    return f"""
        SELECT doc_id,
               {mins}
        FROM ({_SHINGLES_SQL}) sh_tbl
        GROUP BY doc_id
    """


@register(
    "d3_minhash_lsh_pairs",
    survey="ext-dedup",
    doc=f"MinHash({_MINHASH_K}) + LSH({_LSH_BANDS} bands × {_BAND_ROWS}): "
        "candidate pairs share ≥1 band signature (the only join is on the "
        "band key — never a cross product); estimated Jaccard = fraction "
        f"of equal minhashes, kept at ≥ {_EST_THRESHOLD}.",
    oracle=f"""
        WITH sigs AS ({_minhash_sql()}),
        bands AS (
            SELECT doc_id, b.band_idx,
                   CASE b.band_idx
                       {" ".join(
                           f"WHEN {bi} THEN concat_ws(':', "
                           + ", ".join(f"mh{bi * _BAND_ROWS + r}" for r in range(_BAND_ROWS))
                           + ")"
                           for bi in range(_LSH_BANDS)
                       )}
                   END AS band_sig
            FROM sigs, (SELECT unnest(range({_LSH_BANDS})) AS band_idx) b
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM bands x JOIN bands y
              ON x.band_idx = y.band_idx AND x.band_sig = y.band_sig
             AND x.doc_id < y.doc_id
        )
        SELECT c.doc_a, c.doc_b,
               CAST(( {" + ".join(f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END" for j in range(_MINHASH_K))} )
                    AS DOUBLE) / {_MINHASH_K} AS est_jaccard
        FROM cand c
        JOIN sigs sa ON c.doc_a = sa.doc_id
        JOIN sigs sb ON c.doc_b = sb.doc_id
        WHERE CAST(( {" + ".join(f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END" for j in range(_MINHASH_K))} )
                   AS DOUBLE) / {_MINHASH_K} >= {_EST_THRESHOLD}
    """,
)
def d3_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return _minhash_pairs_for(t.documents)


def _minhash_pairs_for(docs: DataFrame) -> DataFrame:
    """(doc_a < doc_b, est_jaccard ≥ threshold) MinHash+LSH pairs over any
    (doc_id, text) frame — the d3 computation, reused by the d7 gate."""
    # Materialize signatures once: the plan below references `sigs` six
    # times (4 band branches + both verify sides), and without a
    # materialization barrier Catalyst re-computes the whole
    # tokenize→shingle→minhash pipeline for every branch (measured 8
    # copies, each dragging its own parallelizing repartition into the
    # plan). Signatures are K ints per doc — the cheapest thing in this
    # query to persist, at any scale.
    sigs = minhash_sigs_for(docs).localCheckpoint(eager=True)

    band_sig = [
        (
            bi,
            F.concat_ws(
                ":",
                *[
                    F.col(f"mh{bi * _BAND_ROWS + r}").cast("string")
                    for r in range(_BAND_ROWS)
                ],
            ),
        )
        for bi in range(_LSH_BANDS)
    ]
    bands = None
    for bi, sig in band_sig:
        part = sigs.select(
            "doc_id", F.lit(bi).alias("band_idx"), sig.alias("band_sig")
        )
        bands = part if bands is None else bands.unionAll(part)

    x = bands.select(
        F.col("doc_id").alias("doc_a"), "band_idx", "band_sig"
    )
    y = bands.select(
        F.col("doc_id").alias("doc_b"), "band_idx", "band_sig"
    )
    cand = (
        x.join(y, ["band_idx", "band_sig"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(_MINHASH_K)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(_MINHASH_K)],
    )
    matches = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(_MINHASH_K)
    )
    est = matches.cast("double") / _MINHASH_K
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(est >= _EST_THRESHOLD)
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
    )


# --- SimHash ---------------------------------------------------------------
_SIMHASH_BITS = 32  # bits of the portable md5-prefix hash used for the sketch


@register(
    "d4_simhash",
    survey="ext-dedup",
    doc=f"SimHash({_SIMHASH_BITS}-bit, token-count weighted): per-bit "
        "weighted vote over token hashes → fingerprint; near-dup pairs = "
        "fingerprints at Hamming distance ≤ 3 among docs sharing the top-8 "
        "bit bucket (the LSH-ish prefilter). Output: per-doc fingerprint + "
        "bucket for downstream pairing.",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, t.tok, COUNT(*) AS w
            FROM (SELECT doc_id, unnest({tokenize_sql('text')}) AS tok
                  FROM documents) t
            GROUP BY doc_id, t.tok
        ),
        hashed AS (SELECT doc_id, {md5_hash_sql('tok')} AS h, w FROM tok),
        bits AS (
            SELECT doc_id,
                   {", ".join(
                       f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN w ELSE -w END) AS s{i}"
                       for i in range(_SIMHASH_BITS)
                   )}
            FROM hashed GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(( {" + ".join(f"CASE WHEN s{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END" for i in range(_SIMHASH_BITS))} )
                    AS BIGINT) AS simhash,
               CAST(( {" + ".join(f"CASE WHEN s{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END" for i in range(_SIMHASH_BITS - 8, _SIMHASH_BITS))} ) >> {_SIMHASH_BITS - 8}
                    AS BIGINT) AS bucket
        FROM bits
    """,
)
def d4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    # same two guards as the shingle path: spread the tokenize work past a
    # single-row-group input split, and explode_outer so the inferred
    # generate-filters don't inline the tokenizer into the scan
    docs = t.documents.select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism
    )
    tok = (
        docs.select("doc_id", F.explode_outer(tokenize("text")).alias("tok"))
        .where(F.col("tok").isNotNull())
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("w"))
    )
    hashed = tok.select("doc_id", md5_hash("tok").alias("h"), "w")
    # NARROW formulation of the per-bit weighted vote: explode the bit
    # index instead of 32 side-by-side conditional aggregates — the wide
    # agg costs ~3 s of one-time whole-stage codegen compilation, which
    # dominates this query at correctness-gate scale. Shuffle bytes are
    # comparable (32 skinny rows vs 32 aggregate columns per group) and
    # both forms combine map-side.
    per_bit = hashed.select(
        "doc_id", "h", "w",
        F.explode(F.sequence(F.lit(0), F.lit(_SIMHASH_BITS - 1))).alias("i"),
    )
    vote = F.expr("CASE WHEN (shiftright(h, i) & 1) = 1 THEN w ELSE -w END")
    sbits = per_bit.groupBy("doc_id", "i").agg(F.sum(vote).alias("s"))
    simhash = (
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), i)"))
            .otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("simhash")
    )
    return (
        sbits.groupBy("doc_id")
        .agg(simhash)
        .withColumn(
            "bucket", F.shiftright("simhash", _SIMHASH_BITS - 8).cast("bigint")
        )
    )


@register(
    "d2_ngram_jaccard_pairs",
    survey="ext-dedup",
    doc="Near-dup pairs by exact Jaccard over word-3-gram shingle sets: "
        "inverted index on shingle hash (one groupBy, no self-join) → "
        "per-bucket pair generation → |A∩B| / (|A|+|B|-|A∩B|) ≥ 0.6. Pair "
        "space is bounded by shingle frequency, not |docs|². Deliberately "
        "EXACT: a shingle shared by f docs makes an f-element bucket and "
        "f(f-1)/2 pairs — unbounded on a skewed corpus; d2b (freq-capped) "
        "is the 100 TB form.",
    oracle=f"""
        WITH sh AS ({_shingles_sql(hashed=False)}),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT p.doc_a, p.doc_b,
               CAST(ROUND(CAST(p.inter AS DOUBLE) /
                    (sa.n + sb.n - p.inter), 4) AS DOUBLE) AS jaccard
        FROM pairs p
        JOIN sizes sa ON p.doc_a = sa.doc_id
        JOIN sizes sb ON p.doc_b = sb.doc_id
        WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.6
    """,
)
def d2_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    # Bucket formulation of the inverted index: ONE shuffle of the shingle
    # table (groupBy sh → sorted doc list), then candidate pairs generated
    # map-side by double-explode within each bucket. The previous self-join
    # form shuffled/broadcast a second full copy of the shingles and
    # re-computed the (expensive) shingling for each side; this computes it
    # once and never broadcasts unbounded data. Set sizes ride along in the
    # bucket structs, so no separate sizes aggregation or post-join.
    sh = _explode_shingles(
        _doc_shingle_sets(t, hashed=False), F.size("shs").alias("n")
    )
    buckets = (
        sh.groupBy("sh")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("ds"))
        .where(F.size("ds") >= 2)
    )
    # (i, a) × every later element of the sorted list → each unordered pair
    # exactly once per shared shingle, with doc_a < doc_b by construction
    cand = buckets.select(
        F.posexplode("ds").alias("i", "a"), "ds"
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("a.n").alias("na"),
        F.explode(F.slice("ds", F.col("i") + F.lit(2), F.size("ds"))).alias("b"),
    ).select(
        "doc_a", "na", F.col("b.doc_id").alias("doc_b"), F.col("b.n").alias("nb")
    )
    # exact size-ratio prune: J ≥ 0.6 ⟹ min(na,nb)/max(na,nb) ≥ 3/5 —
    # integer-exact necessary condition, cuts pair-count shuffle volume
    cand = cand.where(
        F.least("na", "nb") * 5 >= F.greatest("na", "nb") * 3
    )
    pairs = cand.groupBy("doc_a", "doc_b", "na", "nb").agg(
        F.count("*").alias("inter")
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return (
        pairs.where(jac >= 0.6)
        .select("doc_a", "doc_b", F.round(jac, 4).cast("double").alias("jaccard"))
    )


# Frequency cap for the capped variant: shingles shared by more than this
# many docs are dropped from the inverted index before pairing. A shingle in
# f docs contributes f(f-1)/2 candidate pairs — the head of the frequency
# distribution is quadratic cost with near-zero discrimination (standard
# prefix/frequency filtering in near-dup literature). The cap changes
# which LOW-similarity pairs are observable but barely moves pairs at the
# 0.6 threshold; the oracle applies the identical cap, so parity is exact.
_FREQ_CAP = 50


@register(
    "d2b_jaccard_capped",
    survey="ext-dedup",
    doc=f"Frequency-capped Jaccard pairs (the 100 TB form of d2): shingles "
        f"in > {_FREQ_CAP} docs are excluded from the inverted index before "
        "pair generation, bounding per-shingle join fan-out; intersection "
        "counts are then rescaled against capped set sizes. Same shape as "
        "d2 otherwise.",
    oracle=f"""
        WITH sh AS ({_shingles_sql(hashed=False)}),
        kept AS (
            SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= {_FREQ_CAP}
        ),
        fsh AS (SELECT s.doc_id, s.sh FROM sh s JOIN kept k ON s.sh = k.sh),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM fsh GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM fsh a JOIN fsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT p.doc_a, p.doc_b,
               CAST(ROUND(CAST(p.inter AS DOUBLE) /
                    (sa.n + sb.n - p.inter), 4) AS DOUBLE) AS jaccard
        FROM pairs p
        JOIN sizes sa ON p.doc_a = sa.doc_id
        JOIN sizes sb ON p.doc_b = sb.doc_id
        WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.6
    """,
)
def d2b_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    # One groupBy(sh) produces the bucket AND applies the cap: a bucket
    # with more than _FREQ_CAP docs is the over-frequent shingle, dropped
    # whole. Bucket arrays are therefore ≤ _FREQ_CAP structs — bounded
    # memory per row, the invariant that makes this the 100 TB form. The
    # capped per-doc set sizes depend on which shingles survive, so they
    # are re-counted from the kept buckets and broadcast back (small: one
    # row per doc).
    sh = _doc_shingles(t, hashed=False)
    buckets = (
        sh.groupBy("sh")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .where(F.size("ds") <= _FREQ_CAP)
    )
    kept_docs = buckets.select(F.explode("ds").alias("doc_id"))
    sizes = kept_docs.groupBy("doc_id").agg(F.count("*").alias("n"))
    cand = buckets.where(F.size("ds") >= 2).select(
        F.posexplode("ds").alias("i", "doc_a"), "ds"
    ).select(
        "doc_a",
        F.explode(F.slice("ds", F.col("i") + F.lit(2), F.size("ds"))).alias("doc_b"),
    )
    pairs = cand.groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .where(jac >= 0.6)
        .select("doc_a", "doc_b", F.round(jac, 4).cast("double").alias("jaccard"))
    )


def min_label_propagation(pairs: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Connected components over an undirected pair graph by min-label
    propagation WITH POINTER DOUBLING, to fixpoint → (node, label) for
    every node with an edge.

    Each round does (1) the neighbor-min hop (labels travel one edge)
    and (2) a label-shortcut: label(v) ← min(label(v), label(label(v)))
    — the pointer-jumping step that halves every label path, so
    convergence is O(log component diameter) rounds instead of
    O(diameter) (the large-star/small-star family of distributed CC).
    Both steps only ever assign labels from within v's component and
    are monotone non-increasing, so the fixpoint is the component min —
    identical output to plain propagation, pinned by the shared oracle
    and tests/test_properties.py (a 1000-node path converges in ~12
    rounds; plain propagation would need 1000). Non-convergence inside
    ``max_rounds`` still FAILS LOUDLY rather than returning
    silently-wrong intermediate labels.
    """
    # undirected edges both ways (isolated docs need no edges — they keep
    # their own label from the initial assignment)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    )
    # materialize once: every loop round joins against `edges`, and without
    # this the upstream candidate pipeline would re-execute each round.
    # (Round-13: pre-partitioning by dst through an AQE-off checkpoint —
    # the pagerank_frame §2.1 idea — was measured and REVERTED there;
    # same trade-off here: the pinned width disables AQE coalescing for
    # every propagation round. See graph.py pagerank_frame note.)
    edges = edges.localCheckpoint(eager=True)
    # the loop runs over EDGE NODES only: a doc with no near-dup edge can
    # never change label, and near-dup graph nodes are a sliver of the
    # corpus (every round over all docs would shuffle 100 TB-scale row
    # counts per iteration; over edge nodes it shuffles |near-dup members|)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    converged = False
    for _ in range(max_rounds):
        # Per-round joins are pinned SHUFFLE_HASH (the pagerank_frame
        # adjudication, guide §3.1): checkpointed frames carry no stats
        # so the planner defaults to SortMergeJoin, re-sorting the edge
        # list and label table every round; the hash build side is the
        # label/neighbor-min side (|edge nodes| rows). Strategy cannot
        # change the label values. SKEW CAVEAT: one row per node keeps
        # build partitions hash-uniform, but at extreme scale a hot
        # partition can OOM a shuffled-hash build where SortMergeJoin
        # would spill; drop the hint there before reaching for memory
        # (see graph.py).
        neighbor_min = (
            edges.join(
                labels.select("node", "label").hint("shuffle_hash"),
                edges["dst"] == F.col("node"),
            )
            .groupBy(F.col("src").alias("node2"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.select("node", "label")
            .join(
                neighbor_min.hint("shuffle_hash"),
                F.col("node") == F.col("node2"),
                "left",
            )
            .select(
                "node",
                F.least(
                    "label", F.coalesce("nlabel", F.col("label"))
                ).alias("label"),
                # previous round's final label, carried through both
                # steps so the convergence test is a FILTER over this
                # round's checkpoint instead of a join back against the
                # previous round's frame — one join fewer per round
                F.col("label").alias("old_label"),
            )
        )
        # pointer doubling: follow my label's label (labels ⊆ nodes, so
        # the lookup is a self-join on the same small edge-node table)
        lab_of = new_labels.select(
            F.col("node").alias("lnode"), F.col("label").alias("llabel")
        )
        new_labels = (
            new_labels.join(
                lab_of.hint("shuffle_hash"),
                new_labels["label"] == lab_of["lnode"],
                "left",
            )
            .select(
                "node",
                F.least(
                    "label", F.coalesce("llabel", F.col("label"))
                ).alias("label"),
                "old_label",
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)  # cut lineage
        changed = new_labels.where(
            F.col("label") != F.col("old_label")
        ).count()
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"min_label_propagation did not converge in "
            f"{max_rounds} rounds (pathological component diameter)"
        )
    # drop the convergence-test carrier column — (node, label) is the
    # function's contract
    return labels.select("node", "label")


# Keyed by (applicationId, sf_dir) with the owning session held by
# weakref in the value: newSession() shares an applicationId but must
# not be handed another session's checkpointed frame, and a CPython
# id() can be reused after GC, so identity is validated against the
# live object on every hit instead of being baked into the key.
# Bounded: oldest entry dropped past the cap — and its checkpoint
# blocks unpersisted — so a long-lived driver iterating many sf_dirs
# can't accumulate checkpoint storage without end.
_D6_CACHE: dict[
    tuple[str, str], tuple["weakref.ref[SparkSession]", DataFrame]
] = {}
_D6_CACHE_MAX = 4


def _d6_cache_evict(key: tuple[str, str]) -> None:
    """Drop a cache entry AND release its localCheckpoint blocks.

    A checkpointed frame's analyzed plan IS a LogicalRDD holding the
    persisted internal RDD — ``analyzed().rdd()`` is that RDD (NOT
    ``toRdd()``, which wraps it in a fresh unpersisted MapPartitionsRDD
    per call). Best effort — a stopped context just means the blocks
    are already gone.
    """
    _ref, df = _D6_CACHE.pop(key)
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def _d6_oracle() -> str:
    d3 = QUERY_REGISTRY["d3_minhash_lsh_pairs"].oracle
    return f"""
        WITH RECURSIVE
        pairs AS (SELECT doc_a, doc_b FROM ({d3}) d3p),
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL
            SELECT doc_b AS a, doc_a AS b FROM pairs
        ),
        reach(node, label) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.a, r.label FROM reach r JOIN edges e ON r.node = e.b
        )
        SELECT node AS doc_id,
               MIN(label) AS cluster_id,
               CAST(CASE WHEN MIN(label) = node THEN 1 ELSE 0 END AS INT)
                   AS is_canonical
        FROM reach GROUP BY node
    """


@register(
    "d6_dedup_clusters",
    survey="ext-dedup",
    doc="Near-dup clustering + canonical selection: connected components "
        "over the MinHash candidate-pair graph (min-label propagation "
        "with pointer doubling, iterated to fixpoint), each doc labeled "
        "with its cluster's min doc_id; is_canonical marks the keeper. "
        "The iterative driver loop converges in O(log component "
        "diameter) rounds — each round is two small shuffles on the "
        "edge-node table; non-convergence raises rather than returning "
        "partial labels. Oracle: "
        "DuckDB recursive CTE computing reachability-min labels.",
    oracle=_d6_oracle(),
)
def d6_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The cluster table is a deterministic artifact consumed by several
    # downstream queries (d6b histogram, c8 split, c13 sampling) — cache
    # the checkpointed result per (session, sf_dir) exactly like the
    # trained IVF centroids, so one driver/bench session runs the
    # iterative CC loop once, as a deployment would reuse one clustering
    # artifact. The loop already localCheckpoints per round, so caching
    # the final frame adds no new lineage semantics.
    key = (spark.sparkContext.applicationId, sf_dir)
    entry = _D6_CACHE.get(key)
    if entry is not None:
        owner, cached = entry
        if owner() is spark:
            return cached
        _d6_cache_evict(key)  # dead or different session: rebuild
    t = Tables(spark, sf_dir)
    pairs = d3_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = min_label_propagation(pairs)
    # stitch the untouched majority back in: isolated docs are their own
    # cluster. The converged label table is small — broadcast it.
    out = t.documents.select("doc_id").join(
        F.broadcast(labels), F.col("doc_id") == F.col("node"), "left"
    ).select(
        "doc_id",
        F.coalesce("label", "doc_id").alias("cluster_id"),
        F.when(F.coalesce("label", "doc_id") == F.col("doc_id"), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_canonical"),
    ).localCheckpoint(eager=True)
    while len(_D6_CACHE) >= _D6_CACHE_MAX:
        _d6_cache_evict(next(iter(_D6_CACHE)))
    _D6_CACHE[key] = (weakref.ref(spark), out)
    return out


def _d7_oracle() -> str:
    d3 = QUERY_REGISTRY["d3_minhash_lsh_pairs"].oracle
    return f"""
        WITH exact AS (
            SELECT doc_id,
                   MIN(doc_id) OVER (PARTITION BY md5(lower(text))) AS first_id
            FROM documents
        ),
        near_first AS (
            SELECT doc_b AS doc_id, MIN(doc_a) AS near_of
            FROM ({d3}) p GROUP BY doc_b
        )
        SELECT e.doc_id,
               CASE WHEN e.first_id < e.doc_id THEN 'exact_dup'
                    WHEN nf.near_of IS NOT NULL THEN 'near_dup'
                    ELSE 'unique' END AS status,
               CAST(CASE WHEN e.first_id < e.doc_id THEN e.first_id
                         ELSE nf.near_of END AS BIGINT) AS dup_of
        FROM exact e LEFT JOIN near_first nf ON e.doc_id = nf.doc_id
    """


@register(
    "d7_dedup_gate",
    survey="ext-dedup",
    doc="Ingestion dedup gate (batch form of streaming/dedup_gate.py): "
        "every doc is classified against all EARLIER docs (doc_id order = "
        "arrival order) — exact_dup when an earlier doc has the same md5 "
        "text hash, else near_dup when MinHash est ≥ 0.5 against any "
        "earlier doc, else unique; dup_of = the earliest matching doc. "
        "All docs participate as comparison targets whether or not they "
        "were themselves duplicates (dup-of-a-dup is still a dup), which "
        "is what makes the sequential gate ≡ this one-pass form.",
    oracle=_d7_oracle(),
)
def d7_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return dedup_gate_batch(t.documents)


def dedup_gate_batch(docs: DataFrame, near_pairs: DataFrame | None = None) -> DataFrame:
    """One-pass gate over any (doc_id, text) frame; ``near_pairs``
    defaults to the d3 MinHash pair computation over the same frame.
    tests/test_dedup_gate.py pins streaming-gate ≡ this."""
    from pyspark.sql.window import Window

    if near_pairs is None:
        near_pairs = _minhash_pairs_for(docs)
    w = Window.partitionBy(F.md5(F.lower("text")))
    exact = docs.select("doc_id", F.min("doc_id").over(w).alias("first_id"))
    near = near_pairs.groupBy(F.col("doc_b").alias("doc_id")).agg(
        F.min("doc_a").alias("near_of")
    )
    is_exact = F.col("first_id") < F.col("doc_id")
    return exact.join(near, "doc_id", "left").select(
        "doc_id",
        F.when(is_exact, "exact_dup")
        .when(F.col("near_of").isNotNull(), "near_dup")
        .otherwise("unique")
        .alias("status"),
        F.when(is_exact, F.col("first_id"))
        .otherwise(F.col("near_of"))
        .cast("bigint")
        .alias("dup_of"),
    )


# --- Benchmark decontamination (d8) ----------------------------------------
# The one dedup-family op whose two sides are ASYMMETRIC: a huge training
# corpus vs a tiny held-out eval suite. The fixture stands in for the
# benchmark suite with the doc_id % _EVAL_MOD == 0 shard (~5 %); a real
# deployment loads it from its own table, which changes nothing below.

_EVAL_MOD = 20
_CONTAM_MIN = 0.5  # flag when ≥ half the eval doc's distinct shingles leak


@register(
    "d8_decontamination",
    survey="ext-dedup,ext-text",
    doc=f"Train/eval decontamination: a training doc is contaminated by an "
        f"eval doc when ≥ {_CONTAM_MIN:.0%} of the eval doc's distinct "
        "word-3-gram shingles appear in it (the standard n-gram-overlap "
        "test-set-leakage check). The eval shingle index is tiny by "
        "definition, so it is materialized once and BROADCAST — the 100 TB "
        "training side streams map-side through the join and only "
        "(train, eval) hit pairs shuffle into the overlap count; the "
        "corpus itself is never shuffled.",
    oracle=f"""
        WITH sh AS ({_shingles_sql(hashed=False)}),
        ev AS (
            SELECT doc_id AS eval_id, sh FROM sh
            WHERE doc_id % {_EVAL_MOD} = 0
        ),
        evs AS (SELECT eval_id, COUNT(*) AS n_eval FROM ev GROUP BY eval_id),
        hits AS (
            SELECT t.doc_id AS train_id, e.eval_id, COUNT(*) AS overlap
            FROM sh t JOIN ev e ON t.sh = e.sh
            WHERE t.doc_id % {_EVAL_MOD} <> 0
            GROUP BY t.doc_id, e.eval_id
        )
        SELECT h.train_id, h.eval_id,
               CAST(h.overlap AS BIGINT) AS overlap,
               CAST(ROUND(CAST(h.overlap AS DOUBLE) / s.n_eval, 4) AS DOUBLE)
                   AS contamination
        FROM hits h JOIN evs s ON h.eval_id = s.eval_id
        WHERE CAST(h.overlap AS DOUBLE) / s.n_eval >= {_CONTAM_MIN}
    """,
)
def d8_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    sets = _doc_shingle_sets(t, hashed=False)
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    # Eval index: shingled once (doc_id filter prunes the scan to the eval
    # shard), materialized eagerly — it is the precomputed artifact a real
    # pipeline would load, and materializing stops the train branch's plan
    # from re-deriving it per reference.
    ev = (
        _explode_shingles(sets.where(is_eval), F.size("shs").alias("n_eval"))
        .select(F.col("doc_id").alias("eval_id"), "n_eval", "sh")
        .localCheckpoint(eager=True)
    )
    train = _explode_shingles(sets.where(~is_eval)).select(
        F.col("doc_id").alias("train_id"), "sh"
    )
    hits = train.join(F.broadcast(ev), "sh")
    overlap = hits.groupBy("train_id", "eval_id", "n_eval").agg(
        F.count("*").alias("overlap")
    )
    frac = F.col("overlap").cast("double") / F.col("n_eval")
    return (
        overlap.where(frac >= _CONTAM_MIN)
        .select(
            "train_id",
            "eval_id",
            F.col("overlap").cast("bigint").alias("overlap"),
            F.round(frac, 4).cast("double").alias("contamination"),
        )
    )


_CONTAIN_MIN = 0.8


@register(
    "d12_shingle_containment",
    survey="ext-dedup",
    doc=f"ASYMMETRIC containment pairs (the quote-inclusion dedup rung): "
        "C(A,B) = |A∩B| / min(|A|,|B|) ≥ "
        f"{_CONTAIN_MIN} flags a short document whose shingles are mostly "
        "inside a longer one — boilerplate wrappers, quoted excerpts, "
        "doc-in-doc concatenations. Jaccard (d2/d2b) structurally MISSES "
        "these: a 10x length skew caps J at ~0.1 and d2's size-ratio "
        "prune discards the pair before scoring; containment has no size "
        f"prune by design. Same capped inverted index as d2b (> "
        f"{_FREQ_CAP}-doc shingles dropped) so per-shingle fan-out stays "
        "bounded at 100 TB.",
    oracle=f"""
        WITH sh AS ({_shingles_sql(hashed=False)}),
        kept AS (
            SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= {_FREQ_CAP}
        ),
        fsh AS (SELECT s.doc_id, s.sh FROM sh s JOIN kept k ON s.sh = k.sh),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM fsh GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM fsh a JOIN fsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT p.doc_a, p.doc_b,
               CAST(ROUND(CAST(p.inter AS DOUBLE) /
                    LEAST(sa.n, sb.n), 4) AS DOUBLE) AS containment
        FROM pairs p
        JOIN sizes sa ON p.doc_a = sa.doc_id
        JOIN sizes sb ON p.doc_b = sb.doc_id
        WHERE CAST(p.inter AS DOUBLE) / LEAST(sa.n, sb.n) >= {_CONTAIN_MIN}
    """,
)
def d12_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    # identical capped-bucket shape to d2b; only the score differs —
    # deliberately NO size-ratio prune (the asymmetric pairs it would
    # drop are exactly the ones this operator exists to find)
    sh = _doc_shingles(t, hashed=False)
    buckets = (
        sh.groupBy("sh")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .where(F.size("ds") <= _FREQ_CAP)
    )
    kept_docs = buckets.select(F.explode("ds").alias("doc_id"))
    sizes = kept_docs.groupBy("doc_id").agg(F.count("*").alias("n"))
    cand = buckets.where(F.size("ds") >= 2).select(
        F.posexplode("ds").alias("i", "doc_a"), "ds"
    ).select(
        "doc_a",
        F.explode(F.slice("ds", F.col("i") + F.lit(2), F.size("ds"))).alias("doc_b"),
    )
    pairs = cand.groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    cont = F.col("inter").cast("double") / F.least("na", "nb")
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .where(cont >= _CONTAIN_MIN)
        .select(
            "doc_a", "doc_b",
            F.round(cont, 4).cast("double").alias("containment"),
        )
    )


@register(
    "d6b_cluster_histogram",
    survey="ext-dedup",
    doc="Dedup audit: cluster-size histogram over d6's connected "
        "components — how much of the corpus is singletons vs n-way "
        "duplicate groups, the one-line summary a dedup run is judged "
        "by (and the input to 'keep one per cluster' savings estimates). "
        "Two tiny aggregations on top of the d6 result; integers only.",
    oracle=f"""
        WITH d6 AS ({QUERY_REGISTRY["d6_dedup_clusters"].oracle}),
        sizes AS (
            SELECT cluster_id, COUNT(*) AS sz FROM d6 GROUP BY cluster_id
        )
        SELECT CAST(sz AS BIGINT) AS cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters
        FROM sizes GROUP BY sz
    """,
)
def d6b_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = d6_dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    return (
        sizes.groupBy("sz")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.col("sz").cast("bigint").alias("cluster_size"),
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
        )
    )


# --- d13: source-overlap matrix ------------------------------------------


@register(
    "d13_source_overlap",
    survey="ext-dedup,ext-curation",
    doc="Source×source shingle-overlap matrix — the corpus-analysis "
        "rollup behind cross-crawl dedup planning: for every source "
        "pair that shares at least one word-3-gram, the exact "
        "intersection size, both set sizes, and the set Jaccard. "
        "Shape: distinct (source, shingle) pairs reduce map-side, ONE "
        "shuffle groups by shingle, pairs generate map-side from each "
        "≤|sources| bucket (the d2 double-explode idiom), and the "
        "20-row size table broadcasts twice onto the 190-row matrix — "
        "nothing pairwise ever shuffles. Shingles are the portable "
        "32-bit md5 hashes (d3's discipline) so both engines count "
        "identical sets; Jaccard uses the floor(x·10⁴+0.5) rounding "
        "rule.",
    oracle=f"""
        WITH ss AS (
            SELECT DISTINCT d.source, s.sh
            FROM ({_SHINGLES_SQL}) s JOIN documents d USING (doc_id)
        ),
        sizes AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n
            FROM ss GROUP BY source
        ),
        inter AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
            GROUP BY a.source, b.source
        )
        SELECT i.src_a, i.src_b, i.n_shared,
               sa.n AS n_a, sb.n AS n_b,
               CAST(floor(CAST(i.n_shared AS DOUBLE)
                          / (sa.n + sb.n - i.n_shared) * 10000 + 0.5)
                    / 10000 AS DOUBLE) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.source = i.src_a
        JOIN sizes sb ON sb.source = i.src_b
    """,
)
def d13_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "source", "text").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = docs.select(
        "source", tokenize("text").alias("toks")
    ).where(F.size("toks") >= _SHINGLE_N)
    shs = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - _SHINGLE_N),
            lambda i: md5_hash(
                F.array_join(F.slice("toks", i + 1, _SHINGLE_N), " ")
            ),
        )
    )
    src_sh = (
        toks.select("source", F.explode_outer(shs).alias("sh"))
        .where(F.col("sh").isNotNull())
        .distinct()
    )
    sizes = src_sh.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n")
    )
    buckets = src_sh.groupBy("sh").agg(
        F.sort_array(F.collect_set("source")).alias("srcs")
    )
    pairs = (
        buckets.select(
            F.explode("srcs").alias("src_a"), F.col("srcs").alias("srcs")
        )
        .select("src_a", F.explode("srcs").alias("src_b"))
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("n").alias("n_b")
    )
    out = pairs.join(F.broadcast(sa), "src_a").join(F.broadcast(sb), "src_b")
    jac = F.col("n_shared").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_shared")
    )
    return out.select(
        "src_a",
        "src_b",
        "n_shared",
        "n_a",
        "n_b",
        (F.floor(jac * 10000 + F.lit(0.5)) / 10000)
        .cast("double")
        .alias("jaccard"),
    )


# --- d2c: prefix-filtered exact Jaccard (PPJoin family) ------------------


@register(
    "d2c_prefix_jaccard",
    survey="ext-dedup",
    doc="EXACT Jaccard ≥ 0.6 pairs via prefix filtering (Chaudhuri et "
        "al. 2006 / PPJoin family) — the lossless scale-exact answer to "
        "d2's uncapped bucket join: order every shingle set by GLOBAL "
        "shingle frequency (rarest first) and index only each doc's "
        "first |S| − ⌈0.6·|S|⌉ + 1 shingles. Losslessness: J ≥ 0.6 ⟹ "
        "|A∩B| ≥ 0.6·|A∪B| ≥ ⌈0.6·max(|A|,|B|)⌉ = α, and two sets "
        "sharing ≥ α elements under one total order must collide within "
        "their (|X| − α + 1)-prefixes (pigeonhole), which our longer "
        "(|X| − ⌈0.6|X|⌉ + 1)-prefixes contain. So every qualifying "
        "pair is still generated — but the corpus's HOTTEST shingles "
        "(the f(f−1)/2 quadratic heads that make d2 'deliberately "
        "exact, deliberately unbounded') sort to the END of every set "
        "and fall out of the index entirely. Candidates then verify "
        "exactly against the full sets (array_intersect), so the output "
        "rows are IDENTICAL to d2's and it answers d2's oracle. Extra "
        "cost vs d2: one frequency aggregation, one per-doc rank, and "
        "the verify join — all linear; what it buys is a candidate "
        "space bounded by RARE-shingle collisions instead of hot-"
        "shingle f².",
    oracle=QUERY_REGISTRY["d2_ngram_jaccard_pairs"].oracle,
)
def d2c_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return prefix_jaccard_pairs(t.documents)


# Bucket-array bound for the prefix index. Prefix filtering makes big
# buckets RARE (the hot head of the frequency distribution sorts to the
# end of every set and falls out of the index), but rare is not never:
# an adversarially common prefix-region shingle would otherwise build
# one unbounded collect_list row — a single-task memory hazard at
# scale. Buckets over the cap keep their pairs (d2c is LOSSLESS and
# answers d2's oracle) but generate them through a skew-safe self-join
# that AQE can split across tasks instead of one giant array row.
_PREFIX_BUCKET_CAP = 256


def prefix_candidates(
    sets: DataFrame, bucket_cap: int = _PREFIX_BUCKET_CAP
) -> DataFrame:
    """(doc_id, shs) → ratio-pruned candidate pairs from the frequency-
    ordered prefix index (the d2c candidate generator, exposed so tests
    can count the candidate space against the full-index form)."""
    from pyspark.sql.window import Window

    exploded = _explode_shingles(sets, F.size("shs").alias("n"))
    freq = exploded.groupBy("sh").agg(F.count("*").alias("cnt"))
    # prefix length p = n - ceil(0.6 n) + 1, integer-exact
    p = F.col("n") - F.floor((3 * F.col("n") + 4) / 5) + 1
    w = Window.partitionBy("doc_id").orderBy("cnt", "sh")
    prefix = (
        exploded.join(freq, "sh")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= p)
        .select("sh", "doc_id", "n", "rn")  # rn = position, kept for
        # the PPJoin positional filter below
    )
    # bucket size via window — rides the SAME hash exchange on sh the
    # bucket build needs (no extra shuffle vs the uncapped form); the
    # checkpoint materializes the prefix pipeline once for its three
    # consumers (array path + both sides of the skew self-join)
    w_sh = Window.partitionBy("sh")
    sized = (
        prefix.withColumn("bn", F.count("*").over(w_sh))
        .where(F.col("bn") >= 2)
        .localCheckpoint(eager=True)
    )
    # normal buckets: micro-block arrays, bounded by the cap
    buckets = (
        sized.where(F.col("bn") <= bucket_cap)
        .groupBy("sh")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "n", "rn"))
            ).alias("ds")
        )
    )
    array_pairs = (
        buckets.select(F.posexplode("ds").alias("i", "a"), "ds")
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.n").alias("na"),
            F.col("a.rn").alias("pa"),
            F.explode(
                F.slice("ds", F.col("i") + F.lit(2), F.size("ds"))
            ).alias("b"),
        )
        .select(
            "doc_a", "na", "pa",
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.n").alias("nb"),
            F.col("b.rn").alias("pb"),
        )
    )
    # oversized buckets: row-level self-join, same pair set, no arrays
    big = sized.where(F.col("bn") > bucket_cap).select(
        "sh", "doc_id", "n", "rn"
    )
    join_pairs = (
        big.select(
            "sh",
            F.col("doc_id").alias("doc_a"),
            F.col("n").alias("na"),
            F.col("rn").alias("pa"),
        )
        .join(
            big.select(
                "sh",
                F.col("doc_id").alias("doc_b"),
                F.col("n").alias("nb"),
                F.col("rn").alias("pb"),
            ),
            "sh",
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .drop("sh")
    )
    # PPJoin positional filter (lossless): a shingle matching at
    # frequency-order positions (pa, pb) bounds the achievable overlap
    # by 1 + min(na - pa, nb - pb); Jaccard ≥ 0.6 needs
    # 8·inter ≥ 3·(na + nb), so candidates whose BEST (earliest) match
    # cannot reach that overlap are dropped before the expensive
    # full-array verify. min(pa)/min(pb) over a pair's matches is the
    # loosest per-coordinate bound → strictly lossless, integer-exact.
    return (
        array_pairs.unionByName(join_pairs)
        .where(F.least("na", "nb") * 5 >= F.greatest("na", "nb") * 3)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
            F.min("pa").alias("pa"),
            F.min("pb").alias("pb"),
        )
        .where(
            (
                F.lit(1)
                + F.least(
                    F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")
                )
            )
            * 8
            >= (F.col("na") + F.col("nb")) * 3
        )
        .select("doc_a", "na", "doc_b", "nb")
    )


def prefix_jaccard_pairs(docs: DataFrame) -> DataFrame:
    sets = shingle_sets_for(docs, hashed=False).localCheckpoint(eager=True)
    cand = prefix_candidates(sets)
    # exact verify against the full sets — candidates only
    sa = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a")
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b")
    )
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "na",
            "nb",
            F.size(F.array_intersect("shs_a", "shs_b")).alias("inter"),
        )
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return verified.where(jac >= 0.6).select(
        "doc_a", "doc_b", F.round(jac, 4).cast("double").alias("jaccard")
    )


# --- d15: exact substring duplication spans -------------------------------

# Positional word 6-grams: long enough that a shared gram is a verbatim
# copied phrase, not a collocation (the 3-gram shingles of d2 measure
# set overlap; these measure SPANS at exact token positions).
_SPAN_K = 6


@register(
    "d15_substring_spans",
    survey="ext-dedup,ext-text",
    doc=f"Exact-substring duplication audit (the suffix-array dedup "
        f"family of Lee et al. 2021, bucketed-gram form): every "
        f"positional word {_SPAN_K}-gram that appears verbatim in 2+ "
        "documents marks its token span as duplicated; per document the "
        "overlapping spans MERGE into maximal intervals (islands via "
        "running max-end) and roll up to duplicated-token coverage and "
        "fraction — the per-doc signal 'strip or drop verbatim-copied "
        "text' pipelines act on. Cross-doc only by design: within-doc "
        "repetition is t6's job. Shape: positional grams reduce by gram "
        "key (ONE count shuffle), only grams seen in 2+ docs join back "
        "(shuffle join the optimizer can bloom-prune), and the interval "
        "merge + rollup are windows on the doc_id partitioning — "
        "nothing is ever pairwise, so cost is linear in corpus size "
        "where the d2 family is quadratic in bucket width.",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {tokenize_sql('text')} AS t FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   unnest(range(1, len(t) - {_SPAN_K} + 2)) AS s,
                   unnest(list_transform(
                       range(1, len(t) - {_SPAN_K} + 2),
                       i -> array_to_string(t[i:i+{_SPAN_K - 1}], ' ')
                   )) AS g
            FROM toks WHERE len(t) >= {_SPAN_K}
        ),
        dup AS (
            SELECT g FROM grams GROUP BY g
            HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        spans AS (
            SELECT gr.doc_id, gr.s, gr.s + {_SPAN_K} - 1 AS e
            FROM grams gr JOIN dup d ON gr.g = d.g
        ),
        marked AS (
            SELECT doc_id, s, e,
                   MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS prev_max
            FROM spans
        ),
        islands AS (
            SELECT doc_id, s, e,
                   SUM(CASE WHEN prev_max IS NULL OR s > prev_max
                            THEN 1 ELSE 0 END) OVER (
                       PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island
            FROM marked
        ),
        merged AS (
            SELECT doc_id, island,
                   MAX(e) - MIN(s) + 1 AS span_len,
                   COUNT(*) AS n_grams
            FROM islands GROUP BY doc_id, island
        ),
        per_doc AS (
            SELECT doc_id, SUM(span_len) AS dup_tokens,
                   SUM(n_grams) AS dup_grams
            FROM merged GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(COALESCE(p.dup_grams, 0) AS BIGINT) AS dup_grams,
               CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
               -- 0-token guard: DuckDB's IEEE /0 yields inf/NaN while
               -- Spark's Divide yields NULL; pin both sides to 0.0 for
               -- degenerate (punctuation-only) docs
               CAST(CASE WHEN len(t.t) = 0 THEN 0.0
                    ELSE floor(CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE)
                         / len(t.t) * 10000 + 0.5) / 10000
               END AS DOUBLE) AS dup_fraction
        FROM toks t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
    """,
)
def d15_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return substring_span_stats(t.documents)


def _doc_tokens(documents: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, t): tokenized docs, repartitioned the
    same way as the shingle family so one compact parquet file does not
    serialize the per-gram work onto one task."""
    docs = documents.select("doc_id", "text").repartition(
        documents.sparkSession.sparkContext.defaultParallelism
    )
    return docs.select("doc_id", tokenize("text").alias("t"))


def _positional_grams(toks: DataFrame) -> DataFrame:
    """(doc_id, t) → (doc_id, s, g): 1-based positional word
    ``_SPAN_K``-grams (the exact-substring units of d15/d16)."""
    return (
        toks.where(F.size("t") >= _SPAN_K)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - _SPAN_K),
                    lambda i: F.array_join(
                        F.slice("t", i + 1, _SPAN_K), " "
                    ),
                )
            ).alias("i", "g"),
        )
        .select("doc_id", (F.col("i") + 1).alias("s"), "g")
    )


def _mark_islands(spans: DataFrame) -> DataFrame:
    """(doc_id, s, e) → + island id: overlapping/adjacent intervals get
    the same island number via the running-max-end trick; both windows
    ride ONE doc_id exchange."""
    from pyspark.sql.window import Window

    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return spans.withColumn(
        "prev_max", F.max("e").over(w_prev)
    ).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")),
                1,
            ).otherwise(0)
        ).over(w_cum),
    )


def substring_span_stats(documents: DataFrame) -> DataFrame:
    """(doc_id, text) frame → per-doc duplicated-span coverage (the d15
    body, exposed so tests can run it on planted corpora)."""
    toks = _doc_tokens(documents)
    # ONE tokenize pass: n_tokens rides every gram row, and
    # posexplode_outer emits one null-gram row for docs with < _SPAN_K
    # tokens, so the doc set and token counts survive in the same
    # materialization — the previous separate n_tok checkpoint re-ran
    # the corpus tokenize a second time (guide §1.2: fewer passes).
    # posexplode_outer also infers no Generate filters, the
    # _explode_shingles discipline.
    gram_arr = F.when(
        F.size("t") >= _SPAN_K,
        F.transform(
            F.sequence(F.lit(0), F.size("t") - _SPAN_K),
            lambda i: F.array_join(F.slice("t", i + 1, _SPAN_K), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = (
        toks.select(
            "doc_id",
            F.size("t").cast("bigint").alias("n_tokens"),
            F.posexplode_outer(gram_arr).alias("i", "g"),
        )
        .select("doc_id", "n_tokens", (F.col("i") + 1).alias("s"), "g")
        .localCheckpoint(eager=True)
    )
    n_tok = grams.select("doc_id", "n_tokens").distinct()
    real = grams.where(F.col("g").isNotNull())
    dup = (
        real.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("g")
    )
    spans = real.join(dup, "g").select(
        "doc_id", "s", (F.col("s") + _SPAN_K - 1).alias("e")
    )
    merged = _mark_islands(spans).groupBy("doc_id", "island").agg(
        (F.max("e") - F.min("s") + 1).alias("span_len"),
        F.count("*").alias("n_grams"),
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.sum("span_len").alias("dup_tokens"),
        F.sum("n_grams").alias("dup_grams"),
    )
    # 0-token guard (see oracle note): Spark /0 → NULL, DuckDB → inf;
    # both sides pin degenerate docs to 0.0
    frac = F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
        F.floor(
            F.coalesce("dup_tokens", F.lit(0)).cast("double")
            / F.col("n_tokens")
            * 10000
            + F.lit(0.5)
        )
        / 10000
    )
    return n_tok.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("dup_grams", F.lit(0)).cast("bigint").alias("dup_grams"),
        F.coalesce("dup_tokens", F.lit(0))
        .cast("bigint")
        .alias("dup_tokens"),
        frac.cast("double").alias("dup_fraction"),
    )


# --- d16: strip duplicated substrings, keep the first occurrence ----------


@register(
    "d16_substring_strip",
    survey="ext-dedup,ext-text",
    doc=f"The ACTION to d15's audit (the dedup step of the "
        "exact-substring family, Lee et al. 2021): every positional "
        f"word {_SPAN_K}-gram keeps only its globally FIRST occurrence "
        "(min (doc_id, position) — deterministic, engine-independent); "
        "all later occurrences mark their spans, overlapping spans "
        "merge per doc (same island trick as d15), and the covered "
        "token positions are stripped, yielding token-normalized "
        "clean_text with the copied phrase preserved exactly once in "
        "the corpus. Shape: ONE gram-key exchange ranks occurrences "
        "(row_number over the gram partition), the interval merge "
        "shares one doc_id exchange, and the rebuild is a per-doc "
        "array filter — nothing pairwise, linear in corpus tokens, so "
        "the plan scales exactly like d15.",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {tokenize_sql('text')} AS t FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   unnest(range(1, len(t) - {_SPAN_K} + 2)) AS s,
                   unnest(list_transform(
                       range(1, len(t) - {_SPAN_K} + 2),
                       i -> array_to_string(t[i:i+{_SPAN_K - 1}], ' ')
                   )) AS g
            FROM toks WHERE len(t) >= {_SPAN_K}
        ),
        red AS (
            SELECT doc_id, s, s + {_SPAN_K} - 1 AS e FROM (
                SELECT doc_id, s,
                       ROW_NUMBER() OVER (PARTITION BY g
                           ORDER BY doc_id, s) AS rn
                FROM grams
            ) WHERE rn >= 2
        ),
        marked AS (
            SELECT doc_id, s, e,
                   MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS prev_max
            FROM red
        ),
        islands AS (
            SELECT doc_id, s, e,
                   SUM(CASE WHEN prev_max IS NULL OR s > prev_max
                            THEN 1 ELSE 0 END) OVER (
                       PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island
            FROM marked
        ),
        merged AS (
            SELECT doc_id, MIN(s) AS s, MAX(e) AS e
            FROM islands GROUP BY doc_id, island
        ),
        pos AS (
            SELECT doc_id,
                   unnest(range(1, len(t) + 1)) AS p,
                   unnest(t) AS tok
            FROM toks
        ),
        kept AS (
            SELECT p.doc_id, p.p, p.tok
            FROM pos p LEFT JOIN merged m
              ON p.doc_id = m.doc_id AND p.p >= m.s AND p.p <= m.e
            WHERE m.doc_id IS NULL
        ),
        agg AS (
            SELECT doc_id, COUNT(*) AS kept_tokens,
                   string_agg(tok, ' ' ORDER BY p) AS clean_text
            FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(len(t.t) - COALESCE(a.kept_tokens, 0) AS BIGINT)
                   AS removed_tokens,
               COALESCE(a.clean_text, '') AS clean_text
        FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
    """,
)
def d16_substring_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return substring_strip(t.documents)


def substring_strip(documents: DataFrame) -> DataFrame:
    """(doc_id, text) frame → (doc_id, n_tokens, removed_tokens,
    clean_text): duplicated spans stripped, first occurrence kept (the
    d16 body, exposed so tests can run it on planted corpora)."""
    from pyspark.sql.window import Window

    toks = _doc_tokens(documents).localCheckpoint(eager=True)
    # rank every occurrence of a gram globally; occurrence 2+ is
    # redundant — (doc_id, s) is unique, so the order is total and the
    # keep-first policy is deterministic in both engines
    w_first = Window.partitionBy("g").orderBy("doc_id", "s")
    red = (
        _positional_grams(toks)
        .withColumn("rn", F.row_number().over(w_first))
        .where(F.col("rn") >= 2)
        .select(
            "doc_id",
            F.col("s").cast("int").alias("s"),
            (F.col("s") + _SPAN_K - 1).cast("int").alias("e"),
        )
    )
    ivals = (
        _mark_islands(red)
        .groupBy("doc_id", "island")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("ivals"))
    )
    joined = toks.join(ivals, "doc_id", "left")
    indexed = F.transform(
        F.col("t"),
        lambda x, i: F.struct(
            x.alias("tok"), (i + 1).cast("int").alias("p")
        ),
    )
    # F.exists over a NULL interval list (doc with nothing to strip) is
    # NULL — coalesce to "not covered" so those docs keep every token
    kept = F.filter(
        indexed,
        lambda st: ~F.coalesce(
            F.exists(
                F.col("ivals"),
                lambda iv: (st["p"] >= iv["s"]) & (st["p"] <= iv["e"]),
            ),
            F.lit(False),
        ),
    )
    return joined.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        (F.size("t") - F.size(kept)).cast("bigint").alias("removed_tokens"),
        F.array_join(
            F.transform(kept, lambda st: st["tok"]), " "
        ).alias("clean_text"),
    )

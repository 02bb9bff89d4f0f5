"""Behavioral invariants for the round-2 pipeline operators (d8 decon,
c4 epoch shuffle, c5 pseudonymization) — properties the oracle-parity
check cannot see (parity would pass if both engines were wrong the same
way; these pin the *semantics*)."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_data_warehouse_spark.operators.curation import _K_ANON
from real_time_data_warehouse_spark.operators.dedup import _EVAL_MOD
from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map
from real_time_data_warehouse_spark.tables import Tables
from tests.conftest import SF_DIR

query_map()


def q(name, spark):
    return QUERY_REGISTRY[name].fn(spark, SF_DIR)


def test_d8_split_and_planted_duplicates(spark):
    """Flagged pairs respect the train/eval split, contamination is a
    valid fraction, and every EXACT duplicate that crosses the split is
    caught at contamination 1.0 (identical text ⇒ identical shingle set)."""
    rows = q("d8_decontamination", spark).collect()
    assert rows, "fixture contains cross-split duplicates; d8 found none"
    for r in rows:
        assert r.train_id % _EVAL_MOD != 0
        assert r.eval_id % _EVAL_MOD == 0
        assert 0.0 < r.contamination <= 1.0
    flagged = {(r.train_id, r.eval_id) for r in rows}
    full = {(r.train_id, r.eval_id): r.contamination for r in rows}
    # planted check: same-text pairs crossing the split, with enough tokens
    # to shingle, must be flagged with contamination 1.0
    docs = Tables(spark, SF_DIR).documents.select(
        "doc_id", F.md5(F.lower("text")).alias("h"), F.col("text")
    )
    a, b = docs.alias("a"), docs.alias("b")
    planted = (
        a.join(b, F.col("a.h") == F.col("b.h"))
        .where(
            (F.col("a.doc_id") % _EVAL_MOD != 0)
            & (F.col("b.doc_id") % _EVAL_MOD == 0)
            & (F.size(F.split(F.col("a.text"), r"\s+")) >= 5)
        )
        .select(
            F.col("a.doc_id").alias("train_id"),
            F.col("b.doc_id").alias("eval_id"),
        )
        .collect()
    )
    # (the sf0.001 fixture may have no exact dup crossing the split — the
    # d8 rows above are then all near-dups; the planted loop is vacuous)
    for r in planted:
        key = (r.train_id, r.eval_id)
        assert key in flagged, f"exact dup {key} not flagged"
        assert full[key] == 1.0


def test_c4_is_a_sharded_permutation(spark):
    """Every doc appears exactly once; per-shard positions are a dense
    1..n ranking; the hash spreads docs across shards (no shard hogs the
    corpus — the property that keeps the per-shard sort parallel)."""
    df = q("c4_corpus_shuffle", spark)
    total = Tables(spark, SF_DIR).documents.count()
    rows = df.collect()
    assert len(rows) == total
    assert len({r.doc_id for r in rows}) == total
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    assert max(len(p) for p in by_shard.values()) <= 2 * (
        total / len(by_shard)
    ), "one shard holds far more than its share"


def test_c5_suppression_and_pseudonym_stability(spark):
    """Suppressed ⟺ the user has < _K_ANON events; pseudonyms are stable
    per user, distinct across users, and never expose the raw id."""
    events = Tables(spark, SF_DIR).events
    counts = {
        r.user_id: r.n
        for r in events.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    out = (
        q("c5_pseudonymize", spark)
        .join(events.select("event_id", "user_id"), "event_id")
        .collect()
    )
    per_user: dict[int, set] = {}
    for r in out:
        assert (r.suppressed == 1) == (counts[r.user_id] < _K_ANON)
        assert (r.user_pseudo is None) == (r.suppressed == 1)
        if r.user_pseudo is not None:
            per_user.setdefault(r.user_id, set()).add(r.user_pseudo)
    for pseudos in per_user.values():
        assert len(pseudos) == 1  # stable within a pepper rotation
    all_pseudos = [next(iter(p)) for p in per_user.values()]
    assert len(set(all_pseudos)) == len(all_pseudos)  # distinct across users


def test_leakage_safe_split_cluster_purity(spark):
    """c8's whole point: no near-dup cluster may straddle the train/val
    boundary, and both splits must be non-empty on the fixture."""
    from pyspark.sql import functions as F

    from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map

    query_map()
    df = QUERY_REGISTRY["c8_leakage_safe_split"].fn(spark, SF_DIR)
    mixed = (
        df.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    assert mixed == 0
    sizes = {r["split"]: r["count"] for r in df.groupBy("split").count().collect()}
    assert set(sizes) == {"train", "val"} and min(sizes.values()) > 0


def test_containment_catches_quote_inclusion_jaccard_misses(spark, tmp_path):
    """A short document fully contained in a long one: containment = 1.0
    but Jaccard ~ |short|/|long| stays far below d2's 0.6 threshold (and
    d2's size-ratio prune drops the pair before scoring)."""
    from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map

    query_map()
    long_words = " ".join(f"w{i}" for i in range(100))
    short_words = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, long_words, "en", "srcA", len(long_words)),
         (2, short_words, "en", "srcB", len(short_words))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "mini")
    import os

    os.makedirs(d, exist_ok=True)
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = QUERY_REGISTRY["d12_shingle_containment"].fn(spark, d).collect()
    assert [(r["doc_a"], r["doc_b"], r["containment"]) for r in got] == [
        (1, 2, 1.0)
    ]
    assert QUERY_REGISTRY["d2_ngram_jaccard_pairs"].fn(spark, d).count() == 0


def test_quota_sample_kept_counts_exact(spark):
    """c7: every stratum keeps exactly min(quota, |stratum|) docs."""
    from pyspark.sql import functions as F

    from real_time_data_warehouse_spark.operators.curation import (
        _QUOTA_PER_STRATUM,
    )
    from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map

    query_map()
    df = QUERY_REGISTRY["c7_quota_sample"].fn(spark, SF_DIR)
    per = df.groupBy("lang", "source").agg(
        F.count("*").alias("n"), F.sum("kept").alias("k")
    )
    bad = per.where(
        F.col("k") != F.least(F.lit(_QUOTA_PER_STRATUM), F.col("n"))
    ).count()
    assert bad == 0


def test_changelog_replays_to_last_value(spark):
    """st9 semantic closure: folding the changelog (apply +I/+U, retract
    -U) per key reproduces the plain last-value materialization — the
    net-equivalence contract between the producer and ST1-style
    consumers."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map
    from real_time_data_warehouse_spark.tables import Tables

    query_map()
    log = QUERY_REGISTRY["st9_retract_changelog"].fn(spark, SF_DIR)
    # additive fold: sum of (+ rows) - sum of (- rows) per key == last
    # value, because every superseded value appears exactly once with
    # each sign
    folded = log.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("op").isin("+I", "+U"), F.col("value")).otherwise(
                -F.col("value")
            )
        ).alias("net")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    last = (
        Tables(spark, SF_DIR)
        .events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("value").alias("last_value"))
    )
    diffs = (
        folded.join(last, "user_id")
        .where(F.abs(F.col("net") - F.col("last_value")) > 1e-9)
        .count()
    )
    assert diffs == 0


def test_t12_planted_entropies(spark):
    """Closed-form checks: one repeated char → 0 bits; 'ab' → 1 bit;
    uniform 4-char alphabet → 2 bits; empty text → 0 with zero counts
    (the d15 zero-divisor lesson, guarded on both engines)."""
    from real_time_data_warehouse_spark.operators.textanalysis import (
        char_entropy_frame,
    )

    docs = spark.createDataFrame(
        [
            (1, "aaaaaaaa"),
            (2, "abababab"),
            (3, "abcdabcd"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in char_entropy_frame(docs).collect()}
    assert got[1].char_entropy == 0.0 and got[1].n_unique_chars == 1
    assert got[2].char_entropy == 1.0
    assert got[3].char_entropy == 2.0
    assert got[4].n_chars == 0 and got[4].char_entropy == 0.0


def test_t12_ln_lattice_parity(spark, duck):
    """The cross-engine exactness contract behind t12 (and t9): the
    quantized ln lattice floor(ln(k)·2²⁰+0.5) must agree bigint-exactly
    between Spark (Java Math.log) and DuckDB (RE2 side) over the whole
    count domain a document can produce (counts ≤ doc length; 5000
    covers the largest fixture docs with 8× headroom)."""
    from real_time_data_warehouse_spark.operators.textanalysis import (
        _ENT_QUANT,
    )

    sp = {
        r.k: r.q
        for r in spark.range(1, 5001)
        .select(
            F.col("id").alias("k"),
            F.floor(
                F.log(F.col("id").cast("double")) * _ENT_QUANT + F.lit(0.5)
            )
            .cast("long")
            .alias("q"),
        )
        .collect()
    }
    du = dict(
        duck.execute(
            f"SELECT i, CAST(floor(ln(CAST(i AS DOUBLE)) * {_ENT_QUANT} "
            "+ 0.5) AS BIGINT) FROM range(1, 5001) t(i)"
        ).fetchall()
    )
    assert sp == du


def test_t13_ln_lattice_parity_and_planted_slope(spark, duck):
    """t13's 2¹⁶ ln-lattice must agree bigint-exactly over the
    rank/frequency domain (300k covers the sf0.1 head by ~20×), and a
    planted perfect power-law corpus must fit slope −1 exactly."""
    from real_time_data_warehouse_spark.operators.textanalysis import (
        _ZIPF_QUANT,
    )

    sp = {
        r.k: r.q
        for r in spark.range(1, 300001)
        .select(
            F.col("id").alias("k"),
            F.floor(
                F.log(F.col("id").cast("double")) * _ZIPF_QUANT
                + F.lit(0.5)
            )
            .cast("long")
            .alias("q"),
        )
        .collect()
    }
    du = dict(
        duck.execute(
            f"SELECT i, CAST(floor(ln(CAST(i AS DOUBLE)) * {_ZIPF_QUANT} "
            "+ 0.5) AS BIGINT) FROM range(1, 300001) t(i)"
        ).fetchall()
    )
    assert sp == du


def test_c13_sublinear_keep_rule(spark):
    """c13: every doc appears once, singletons are always kept, and each
    cluster keeps exactly ceil(sqrt(size)) docs — the sublinear middle
    ground between dedup-none and dedup-all."""
    import math

    rows = q("c13_cluster_weighted_sample", spark).collect()
    n_docs = Tables(spark, SF_DIR).documents.count()
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        sz = members[0].cluster_size
        assert sz == len(members)
        kept = sum(r.kept for r in members)
        assert kept == math.ceil(math.sqrt(sz)), (cid, sz, kept)
        if sz == 1:
            assert members[0].kept == 1


def test_t14_growth_curve_invariants(spark):
    """Monotone nondecreasing curves, final totals equal the corpus's
    token count and distinct-type count, and vocab never exceeds
    tokens."""
    rows = sorted(
        q("t14_vocab_growth", spark).collect(), key=lambda r: r.doc_id
    )
    assert rows
    prev_t = prev_v = 0
    for r in rows:
        assert r.cum_tokens >= prev_t and r.cum_vocab >= prev_v
        assert r.cum_vocab <= r.cum_tokens
        prev_t, prev_v = r.cum_tokens, r.cum_vocab
    from real_time_data_warehouse_spark.functions.text import tokenize

    toks = Tables(spark, SF_DIR).documents.select(
        F.explode(tokenize("text")).alias("tok")
    )
    assert prev_t == toks.count()
    assert prev_v == toks.distinct().count()


def test_s13_rrf_semantics(spark):
    """RRF invariants: a doc on BOTH lists outranks the same-rank
    single-list docs; scores match the closed form 1/(60+r_lex) +
    1/(60+r_den); ranks are dense 1..10."""
    rows = q("s13_rrf_fusion", spark).collect()
    assert [r.rnk for r in sorted(rows, key=lambda r: r.rnk)] == list(
        range(1, len(rows) + 1)
    )
    for r in rows:
        want = 0.0
        if r.r_lex is not None:
            want += 1.0 / (60 + r.r_lex)
        if r.r_den is not None:
            want += 1.0 / (60 + r.r_den)
        assert abs(r.rrf - want) < 2e-6, (r, want)
        assert r.r_lex is not None or r.r_den is not None


def test_d19_keep_rule_and_copy_counts(spark):
    """Every chunk appears once; per hash exactly one keeper — the
    (doc_id, chunk_id)-min — and n_copies is the hash's row count."""
    rows = q("d19_chunk_dedup", spark).collect()
    n_chunks = q("c9_doc_chunks", spark).count()
    assert len(rows) == n_chunks
    by_hash: dict[str, list] = {}
    for r in rows:
        by_hash.setdefault(r.chunk_hash, []).append(r)
    for h, members in by_hash.items():
        assert all(m.n_copies == len(members) for m in members)
        keepers = [m for m in members if m.kept == 1]
        assert len(keepers) == 1
        assert min((m.doc_id, m.chunk_id) for m in members) == (
            keepers[0].doc_id,
            keepers[0].chunk_id,
        )


def test_t15_matrix_totals(spark):
    """Cell counts sum to the corpus; row shares sum to ~1 per label."""
    rows = q("t15_lang_confusion", spark).collect()
    n_docs = Tables(spark, SF_DIR).documents.count()
    assert sum(r.n_docs for r in rows) == n_docs
    by_label: dict[str, float] = {}
    for r in rows:
        by_label[r.labeled_lang] = by_label.get(r.labeled_lang, 0.0) + r.row_share
    for lab, s in by_label.items():
        assert abs(s - 1.0) < 1e-3, (lab, s)


def test_z2_stats_match_direct_queries(spark):
    """Each emitted row must equal the directly-computed statistics for
    its column — and the single-scan unpivot must cover every profiled
    column exactly once."""
    from real_time_data_warehouse_spark.operators.layout import _Z2_COLS

    rows = {r.col_name: r for r in q("z2_column_stats", spark).collect()}
    assert set(rows) == set(_Z2_COLS)
    li = Tables(spark, SF_DIR).lineitem
    n = li.count()
    for c in _Z2_COLS:
        direct = li.agg(
            F.sum(F.col(c).isNull().cast("int")).alias("nulls"),
            F.count_distinct(F.col(c)).alias("ndv"),
            F.min(c).alias("lo"),
            F.max(c).alias("hi"),
        ).first()
        r = rows[c]
        assert r.n_rows == n
        assert r.n_nulls == (direct.nulls or 0)
        assert r.ndv == direct.ndv
        assert r.min_v == float(direct.lo) and r.max_v == float(direct.hi)


def test_c15_phase_invariants(spark):
    """Ranks are a dense permutation 1..n, phases are nondecreasing in
    rank with balanced equal-width sizes, and higher-quality docs never
    land in an earlier phase than lower-quality ones."""
    rows = sorted(
        q("c15_curriculum_phases", spark).collect(), key=lambda r: r.q_rank
    )
    n = len(rows)
    assert [r.q_rank for r in rows] == list(range(1, n + 1))
    prev_phase, prev_q = 0, -1.0
    from collections import Counter

    sizes = Counter()
    for r in rows:
        assert r.phase >= prev_phase
        assert r.quality_score >= prev_q or r.phase >= prev_phase
        sizes[r.phase] += 1
        prev_phase, prev_q = r.phase, max(prev_q, r.quality_score)
    # equal-width rank phases: sizes differ by at most 1
    assert max(sizes.values()) - min(sizes.values()) <= 1


def test_t16_planted_bigram_lm(spark):
    """Closed-form add-one-smoothed bigram LM on a 3-doc corpus:
    corpus counts cb(a,b)=3, cb(b,a)=1, histories cu(a)=3, cu(b)=1,
    V=3 ({a,b,x}) — every doc's mean NLL is recomputed in the test
    from math.log on the same integer lattice. Bigram-free docs emit
    NULL with n_bigrams=0 (unratable, not 'perfect')."""
    import math

    from real_time_data_warehouse_spark.operators.textanalysis import (
        _T16_Q,
        bigram_nll_frame,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in bigram_nll_frame(docs).collect()}

    def iln(num, den):
        return math.floor(math.log(num / den) * _T16_Q + 0.5)

    nll_ab = iln(3 + 3, 3 + 1)  # p(b|a) = (3+1)/(3+3)
    nll_ba = iln(1 + 3, 1 + 1)  # p(a|b) = (1+1)/(1+3)
    assert got[1].n_bigrams == 3
    assert got[1].mean_nll == (2 * nll_ab + nll_ba) / 3 / _T16_Q
    assert got[2].n_bigrams == 1
    assert got[2].mean_nll == nll_ab / _T16_Q
    assert got[3].n_bigrams == 0 and got[3].mean_nll is None
    # the smoothed model must score the corpus-frequent transition as
    # more likely than the rare one
    assert nll_ab < nll_ba


def test_s14_code_lattice_and_symmetry(spark):
    """SQ8 planted checks: [3,4] normalizes to [0.6,0.8] → codes
    [76,102] (floor(127·u+0.5)); sign symmetry holds; the code dot of
    a vector with itself dominates the code dot with an orthogonal
    vector (rank sanity for the integer ADC)."""
    from real_time_data_warehouse_spark.operators.similarity import (
        _normalized,
        _sq8_codes,
        int_dot,
    )

    emb = spark.createDataFrame(
        [(0, [3.0, 4.0]), (1, [-3.0, 4.0]), (2, [4.0, -3.0])],
        "vec_id long, v array<double>",
    )
    codes = {
        r.vec_id: r.qc for r in _sq8_codes(_normalized(emb)).collect()
    }
    assert codes[0] == [76, 102]
    assert codes[1] == [-76, 102]
    assert codes[2] == [102, -76]
    pairs = spark.createDataFrame(
        [(codes[0], codes[0]), (codes[0], codes[1]), (codes[0], codes[2])],
        "a array<bigint>, b array<bigint>",
    )
    dots = [
        r.d for r in pairs.select(
            int_dot(F.col("a"), F.col("b")).alias("d")
        ).collect()
    ]
    assert dots[0] == 76 * 76 + 102 * 102
    assert dots[0] > dots[1] > dots[2]


def test_sq8_matmul_scorer_never_emits_self_pairs_in_small_batch():
    """A corpus batch of <= k rows keeps every scored cell (threshold
    -inf); the masked self-pairs must still not be emitted."""
    import numpy as np
    import pandas as pd

    from real_time_data_warehouse_spark.operators.similarity import (
        _sq8_matmul_scorer,
    )

    qids = np.array([0, 1], dtype=np.int64)
    Q = np.array([[76.0, 102.0], [-76.0, 102.0]])
    batch = pd.DataFrame(
        {"vec_id": [0, 1, 2], "qc": [[76, 102], [-76, 102], [102, -76]]}
    )
    out = pd.concat(list(_sq8_matmul_scorer(qids, Q, k=3)(iter([batch]))))
    got = {(q, n): s for q, n, s in zip(out["qid"], out["nid"], out["sim"])}
    # every non-self pair, with its exact code dot
    assert got == {(0, 1): 4628, (0, 2): 0, (1, 0): 4628, (1, 2): -15504}


def test_z3_bins_never_split_and_stay_near_target(spark):
    """Compaction-plan invariants on a planted file list: bin ids are
    non-decreasing in (day, hour) order; no file is split; every bin
    except possibly the last closes at/above the target only via its
    LAST file straddling the boundary (exclusive-prefix rule); and the
    cumulative column is an exact running sum."""
    from real_time_data_warehouse_spark.operators.layout import (
        compaction_bins,
    )

    target = 100
    rows = [
        ("d1", h, 1, b)
        for h, b in enumerate([40, 40, 40, 90, 10, 150, 5, 30, 80, 20])
    ]
    files = spark.createDataFrame(
        rows, "day string, hour int, n_rows long, bytes long"
    )
    got = sorted(
        compaction_bins(files, target=target).collect(),
        key=lambda r: (r.day, r.hour),
    )
    cum = 0
    prev_bin = 0
    for r in got:
        assert r.bin_id == cum // target  # exclusive-prefix assignment
        cum += r.bytes
        assert r.cum_bytes == cum
        assert r.bin_id >= prev_bin
        prev_bin = r.bin_id
    # the 150-byte file exceeds the target alone: it still lands in
    # exactly one bin (bin boundaries never split a file)
    big = [r for r in got if r.bytes == 150]
    assert len(big) == 1


def test_c16_mass_conservation_and_canonical_consistency(spark):
    """c16 invariants on the fixture: dedup mass never exceeds raw mass
    per source; global raw/dedup totals match d6's canonical count; and
    shares sum to 1 within the 1e-4 lattice slack per source count."""
    c16 = {r.source: r for r in q("c16_dedup_adjusted_mixture", spark).collect()}
    d6 = q("d6_dedup_clusters", spark).agg(
        F.count("*").alias("n"), F.sum("is_canonical").alias("n_canon")
    ).first()
    assert sum(r.raw_docs for r in c16.values()) == d6.n
    assert sum(r.dedup_docs for r in c16.values()) == d6.n_canon
    for r in c16.values():
        assert 0 < r.dedup_docs <= r.raw_docs
        assert 0 < r.dedup_tokens <= r.raw_tokens
    for fld in ("raw_share", "dedup_share"):
        tot = sum(getattr(r, fld) for r in c16.values())
        assert abs(tot - 1.0) <= 1e-4 * len(c16)


def test_s15_prune_and_score_consistency(spark):
    """Two-stage invariants: every s15 (query, neighbor) pair must
    share one of the query's probed cells with the neighbor's top-1
    cell (the IVF prune, checked against the independently computed
    assignment), and on pairs both searches return, s15's integer
    score must equal s14's (same SQ8 ADC — pruning changes the
    candidate set, never the metric)."""
    from real_time_data_warehouse_spark.operators.similarity import (
        _IVF_PROBES,
        _N_QUERIES,
        _as_double,
        _assigned_cells,
        _topcells_udf,
        _trained_centroids,
    )

    t = Tables(spark, SF_DIR)
    emb = t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
    cents = _trained_centroids(SF_DIR, emb)
    topcells = _topcells_udf(cents, _IVF_PROBES)
    probed = {
        r.vec_id: set(r.cells)
        for r in emb.where(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", topcells(F.col("v")).alias("cells"))
        .collect()
    }
    cell_of = {
        r.vec_id: r.cell
        for r in _assigned_cells(spark, SF_DIR).select(
            "vec_id", "cell"
        ).collect()
    }
    s15 = q("s15_ivf_sq8_topk", spark).collect()
    assert s15, "two-stage search returned nothing"
    for r in s15:
        assert cell_of[r.neighbor_id] in probed[r.query_id]
    s14 = {
        (r.query_id, r.neighbor_id): r.score
        for r in q("s14_sq8_ann_topk", spark).collect()
    }
    overlap = [
        r for r in s15 if (r.query_id, r.neighbor_id) in s14
    ]
    assert overlap, "searches share no pairs — prune broken"
    for r in overlap:
        assert r.score == s14[(r.query_id, r.neighbor_id)]


def test_m6_planted_scene_classes(spark):
    """m6's planted classes must both fire: static (even doc_id) videos
    repeat content, so every non-first frame has hamming 0 and is
    dropped; panning (odd) videos slide content, so every frame is a
    keyframe. First frames are always keyframes (NULL distance)."""
    rows = q("m6_keyframe_dedup", spark).collect()
    assert rows
    statics = [r for r in rows if r.doc_id % 2 == 0]
    pans = [r for r in rows if r.doc_id % 2 == 1]
    assert statics and pans
    for r in statics:
        if r.frame_idx == 0:
            assert r.hamming_prev is None and r.is_keyframe == 1
        else:
            assert r.hamming_prev == 0 and r.is_keyframe == 0
    for r in pans:
        assert r.is_keyframe == 1
        if r.frame_idx > 0:
            assert r.hamming_prev > 6


def test_c18_k_anonymity_flags(spark):
    from real_time_data_warehouse_spark.operators.curation import (
        K_ANON,
        c18_k_anonymity_audit,
    )

    rows = c18_k_anonymity_audit(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["is_risky"] == (1 if r["n_docs"] < K_ANON else 0)
    # the class profile partitions the corpus exactly
    from real_time_data_warehouse_spark.tables import Tables

    assert (
        sum(r["n_docs"] for r in rows)
        == Tables(spark, SF_DIR).documents.count()
    )


def test_u3_div_semantics_cross_engine(spark, duck):
    """Sign safety of the u3 wavg lattice formula: Spark `div` and DuckDB
    `//` both truncate toward zero, so (n*2+d) div (2*d) is cross-engine
    identical for NEGATIVE numerators too (ADVICE r6)."""
    cases = [(-7, 2), (7, 2), (-9, 4), (9, 4), (-1, 3), (0, 5)]
    for n, d in cases:
        s = spark.sql(f"SELECT CAST({n} AS BIGINT) div CAST({d} AS BIGINT) AS q").first()["q"]
        o = duck.sql(f"SELECT CAST({n} AS BIGINT) // CAST({d} AS BIGINT) AS q").fetchone()[0]
        assert s == o, (n, d, s, o)
    # the full wavg formula with a negative cents sum agrees too
    for wsum, w in [(-12345, 7), (12345, 7), (-1, 2), (1, 2)]:
        sf = f"({wsum} * 200 + {w}) div (2 * {w})"
        of = f"({wsum} * 200 + {w}) // (2 * {w})"
        s = spark.sql(f"SELECT {sf} AS q").first()["q"]
        o = duck.sql(f"SELECT {of} AS q").fetchone()[0]
        assert s == o, (wsum, w, s, o)


def test_a6c_fmm_merges_composites_and_falls_back(spark):
    """Dictionary FMM (a6c): adjacent 数据+仓库 must merge into the
    4-char lexicon composite (longest match wins), non-lexicon chars
    fall back to single-char tokens, and the derived-fixture query
    emits only lexicon tokens (its construction never produces
    unmatched chars)."""
    from real_time_data_warehouse_spark.operators.aggregations import (
        _CJK_DICT,
        _CJK_DICT_MAXLEN,
    )

    dict_set = frozenset(_CJK_DICT)

    def fmm(t):
        out, i, n = [], 0, len(t)
        while i < n:
            for ln in range(min(_CJK_DICT_MAXLEN, n - i), 1, -1):
                if t[i : i + ln] in dict_set:
                    out.append(t[i : i + ln])
                    i += ln
                    break
            else:
                out.append(t[i])
                i += 1
        return out

    assert fmm("数据仓库") == ["数据仓库"]          # composite, not 数据+仓库
    assert fmm("数据查询") == ["数据", "查询"]      # no composite entry
    assert fmm("实时查询") == ["实时查询"]          # the other composite
    assert fmm("数据X仓库") == ["数据", "X", "仓库"]  # single-char fallback
    assert fmm("流式数据仓库搜索") == ["流式", "数据仓库", "搜索"]

    from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map

    query_map()
    rows = (
        QUERY_REGISTRY["a6c_cjk_dict_segment"]
        .fn(spark, SF_DIR)
        .collect()
    )
    assert all(r["keyword"] in dict_set for r in rows)
    # the embedded composite appears in EVERY doc, so it must dominate
    counts = {r["keyword"]: r["keyword_ct"] for r in rows}
    assert counts["数据仓库"] >= max(counts.values()) // 2


def test_u4_udtf_matches_explode_twin_and_emits_ordinals(spark):
    """u4's keyword counts must equal a6's explode-path counts exactly
    (same tokenizer contract through a different execution API), its
    ordinal checksum must be consistent (pos_sum ≥ keyword_ct, equality
    iff every occurrence is document-leading), and a repeat call in the
    same session must not re-register the function."""
    from real_time_data_warehouse_spark.registry import (
        QUERY_REGISTRY,
        query_map,
    )

    query_map()
    u4 = {
        r["keyword"]: (r["keyword_ct"], r["pos_sum"])
        for r in QUERY_REGISTRY["u4_python_udtf_keywords"]
        .fn(spark, SF_DIR)
        .collect()
    }
    a6 = {
        r["keyword"]: r["keyword_ct"]
        for r in QUERY_REGISTRY["a6_keyword_count"].fn(spark, SF_DIR).collect()
    }
    assert {k: v[0] for k, v in u4.items()} == a6
    assert all(pos_sum >= ct for ct, pos_sum in u4.values())
    assert any(pos_sum > ct for ct, pos_sum in u4.values())
    # idempotent second call (the WeakSet registration guard)
    again = {
        r["keyword"]: (r["keyword_ct"], r["pos_sum"])
        for r in QUERY_REGISTRY["u4_python_udtf_keywords"]
        .fn(spark, SF_DIR)
        .collect()
    }
    assert again == u4

"""Extension catalog: LLM-data-pipeline operators under the oracle gate.

Dedup family (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding),
similarity search (brute-force + SRP-LSH), text analysis, multimodal byte
plumbing, and the engine's own SCD2/CDC path exercised on synthetic
multi-version data (FIXTURES.md §B).

Oracle construction: shingles / minhash / simhash / projections are defined
on the cross-engine hash64 primitive and left-to-right float64 folds, so the
DuckDB SQL twins here are generated from the same parameters and match
bit-for-bit.

Presentation ordering: terminal sorts use
``repartition(1).sortWithinPartitions(...)`` instead of ``orderBy`` —
a global sort adds a range-partitioner sampling job plus a range
exchange, pure overhead for results that are small by construction
(measured ~15% on the LSH pair pipeline; the sampling job reuses
upstream shuffle files, so the cost is the extra final-stage pass, not a
full re-execution). ``orderBy(...).limit(k)`` stays as-is (that plans as
TakeOrderedAndProject, no sampling).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from ctcityscraper_spark.functions.hashing import hash64, row_hash_col
from ctcityscraper_spark.functions.localdf import local_rows_df
from ctcityscraper_spark.operators import scd2
from ctcityscraper_spark.operators.artifacts import (
    checkpoint_tracked,
    persist_tracked,
    release,
)
from ctcityscraper_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_duplicates,
    cascade_confirmed_pairs,
    incremental_exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    simhash_signatures,
    winnow_pairs,
)
from ctcityscraper_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_vectorized,
    hash_pick_centroids,
    ivf_flat_topk,
    pq_adc_topk,
    pq_codebook,
    pq_rerank_topk,
    probe_masks,
    srp_lsh_topk,
    srp_multiprobe_topk,
    valid_vectors,
)
from ctcityscraper_spark.operators.text import (
    fingerprint_col,
    lang_id_col,
    lang_id_sql,
    quality_score_col,
    quality_score_sql,
    token_count_col,
)
from ctcityscraper_spark.plans.queries import query
from ctcityscraper_spark.plans.tables import load_table, parallelize_scan


EMB_DIMS = 64

# SQL twin of operators.similarity.valid_vector_cond — the usable-vector
# contract every embedding operator enforces at entry (non-NULL array, no
# NULL elements, at least one non-zero element so the norm is positive).
# The two predicates must stay in lockstep; tests/test_adversarial_oracle.py
# seeds NULL and zero-norm vectors to enforce it.
VALID_EMB_PRED = (
    "(embedding IS NOT NULL"
    " AND len(list_filter(embedding,"
    " x -> x IS NULL OR NOT isfinite(x::DOUBLE))) = 0"
    " AND len(list_filter(embedding, x -> x <> 0.0)) > 0)"
)
# Inline view: `FROM {EMB_VALID} <alias>` reads embeddings minus invalid rows.
EMB_VALID = "(SELECT * FROM embeddings WHERE " + VALID_EMB_PRED + ")"

# ------------------------------------------------------------- SQL fragments

# Whitespace class, spelled out: Java regex \s (the Spark side's
# tokenizer/fingerprint class) is exactly [ \t\n\x0B\f\r], but RE2's \s
# LACKS \x0B (vertical tab) — '0\x0b0' tokenized as 2 tokens in Spark and
# 1 in DuckDB until every SQL twin switched to the explicit class (\v is
# RE2's \x0B). Found by hypothesis (TestDsirCrossEngineProperties);
# pinned by the \x0b adversarial fixture row. Keep the two sides in
# lockstep: any new oracle regex must use the explicit class, never \s.
#
# Known, DOCUMENTED engine-library boundary (probed, r13): `lower()`
# itself diverges on context-sensitive Unicode casing — Java lowercases
# word-final Greek 'Σ' to 'ς' (DuckDB: 'σ') and Turkish 'İ' (U+0130) to
# 'i' + combining dot (DuckDB: plain 'i'). All common scripts, ligatures,
# fullwidth forms, ẞ/ǅ etc. agree. This is casing-table territory, not
# expressible as a regex-class fix; the oracle-equality contract for
# lower()-dependent twins (fingerprints, key normalization) therefore
# excludes final-sigma contexts and U+0130. Pinned in
# tests/test_functions.py::test_known_lower_casing_divergence so an
# engine upgrade that shifts the boundary is noticed.
TOKS = "regexp_split_to_array(trim(text), '[ \t\n\v\f\r]+')"


def shingle_sql(n: int, col: str = "text") -> str:
    """DuckDB twin of operators.dedup.shingles_col over column ``col``."""
    toks = f"regexp_split_to_array(trim({col}), '[ \t\n\v\f\r]+')"
    return (
        f"list_distinct(list_transform(range(0, greatest(len({toks}) - {n - 1}, 0)), "
        f"i -> array_to_string(list_slice({toks}, i + 1, i + {n}), ' ')))"
    )


def hash64_sql(expr: str, seed) -> str:
    return f"('0x' || substring(md5('{seed}' || {expr}), 1, 15))::BIGINT"


def _srp_bucket_sql(vec_expr: str, dims: int, bits: int) -> str:
    from ctcityscraper_spark.operators.similarity import plane_weight

    parts = []
    for b in range(bits):
        weights = ", ".join(repr(plane_weight(b, d)) for d in range(dims))
        proj = (
            f"list_reduce(list_transform(range(1, {dims + 1}), "
            f"i -> {vec_expr}[i]::DOUBLE * ([{weights}]::DOUBLE[])[i]), (x, y) -> x + y)"
        )
        parts.append(f"CASE WHEN {proj} > 0 THEN {2**b} ELSE 0 END")
    return "(" + " + ".join(parts) + ")"


def fold_dot_sql(a: str, b: str, dims: int) -> str:
    """Left-to-right float64 dot product (matches F.aggregate order)."""
    return (
        f"list_reduce(list_transform(range(1, {dims + 1}), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x, y) -> x + y)"
    )


def fold_norm_sql(a: str, dims: int) -> str:
    return (
        f"sqrt(list_reduce(list_transform(range(1, {dims + 1}), "
        f"i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE), (x, y) -> x + y))"
    )


# ================================================================== text


@query(
    "text_profile",
    oracle=f"""
    SELECT doc_id,
           len({TOKS}) AS n_tokens,
           md5(trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g'))) AS fingerprint,
           {quality_score_sql('text')} AS quality,
           {lang_id_sql('text')} AS lang_pred
    FROM documents WHERE doc_id < 300 ORDER BY doc_id
    """,
)
def q_text_profile(spark, sf_dir):
    """Text analysis: token count, content fingerprint (rolling-hash class),
    quality score, heuristic language ID — one scan-stage pass, no UDFs."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return docs.select(
        "doc_id",
        token_count_col("text").alias("n_tokens"),
        fingerprint_col("text").alias("fingerprint"),
        quality_score_col("text").alias("quality"),
        lang_id_col("text").alias("lang_pred"),
    ).orderBy("doc_id")


@query(
    "text_lang_confusion",
    oracle=f"""
    SELECT lang, {lang_id_sql('text')} AS lang_pred, COUNT(*) AS n
    FROM documents GROUP BY lang, lang_pred ORDER BY lang, lang_pred
    """,
)
def q_text_lang_confusion(spark, sf_dir):
    """Language-ID confusion matrix vs the labeled lang column."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", lang_id_col("text").alias("lang_pred"))
        .agg(F.count("*").alias("n"))
        .repartition(1).sortWithinPartitions("lang", "lang_pred")
    )


# ================================================================== dedup


@query(
    "dedup_exact_summary",
    oracle="""
    SELECT COUNT(*) AS n_groups,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           COUNT(*) FILTER (WHERE n_docs > 1) AS n_dup_groups,
           CAST(MIN(keep_id) AS BIGINT) AS first_keep
    FROM (
        SELECT md5(trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g'))) AS fp,
               COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
        FROM documents GROUP BY fp
    )
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup (hash-groupBy on normalized-content fingerprint) —
    the scale-first pass of a dedup cascade (reference D2 analogue)."""
    docs = load_table(spark, sf_dir, "documents")
    groups = exact_duplicates(docs)
    return groups.agg(
        F.count("*").alias("n_groups"),
        F.sum("n_docs").alias("n_docs"),
        F.count(F.when(F.col("n_docs") > 1, 1)).alias("n_dup_groups"),
        F.min("keep_id").alias("first_keep"),
    )


_FP_SQL = r"md5(trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g')))"


@query(
    "dedup_incremental_exact",
    oracle=f"""
    WITH split AS (
        SELECT doc_id, text,
               {hash64_sql('doc_id', 'incexact')} % 5 = 0 AS is_new
        FROM documents),
    idx AS (
        SELECT DISTINCT {_FP_SQL} AS fingerprint
        FROM split WHERE NOT is_new),
    new AS (
        SELECT doc_id, {_FP_SQL} AS fingerprint
        FROM split WHERE is_new)
    SELECT n.doc_id AS doc_id, n.fingerprint AS fingerprint,
           (i.fingerprint IS NOT NULL) AS dup_of_corpus
    FROM new n LEFT JOIN idx i ON n.fingerprint = i.fingerprint
    ORDER BY doc_id
    """,
)
def q_dedup_incremental_exact(spark, sf_dir):
    """Incremental exact dedup: a hash-held-out 20% 'new batch' marked
    against the other 80%'s stored fingerprint index (operators/dedup.
    incremental_exact_duplicates). At scale the join is shaped for
    Catalyst's runtime Bloom-filter injection — the corpus-sized index
    scan gets a might_contain pre-filter built from the batch, so the
    index shuffles only possible matches (plan asserted in
    tests/test_extension_plans.py); output is exact either way."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    is_new = hash64(F.col("doc_id"), "incexact") % 5 == 0
    idx = (
        docs.filter(~is_new)
        .select(fingerprint_col("text").alias("fingerprint"))
        .distinct()
    )
    return (
        incremental_exact_duplicates(docs.filter(is_new), idx)
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


_BLOOM_M, _BLOOM_K = 8192, 5


def _bloom_saturation_oracle(m: int, k: int) -> str:
    fill = f"(set_bits / {m})"
    fpp = " * ".join([fill] * k)
    return f"""
    WITH t AS (SELECT md5(text) AS fp FROM documents WHERE text IS NOT NULL),
    pos AS (
        SELECT (({hash64_sql('fp', 'bloomA')} % {m})
                + i * (({hash64_sql('fp', 'bloomB')} % {m - 1}) + 1)) % {m} AS pos
        FROM t, range(0, {k}) r(i)),
    words AS (
        SELECT pos // 32 AS word_idx,
               bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word
        FROM pos GROUP BY 1),
    agg AS (
        SELECT count(*) AS n_words,
               CAST(coalesce(sum(bit_count(word)), 0) AS BIGINT) AS set_bits
        FROM words)
    SELECT {m} AS m_bits, {k} AS k, n_words, set_bits,
           {fill} AS fill, {fpp} AS est_fpp
    FROM agg
    """


@query(
    "dedup_bloom_saturation",
    oracle=_bloom_saturation_oracle(_BLOOM_M, _BLOOM_K),
)
def q_dedup_bloom_saturation(spark, sf_dir):
    """Bloom-filter saturation monitor (operators/dedup.bloom_saturation)
    — the MEMBERSHIP member of the drift/health-monitor family: one row
    of (n_words, set_bits, fill, est_fpp = fill^k) over the stored word
    table. fill only rises for an append-only filter, and when est_fpp
    crosses the design point the pre-filter stops pre-filtering (every
    probe flags; every batch row pays the exact chase) — the rebuild
    trigger that keeps bloom_chased_duplicates' chase-~1% claim true as
    the corpus grows. Pure integer bit_count + one exact division + a
    k-fold left-to-right multiply; cost is one aggregate over the
    ≤ m/32-row word table — nothing corpus-sized at monitor time (the
    in-plan index build here is the gate's self-contained convention)."""
    from ctcityscraper_spark.operators.dedup import (
        bloom_saturation,
        build_bloom_index,
    )

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    bloom = build_bloom_index(docs, _BLOOM_M, _BLOOM_K)
    return bloom_saturation(bloom, _BLOOM_M, _BLOOM_K)


@query(
    "dedup_bloom_rebuild",
    oracle=_bloom_saturation_oracle(4 * _BLOOM_M, _BLOOM_K),
)
def q_dedup_bloom_rebuild(spark, sf_dir):
    """The Bloom maintenance loop's RESPONSE arm (operators/dedup.
    rebuild_bloom_from_fingerprints): widen the filter 4× from the
    STORED md5-fingerprint index — the corpus text is never re-read —
    and report the rebuilt filter's saturation row. The oracle builds
    the 4×-wide filter FRESH from the documents themselves, so the hash
    match is the cross-engine proof that rebuild-from-fingerprints ≡
    fresh-build at the new parameters (positions derive from the md5
    both paths share; a drift in either engine's position math or in
    the fingerprint contract mismatches loudly). Completes the
    detect (dedup_bloom_saturation) → rebuild (this) → verify (the
    same monitor on the wide table) cycle — the Bloom sibling of
    ann_pq_retrain_cycle."""
    from ctcityscraper_spark.operators.dedup import (
        bloom_saturation,
        rebuild_bloom_from_fingerprints,
    )

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    fps = (
        docs.filter(F.col("text").isNotNull())
        .select(F.md5("text").alias("fingerprint"))
        .distinct()
    )
    wide = rebuild_bloom_from_fingerprints(fps, 4 * _BLOOM_M, _BLOOM_K)
    return bloom_saturation(wide, 4 * _BLOOM_M, _BLOOM_K)


@query(
    "dedup_bloom_membership",
    headline=True,  # build + probe cost of the stored-Bloom pre-filter
    # (one explode+bit_or build, word-join probe) benched round-over-round
    oracle=f"""
    WITH split AS (
        SELECT doc_id, text,
               {hash64_sql('doc_id', 'bloomsplit')} % 5 = 0 AS is_new
        FROM documents),
    corpus AS (
        SELECT md5(text) AS fp FROM split WHERE NOT is_new AND text IS NOT NULL),
    batch AS (
        SELECT doc_id, text, md5(text) AS fp FROM split WHERE is_new),
    cpos AS (
        SELECT (({hash64_sql('fp', 'bloomA')} % {_BLOOM_M})
                + i * (({hash64_sql('fp', 'bloomB')} % {_BLOOM_M - 1}) + 1)) % {_BLOOM_M} AS pos
        FROM corpus, range(0, {_BLOOM_K}) t(i)),
    words AS (
        SELECT pos // 32 AS word_idx,
               bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word
        FROM cpos GROUP BY 1),
    bpos AS (
        SELECT doc_id,
               (({hash64_sql('fp', 'bloomA')} % {_BLOOM_M})
                + i * (({hash64_sql('fp', 'bloomB')} % {_BLOOM_M - 1}) + 1)) % {_BLOOM_M} AS pos
        FROM batch, range(0, {_BLOOM_K}) t(i)
        WHERE text IS NOT NULL),
    hits AS (
        SELECT doc_id,
               bool_and((COALESCE(word, 0)
                         & (1::BIGINT << CAST(pos % 32 AS INT)))
                        = (1::BIGINT << CAST(pos % 32 AS INT))) AS mc
        FROM bpos LEFT JOIN words ON pos // 32 = word_idx
        GROUP BY doc_id)
    SELECT b.doc_id AS doc_id,
           COALESCE(h.mc, false) AS might_contain,
           COALESCE(b.fp IN (SELECT fp FROM corpus), false) AS is_dup
    FROM batch b LEFT JOIN hits h USING (doc_id)
    ORDER BY doc_id
    """,
)
def q_dedup_bloom_membership(spark, sf_dir):
    """Stored-Bloom membership pre-filter (operators/dedup.
    build_bloom_index + bloom_might_contain): a hash-held-out 20% 'new
    batch' probes an 8192-bit Bloom built over the other 80%'s md5 text
    fingerprints. Probing joins ~m/32 bloom words instead of the
    corpus-sized fingerprint index — the cheap front of the exact
    incremental-dedup path. The filter is pure md5-derived bit math, so
    DuckDB reproduces it bit-for-bit: might_contain must have NO false
    negatives (every is_dup row flags true) and false positives only at
    the designed fpp; the oracle also recomputes exact membership
    (is_dup) so the comparison pins both."""
    from ctcityscraper_spark.operators.dedup import (
        bloom_might_contain,
        rebuild_bloom_from_fingerprints,
    )

    # The r15 full-docs persist was dropped here (r16, VERDICT item 3):
    # a 3-way interleaved A/B (persist / r14 fresh-build / rebuild-only)
    # at 32 AND 8 cores measured all forms within window noise at sf0.1,
    # and caching the entire corpus text to save one columnar re-scan is
    # the wrong trade at 100 TB (the cache write costs more than the
    # scan it saves). What stays is the real work removal: ONE md5 pass
    # over the corpus via the persisted (small) fingerprint index, with
    # the Bloom words rebuilt from it. Projection kept — cheap insurance
    # for the scan (guide §2.3).
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark).select(
        "doc_id", "text"
    )
    is_new = hash64(F.col("doc_id"), "bloomsplit") % 5 == 0
    corpus, batch = docs.filter(~is_new), docs.filter(is_new)
    # one md5 pass over the corpus text: persist the distinct fingerprint
    # index and rebuild the Bloom words from it (bit-for-bit the fresh
    # build — OR over duplicate fingerprints sets the same bits), instead
    # of a second md5+explode pass over the full corpus text (guide §2.4)
    corpus_fp = persist_tracked(
        corpus.filter(F.col("text").isNotNull())
        .select(F.md5("text").alias("_cfp"))
        .distinct()
    )
    bloom = rebuild_bloom_from_fingerprints(
        corpus_fp, _BLOOM_M, _BLOOM_K, fingerprint="_cfp"
    )
    flagged = bloom_might_contain(batch, bloom, _BLOOM_M, _BLOOM_K)
    return (
        flagged.join(corpus_fp, F.md5(flagged["text"]) == F.col("_cfp"), "left")
        .select(
            "doc_id",
            "might_contain",
            F.col("_cfp").isNotNull().alias("is_dup"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


@query(
    "dedup_bloom_update",
    oracle=f"""
    WITH split AS (
        SELECT doc_id, text,
               {hash64_sql('doc_id', 'bloomsplit')} % 5 AS bucket
        FROM documents),
    member AS (
        SELECT md5(text) AS fp FROM split
        WHERE bucket NOT IN (0) AND text IS NOT NULL),
    batch AS (
        SELECT doc_id, text, md5(text) AS fp FROM split WHERE bucket = 0),
    cpos AS (
        SELECT (({hash64_sql('fp', 'bloomA')} % {_BLOOM_M})
                + i * (({hash64_sql('fp', 'bloomB')} % {_BLOOM_M - 1}) + 1)) % {_BLOOM_M} AS pos
        FROM member, range(0, {_BLOOM_K}) t(i)),
    words AS (
        SELECT pos // 32 AS word_idx,
               bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word
        FROM cpos GROUP BY 1),
    bpos AS (
        SELECT doc_id,
               (({hash64_sql('fp', 'bloomA')} % {_BLOOM_M})
                + i * (({hash64_sql('fp', 'bloomB')} % {_BLOOM_M - 1}) + 1)) % {_BLOOM_M} AS pos
        FROM batch, range(0, {_BLOOM_K}) t(i)
        WHERE text IS NOT NULL),
    hits AS (
        SELECT doc_id,
               bool_and((COALESCE(word, 0)
                         & (1::BIGINT << CAST(pos % 32 AS INT)))
                        = (1::BIGINT << CAST(pos % 32 AS INT))) AS mc
        FROM bpos LEFT JOIN words ON pos // 32 = word_idx
        GROUP BY doc_id)
    SELECT b.doc_id AS doc_id,
           COALESCE(h.mc, false) AS might_contain
    FROM batch b LEFT JOIN hits h USING (doc_id)
    ORDER BY doc_id
    """,
)
def q_dedup_bloom_update(spark, sf_dir):
    """Incremental Bloom maintenance (operators/dedup.update_bloom_index):
    the filter is built over a 60% base corpus, a 20% delta batch is
    MERGED in (bit_or of word tables), and the remaining 20% probes the
    merged filter. The oracle builds the filter over base+delta in ONE
    pass — a value-hash match therefore proves the two-step merge is
    bit-for-bit identical to a fresh build (OR-associativity), which is
    what makes per-batch index maintenance exact on a growing corpus."""
    from ctcityscraper_spark.operators.dedup import (
        bloom_might_contain,
        build_bloom_index,
        update_bloom_index,
    )

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    bucket = hash64(F.col("doc_id"), "bloomsplit") % 5
    base = docs.filter(bucket >= 2)
    delta = docs.filter(bucket == 1)
    probe = docs.filter(bucket == 0)
    bloom = build_bloom_index(base, _BLOOM_M, _BLOOM_K)
    merged = update_bloom_index(bloom, delta, _BLOOM_M, _BLOOM_K)
    return (
        bloom_might_contain(probe, merged, _BLOOM_M, _BLOOM_K)
        .select("doc_id", "might_contain")
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


@query(
    "dedup_bloom_chase",
    headline=True,  # the composed two-tier production dedup (r8 VERDICT
    # item 4): benched round-over-round so the Bloom pre-filter's win
    # over the plain corpus-index join stays demonstrated (SCALE.md
    # carries the bloom-vs-no-bloom delta at 10x)
    oracle=f"""
    WITH split AS (
        SELECT doc_id, text,
               {hash64_sql('doc_id', 'bloomsplit')} % 5 = 0 AS is_new
        FROM documents),
    corpus AS (
        SELECT md5(text) AS fp FROM split WHERE NOT is_new AND text IS NOT NULL),
    batch AS (
        SELECT doc_id, text, md5(text) AS fp FROM split WHERE is_new),
    cpos AS (
        SELECT (({hash64_sql('fp', 'bloomA')} % {_BLOOM_M})
                + i * (({hash64_sql('fp', 'bloomB')} % {_BLOOM_M - 1}) + 1)) % {_BLOOM_M} AS pos
        FROM corpus, range(0, {_BLOOM_K}) t(i)),
    words AS (
        SELECT pos // 32 AS word_idx,
               bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word
        FROM cpos GROUP BY 1),
    bpos AS (
        SELECT doc_id,
               (({hash64_sql('fp', 'bloomA')} % {_BLOOM_M})
                + i * (({hash64_sql('fp', 'bloomB')} % {_BLOOM_M - 1}) + 1)) % {_BLOOM_M} AS pos
        FROM batch, range(0, {_BLOOM_K}) t(i)
        WHERE text IS NOT NULL),
    hits AS (
        SELECT doc_id,
               bool_and((COALESCE(word, 0)
                         & (1::BIGINT << CAST(pos % 32 AS INT)))
                        = (1::BIGINT << CAST(pos % 32 AS INT))) AS mc
        FROM bpos LEFT JOIN words ON pos // 32 = word_idx
        GROUP BY doc_id)
    SELECT b.doc_id AS doc_id,
           COALESCE(h.mc, false) AS might_contain,
           (COALESCE(h.mc, false)
            AND COALESCE(b.fp IN (SELECT fp FROM corpus), false)) AS is_dup
    FROM batch b LEFT JOIN hits h USING (doc_id)
    ORDER BY doc_id
    """,
)
def q_dedup_bloom_chase(spark, sf_dir):
    """The composed two-tier incremental dedup flow
    (operators/dedup.bloom_chased_duplicates): every batch doc probes the
    stored Bloom words; ONLY flagged docs (true dups + designed fpp) join
    the corpus-sized fingerprint index for the exact verdict. The oracle
    computes might_contain AND exact membership independently and ANDs
    them — a hash match proves the chase loses nothing (is_dup implies
    might_contain: no false negatives end-to-end, because chase and
    filter share one fingerprint definition)."""
    from ctcityscraper_spark.operators.dedup import (
        bloom_chased_duplicates,
        rebuild_bloom_from_fingerprints,
    )

    # full-docs persist dropped as in dedup_bloom_membership (r16 — the
    # corpus text feeds exactly one consumer here, the fingerprint index,
    # and the batch text exactly one, the persisted flagged frame inside
    # bloom_chased_duplicates; caching corpus text to save one columnar
    # re-scan is the wrong trade at 100 TB)
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark).select(
        "doc_id", "text"
    )
    is_new = hash64(F.col("doc_id"), "bloomsplit") % 5 == 0
    corpus, batch = docs.filter(~is_new), docs.filter(is_new)
    # one md5 pass over the corpus text: the distinct fingerprint index is
    # persisted and the Bloom words are REBUILT from it
    # (rebuild_bloom_from_fingerprints is bit-for-bit build_bloom_index —
    # OR over duplicate fingerprints sets the same bits), so the old
    # second md5+explode pass over the full corpus text disappears
    # (guide §2.4).
    corpus_fp = persist_tracked(
        corpus.filter(F.col("text").isNotNull())
        .select(F.md5("text").alias("fingerprint"))
        .distinct()
    )
    bloom = rebuild_bloom_from_fingerprints(corpus_fp, _BLOOM_M, _BLOOM_K)
    return (
        bloom_chased_duplicates(batch, corpus_fp, bloom, _BLOOM_M, _BLOOM_K)
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh0 AS (
        SELECT doc_id, unnest({shingle_sql(5)}) AS shingle FROM documents
    ), sh AS (
        SELECT * FROM sh0 WHERE shingle IN (
            SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 1000)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, i / (sa.sz + sb.sz - i) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE i / (sa.sz + sb.sz - i) >= 0.6
    ORDER BY doc_a, doc_b
    """,
)
def q_dedup_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs by 5-gram Jaccard >= 0.6 via inverted shingle index
    (never a cross join; candidate pairs only from shared shingles).
    Shingles with document frequency > 1000 are dropped before the join —
    the hot-bucket guard that keeps Σ bucket² bounded on adversarial
    corpora (boilerplate headers/footers)."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return ngram_jaccard_pairs(docs, n=5, threshold=0.6).repartition(1).sortWithinPartitions("doc_a", "doc_b")


@query(
    "dedup_prefix_filter_join",
    oracle=f"""
    WITH sh0 AS (
        SELECT doc_id, unnest({shingle_sql(5)}) AS shingle FROM documents
    ), sh AS (
        SELECT * FROM sh0 WHERE shingle IN (
            SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 1000)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, i / (sa.sz + sb.sz - i) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE i / (sa.sz + sb.sz - i) >= 0.5
    ORDER BY doc_a, doc_b
    """,
    headline=True,
)
def q_dedup_prefix_filter_join(spark, sf_dir):
    """Exact set-similarity self-join via prefix filtering
    (operators/dedup.prefix_filter_jaccard_pairs, the AllPairs/PPJoin
    family) — the exact-recall counterpart to dedup_minhash_lsh. Only
    each doc's (1-t) fraction of RAREST shingles (df-ascending global
    order) is indexed, so the candidate join never touches the hot
    boilerplate buckets that dominate the naive inverted-index
    self-join's Σ bucket²; candidates are then verified by the same
    exact-Jaccard kernel as dedup_ngram_jaccard. The oracle computes
    the naive exact join — a hash match therefore PROVES the prefix
    index lost no pair (recall = 1 by the prefix-filtering principle,
    with pure-integer prefix arithmetic so no float rounding can shift
    a prefix length cross-engine), which no LSH variant can claim."""
    from ctcityscraper_spark.operators.dedup import prefix_filter_jaccard_pairs

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return (
        prefix_filter_jaccard_pairs(docs, n=5, threshold_pct=50)
        .repartition(1)
        .sortWithinPartitions("doc_a", "doc_b")
    )


@query(
    "dedup_incremental_prefix",
    oracle=f"""
    WITH spl AS (SELECT doc_id, {hash64_sql('doc_id', 'prefsplit')} % 5 = 0
                        AS is_new FROM documents),
    shc0 AS (SELECT d.doc_id AS doc_id, unnest({shingle_sql(5)}) AS shingle
             FROM documents d JOIN spl USING (doc_id) WHERE NOT is_new),
    shb0 AS (SELECT d.doc_id AS doc_id, unnest({shingle_sql(5)}) AS shingle
             FROM documents d JOIN spl USING (doc_id) WHERE is_new),
    hot AS (SELECT shingle FROM shc0 GROUP BY shingle
            HAVING COUNT(*) > 1000),
    shc AS (SELECT * FROM shc0
            WHERE shingle NOT IN (SELECT shingle FROM hot)),
    shb AS (SELECT * FROM shb0
            WHERE shingle NOT IN (SELECT shingle FROM hot)),
    szc AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id),
    szb AS (SELECT doc_id, COUNT(*) AS sz FROM shb GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS new_doc, b.doc_id AS corpus_doc,
                     COUNT(*) AS i
              FROM shb a JOIN shc b ON a.shingle = b.shingle GROUP BY 1, 2)
    SELECT new_doc, corpus_doc, i / (sa.sz + sb.sz - i) AS jaccard
    FROM inter
    JOIN szb sa ON new_doc = sa.doc_id
    JOIN szc sb ON corpus_doc = sb.doc_id
    WHERE i / (sa.sz + sb.sz - i) >= 0.5
    ORDER BY new_doc, corpus_doc
    """,
)
def q_dedup_incremental_prefix(spark, sf_dir):
    """EXACT incremental near-dup detection
    (operators/dedup.incremental_prefix_pairs): the 20% hash-split batch
    probes the 80% corpus's STORED prefix index — frozen hot-shingle
    drop list, frozen (shingle, df) order table, and only each corpus
    doc's (1-t) rarest shingles indexed — then candidates get exact
    Jaccard verification. The recall=1 counterpart of
    dedup_incremental_lsh (whose MinHash bands can miss a true pair):
    the oracle computes the full batch x corpus inverted-index join, so
    the hash match proves the frozen prefix artifacts lose NOTHING —
    the nightly contamination/compliance answer ("is tonight's batch
    near-anything we already hold") with per-batch cost, recall
    guaranteed, never corpus x corpus."""
    from ctcityscraper_spark.operators.dedup import incremental_prefix_pairs

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    is_new = hash64(F.col("doc_id"), "prefsplit") % 5 == 0
    return (
        incremental_prefix_pairs(
            docs.filter(is_new), docs.filter(~is_new), n=5, threshold_pct=50
        )
        .repartition(1)
        .sortWithinPartitions("new_doc", "corpus_doc")
    )


@query(
    "dedup_jaccard_cms_capped",
    oracle=f"""
    WITH sh0 AS (
        SELECT doc_id, unnest({shingle_sql(5)}) AS shingle FROM documents
    ), sh AS (
        SELECT * FROM sh0 WHERE shingle IN (
            SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 2)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, i / (sa.sz + sb.sz - i) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE i / (sa.sz + sb.sz - i) >= 0.3
    ORDER BY doc_a, doc_b
    """,
)
def q_dedup_jaccard_cms_capped(spark, sf_dir):
    """The Count-Min-guarded df_cap path (text.hot_terms sketched=True,
    the use case count_min_sketch was built for): the hot-shingle drop
    list comes from a CMS pre-pass (shuffle bounded at partitions ×
    depth × width) + an exact chase of flagged rows only — the full
    distinct-shingle table never shuffles. The two-tier list is EXACT
    (one-sided estimates flag every truly-hot shingle; the chase rejects
    collision noise), so the ORACLE IS THE PLAIN EXACT-CAP SQL — the
    cross-engine hash-match is itself the proof that sketch + chase ≡
    exact groupBy. Cap 2 bites on this corpus (74 df-3 shingles drop);
    threshold 0.3 keeps surviving pairs."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return (
        ngram_jaccard_pairs(
            docs, n=5, threshold=0.3, df_cap=2, df_cap_sketched=True
        )
        .repartition(1)
        .sortWithinPartitions("doc_a", "doc_b")
    )


def winnow_fps_sql(k: int, window: int, where: str = "") -> str:
    """DuckDB twin of operators.text.winnow_fps_col, exploded to (doc_id, fp)."""
    gh = f"('0x' || substring(md5('winnow' || substring(c, i, {k})), 1, 15))::BIGINT"
    return f"""
    WITH norm AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g')) AS c
        FROM documents {where}
    ), fplists AS (
        SELECT doc_id,
            CASE WHEN length(c) - {k + window - 2} >= 1
              THEN list_distinct(list_transform(range(1, length(c) - {k + window - 2} + 1),
                   j -> list_min(list_transform(range(j, j + {window}), i -> {gh}))))
              ELSE [('0x' || substring(md5('winnow' || c), 1, 15))::BIGINT]
            END AS fp_list
        FROM norm
    ), fp0 AS (SELECT doc_id, unnest(fp_list) AS fp FROM fplists)
    """


@query(
    "text_winnow_fingerprints",
    oracle=winnow_fps_sql(12, 8, "WHERE doc_id < 200")
    + "SELECT doc_id, fp FROM fp0 ORDER BY doc_id, fp",
)
def q_text_winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (rolling k-gram hash, window minima —
    Schleimer et al. SIGMOD'03): the position-robust fingerprint index.
    Built entirely in the scan stage (sequence/transform/array_min, no UDF,
    no shuffle before the explode)."""
    from ctcityscraper_spark.operators.text import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return winnow_fingerprints(parallelize_scan(docs, spark)).repartition(1).sortWithinPartitions("doc_id", "fp")


@query(
    "dedup_winnow_pairs",
    oracle=winnow_fps_sql(12, 8)
    + """
    , fp AS (
        SELECT * FROM fp0 WHERE fp IN (
            SELECT fp FROM fp0 GROUP BY fp HAVING COUNT(*) <= 1000)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
    ORDER BY doc_a, doc_b
    """,
)
def q_dedup_winnow_pairs(spark, sf_dir):
    """Near-dup pairs sharing >= 3 winnowing fingerprints — catches a long
    verbatim passage embedded in otherwise-different documents, which
    whole-set Jaccard dilutes away. Inverted fingerprint index with the
    same hot-bucket df-cap guard as the Jaccard path (never a cross join)."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return winnow_pairs(docs, min_shared=3).repartition(1).sortWithinPartitions("doc_a", "doc_b")


def _minhash_oracle(k: int, bands: int, n: int) -> str:
    from ctcityscraper_spark.operators.dedup import MINHASH_P, _perm_constants

    rows = k // bands
    base = f"({hash64_sql('shingle', '')} % {MINHASH_P})"
    mins = ",\n               ".join(
        f"MIN(({a} * {base} + {b}) % {MINHASH_P}) AS mh_{i}"
        for i, (a, b) in enumerate(_perm_constants(k))
    )
    band_rows = []
    for b in range(bands):
        parts = " || ':' || ".join(
            f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        band_rows.append(f"SELECT doc_id, {b} AS band, md5({parts}) AS band_hash FROM sig")
    stacked = "\n        UNION ALL\n        ".join(band_rows)
    return f"""
    WITH sh AS (
        SELECT doc_id, unnest({shingle_sql(n)}) AS shingle FROM documents
    ), sig AS (
        SELECT doc_id,
               {mins}
        FROM sh GROUP BY doc_id
    ), stacked AS (
        {stacked}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM stacked a JOIN stacked b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b
    """


@query("dedup_minhash_lsh", oracle=_minhash_oracle(16, 8, 5), headline=True)
def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash(16) + LSH(8 bands x 2 rows) candidate pairs — the 100 TB
    near-dedup path: explode -> 16 map-side mins -> band equi-join.
    ~97% recall at jaccard 0.6 with tiny false-positive rate.

    The testdata files are single-row-group (unsplittable), so the docs scan
    is repartitioned before the hash-heavy explode — at real scale the file
    layout provides this parallelism natively."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return minhash_lsh_pairs(docs, k=16, bands=8, n=5).repartition(1).sortWithinPartitions("doc_a", "doc_b")


def _simhash_sig_sql(bits: int) -> str:
    th = hash64_sql("token", "")
    sums = ",\n               ".join(
        f"SUM((({th} >> {b}) & 1) * 2 - 1) AS s_{b}" for b in range(bits)
    )
    sig = " + ".join(f"CASE WHEN s_{b} > 0 THEN {2**b} ELSE 0 END" for b in range(bits))
    return f"""
        SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM (
            SELECT doc_id,
               {sums}
            FROM (
                SELECT doc_id, unnest(list_distinct({TOKS})) AS token FROM documents
            ) GROUP BY doc_id
        )
    """


@query(
    "dedup_simhash_signatures",
    oracle=f"""
    SELECT doc_id, simhash FROM ({_simhash_sig_sql(16)})
    WHERE doc_id < 300 ORDER BY doc_id
    """,
)
def q_dedup_simhash_signatures(spark, sf_dir):
    """16-bit SimHash signatures (majority bit over token hashes)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return simhash_signatures(docs, bits=16).orderBy("doc_id")


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH sig AS ({_simhash_sig_sql(32)})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY doc_a, doc_b
    """,
)
def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs, 32-bit signatures: Charikar 4-block candidate
    generation (blocks > max_hamming -> provably full recall) + exact
    bit_count(xor) verify. The oracle is the brute-force hamming-ball
    definition itself, so a green row proves the blocked plan returns
    EXACTLY all pairs at hamming <= 3 — not just cross-engine agreement."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return simhash_pairs(docs, bits=32, max_hamming=3).repartition(1).sortWithinPartitions("doc_a", "doc_b")


@query(
    "dedup_embedding_neardup",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding FROM {EMB_VALID} embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {fold_dot_sql('a.embedding', 'b.embedding', EMB_DIMS)}
             / ({fold_norm_sql('a.embedding', EMB_DIMS)} * {fold_norm_sql('b.embedding', EMB_DIMS)})
             AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id AND a.vec_id < 500
    WHERE {fold_dot_sql('a.embedding', 'b.embedding', EMB_DIMS)}
             / ({fold_norm_sql('a.embedding', EMB_DIMS)} * {fold_norm_sql('b.embedding', EMB_DIMS)})
          >= 0.3
    ORDER BY vec_a, vec_b
    """,
)
def q_dedup_embedding_neardup(spark, sf_dir):
    """Embedding cosine near-dup pairs (verify-scale brute force; the scale
    path blocks on an SRP-LSH bucket — similarity.srp_lsh_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    a_side = emb.filter(F.col("vec_id") < 500)
    pairs = embedding_neardup_pairs(
        a_side.unionByName(emb.filter(F.col("vec_id") >= 500)),
        threshold=0.3,
        block=None,
    )
    return pairs.filter(F.col("vec_a") < 500).repartition(1).sortWithinPartitions("vec_a", "vec_b")


def _cascade_oracle(k: int = 16, bands: int = 8, n: int = 5, threshold: float = 0.6) -> str:
    from ctcityscraper_spark.operators.dedup import MINHASH_P, _perm_constants

    rows = k // bands
    base = f"({hash64_sql('shingle', '')} % {MINHASH_P})"
    mins = ", ".join(
        f"MIN(({a} * {base} + {b}) % {MINHASH_P}) AS mh_{i}"
        for i, (a, b) in enumerate(_perm_constants(k))
    )
    stacked = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({parts}) AS band_hash FROM sig".format(
            b=b,
            parts=" || ':' || ".join(
                f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return f"""
    WITH sh0 AS (
        SELECT doc_id, unnest({shingle_sql(n)}) AS shingle FROM documents
    ), sig AS (
        SELECT doc_id, {mins} FROM sh0 GROUP BY doc_id
    ), stacked AS (
        {stacked}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM stacked a JOIN stacked b
          ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ), sh AS (
        SELECT * FROM sh0 WHERE shingle IN (
            SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 1000)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
        FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        GROUP BY 1, 2
    )
    SELECT cand.doc_a AS doc_a, cand.doc_b AS doc_b,
           i / (sa.sz + sb.sz - i) AS jaccard
    FROM cand
    JOIN inter ON cand.doc_a = inter.doc_a AND cand.doc_b = inter.doc_b
    JOIN sizes sa ON cand.doc_a = sa.doc_id
    JOIN sizes sb ON cand.doc_b = sb.doc_id
    WHERE i / (sa.sz + sb.sz - i) >= {threshold}
    ORDER BY cand.doc_a, cand.doc_b
    """


def _incremental_oracle(
    k: int = 16, bands: int = 8, n: int = 5, threshold: float = 0.6, mod: int = 5
) -> str:
    from ctcityscraper_spark.operators.dedup import MINHASH_P, _perm_constants

    rows = k // bands
    base = f"({hash64_sql('shingle', '')} % {MINHASH_P})"
    mins = ", ".join(
        f"MIN(({a} * {base} + {b}) % {MINHASH_P}) AS mh_{i}"
        for i, (a, b) in enumerate(_perm_constants(k))
    )
    stacked = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({parts}) AS band_hash FROM sig".format(
            b=b,
            parts=" || ':' || ".join(
                f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    is_new = f"{hash64_sql('doc_id', 'inc')} % {mod} = 0"
    return f"""
    WITH sh0 AS (
        SELECT doc_id, unnest({shingle_sql(n)}) AS shingle FROM documents
    ), flags AS (
        SELECT doc_id, {is_new} AS is_new FROM documents
    ), sig AS (
        SELECT doc_id, {mins} FROM sh0 GROUP BY doc_id
    ), stacked AS (
        {stacked}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM stacked a JOIN stacked b
          ON a.band = b.band AND a.band_hash = b.band_hash
        JOIN flags fa ON fa.doc_id = a.doc_id
        JOIN flags fb ON fb.doc_id = b.doc_id
        WHERE fa.is_new AND NOT fb.is_new
    ), sh AS (
        SELECT * FROM sh0 WHERE shingle IN (
            SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 1000)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS i
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        GROUP BY 1, 2
    )
    SELECT c.doc_a AS new_doc, c.doc_b AS corpus_doc,
           i / (sa.sz + sb.sz - i) AS jaccard
    FROM cand c
    JOIN inter ON c.doc_a = inter.doc_a AND c.doc_b = inter.doc_b
    JOIN sizes sa ON c.doc_a = sa.doc_id
    JOIN sizes sb ON c.doc_b = sb.doc_id
    WHERE i / (sa.sz + sb.sz - i) >= {threshold}
    ORDER BY new_doc, corpus_doc
    """


@query("dedup_incremental_lsh", oracle=_incremental_oracle())
def q_dedup_incremental_lsh(spark, sf_dir):
    """Incremental dedup: a hash-held-out 20% 'new batch' checked against
    the other 80% 'existing corpus' via the stored LSH band index —
    candidates are new×corpus band-bucket collisions only (cost ∝ batch
    size, the corpus never re-pairs against itself), verified by exact
    Jaccard over the combined shingle universe."""
    from ctcityscraper_spark.operators.dedup import incremental_dedup_pairs

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    is_new = hash64(F.col("doc_id"), "inc") % 5 == 0
    return incremental_dedup_pairs(
        docs.filter(is_new), docs.filter(~is_new), k=16, bands=8, n=5, threshold=0.6
    ).repartition(1).sortWithinPartitions("new_doc", "corpus_doc")


@query("dedup_cascade_confirmed", oracle=_cascade_oracle())
def q_dedup_cascade(spark, sf_dir):
    """The production dedup cascade: cheap LSH candidate generation, exact
    Jaccard verification on candidates ONLY — verification cost scales with
    candidate count, not corpus size."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return cascade_confirmed_pairs(docs, k=16, bands=8, n=5, threshold=0.6).repartition(1).sortWithinPartitions(
        "doc_a", "doc_b"
    )


def _cascade_edges(docs):
    """(shingle index, confirmed pairs) of the catalog cascade above, inline
    so the caller holds the checkpointed index's handle and can release
    it once the (lazy) pairs are materialized downstream."""
    from ctcityscraper_spark.operators.dedup import (
        _jaccard_verify_from_shingles,
        _lsh_band_pairs,
        _minhash_sigs_from_shingles,
        doc_shingles,
    )

    sh0 = checkpoint_tracked(doc_shingles(docs, n=5))
    cand = _lsh_band_pairs(_minhash_sigs_from_shingles(sh0, 16), 16, 8)
    confirmed = _jaccard_verify_from_shingles(sh0, cand, 0.6, 1000)
    return sh0, confirmed.select("doc_a", "doc_b")


@query(
    "quality_filter_pipeline",
    oracle=f"""
    SELECT source, COUNT(*) AS kept,
           CAST(SUM(CAST(q AS DECIMAL(18,9))) AS DOUBLE) AS total_quality
    FROM (
        SELECT source, {quality_score_sql('text')} AS q,
               len({TOKS}) AS n_tokens
        FROM documents
    )
    WHERE q >= 0.5 AND n_tokens BETWEEN 20 AND 200
    GROUP BY source ORDER BY source
    """,
)
def q_quality_filter_pipeline(spark, sf_dir):
    """C4/Gopher-style quality gate: score + token-count bounds, survivors
    aggregated per source — the canonical pretraining-data filter pass,
    all in the scan stage."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        quality_score_col("text").alias("q"),
        token_count_col("text").alias("n_tokens"),
    )
    return (
        scored.filter((F.col("q") >= 0.5) & F.col("n_tokens").between(20, 200))
        .groupBy("source")
        .agg(
            F.count("*").alias("kept"),
            F.sum(F.col("q").cast("decimal(18,9)")).cast("double").alias("total_quality"),
        )
        .repartition(1).sortWithinPartitions("source")
    )


@query(
    "text_bpe_token_count",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, ' ?[0-9]+| ?[A-Za-z]+| ?[^A-Za-z0-9 \t\n\v\f\r]+')) AS bpe_tokens,
           len(regexp_split_to_array(trim(text), '[ \t\n\v\f\r]+')) AS ws_tokens
    FROM documents WHERE doc_id < 500 ORDER BY doc_id
    """,
)
def q_text_bpe_token_count(spark, sf_dir):
    """Token counting two ways: whitespace and a BPE-ish pre-tokenizer regex
    (GPT-2-style word/number/punct split, lookaheads removed for RE2
    compatibility). Both run inside the scan stage."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    pat = r" ?[0-9]+| ?[A-Za-z]+| ?[^A-Za-z0-9\s]+"
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(pat)).alias("bpe_tokens"),
        token_count_col("text").alias("ws_tokens"),
    ).repartition(1).sortWithinPartitions("doc_id")


def _bpe_merge_ctes(
    n_merges: int, source: str = "documents", prefix: str = ""
) -> str:
    """The BPE training chain as DuckDB CTEs — an INDEPENDENT replay of
    every merge iteration (the k-means Lloyd-replay recipe): pair counts
    from the wrapped vocabulary, (cnt DESC, pair_a, pair_b) argmax,
    greedy left-to-right fold via leftmost-non-overlapping replace().
    Defines {p}w, {p}d0..{p}d{n}, {p}p1..{p}p{n}, {p}m1..{p}m{n};
    ``source`` may carry a WHERE clause (hash-split training sets)."""
    p = prefix
    ctes = [
        f"{p}w AS (SELECT word, COUNT(*)::BIGINT AS freq FROM ("
        "SELECT lower(unnest(regexp_extract_all(text, '[A-Za-z0-9]+'))) AS word "
        f"FROM {source}) GROUP BY word)"
    ]
    ctes.append(
        f"{p}d0 AS (SELECT regexp_replace(word, '(.)', '(\\1)', 'g') AS wrapped,"
        f" freq FROM {p}w)"
    )
    for k in range(1, n_merges + 1):
        ctes.append(
            f"{p}p{k} AS (SELECT t[i] AS pair_a, t[i+1] AS pair_b, "
            "SUM(freq)::BIGINT AS cnt FROM ("
            r"SELECT regexp_extract_all(wrapped, '\(([^)]*)\)', 1) AS t, freq "
            f"FROM {p}d{k - 1}), "
            "LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) "
            "GROUP BY 1, 2)"
        )
        ctes.append(
            f"{p}m{k} AS (SELECT pair_a, pair_b, cnt FROM {p}p{k} "
            "ORDER BY cnt DESC, pair_a, pair_b LIMIT 1)"
        )
        ctes.append(
            f"{p}d{k} AS (SELECT replace(wrapped, "
            f"'(' || (SELECT pair_a FROM {p}m{k}) || ')(' || (SELECT pair_b FROM {p}m{k}) || ')', "
            f"'(' || (SELECT pair_a FROM {p}m{k}) || (SELECT pair_b FROM {p}m{k}) || ')') "
            f"AS wrapped, freq FROM {p}d{k - 1})"
        )
    return ",\n".join(ctes)


def _bpe_train_oracle(n_merges: int) -> str:
    union = " UNION ALL ".join(
        f"SELECT {k}::BIGINT AS rank, pair_a, pair_b, "
        f"pair_a || pair_b AS merged, cnt FROM m{k}"
        for k in range(1, n_merges + 1)
    )
    return (
        f"WITH {_bpe_merge_ctes(n_merges)}\n"
        f"SELECT * FROM ({union}) ORDER BY rank"
    )


BPE_MERGES = 4


@query(
    "text_bpe_train",
    oracle=_bpe_train_oracle(BPE_MERGES),
    headline=True,  # r15 promotion: the tokenizer-training family's
    # bench representative — one corpus scan + vocab-sized iterations
)
def q_text_bpe_train(spark, sf_dir):
    """Distributed BPE tokenizer training (operators/bpe.bpe_train —
    Sennrich-style over the word-frequency table): ONE corpus scan
    collapses to (word, freq), then every merge iteration is a
    vocabulary-sized pair count + a 1-row argmax + a scan-stage replace
    fold — train cost after the first scan is ∝ |vocab|, never ∝
    corpus. The oracle independently replays all four merge iterations
    in DuckDB (pair counts, tie-broken argmax, greedy replace fold) —
    the merge TABLE itself is hash-compared cross-engine."""
    from ctcityscraper_spark.operators.bpe import bpe_train

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return bpe_train(docs, BPE_MERGES).repartition(1).sortWithinPartitions(
        "rank"
    )


@query("text_bpe_incremental", oracle=_bpe_train_oracle(BPE_MERGES))
def q_text_bpe_incremental(spark, sf_dir):
    """BPE retraining off stored word-frequency state: per-batch (word,
    freq) deltas — an 80% 'corpus' zone plus a 20% hash-held-out 'new
    batch' delta, per the gate's self-contained convention — SUM-merge
    (bpe.sum_word_freqs) and train via bpe_train_from_freqs WITHOUT
    re-reading any document. The oracle trains FRESH over the whole
    corpus: incremental == fresh, the merge table hash-compared
    cross-engine (streaming_word_freqs maintains the same zone
    continuously)."""
    from ctcityscraper_spark.operators.bpe import (
        bpe_train_from_freqs,
        bpe_word_freqs,
        sum_word_freqs,
    )

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    is_new = hash64(F.col("doc_id"), "bpeinc") % 5 == 0
    deltas = bpe_word_freqs(docs.filter(~is_new)).unionByName(
        bpe_word_freqs(docs.filter(is_new))
    )
    return (
        bpe_train_from_freqs(sum_word_freqs(deltas), BPE_MERGES)
        .repartition(1)
        .sortWithinPartitions("rank")
    )


def _bpe_replace_chain(n_merges: int, prefix: str = "") -> str:
    """Nested replace() encoding a ``wrapped`` column under the chain's
    trained merges (rank order)."""
    reps = "wrapped"
    for k in range(1, n_merges + 1):
        reps = (
            f"replace({reps}, "
            f"'(' || (SELECT pair_a FROM {prefix}m{k}) || ')(' || (SELECT pair_b FROM {prefix}m{k}) || ')', "
            f"'(' || (SELECT pair_a FROM {prefix}m{k}) || (SELECT pair_b FROM {prefix}m{k}) || ')')"
        )
    return reps


def _bpe_apply_oracle(n_merges: int, doc_limit: int) -> str:
    reps = _bpe_replace_chain(n_merges)
    return f"""
    WITH {_bpe_merge_ctes(n_merges)},
    words AS (
        SELECT doc_id,
               lower(unnest(regexp_extract_all(text, '[A-Za-z0-9]+'))) AS word
        FROM documents WHERE doc_id < {doc_limit}
    ),
    wr AS (
        SELECT doc_id, regexp_replace(word, '(.)', '(\\1)', 'g') AS wrapped,
               len(word) AS n_char
        FROM words
    ),
    enc AS (SELECT doc_id, {reps} AS wrapped, n_char FROM wr)
    SELECT doc_id,
           SUM(len(regexp_extract_all(wrapped, '\\(([^)]*)\\)', 1)))::BIGINT
             AS bpe_tokens,
           SUM(n_char)::BIGINT AS char_tokens,
           COUNT(*)::BIGINT AS words
    FROM enc GROUP BY doc_id ORDER BY doc_id
    """


def _bpe_fertility_oracle(n_merges: int) -> str:
    reps = _bpe_replace_chain(n_merges)
    return f"""
    WITH {_bpe_merge_ctes(n_merges)},
    words AS (
        SELECT source,
               lower(unnest(regexp_extract_all(text, '[A-Za-z0-9]+'))) AS word
        FROM documents WHERE source IS NOT NULL
    ),
    wr AS (
        SELECT source, regexp_replace(word, '(.)', '(\\1)', 'g') AS wrapped,
               len(word) AS n_char
        FROM words
    ),
    enc AS (SELECT source, {reps} AS wrapped, n_char FROM wr)
    SELECT source,
           SUM(len(regexp_extract_all(wrapped, '\\(([^)]*)\\)', 1)))::BIGINT
             AS bpe_tokens,
           SUM(n_char)::BIGINT AS char_tokens,
           COUNT(*)::BIGINT AS words
    FROM enc GROUP BY source ORDER BY source
    """


@query("text_bpe_fertility", oracle=_bpe_fertility_oracle(BPE_MERGES))
def q_text_bpe_fertility(spark, sf_dir):
    """Tokenizer-health monitor: per-source (bpe_tokens, char_tokens,
    words) under the corpus-trained merges — fertility (tokens/word) and
    compression (chars/token) per slice are ratios of these exact
    integers (the standing keep-the-numerator-and-denominator rule). A
    source whose fertility runs hot is one the vocab underserves — the
    per-slice drift signal feeding the retrain trigger
    (``text_bpe_retrain_cycle``)."""
    from ctcityscraper_spark.operators.bpe import bpe_apply, bpe_train

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    merges = [tuple(r) for r in bpe_train(docs, BPE_MERGES).collect()]
    return (
        bpe_apply(docs.filter(F.col("source").isNotNull()), merges, id_col="source")
        .repartition(1)
        .sortWithinPartitions("source")
    )


def _bpe_retrain_oracle(n_merges: int, mod: int = 5) -> str:
    is_new = f"{hash64_sql('doc_id', 'bpecyc')} % {mod} = 0"
    old_chain = _bpe_merge_ctes(
        n_merges, f"documents WHERE NOT ({is_new})", prefix="o"
    )
    new_chain = _bpe_merge_ctes(n_merges, "documents", prefix="n")
    fert = """
    f{p} AS (
        SELECT SUM(freq * len(regexp_extract_all({reps}, '\\(([^)]*)\\)', 1)))::BIGINT
                 AS bpe_tokens,
               SUM(freq * len(word))::BIGINT AS char_tokens,
               SUM(freq)::BIGINT AS words
        FROM (SELECT word, freq,
                     regexp_replace(word, '(.)', '(\\1)', 'g') AS wrapped
              FROM fnew)
    )"""
    return f"""
    WITH {old_chain},
    {new_chain},
    fnew AS (
        SELECT word, COUNT(*)::BIGINT AS freq FROM (
            SELECT lower(unnest(regexp_extract_all(text, '[A-Za-z0-9]+'))) AS word
            FROM documents WHERE {is_new}
        ) GROUP BY word
    ),
    {fert.format(p="o", reps=_bpe_replace_chain(n_merges, "o"))},
    {fert.format(p="n", reps=_bpe_replace_chain(n_merges, "n"))}
    SELECT fo.bpe_tokens AS stale_bpe_tokens,
           fn.bpe_tokens AS retrained_bpe_tokens,
           fo.char_tokens AS char_tokens,
           fo.words AS words
    FROM fo, fn
    """


@query("text_bpe_retrain_cycle", oracle=_bpe_retrain_oracle(BPE_MERGES))
def q_text_bpe_retrain_cycle(spark, sf_dir):
    """The BPE family's closed detect -> retrain -> verify loop (the
    PQ/IVF/k-means recipe): a vocab trained on the 80% 'corpus' freq
    table is monitored against tonight's 20% hash-held-out batch
    (``bpe_fertility_from_freqs`` — drift = the batch's token bill
    under the STALE vocab), retraining merges the batch's freq delta
    into the stored zone (``sum_word_freqs`` + ``bpe_train_from_freqs``
    — the corpus is never re-read for training), and the verify leg
    re-bills the same batch under the fresh vocab. All three legs are
    vocab-sized; the corpus is scanned exactly once (the freq tables).
    Output: exact integer token bills before/after plus the batch's
    char/word denominators."""
    from ctcityscraper_spark.operators.bpe import (
        bpe_fertility_from_freqs,
        bpe_train_from_freqs,
        bpe_word_freqs,
        sum_word_freqs,
    )

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    is_new = hash64(F.col("doc_id"), "bpecyc") % 5 == 0
    freqs_old = checkpoint_tracked(bpe_word_freqs(docs.filter(~is_new)))
    freqs_new = checkpoint_tracked(bpe_word_freqs(docs.filter(is_new)))
    stale = [tuple(r) for r in bpe_train_from_freqs(freqs_old, BPE_MERGES).collect()]
    retrained = [
        tuple(r)
        for r in bpe_train_from_freqs(
            sum_word_freqs(freqs_old.unionByName(freqs_new)), BPE_MERGES
        ).collect()
    ]
    release(freqs_old)  # dead once both vocabs are trained
    before = bpe_fertility_from_freqs(freqs_new, stale).select(
        F.col("bpe_tokens").alias("stale_bpe_tokens"),
        "char_tokens",
        "words",
    )
    after = bpe_fertility_from_freqs(freqs_new, retrained).select(
        F.col("bpe_tokens").alias("retrained_bpe_tokens")
    )
    # 1-row x 1-row audit attach (the recall-audit crossJoin shape)
    return before.crossJoin(after).select(
        "stale_bpe_tokens", "retrained_bpe_tokens", "char_tokens", "words"
    )


@query("text_bpe_apply", oracle=_bpe_apply_oracle(BPE_MERGES, 300))
def q_text_bpe_apply(spark, sf_dir):
    """Encode documents under the corpus-trained BPE merges
    (operators/bpe.bpe_apply): the merge list rides the plan as
    literals (the codebook-broadcast pattern — bounded by n_merges),
    encoding is a pure scan-stage replace chain, and the per-doc
    BPE-vs-char token counts aggregate with one SUM. Training here is
    derived in-plan per the gate's self-contained convention; the
    oracle replays training AND encoding."""
    from ctcityscraper_spark.operators.bpe import bpe_apply, bpe_train

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    merges = [tuple(r) for r in bpe_train(docs, BPE_MERGES).collect()]
    return (
        bpe_apply(docs.filter(F.col("doc_id") < 300), merges)
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


@query(
    "dedup_embedding_blocked",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding, label FROM {EMB_VALID} embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {fold_dot_sql('a.embedding', 'b.embedding', EMB_DIMS)}
             / ({fold_norm_sql('a.embedding', EMB_DIMS)} * {fold_norm_sql('b.embedding', EMB_DIMS)})
             AS cosine
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {fold_dot_sql('a.embedding', 'b.embedding', EMB_DIMS)}
             / ({fold_norm_sql('a.embedding', EMB_DIMS)} * {fold_norm_sql('b.embedding', EMB_DIMS)})
          >= 0.3
    ORDER BY vec_a, vec_b
    """,
)
def q_dedup_embedding_blocked(spark, sf_dir):
    """Blocked embedding near-dup: pairs only within a blocking key (label
    here; an SRP bucket or cluster id in production) — the O(Σ block²)
    scale path vs the brute-force verify variant."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, threshold=0.3, block="label").repartition(1).sortWithinPartitions(
        "vec_a", "vec_b"
    )


@query(
    "dedup_incremental_embedding",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding,
                      {_srp_bucket_sql('embedding', EMB_DIMS, 4)} AS bucket
               FROM {EMB_VALID} embeddings WHERE vec_id IS NOT NULL),
    n AS (SELECT * FROM v WHERE {hash64_sql('vec_id', 'embinc')} % 5 = 0),
    c AS (SELECT * FROM v WHERE {hash64_sql('vec_id', 'embinc')} % 5 != 0)
    SELECT n.vec_id AS new_vec, c.vec_id AS corpus_vec,
           {fold_dot_sql('n.embedding', 'c.embedding', EMB_DIMS)}
             / ({fold_norm_sql('n.embedding', EMB_DIMS)}
                * {fold_norm_sql('c.embedding', EMB_DIMS)}) AS cosine
    FROM n JOIN c ON n.bucket = c.bucket
    WHERE {fold_dot_sql('n.embedding', 'c.embedding', EMB_DIMS)}
             / ({fold_norm_sql('n.embedding', EMB_DIMS)}
                * {fold_norm_sql('c.embedding', EMB_DIMS)}) >= 0.3
    ORDER BY new_vec, corpus_vec
    """,
)
def q_dedup_incremental_embedding(spark, sf_dir):
    """Incremental embedding near-dup (operators/dedup.
    incremental_embedding_pairs) — the embedding member of the
    incremental-dedup family (exact / MinHash / prefix-exact already
    have delta forms): a 20% hash-split batch probes the 80% corpus's
    SRP bucket index (srp_bucket_index — the stored artifact; derived
    in-plan here per the gate's self-contained convention), candidates
    come from the bucket equi-join (cost ∝ batch × bucket occupancy,
    never corpus × corpus), and exact fold-cosine verifies candidates
    only. Sides stay separated, so corpus×corpus pairs are never
    re-emitted — the nightly run pays only for tonight's batch."""
    from ctcityscraper_spark.operators.dedup import (
        incremental_embedding_pairs,
    )

    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"), spark)
    is_new = hash64(F.col("vec_id"), "embinc") % 5 == 0
    return (
        incremental_embedding_pairs(
            emb.filter(is_new),
            emb.filter(~is_new),
            EMB_DIMS,
            threshold=0.3,
            bits=4,
        )
        .repartition(1)
        .sortWithinPartitions("new_vec", "corpus_vec")
    )


@query(
    "dedup_groups_connected",
    headline=True,  # the full realistic dedup pipeline: LSH candidates ->
    # Jaccard verify -> connected components; benched round-over-round
    oracle=f"""
    WITH RECURSIVE pairs AS ({_cascade_oracle()}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    walk(node, component) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, w.component FROM edges e JOIN walk w ON e.b = w.node
        WHERE w.component < e.a
    )
    SELECT node, MIN(component) AS component
    FROM walk GROUP BY node ORDER BY node
    """,
)
def q_dedup_groups_connected(spark, sf_dir):
    """True dedup GROUPS from cascade pairs: connected components by
    iterative min-label propagation (operators/graph.py) — chains a~b~c
    merge into one group, which the pairwise drop rule can't do. Oracle is
    a recursive CTE computing the same min-reachable-id labels."""
    from ctcityscraper_spark.operators.graph import connected_components

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    # connected_components checkpoints the confirmed-pair edges eagerly,
    # after which the shingle index is dead weight
    sh0, confirmed = _cascade_edges(docs)
    out = connected_components(confirmed).repartition(1).sortWithinPartitions("node")
    release(sh0)
    return out


@query(
    "dedup_groups_incremental",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_cascade_oracle()}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    walk(node, component) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, w.component FROM edges e JOIN walk w ON e.b = w.node
        WHERE w.component < e.a
    )
    SELECT node, MIN(component) AS component
    FROM walk GROUP BY node ORDER BY node
    """,
)
def q_dedup_groups_incremental(spark, sf_dir):
    """Incremental dedup GROUPS (operators/graph.incremental_components):
    a stored (node, component) assignment — built here from the 80%
    'corpus' slice's cascade pairs, per the gate's self-contained
    convention — maintained under tonight's delta pairs (every pair
    touching a hash-held-out 20% 'new' doc). The delta contracts onto
    component roots, the iterative fixpoint runs over the contracted
    graph only (O(delta), never O(corpus)), and relabeling is one
    broadcast merge-map join. The oracle is a FRESH recursive-CTE CC
    over all pairs: incremental == fresh, hash-checked cross-engine."""
    from ctcityscraper_spark.operators.graph import (
        connected_components,
        incremental_components,
    )

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    sh0, pairs = _cascade_edges(docs)
    confirmed = checkpoint_tracked(pairs)
    release(sh0)
    new_a = hash64(F.col("doc_a"), "ccinc") % 5 == 0
    new_b = hash64(F.col("doc_b"), "ccinc") % 5 == 0
    assignments = connected_components(confirmed.filter(~new_a & ~new_b))
    out = (
        incremental_components(assignments, confirmed.filter(new_a | new_b))
        .repartition(1)
        .sortWithinPartitions("node")
    )
    release(confirmed)
    return out


@query(
    "dedup_drop_list",
    oracle=f"""
    WITH pairs AS ({_cascade_oracle()})
    SELECT DISTINCT doc_b AS drop_id FROM pairs ORDER BY drop_id
    """,
)
def q_dedup_drop_list(spark, sf_dir):
    """The actionable dedup artifact: the doc ids to REMOVE. Canonical-keep
    rule: in every confirmed near-dup pair the lower id is kept, so the
    drop set is {doc_b of confirmed pairs} (transitively this keeps each
    group's minimum)."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    confirmed = cascade_confirmed_pairs(docs, k=16, bands=8, n=5, threshold=0.6)
    return (
        confirmed.select(F.col("doc_b").alias("drop_id")).distinct().repartition(1).sortWithinPartitions("drop_id")
    )


@query(
    "dedup_incremental_drop_list",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_cascade_oracle()}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    walk(node, component) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, w.component FROM edges e JOIN walk w ON e.b = w.node
        WHERE w.component < e.a
    ),
    comp AS (SELECT node, MIN(component) AS component FROM walk GROUP BY node),
    affected AS (
        SELECT DISTINCT c.component FROM comp c
        WHERE {hash64_sql('c.node', 'dropinc')} % 5 = 0
    ),
    ranked AS (
        SELECT c.node, c.component,
               ROW_NUMBER() OVER (PARTITION BY c.component
                                  ORDER BY {quality_score_sql('d.text')} DESC,
                                           c.node) AS rk
        FROM comp c
        JOIN affected a USING (component)
        JOIN documents d ON d.doc_id = c.node),
    keepers AS (SELECT component, node AS keep_id FROM ranked WHERE rk = 1)
    SELECT r.node AS drop_id, k.keep_id
    FROM ranked r JOIN keepers k USING (component)
    WHERE r.rk > 1 ORDER BY drop_id
    """,
)
def q_dedup_incremental_drop_list(spark, sf_dir):
    """The nightly incremental dedup ARTIFACT end-to-end: tonight's
    delta pairs (every cascade pair touching a hash-held-out 20% 'new'
    doc) maintain the stored component assignment
    (graph.incremental_components), and representatives are re-elected
    ONLY inside the components tonight's batch touched
    (dedup.keep_best_representative over the affected members) — the
    bounded (drop_id, keep_id) delta a stored drop-list zone appends.
    Unchanged components keep their previous night's rows by
    construction (their membership and ranking inputs are untouched —
    the incremental == fresh CC gate covers the membership half). The
    oracle computes the same affected-component drop rows from a FRESH
    full-graph run: a component is affected iff it contains a new doc,
    which is exactly the components holding changed assignment rows
    (every merge routes through a delta edge, and every delta edge
    touches a new doc)."""
    from ctcityscraper_spark.operators.dedup import keep_best_representative
    from ctcityscraper_spark.operators.graph import (
        connected_components,
        incremental_components,
    )
    from ctcityscraper_spark.operators.text import quality_score_col

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    sh0, pairs = _cascade_edges(docs)
    confirmed = checkpoint_tracked(pairs)
    release(sh0)
    new_a = hash64(F.col("doc_a"), "dropinc") % 5 == 0
    new_b = hash64(F.col("doc_b"), "dropinc") % 5 == 0
    assignments = connected_components(confirmed.filter(~new_a & ~new_b))
    full = incremental_components(
        assignments, confirmed.filter(new_a | new_b)
    )
    release(confirmed)
    affected = (
        full.filter(hash64(F.col("node"), "dropinc") % 5 == 0)
        .select("component")
        .distinct()
    )
    members = full.join(affected, "component", "left_semi")
    return (
        keep_best_representative(docs, members, quality_score_col("text"))
        .repartition(1)
        .sortWithinPartitions("drop_id")
    )


# ================================================================== similarity


@query(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM {EMB_VALID} embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM {EMB_VALID} embeddings),
         scored AS (
            SELECT query_id, neighbor_id,
                   {fold_dot_sql('qv', 'cv', EMB_DIMS)}
                     / ({fold_norm_sql('qv', EMB_DIMS)} * {fold_norm_sql('cv', EMB_DIMS)}) AS cosine
            FROM q, c WHERE query_id != neighbor_id
         )
    SELECT query_id, neighbor_id, rank, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def q_ann_cosine_topk(spark, sf_dir):
    """Exact brute-force cosine top-5 for 10 query vectors — the ANN
    correctness baseline (extension north-star operator)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5).repartition(1).sortWithinPartitions(
        "query_id", "rank"
    )


@query(
    "ann_cosine_topk_vectorized",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM {EMB_VALID} embeddings WHERE vec_id < 100),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM {EMB_VALID} embeddings),
         scored AS (
            SELECT query_id, neighbor_id,
                   {fold_dot_sql('qv', 'cv', EMB_DIMS)}
                     / ({fold_norm_sql('qv', EMB_DIMS)} * {fold_norm_sql('cv', EMB_DIMS)}) AS cosine
            FROM q, c WHERE query_id != neighbor_id
         )
    SELECT query_id, neighbor_id, rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5 ORDER BY query_id, rank
    """,
    headline=True,
)
def q_ann_cosine_topk_vectorized(spark, sf_dir):
    """Throughput ANN: numpy-matmul partial top-k per partition + global
    window reduce. Oracled RANK-ONLY against the exact brute-force SQL:
    cosine VALUES differ from the sequential fold only by float-sum
    association (~1e-15 relative), while the fixture's smallest adjacent
    cosine margin inside the top-6 is >= 1.2e-5 (tests assert the margin),
    so the rank permutation — the operator's actual contract — is
    bit-stable across engines. Value-level agreement with cosine_topk is
    separately asserted in tests to 1e-9."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        cosine_topk_vectorized(emb, emb.filter(F.col("vec_id") < 100), k=5)
        .select("query_id", "neighbor_id", "rank")
        .repartition(1).sortWithinPartitions("query_id", "rank")
    )


@query(
    "ann_srp_lsh_topk",
    oracle=f"""
    WITH c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
                      {_srp_bucket_sql('embedding', EMB_DIMS, 8)} AS bucket
               FROM {EMB_VALID} embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS qv,
                      {_srp_bucket_sql('embedding', EMB_DIMS, 8)} AS bucket
               FROM {EMB_VALID} embeddings WHERE vec_id < 10),
         scored AS (
            SELECT query_id, neighbor_id,
                   {fold_dot_sql('qv', 'cv', EMB_DIMS)}
                     / ({fold_norm_sql('qv', EMB_DIMS)} * {fold_norm_sql('cv', EMB_DIMS)}) AS cosine
            FROM q JOIN c USING (bucket) WHERE query_id != neighbor_id
         )
    SELECT query_id, neighbor_id, rank, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def q_ann_srp_lsh_topk(spark, sf_dir):
    """SRP-LSH bucketed ANN (8-bit sign-random-projection buckets from a
    deterministic literal plane matrix) + exact re-rank — the scale path."""
    emb = load_table(spark, sf_dir, "embeddings")
    return srp_lsh_topk(
        emb, emb.filter(F.col("vec_id") < 10), dims=EMB_DIMS, k=5, bits=8
    ).repartition(1).sortWithinPartitions("query_id", "rank")


def _srp_multiprobe_oracle(bits: int, probe_bits: int) -> str:
    masks = ", ".join(str(m) for m in probe_masks(bits, probe_bits))
    return f"""
    WITH c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
                      {_srp_bucket_sql('embedding', EMB_DIMS, bits)} AS bucket
               FROM {EMB_VALID} embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS qv,
                      {_srp_bucket_sql('embedding', EMB_DIMS, bits)} AS bucket0
               FROM {EMB_VALID} embeddings WHERE vec_id < 10),
         probes AS (
            SELECT query_id, qv, xor(bucket0, m.mask) AS bucket
            FROM q CROSS JOIN (SELECT unnest([{masks}]) AS mask) m
         ),
         scored AS (
            SELECT query_id, neighbor_id,
                   {fold_dot_sql('qv', 'cv', EMB_DIMS)}
                     / ({fold_norm_sql('qv', EMB_DIMS)} * {fold_norm_sql('cv', EMB_DIMS)}) AS cosine
            FROM probes JOIN c USING (bucket) WHERE query_id != neighbor_id
         )
    SELECT query_id, neighbor_id, rank, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5 ORDER BY query_id, rank
    """


@query("ann_srp_multiprobe_topk", oracle=_srp_multiprobe_oracle(8, 2))
def q_ann_srp_multiprobe_topk(spark, sf_dir):
    """Multi-probe SRP-LSH: the recall knob at fixed index cost. Each query
    probes its own bucket plus every bucket within 2 bit-flips (37 probes
    at 8 bits) — recovering neighbors that fell on the far side of a
    near-threshold hyperplane — while candidates still come from a plain
    equi-join on bucket. Recall@5 strictly above single-bucket SRP on the
    fixture is asserted in tests (TestSrpMultiprobe)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return srp_multiprobe_topk(
        emb, emb.filter(F.col("vec_id") < 10), dims=EMB_DIMS, k=5, bits=8, probe_bits=2
    ).repartition(1).sortWithinPartitions("query_id", "rank")


@query(
    "ann_ivf_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM {EMB_VALID} embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM {EMB_VALID} embeddings),
         scored AS (
            SELECT query_id, neighbor_id,
                   {fold_dot_sql('qv', 'cv', EMB_DIMS)}
                     / ({fold_norm_sql('qv', EMB_DIMS)} * {fold_norm_sql('cv', EMB_DIMS)}) AS cosine
            FROM q, c WHERE query_id != neighbor_id
         )
    SELECT query_id, neighbor_id, rank, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN: k-means coarse quantizer (pyspark.ml, pinned seed) + probed
    equi-join on list_id + exact fold-based re-rank. Full probe here
    (n_probe == n_lists, which ivf_topk documents as exact) because the
    fixture embeddings are deliberately unclusterable random vectors —
    partial probe cannot honestly reach recall 1.0 on them, and the oracle
    gate demands exactness. The probed-join physical shape is identical at
    any n_probe; the recall/cost knob at partial probe is exercised in
    tests (TestIvfAnn). Cosine stays in the output: the re-rank uses the
    JVM left-to-right fold, bit-identical to DuckDB's list_reduce."""
    from ctcityscraper_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_lists=8, n_probe=8
    ).repartition(1).sortWithinPartitions("query_id", "rank")


@query(
    "ann_ivf_update",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM {EMB_VALID} embeddings
               WHERE vec_id >= 10 AND vec_id < 20),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM {EMB_VALID} embeddings),
         scored AS (
            SELECT query_id, neighbor_id,
                   {fold_dot_sql('qv', 'cv', EMB_DIMS)}
                     / ({fold_norm_sql('qv', EMB_DIMS)} * {fold_norm_sql('cv', EMB_DIMS)}) AS cosine
            FROM q, c WHERE query_id != neighbor_id
         )
    SELECT query_id, neighbor_id, rank, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def q_ann_ivf_update(spark, sf_dir):
    """Incremental IVF maintenance (operators/similarity.update_ivf_index):
    the index is built (k-means) over an 80% base corpus, a 20% delta
    batch is APPENDED under the frozen centroids (assign_ivf_lists — the
    delta pays one Arrow argmin pass, never a stored-index scan), and the
    merged index is probed at FULL probe (n_probe == n_lists, which
    ivf_probe_topk documents as exact). The oracle is the exact cosine
    top-5 over the whole corpus — a value-hash match therefore proves
    maintenance lost no vector and duplicated none (either would change
    the top-k), independent of where k-means placed the centroids. The
    partial-probe merged ≡ one-shot-assigned equivalence is pinned in
    tests (TestIvfAnn)."""
    from ctcityscraper_spark.operators.similarity import (
        build_ivf_index,
        ivf_probe_topk,
        update_ivf_index,
    )

    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"), spark)
    bucket = hash64(F.col("vec_id"), "ivfsplit") % 5
    indexed, centroids = build_ivf_index(emb.filter(bucket != 0), n_lists=8)
    merged = update_ivf_index(indexed, emb.filter(bucket == 0), centroids)
    qs = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20))
    return (
        ivf_probe_topk(merged, centroids, qs, k=5, n_probe=8)
        .repartition(1)
        .sortWithinPartitions("query_id", "rank")
    )


def _ivf_imbalance_oracle(dims: int, n_lists: int = 8) -> str:
    """DuckDB twin of q_ann_ivf_imbalance: hash-picked centroids, fold-L2
    argmin assignment (identical to _ivf_recall_oracle's), epoch split on
    hash64(vec_id,'ivfepoch'), then pure grid/count/ratio arithmetic."""
    l2 = (
        f"list_reduce(list_transform(range(1, {dims + 1}), "
        f"i -> (e.embedding[i]::DOUBLE - cv[i]::DOUBLE)"
        f" * (e.embedding[i]::DOUBLE - cv[i]::DOUBLE)), (x, y) -> x + y)"
    )
    return f"""
    WITH ctr AS (
        SELECT rn - 1 AS list_id, cv FROM (
            SELECT embedding AS cv, ROW_NUMBER() OVER (
                ORDER BY {hash64_sql('vec_id', 'ivfctr')}, vec_id) AS rn
            FROM {EMB_VALID} embeddings) WHERE rn <= {n_lists}),
    ad AS (
        SELECT e.vec_id, ctr.list_id, {l2} AS d
        FROM {EMB_VALID} e CROSS JOIN ctr),
    assign AS (
        SELECT vec_id, list_id,
               {hash64_sql('vec_id', 'ivfepoch')} % 2 = 0 AS is_b
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d, list_id) AS rn FROM ad)
        WHERE rn = 1),
    grid AS (SELECT unnest(range(0, {n_lists}))::INT AS list_id),
    fa AS (SELECT g.list_id, count(a.vec_id) AS n_a
           FROM grid g LEFT JOIN (SELECT * FROM assign WHERE NOT is_b) a
           USING (list_id) GROUP BY g.list_id),
    fb AS (SELECT g.list_id, count(a.vec_id) AS n_b
           FROM grid g LEFT JOIN (SELECT * FROM assign WHERE is_b) a
           USING (list_id) GROUP BY g.list_id),
    ta AS (SELECT sum(n_a) AS tot_a, max(n_a) AS max_a FROM fa),
    tb AS (SELECT sum(n_b) AS tot_b, max(n_b) AS max_b FROM fb)
    SELECT fa.list_id AS list_id, n_a, n_b,
           CASE WHEN tot_a > 0 THEN n_a / tot_a END AS share_a,
           CASE WHEN tot_b > 0 THEN n_b / tot_b END AS share_b,
           CASE WHEN tot_b > 0 THEN n_b / tot_b END
             - CASE WHEN tot_a > 0 THEN n_a / tot_a END AS share_drift,
           CASE WHEN tot_a > 0
                THEN max_a * {n_lists} / tot_a END AS imbalance_a,
           CASE WHEN tot_b > 0
                THEN max_b * {n_lists} / tot_b END AS imbalance_b
    FROM fa JOIN fb USING (list_id), ta, tb
    ORDER BY list_id
    """


@query("ann_ivf_imbalance", oracle=_ivf_imbalance_oracle(EMB_DIMS))
def q_ann_ivf_imbalance(spark, sf_dir):
    """IVF health monitor (operators/similarity.ivf_imbalance_report) —
    closes update_ivf_index's documented drift caveat as an operator
    instead of a comment: two epochs (hash split) are assigned under the
    SAME frozen coarse quantizer and their per-list occupancy is joined
    into (n, share, share_drift, imbalance) rows over the full list grid.
    share_drift is the recall-proxy (mass migrating between lists under
    fixed centroids = the incoming distribution wandering from the
    training corpus, which is what degrades recall-per-probe);
    imbalance = max/mean list size is the retrain trigger. Uses the
    hash-picked deterministic quantizer + the expression-only assignment
    (ivf_list_assignment, the ann_ivf_recall pattern) so every distance
    is a left-to-right fold DuckDB reproduces bit-for-bit; the arithmetic
    downstream is integer counts and single divisions — IEEE-exact. At
    100 TB both epochs' stats are one groupBy over a STORED index frame
    (n_lists result rows); the drift join is grid x grid."""
    from ctcityscraper_spark.operators.similarity import (
        ivf_imbalance_report,
        ivf_list_assignment,
    )

    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"), spark)
    centroids = hash_pick_centroids(emb, n_lists=8)
    is_b = hash64(F.col("vec_id"), "ivfepoch") % 2 == 0
    a = ivf_list_assignment(emb.filter(~is_b), centroids)
    b = ivf_list_assignment(emb.filter(is_b), centroids)
    return (
        ivf_imbalance_report(a, b, n_lists=8)
        .repartition(1)
        .sortWithinPartitions("list_id")
    )


def _exact_ann_cte(dims: int, topk: int = 5, nq: int = 10) -> str:
    """CTE ``ex``: exact cosine top-k pairs for queries vec_id < nq."""
    cos = (
        f"{fold_dot_sql('q.embedding', 'c.embedding', dims)}"
        f" / ({fold_norm_sql('q.embedding', dims)}"
        f" * {fold_norm_sql('c.embedding', dims)})"
    )
    return f"""
    ex AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY {cos} DESC, c.vec_id) AS rank
            FROM {EMB_VALID} q JOIN {EMB_VALID} c ON q.vec_id != c.vec_id
            WHERE q.vec_id < {nq})
        WHERE rank <= {topk})"""


def _recall_tail_sql(approx_cte: str, approx_count: str) -> str:
    return f"""
    SELECT n_exact, {approx_count}, n_hits,
           n_hits / n_exact AS recall_at_k
    FROM (SELECT
        (SELECT count(*) FROM ex) AS n_exact,
        (SELECT count(*) FROM {approx_cte}) AS {approx_count},
        (SELECT count(*) FROM ex e JOIN {approx_cte} a
           ON e.query_id = a.query_id
          AND e.neighbor_id = a.neighbor_id) AS n_hits)
    """


def _ivf_recall_oracle(
    dims: int, n_lists: int = 8, n_probe: int = 2, topk: int = 5
) -> str:
    l2 = (
        f"list_reduce(list_transform(range(1, {dims + 1}), "
        f"i -> (e.embedding[i]::DOUBLE - cv[i]::DOUBLE)"
        f" * (e.embedding[i]::DOUBLE - cv[i]::DOUBLE)), (x, y) -> x + y)"
    )
    cos = (
        f"{fold_dot_sql('q.embedding', 'c.embedding', dims)}"
        f" / ({fold_norm_sql('q.embedding', dims)}"
        f" * {fold_norm_sql('c.embedding', dims)})"
    )
    return f"""
    WITH ctr AS (
        SELECT rn - 1 AS list_id, cv FROM (
            SELECT embedding AS cv, ROW_NUMBER() OVER (
                ORDER BY {hash64_sql('vec_id', 'ivfctr')}, vec_id) AS rn
            FROM {EMB_VALID} embeddings) WHERE rn <= {n_lists}),
    ad AS (
        SELECT e.vec_id, ctr.list_id, {l2} AS d
        FROM {EMB_VALID} e CROSS JOIN ctr),
    assign AS (
        SELECT vec_id AS neighbor_id, list_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d, list_id) AS rn FROM ad)
        WHERE rn = 1),
    probe AS (
        SELECT vec_id AS query_id, list_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d, list_id) AS rn
            FROM ad WHERE vec_id < 10)
        WHERE rn <= {n_probe}),
    cand AS (
        SELECT p.query_id, a.neighbor_id
        FROM probe p JOIN assign a USING (list_id)
        WHERE p.query_id != a.neighbor_id),
    sc AS (
        SELECT cand.query_id, cand.neighbor_id, {cos} AS cosine
        FROM cand
        JOIN {EMB_VALID} q ON q.vec_id = cand.query_id
        JOIN {EMB_VALID} c ON c.vec_id = cand.neighbor_id),
    ivfk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS rank FROM sc)
        WHERE rank <= {topk}),
    {_exact_ann_cte(dims, topk)}
    {_recall_tail_sql('ivfk', 'n_approx')}
    """


@query("ann_ivf_recall", oracle=_ivf_recall_oracle(EMB_DIMS))
def q_ann_ivf_recall(spark, sf_dir):
    """Honest IVF quality audit (the ANN twin of dedup_lsh_recall):
    recall@5 of partial-probe IVF (n_probe=2 of n_lists=8) against the
    exact cosine top-5. Uses the hash-picked deterministic coarse
    quantizer (operators/similarity.hash_pick_centroids) + the
    expression-only probe path (ivf_flat_topk) so every float is a
    left-to-right fold DuckDB reproduces bit-for-bit — k-means centers
    cluster better but are not oracle-expressible; recall tunes the same
    way with n_probe in both variants (TestIvfAnn covers k-means)."""
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"), spark)
    qs = emb.filter(F.col("vec_id") < 10)
    ctrs = hash_pick_centroids(emb, 8)
    approx = persist_tracked(
        ivf_flat_topk(emb, qs, ctrs, k=5, n_probe=2).select(
            "query_id", "neighbor_id"
        )
    )
    exact = persist_tracked(cosine_topk(emb, qs, k=5).select("query_id", "neighbor_id"))
    hits = exact.join(approx, ["query_id", "neighbor_id"])
    return (
        exact.agg(F.count("*").alias("n_exact"))
        .crossJoin(approx.agg(F.count("*").alias("n_approx")))
        .crossJoin(hits.agg(F.count("*").alias("n_hits")))
        .select(
            "n_exact",
            "n_approx",
            "n_hits",
            (F.col("n_hits") / F.col("n_exact")).alias("recall_at_k"),
        )
    )


# Sidecar the ann_pca_ivf_recall query persists its trained components
# to (operators/similarity.save_vectors_json, kind='pca_components') and
# the DuckDB oracle reads back with read_json. The eigensolver output
# becomes DATA, so everything downstream of it — projection, hash-picked
# IVF, recall arithmetic — is SQL-verifiable; only the eigh call itself
# stays outside the oracle (its isometry invariant is pinned in
# tests/test_operators.py TestPcaIvf). The gate runs the Spark query
# BEFORE the oracle (plans/compare.py run_gate, mirroring the driver),
# so the sidecar the SQL reads is always the one this run just trained.
# json.dumps writes shortest-round-trip float reprs and DuckDB's JSON
# reader parses correctly-rounded doubles, so the floats survive the
# trip bit-for-bit.
#
# Staleness guard: the path is one fixed location shared by every
# sf_dir, so a concurrent gate at another sf (or an oracle-only replay)
# could read components trained on a DIFFERENT corpus and produce
# plausible-but-wrong reference values. The payload therefore carries a
# corpus fingerprint (valid-row count + sum(vec_id)) and the oracle's
# final SELECT is gated on it matching the corpus the SQL is actually
# reading — a stale sidecar yields 0 oracle rows (a loud row-count
# mismatch), never a silent match.
_PCA_SIDECAR = str(
    Path(__file__).resolve().parents[2]
    / "spark-warehouse"
    / "pca_components_ann_recall.json"
)


def _pca_ivf_recall_oracle(
    dims: int, n_lists: int = 8, n_probe: int = 2, topk: int = 5
) -> str:
    """DuckDB twin of q_ann_pca_ivf_recall: replay projection -> IVF ->
    recall from the persisted components, next to the plain-space IVF
    baseline (the _ivf_recall_oracle CTE chain) and the exact top-k."""
    pl2 = (
        f"list_reduce(list_transform(range(1, {dims + 1}), "
        f"t -> (p.pemb[t]::DOUBLE - cv[t]::DOUBLE)"
        f" * (p.pemb[t]::DOUBLE - cv[t]::DOUBLE)), (x, y) -> x + y)"
    )
    pcos = (
        f"{fold_dot_sql('q.pemb', 'c.pemb', dims)}"
        f" / ({fold_norm_sql('q.pemb', dims)}"
        f" * {fold_norm_sql('c.pemb', dims)})"
    )
    l2 = (
        f"list_reduce(list_transform(range(1, {dims + 1}), "
        f"t -> (e.embedding[t]::DOUBLE - cv[t]::DOUBLE)"
        f" * (e.embedding[t]::DOUBLE - cv[t]::DOUBLE)), (x, y) -> x + y)"
    )
    cos = (
        f"{fold_dot_sql('q.embedding', 'c.embedding', dims)}"
        f" / ({fold_norm_sql('q.embedding', dims)}"
        f" * {fold_norm_sql('c.embedding', dims)})"
    )
    return f"""
    WITH comp AS (
        SELECT i - 1 AS comp_idx, (data[i])::DOUBLE[] AS w
        FROM (SELECT data FROM read_json('{_PCA_SIDECAR}')),
             (SELECT unnest(range(1, {dims + 1})) AS i)),
    proj AS (
        SELECT e.vec_id,
               list({fold_dot_sql('e.embedding', 'w', dims)}
                    ORDER BY comp_idx) AS pemb
        FROM {EMB_VALID} e CROSS JOIN comp GROUP BY e.vec_id),
    pctr AS (
        SELECT rn - 1 AS list_id, pemb AS cv FROM (
            SELECT pemb, ROW_NUMBER() OVER (
                ORDER BY {hash64_sql('vec_id', 'ivfctr')}, vec_id) AS rn
            FROM proj) WHERE rn <= {n_lists}),
    pad AS (
        SELECT p.vec_id, pctr.list_id, {pl2} AS d
        FROM proj p CROSS JOIN pctr),
    passign AS (
        SELECT vec_id AS neighbor_id, list_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d, list_id) AS rn FROM pad)
        WHERE rn = 1),
    pprobe AS (
        SELECT vec_id AS query_id, list_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d, list_id) AS rn
            FROM pad WHERE vec_id < 10)
        WHERE rn <= {n_probe}),
    pcand AS (
        SELECT pr.query_id, a.neighbor_id
        FROM pprobe pr JOIN passign a USING (list_id)
        WHERE pr.query_id != a.neighbor_id),
    psc AS (
        SELECT pcand.query_id, pcand.neighbor_id, {pcos} AS cosine
        FROM pcand
        JOIN proj q ON q.vec_id = pcand.query_id
        JOIN proj c ON c.vec_id = pcand.neighbor_id),
    pcak AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS rank FROM psc)
        WHERE rank <= {topk}),
    ctr AS (
        SELECT rn - 1 AS list_id, cv FROM (
            SELECT embedding AS cv, ROW_NUMBER() OVER (
                ORDER BY {hash64_sql('vec_id', 'ivfctr')}, vec_id) AS rn
            FROM {EMB_VALID} embeddings) WHERE rn <= {n_lists}),
    ad AS (
        SELECT e.vec_id, ctr.list_id, {l2} AS d
        FROM {EMB_VALID} e CROSS JOIN ctr),
    assign AS (
        SELECT vec_id AS neighbor_id, list_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d, list_id) AS rn FROM ad)
        WHERE rn = 1),
    probe AS (
        SELECT vec_id AS query_id, list_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d, list_id) AS rn
            FROM ad WHERE vec_id < 10)
        WHERE rn <= {n_probe}),
    cand AS (
        SELECT p.query_id, a.neighbor_id
        FROM probe p JOIN assign a USING (list_id)
        WHERE p.query_id != a.neighbor_id),
    sc AS (
        SELECT cand.query_id, cand.neighbor_id, {cos} AS cosine
        FROM cand
        JOIN {EMB_VALID} q ON q.vec_id = cand.query_id
        JOIN {EMB_VALID} c ON c.vec_id = cand.neighbor_id),
    ivfk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS rank FROM sc)
        WHERE rank <= {topk}),
    {_exact_ann_cte(dims, topk)}
    SELECT n_exact, n_hits_pca, n_hits_plain,
           n_hits_pca / n_exact AS recall_pca,
           n_hits_plain / n_exact AS recall_plain
    FROM (SELECT
        (SELECT count(*) FROM ex) AS n_exact,
        (SELECT count(*) FROM ex e JOIN pcak a
           ON e.query_id = a.query_id
          AND e.neighbor_id = a.neighbor_id) AS n_hits_pca,
        (SELECT count(*) FROM ex e JOIN ivfk a
           ON e.query_id = a.query_id
          AND e.neighbor_id = a.neighbor_id) AS n_hits_plain)
    WHERE EXISTS (
        SELECT 1
        FROM read_json('{_PCA_SIDECAR}') sj,
             (SELECT count(*) AS n, sum(vec_id) AS s
              FROM {EMB_VALID} embeddings) cur
        WHERE sj.fingerprint_n = cur.n AND sj.fingerprint_s = cur.s)
    """


@query("ann_pca_ivf_recall", oracle=_pca_ivf_recall_oracle(EMB_DIMS))
def q_ann_pca_ivf_recall(spark, sf_dir):
    """PCA trained and APPLIED end-to-end (operators/similarity.
    int8_gram_matrix -> pca_components -> pca_project_col ->
    pca_rotated_ivf_topk): full-rank-rotate the corpus into PCA space,
    run hash-picked IVF (n_probe=2 of n_lists=8) over the projected
    vectors, and report recall@5 against the exact ORIGINAL-space top-5
    next to the unprojected baseline's recall on the same corpus — a
    rotation is an isometry, so recall_pca == recall_plain is the
    invariant (pinned in tests/test_operators.py TestPcaIvf, along with
    the lossy pca_k < dims regime).

    Oracle construction (r9 VERDICT item 2): the eigensolver output
    becomes DATA — the trained components are persisted to a JSON
    sidecar (save_vectors_json) and the DuckDB SQL reads them back and
    replays projection (the same left-to-right folds; the query forces
    pca_project_col's literal-expression path via literal_gate so the
    fold order is oracle-exact) -> hash-picked IVF -> recall. Only the
    eigh call itself stays outside the hash match."""
    from ctcityscraper_spark.operators.similarity import (
        int8_gram_matrix,
        pca_components,
        pca_rotated_ivf_topk,
        save_vectors_json,
    )

    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"), spark)
    comps, _ = pca_components(
        int8_gram_matrix(emb, EMB_DIMS), EMB_DIMS, EMB_DIMS
    )
    # corpus fingerprint rides in the sidecar; the oracle's final SELECT
    # asserts it against the corpus the SQL reads, so a stale sidecar
    # (another sf's gate, an oracle-only replay) fails loudly with 0 rows
    fp = (
        valid_vectors(emb)
        .agg(F.count("*").alias("n"), F.sum("vec_id").alias("s"))
        .collect()[0]
    )
    Path(_PCA_SIDECAR).parent.mkdir(parents=True, exist_ok=True)
    save_vectors_json(
        comps,
        _PCA_SIDECAR,
        kind="pca_components",
        extra={"fingerprint_n": int(fp.n), "fingerprint_s": int(fp.s)},
    )
    qs = emb.filter(F.col("vec_id") < 10)
    approx = pca_rotated_ivf_topk(
        emb,
        qs,
        EMB_DIMS,
        k=5,
        n_lists=8,
        n_probe=2,
        components=comps,
        literal_gate=EMB_DIMS * EMB_DIMS,
    ).select("query_id", "neighbor_id")
    plain = ivf_flat_topk(
        emb, qs, hash_pick_centroids(emb, 8), k=5, n_probe=2
    ).select("query_id", "neighbor_id")
    exact = persist_tracked(cosine_topk(emb, qs, k=5).select("query_id", "neighbor_id"))
    hits_pca = exact.join(approx, ["query_id", "neighbor_id"])
    hits_plain = exact.join(plain, ["query_id", "neighbor_id"])
    return (
        exact.agg(F.count("*").alias("n_exact"))
        .crossJoin(hits_pca.agg(F.count("*").alias("n_hits_pca")))
        .crossJoin(hits_plain.agg(F.count("*").alias("n_hits_plain")))
        .select(
            "n_exact",
            "n_hits_pca",
            "n_hits_plain",
            (F.col("n_hits_pca") / F.col("n_exact")).alias("recall_pca"),
            (F.col("n_hits_plain") / F.col("n_exact")).alias("recall_plain"),
        )
    )


# ================================================================== multimodal


@query(
    "multimodal_bytes_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """,
)
def q_multimodal_bytes_meta(spark, sf_dir):
    """Opaque-binary column plumbing: encode text as a binary payload column
    (stand-in for image/audio bytes), compute typed metadata JVM-side.
    Decode/feature-extraction UDFs live in operators/multimodal.py (stubbed
    per environment; Spark-side plumbing tested in tests/)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    payload = docs.withColumn("payload", F.encode("text", "UTF-8"))
    return payload.select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        F.md5("payload").alias("content_md5"),
    ).orderBy("doc_id")


@query(
    "asof_join_last_purchase",
    oracle="""
    WITH u AS (
        SELECT user_id, ts, event_id, 0 AS prio,
               value AS pv, epoch_us(ts) AS pts
        FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT user_id, ts, event_id, 1 AS prio, NULL, NULL
        FROM events WHERE event_type = 'click'
    ), c AS (
        SELECT *,
            last_value(pv IGNORE NULLS) OVER w AS last_purchase_value,
            last_value(pts IGNORE NULLS) OVER w AS last_purchase_ts_us
        FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, prio
                            ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id, event_id, last_purchase_value, last_purchase_ts_us
    FROM c WHERE prio = 1 ORDER BY user_id, event_id
    """,
)
def q_asof_join_last_purchase(spark, sf_dir):
    """AS-OF join (operators/asof.py): every click enriched with the most
    recent prior purchase per user — the union+carry-forward trick, one
    window pass, no range explosion. Spark has no native as-of join; this
    is the engine's custom operator with an exact SQL twin."""
    from ctcityscraper_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000")  # DuckDB truncates parquet ns to us
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts_us", "event_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_us", "value"
    )
    joined = asof_join(clicks, purchases, on="user_id", ts="ts_us", right_cols=["value"])
    return joined.select(
        "user_id",
        "event_id",
        F.col("value_asof").alias("last_purchase_value"),
        F.col("ts_us_asof").alias("last_purchase_ts_us"),
    ).repartition(1).sortWithinPartitions("user_id", "event_id")


# ====================================================== engine SCD2 on synthetic


def _two_version_orders(spark, sf_dir):
    """Synthesize a 2-version history from orders (FIXTURES.md §B): every odd
    orderkey's status flips to 'X' in the second scrape."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    v1 = orders.withColumn("scraped_at", F.lit("2025-01-01 00:00:00").cast("timestamp_ntz"))
    v2 = orders.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 2 == 1, F.lit("X")).otherwise(F.col("o_orderstatus")),
    ).withColumn("scraped_at", F.lit("2025-01-02 00:00:00").cast("timestamp_ntz"))
    both = v1.unionByName(v2)
    return both.withColumn("row_hash", row_hash_col(["o_orderstatus"]))


_TWO_VERSION_SQL = """
        SELECT o_orderkey, o_orderstatus,
               TIMESTAMP '2025-01-01 00:00:00' AS scraped_at,
               md5('{"o_orderstatus":"' || o_orderstatus || '"}') AS row_hash
        FROM orders
        UNION ALL
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 2 = 1 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
               TIMESTAMP '2025-01-02 00:00:00' AS scraped_at,
               md5('{"o_orderstatus":"' ||
                   CASE WHEN o_orderkey % 2 = 1 THEN 'X' ELSE o_orderstatus END || '"}') AS row_hash
        FROM orders
"""


@query(
    "engine_scd2_current",
    oracle=f"""
    WITH hist AS ({_TWO_VERSION_SQL})
    SELECT o_orderkey, o_orderstatus FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY scraped_at DESC) AS rn
        FROM hist
    ) WHERE rn = 1 ORDER BY o_orderkey
    """,
)
def q_engine_scd2_current(spark, sf_dir):
    """The engine's own current() view (operators/scd2.py W1) over a
    synthesized 2-version history — reference README.md:126-128 parity."""
    hist = _two_version_orders(spark, sf_dir)
    return (
        scd2.current(hist, key="o_orderkey", order="scraped_at")
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
    )


@query(
    "engine_scd2_changed_since",
    oracle=f"""
    WITH hist AS ({_TWO_VERSION_SQL})
    SELECT o_orderkey, o_orderstatus FROM (
        SELECT *, LAG(row_hash) OVER (PARTITION BY o_orderkey ORDER BY scraped_at) AS prev_hash
        FROM hist
    )
    WHERE scraped_at >= TIMESTAMP '2025-01-01 12:00:00'
      AND prev_hash IS NOT NULL AND row_hash != prev_hash
    ORDER BY o_orderkey
    """,
)
def q_engine_scd2_changed_since(spark, sf_dir):
    """The engine's changed_since() CDC view (operators/scd2.py W5) over the
    same synthesized history — detects exactly the odd-key status flips
    (reference get_changed_properties, scrapers/vgsi/source.py:840-864)."""
    hist = _two_version_orders(spark, sf_dir)
    return (
        scd2.changed_since(
            hist, "2025-01-01 12:00:00", key="o_orderkey", order="scraped_at"
        )
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
    )


@query(
    "scd2_as_of",
    oracle=f"""
    WITH hist AS ({_TWO_VERSION_SQL})
    SELECT o_orderkey, o_orderstatus FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY scraped_at DESC) AS rn
        FROM hist WHERE scraped_at <= TIMESTAMP '2025-01-01 12:00:00'
    ) WHERE rn = 1 ORDER BY o_orderkey
    """,
)
def q_scd2_as_of(spark, sf_dir):
    """Point-in-time (time-travel) view: entity state AS OF a timestamp
    between the two synthesized versions — returns exactly the v1 states
    (operators/scd2.as_of)."""
    hist = _two_version_orders(spark, sf_dir)
    return (
        scd2.as_of(hist, "2025-01-01 12:00:00", key="o_orderkey", order="scraped_at")
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
    )


NS_6H = 21_600 * 10**9
NS_90M = 5_400 * 10**9


@query(
    "range_join_surge_windows",
    oracle=f"""
    WITH wins AS (
        SELECT epoch_ns(ts) // {NS_6H} AS win, COUNT(*) AS n
        FROM events GROUP BY 1 ORDER BY n DESC, win LIMIT 10
    ), iv AS (
        SELECT win * {NS_6H} - {NS_90M} AS start_ns,
               (win + 1) * {NS_6H} + {NS_90M} AS end_ns
        FROM wins
    )
    SELECT start_ns, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
    FROM events e JOIN iv
      ON epoch_ns(e.ts) >= iv.start_ns AND epoch_ns(e.ts) < iv.end_ns
    GROUP BY start_ns ORDER BY start_ns
    """,
)
def q_range_join_surge_windows(spark, sf_dir):
    """Surge analysis via keyless interval join: the 10 busiest 6h windows,
    expanded by a 90-minute shoulder on each side (so intervals are
    unaligned and overlap-capable), joined back against ALL events with
    the bucketized range join (operators/rangejoin.py) — a hash equi-join
    on the time bucket, never the BroadcastNestedLoopJoin Spark plans for
    a naked range predicate. The tiny interval side broadcasts, so the
    probe costs one scan and zero extra shuffles at any scale."""
    from ctcityscraper_spark.operators.rangejoin import range_join

    ev = load_table(spark, sf_dir, "events")
    wins = (
        ev.groupBy(F.expr(f"ts_ns div {NS_6H}").alias("win"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("win"))
        .limit(10)
    )
    intervals = wins.select(
        (F.col("win") * NS_6H - NS_90M).alias("start_ns"),
        ((F.col("win") + 1) * NS_6H + NS_90M).alias("end_ns"),
    )
    pts = ev.select("event_id", "user_id", "ts_ns")
    j = range_join(pts, intervals, "ts_ns", "start_ns", "end_ns", NS_6H)
    return (
        j.groupBy("start_ns")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .repartition(1).sortWithinPartitions("start_ns")
    )


@query(
    "dedup_lsh_recall",
    oracle=f"""
    WITH sh0 AS (
        SELECT doc_id, unnest({shingle_sql(5)}) AS shingle FROM documents
    ), sh AS (
        SELECT * FROM sh0 WHERE shingle IN (
            SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 1000)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), truth AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE i / (sa.sz + sb.sz - i) >= 0.6
    ), cand AS (
        SELECT doc_a, doc_b FROM ({_minhash_oracle(16, 8, 5)})
    )
    SELECT n_true, n_candidates, n_hits,
           n_hits / n_true AS recall,
           n_hits / n_candidates AS precision
    FROM (SELECT
        (SELECT count(*) FROM truth) AS n_true,
        (SELECT count(*) FROM cand) AS n_candidates,
        (SELECT count(*) FROM truth t JOIN cand c
           ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hits)
    """,
)
def q_dedup_lsh_recall(spark, sf_dir):
    """Honest LSH quality audit: recall and precision of the MinHash-LSH
    candidate stage against exact index-based Jaccard ground truth — the
    number a pipeline owner checks before trusting banded LSH at a given
    (k, bands, threshold). Both sides are inverted-index joins (never
    quadratic); recall/precision are single exact divisions of counts."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    truth = persist_tracked(
        ngram_jaccard_pairs(docs, n=5, threshold=0.6).select("doc_a", "doc_b")
    )
    cand = persist_tracked(minhash_lsh_pairs(docs, k=16, bands=8, n=5))
    hits = truth.join(cand, ["doc_a", "doc_b"])
    return (
        truth.agg(F.count("*").alias("n_true"))
        .crossJoin(cand.agg(F.count("*").alias("n_candidates")))
        .crossJoin(hits.agg(F.count("*").alias("n_hits")))
        .select(
            "n_true",
            "n_candidates",
            "n_hits",
            (F.col("n_hits") / F.col("n_true")).alias("recall"),
            (F.col("n_hits") / F.col("n_candidates")).alias("precision"),
        )
    )


def _pq_common_sql(
    dims: int, n_sub: int, k: int, q_pred: str = "vec_id < 10"
) -> str:
    """Shared CTE chain: literal codebook VALUES -> per-subspace codes
    (argmin-L2, ties to smallest j = Spark's array_position-of-min) and
    per-query ADC tables, every float a left-to-right list_reduce fold.
    ``q_pred`` selects the query rows (the corpus side is always the
    full valid-embedding table)."""
    cb = pq_codebook(dims, n_sub, k)
    s = dims // n_sub
    rows = ",\n        ".join(
        f"({m}, {j}, [{', '.join(repr(c) for c in cb[m][j])}]::DOUBLE[])"
        for m in range(n_sub)
        for j in range(k)
    )
    return f"""
    cb(m, j, cw) AS (SELECT * FROM (VALUES {rows}) t(m, j, cw)),
    ms AS (SELECT unnest(range(0, {n_sub}))::INT AS m),
    subs AS (
        SELECT vec_id, m, list_slice(embedding, m*{s}+1, m*{s}+{s}) AS sv
        FROM {EMB_VALID} embeddings CROSS JOIN ms),
    dists AS (
        SELECT vec_id, s2.m, j,
               list_reduce(list_transform(range(1, {s + 1}),
                   i -> (sv[i]::DOUBLE - cw[i]) * (sv[i]::DOUBLE - cw[i])),
                   (x, y) -> x + y) AS d
        FROM subs s2 JOIN cb ON s2.m = cb.m),
    codes AS (
        SELECT vec_id, m, j AS code FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
            FROM dists)
        WHERE rn = 1),
    ncodes AS (
        SELECT vec_id AS neighbor_id, list(code ORDER BY m) AS codes
        FROM codes GROUP BY vec_id),
    qtab AS (
        SELECT vec_id, s2.m, j,
               list_reduce(list_transform(range(1, {s + 1}),
                   i -> sv[i]::DOUBLE * cw[i]), (x, y) -> x + y) AS t
        FROM subs s2 JOIN cb ON s2.m = cb.m WHERE {q_pred}),
    qt1 AS (SELECT vec_id, m, list(t ORDER BY j) AS tl FROM qtab GROUP BY vec_id, m),
    qtabs AS (SELECT vec_id AS query_id, list(tl ORDER BY m) AS tabs FROM qt1 GROUP BY vec_id),
    scored AS (
        SELECT query_id, neighbor_id,
               list_reduce(list_transform(range(1, {n_sub + 1}),
                   m -> tabs[m][codes[m] + 1]), (x, y) -> x + y) AS score
        FROM qtabs CROSS JOIN ncodes WHERE query_id != neighbor_id)"""


def _pq_adc_oracle(dims: int, n_sub: int = 8, k: int = 16, topk: int = 5) -> str:
    return f"""
    WITH {_pq_common_sql(dims, n_sub, k)}
    SELECT query_id, neighbor_id, rank, score FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {topk} ORDER BY query_id, rank
    """


def _pq_rerank_oracle(
    dims: int, n_sub: int = 8, k: int = 16, shortlist: int = 50, topk: int = 5
) -> str:
    return f"""
    WITH {_pq_common_sql(dims, n_sub, k)},
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
            FROM scored)
        WHERE rn <= {shortlist}),
    rr AS (
        SELECT s.query_id, s.neighbor_id,
               {fold_dot_sql('q.embedding', 'c.embedding', dims)}
                 / ({fold_norm_sql('q.embedding', dims)}
                    * {fold_norm_sql('c.embedding', dims)}) AS cosine
        FROM short s
        JOIN {EMB_VALID} q ON q.vec_id = s.query_id
        JOIN {EMB_VALID} c ON c.vec_id = s.neighbor_id)
    SELECT query_id, neighbor_id, rank, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM rr
    ) WHERE rank <= {topk} ORDER BY query_id, rank
    """


def _pq_recon_drift_oracle(dims: int, n_sub: int = 8, k: int = 16) -> str:
    """DuckDB twin of q_ann_pq_recon_drift: literal codebook VALUES ->
    per-subspace min distance (the chosen codeword's error, no codes
    materialized) -> per-row error summed in subspace order ->
    fixed-point (floor·10⁶ bigint) epoch aggregates. Integer SUMs are
    order-independent, so the hash match survives aggregation order."""
    cb = pq_codebook(dims, n_sub, k)
    s = dims // n_sub
    rows = ",\n        ".join(
        f"({m}, {j}, [{', '.join(repr(c) for c in cb[m][j])}]::DOUBLE[])"
        for m in range(n_sub)
        for j in range(k)
    )
    return f"""
    WITH cb(m, j, cw) AS (SELECT * FROM (VALUES {rows}) t(m, j, cw)),
    ms AS (SELECT unnest(range(0, {n_sub}))::INT AS m),
    subs AS (
        SELECT vec_id, m, list_slice(embedding, m*{s}+1, m*{s}+{s}) AS sv
        FROM {EMB_VALID} embeddings CROSS JOIN ms
        WHERE vec_id IS NOT NULL),
    dists AS (
        SELECT vec_id, s2.m, j,
               list_reduce(list_transform(range(1, {s + 1}),
                   i -> (sv[i]::DOUBLE - cw[i]) * (sv[i]::DOUBLE - cw[i])),
                   (x, y) -> x + y) AS d
        FROM subs s2 JOIN cb ON s2.m = cb.m),
    mind AS (SELECT vec_id, m, min(d) AS dmin FROM dists GROUP BY vec_id, m),
    err AS (
        SELECT vec_id,
               list_reduce(list(dmin ORDER BY m), (x, y) -> x + y) AS e
        FROM mind GROUP BY vec_id),
    fx AS (
        SELECT CAST(floor(e * 1000000.0) AS BIGINT) AS em,
               {hash64_sql('vec_id', 'pqepoch')} % 2 = 0 AS is_b
        FROM err),
    a AS (SELECT count(*) AS n_a, CAST(sum(em) AS BIGINT) AS sse_micros_a
          FROM fx WHERE NOT is_b),
    b AS (SELECT count(*) AS n_b, CAST(sum(em) AS BIGINT) AS sse_micros_b
          FROM fx WHERE is_b)
    SELECT n_a, n_b, sse_micros_a, sse_micros_b,
           sse_micros_a / n_a AS mse_micros_a,
           sse_micros_b / n_b AS mse_micros_b,
           sse_micros_b / n_b - sse_micros_a / n_a AS drift_micros
    FROM a, b
    """


@query("ann_pq_recon_drift", oracle=_pq_recon_drift_oracle(EMB_DIMS))
def q_ann_pq_recon_drift(spark, sf_dir):
    """PQ quantization-drift monitor (operators/similarity.pq_recon_drift)
    — closes update_pq_codes' documented drift caveat as an operator, the
    PQ analogue of ann_ivf_imbalance: two epochs (hash split) measure
    their mean reconstruction error under the SAME frozen codebook;
    rising drift_micros (epoch B's quantization error over epoch A's) is
    the retrain trigger — a wandering delta distribution degrades ADC
    error and recall before a recall audit can see it. Per-row error is
    Σ_m min_j ||sub−c||² (the chosen codeword's error, no codes
    materialized), fixed-point-quantized to micros BEFORE the epoch SUM
    so the cross-engine hash survives aggregation order. At 100 TB each
    leg is a count-shaped scan-stage pass over a delta sample."""
    from ctcityscraper_spark.operators.similarity import pq_recon_drift

    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"), spark)
    is_b = hash64(F.col("vec_id"), "pqepoch") % 2 == 0
    return pq_recon_drift(
        emb.filter(~is_b), emb.filter(is_b), pq_codebook(EMB_DIMS)
    )


@query("ann_pq_adc_topk", oracle=_pq_adc_oracle(EMB_DIMS))
def q_ann_pq_adc_topk(spark, sf_dir):
    """Product-quantization ANN (Jegou et al. 2011): vectors compressed to
    8 4-bit codes (64x smaller than float32), queries scored against codes
    via ADC lookup tables — operators/similarity.pq_adc_topk. The scan
    reads codes only; the deterministic literal codebook keeps both engines
    bit-identical (train codebooks with pq_train_codebooks in production)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        pq_adc_topk(emb, emb.filter(F.col("vec_id") < 10), dims=EMB_DIMS, k=5)
        .repartition(1)
        .sortWithinPartitions("query_id", "rank")
    )


@query("ann_pq_rerank_topk", oracle=_pq_rerank_oracle(EMB_DIMS))
def q_ann_pq_rerank_topk(spark, sf_dir):
    """PQ production pipeline: ADC shortlist (50 per query) over compressed
    codes, then exact-cosine re-rank of only the shortlist's full vectors
    (equi-join fetch). Compressed scan + O(shortlist) float work per query."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        pq_rerank_topk(
            emb, emb.filter(F.col("vec_id") < 10), dims=EMB_DIMS, k=5, shortlist=50
        )
        .repartition(1)
        .sortWithinPartitions("query_id", "rank")
    )


@query(
    "ann_pq_update",
    oracle=f"""
    WITH {_pq_common_sql(EMB_DIMS, 8, 16, q_pred="vec_id >= 10 AND vec_id < 20")}
    SELECT query_id, neighbor_id, rank, score FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def q_ann_pq_update(spark, sf_dir):
    """Incremental PQ code maintenance (operators/similarity.
    update_pq_codes — the PQ analogue of update_ivf_index, completing
    the delta-path matrix Bloom/CMS/KMV/quantile/Gram/IVF/PQ): the
    stored codes table is built (pq_encode_corpus) over an 80% base
    corpus, a 20% delta batch is APPENDED under the FROZEN codebook
    (the delta pays one scan-stage encode — never a stored-codes scan),
    and the merged table is ADC-scored (pq_adc_topk_codes). The oracle
    encodes base+delta in ONE pass — a value-hash match therefore
    proves maintenance lost no vector and re-coded none (either would
    change the compressed top-k). Deterministic codebook keeps both
    engines bit-identical (pq_train_codebooks is the production
    trainer; frozen-codebook drift caveat documented on the
    operator)."""
    from ctcityscraper_spark.operators.similarity import (
        pq_adc_topk_codes,
        pq_encode_corpus,
        update_pq_codes,
    )

    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"), spark)
    cb = pq_codebook(EMB_DIMS, 8, 16)
    bucket = hash64(F.col("vec_id"), "pqsplit") % 5
    stored = pq_encode_corpus(emb.filter(bucket != 0), cb)
    merged = update_pq_codes(stored, emb.filter(bucket == 0), cb)
    qs = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20))
    return (
        pq_adc_topk_codes(merged, qs, cb, k=5)
        .repartition(1)
        .sortWithinPartitions("query_id", "rank")
    )


# ann_pq_retrain_cycle — the index-maintenance LOOP closed end-to-end:
# the pq_recon_drift monitor detects a wandering delta distribution, the
# retrain primitive (pq_train_codebooks) refits on base ∪ delta, and the
# same monitor verifies recovery — all in one oracle-gated row. The two
# TRAINED codebooks become DATA the oracle reads back (the
# quality_classifier_score sidecar pattern: only the bounded numpy k-means
# stays outside the hash; every error/drift/verdict replays in DuckDB
# bit-for-bit). The conditional detect→retrain→verify cycle with a recall
# audit lives in tests/test_operators.py::TestPqRetrainCycle; this query
# pins the arithmetic of each leg cross-engine.

_PQ_RETRAIN_SIDECAR = str(
    Path(__file__).resolve().parents[2]
    / "spark-warehouse"
    / "pq_retrain_codebooks.json"
)
_PQ_RETRAIN_THRESH_MICROS = 1_000_000  # mean recon error rise > 1.0
_PQ_RETRAIN_SHIFT = 2.5


def _pq_retrain_oracle(dims: int, n_sub: int = 8, k: int = 16) -> str:
    s = dims // n_sub
    dist = lambda cw: (
        f"list_reduce(list_transform(range(1, {s + 1}),"
        f" i -> (sv[i]::DOUBLE - {cw}[i]) * (sv[i]::DOUBLE - {cw}[i])),"
        " (x, y) -> x + y)"
    )
    return f"""
    WITH w AS (
        SELECT (data[1])::DOUBLE[][][] AS cbo,
               (data[2])::DOUBLE[][][] AS cbn
        FROM read_json('{_PQ_RETRAIN_SIDECAR}')),
    cb AS (
        SELECT tm.m AS m, cbo[tm.m + 1][tj.j + 1] AS cwo,
               cbn[tm.m + 1][tj.j + 1] AS cwn
        FROM w, range(0, {n_sub}) tm(m), range(0, {k}) tj(j)),
    em AS (
        SELECT vec_id,
               CASE WHEN {hash64_sql('vec_id', 'pqretrain')} % 5 = 0
                    THEN list_transform(embedding,
                                        x -> x::DOUBLE + {_PQ_RETRAIN_SHIFT})
                    ELSE list_transform(embedding, x -> x::DOUBLE)
               END AS embedding,
               {hash64_sql('vec_id', 'pqretrain')} % 5 = 0 AS is_b
        FROM {EMB_VALID} embeddings WHERE vec_id IS NOT NULL),
    ms AS (SELECT unnest(range(0, {n_sub}))::INT AS m),
    subs AS (
        SELECT vec_id, is_b, m,
               list_slice(embedding, m*{s}+1, m*{s}+{s}) AS sv
        FROM em CROSS JOIN ms),
    dists AS (
        SELECT vec_id, is_b, s2.m,
               {dist('cwo')} AS d_old, {dist('cwn')} AS d_new
        FROM subs s2 JOIN cb USING (m)),
    mind AS (SELECT vec_id, is_b, m, min(d_old) AS dmo, min(d_new) AS dmn
             FROM dists GROUP BY vec_id, is_b, m),
    err AS (
        SELECT vec_id, is_b,
               list_reduce(list(dmo ORDER BY m), (x, y) -> x + y) AS eo,
               list_reduce(list(dmn ORDER BY m), (x, y) -> x + y) AS en
        FROM mind GROUP BY vec_id, is_b),
    fx AS (
        SELECT is_b, CAST(floor(eo * 1000000.0) AS BIGINT) AS emo,
               CAST(floor(en * 1000000.0) AS BIGINT) AS emn
        FROM err),
    a AS (SELECT count(*) AS n_a,
                 CAST(sum(emo) AS BIGINT) AS sse_old_a,
                 CAST(sum(emn) AS BIGINT) AS sse_new_a
          FROM fx WHERE NOT is_b),
    b AS (SELECT count(*) AS n_b,
                 CAST(sum(emo) AS BIGINT) AS sse_old_b,
                 CAST(sum(emn) AS BIGINT) AS sse_new_b
          FROM fx WHERE is_b)
    SELECT n_a, n_b, sse_old_a, sse_old_b,
           sse_old_b / n_b - sse_old_a / n_a AS drift_old_micros,
           sse_new_a, sse_new_b,
           sse_new_b / n_b - sse_new_a / n_a AS drift_new_micros,
           (sse_old_b / n_b - sse_old_a / n_a)
               > {_PQ_RETRAIN_THRESH_MICROS} AS retrain_triggered,
           (sse_new_b / n_b - sse_new_a / n_a)
               < (sse_old_b / n_b - sse_old_a / n_a) AS recovered
    FROM a, b
    WHERE EXISTS (
        SELECT 1
        FROM read_json('{_PQ_RETRAIN_SIDECAR}') sj,
             (SELECT count(*) AS n, sum(vec_id) AS s
              FROM {EMB_VALID} embeddings WHERE vec_id IS NOT NULL) cur
        WHERE sj.fingerprint_n = cur.n AND sj.fingerprint_s = cur.s)
    """


@query("ann_pq_retrain_cycle", oracle=_pq_retrain_oracle(EMB_DIMS), headline=True)
def q_ann_pq_retrain_cycle(spark, sf_dir):
    """The PQ index-maintenance loop, closed: detect (pq_recon_drift
    under the OLD codebook trained on the base epoch flags a delta
    distribution shifted by +2.5 per dim), retrain (pq_train_codebooks
    refit on base ∪ shifted delta — the bounded-sample FAISS recipe),
    verify (the same monitor under the NEW codebook shows the drift
    collapsed). One row: both epochs' fixed-point SSE under both
    codebooks, both drift figures, retrain_triggered (old drift over the
    1.0-mse threshold) and recovered (new drift strictly below old).
    Both trained codebooks persist to the fingerprint-guarded sidecar
    and the oracle replays every distance/min/sum/verdict bit-for-bit —
    only the deterministic numpy k-means stays outside the hash. At
    100 TB each leg is a count-shaped scan-stage pass; training collects
    a bounded sample regardless of corpus size. The conditional cycle
    (retrain ONLY when the monitor fires, recall@k recovery vs the
    exact oracle) is pinned in tests/test_operators.py::TestPqRetrainCycle."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    from ctcityscraper_spark.operators.similarity import (
        pq_recon_error_expr,
        pq_train_codebooks,
        save_vectors_json,
        valid_vectors,
    )

    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"), spark)
    v = valid_vectors(emb).filter(F.col("vec_id").isNotNull())
    is_b = hash64(F.col("vec_id"), "pqretrain") % 5 == 0
    base = v.filter(~is_b).withColumn(
        "embedding",
        F.transform("embedding", lambda x: x.cast("double")),
    )
    delta = v.filter(is_b).withColumn(
        "embedding",
        F.transform(
            "embedding",
            lambda x: x.cast("double") + F.lit(_PQ_RETRAIN_SHIFT),
        ),
    )
    # r15 optimization: the two codebook trainings and the fingerprint
    # aggregate are mutually independent bounded jobs — overlap them in
    # a small driver thread pool (guide §2.6: actions are only
    # sequential because driver code calls them sequentially; each
    # result is a deterministic function of its input, so concurrency
    # cannot change any value). Serial cost was the sum of three
    # collect round-trips; now it is the slowest one.
    with ThreadPoolExecutor(max_workers=3) as pool:
        # each job keeps the caller's job group (wrapped on this thread)
        submit = lambda fn, *a: pool.submit(inheritable_thread_target(spark)(fn), *a)
        f_old = submit(pq_train_codebooks, base, EMB_DIMS)
        f_new = submit(pq_train_codebooks, base.unionByName(delta), EMB_DIMS)
        f_fpr = submit(
            lambda: v.agg(
                F.count("*").alias("n"), F.sum("vec_id").alias("s")
            ).collect()[0]
        )
        cb_old, cb_new, fpr = f_old.result(), f_new.result(), f_fpr.result()
    Path(_PQ_RETRAIN_SIDECAR).parent.mkdir(parents=True, exist_ok=True)
    save_vectors_json(
        [cb_old, cb_new],
        _PQ_RETRAIN_SIDECAR,
        kind="pq_retrain_cycle",
        extra={"fingerprint_n": int(fpr.n), "fingerprint_s": int(fpr.s)},
    )
    # r15 optimization: the four drift legs (base/delta × old/new
    # codebook) were four separate 1-row aggregate subtrees — four scans
    # of the vector set and four codebook expression trees for the
    # driver to analyze. Fused: ONE pass over base ∪ delta computes both
    # codebooks' fixed-point errors per row, one conditional aggregate
    # yields all six sums. Value-identical by construction: the per-row
    # error/floor arithmetic is the same pq_recon_error_expr the
    # pq_recon_stats legs applied, integer SUMs are order-independent,
    # and n/sse are grouped by the same is_b split — the oracle (which
    # always computed the fused shape) pins it. Plan: 4 scans + 4 aggs
    # -> 1 scan + 1 agg; measured driver analysis gap 2.4 s -> ~0.7 s
    # and execution ~0.6 s -> ~0.3 s at sf0.1.
    both = base.select(F.lit(False).alias("_d"), F.col("embedding").alias("_v")).unionByName(
        delta.select(F.lit(True).alias("_d"), F.col("embedding").alias("_v"))
    )
    fx = both.select(
        "_d",
        F.floor(pq_recon_error_expr("_v", cb_old) * F.lit(1000000.0))
        .cast("long")
        .alias("_eo"),
        F.floor(pq_recon_error_expr("_v", cb_new) * F.lit(1000000.0))
        .cast("long")
        .alias("_en"),
    )
    g = fx.agg(
        F.count(F.when(~F.col("_d"), 1)).alias("n_a"),
        F.count(F.when(F.col("_d"), 1)).alias("n_b"),
        F.sum(F.when(~F.col("_d"), F.col("_eo"))).alias("sse_old_a"),
        F.sum(F.when(F.col("_d"), F.col("_eo"))).alias("sse_old_b"),
        F.sum(F.when(~F.col("_d"), F.col("_en"))).alias("sse_new_a"),
        F.sum(F.when(F.col("_d"), F.col("_en"))).alias("sse_new_b"),
    )
    drift_old = F.col("sse_old_b") / F.col("n_b") - F.col("sse_old_a") / F.col("n_a")
    drift_new = F.col("sse_new_b") / F.col("n_b") - F.col("sse_new_a") / F.col("n_a")
    return g.select(
        "n_a", "n_b", "sse_old_a", "sse_old_b",
        drift_old.alias("drift_old_micros"),
        "sse_new_a", "sse_new_b",
        drift_new.alias("drift_new_micros"),
        (drift_old > F.lit(_PQ_RETRAIN_THRESH_MICROS)).alias(
            "retrain_triggered"
        ),
        (drift_new < drift_old).alias("recovered"),
    )


def _pq_recall_oracle(
    dims: int, n_sub: int = 8, k: int = 16, topk: int = 5
) -> str:
    return f"""
    WITH {_pq_common_sql(dims, n_sub, k)},
    pqk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rank FROM scored)
        WHERE rank <= {topk}),
    {_exact_ann_cte(dims, topk)}
    {_recall_tail_sql('pqk', 'n_approx')}
    """


@query("ann_pq_recall", oracle=_pq_recall_oracle(EMB_DIMS))
def q_ann_pq_recall(spark, sf_dir):
    """PQ quality audit: recall@5 of the 8x16 ADC compressed scan against
    the exact cosine top-5 — the number that says what the 16x compression
    costs before anyone trusts pq_adc_topk output. Counts are exact
    integers; recall is a single division."""
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"), spark)
    qs = emb.filter(F.col("vec_id") < 10)
    approx = persist_tracked(
        pq_adc_topk(emb, qs, EMB_DIMS, k=5).select("query_id", "neighbor_id")
    )
    exact = persist_tracked(cosine_topk(emb, qs, k=5).select("query_id", "neighbor_id"))
    hits = exact.join(approx, ["query_id", "neighbor_id"])
    return (
        exact.agg(F.count("*").alias("n_exact"))
        .crossJoin(approx.agg(F.count("*").alias("n_approx")))
        .crossJoin(hits.agg(F.count("*").alias("n_hits")))
        .select(
            "n_exact",
            "n_approx",
            "n_hits",
            (F.col("n_hits") / F.col("n_exact")).alias("recall_at_k"),
        )
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH f AS (
        SELECT doc_id, text, md5(text) AS h
        FROM documents WHERE doc_id < 200),
    n AS (
        SELECT doc_id, text,
               1 + ('0x' || substr(h, 1, 1))::BIGINT % 8 AS n_frames
        FROM f),
    frames AS (
        SELECT doc_id, text, unnest(range(0, n_frames))::INT AS frame_idx
        FROM n),
    sampled AS (SELECT * FROM frames WHERE frame_idx % 2 = 0),
    hashed AS (
        SELECT doc_id, frame_idx,
               md5(text || frame_idx::VARCHAR) AS frame_md5
        FROM sampled)
    SELECT doc_id, frame_idx, frame_md5,
           array_to_string(list_transform(range(1, 9),
               i -> (('0x' || substr(frame_md5, i, 1))::BIGINT - 8)::VARCHAR
           ), ',') AS feature_sig
    FROM hashed ORDER BY doc_id, frame_idx
    """,
)
def q_multimodal_frame_sample(spark, sf_dir):
    """Video-pipeline 1->N fan-out: binary payloads decode to frames, every
    2nd frame kept, emitting (frame_idx, content md5, feature) rows via
    Arrow-batched mapInPandas (operators/multimodal.sample_frames). The
    deterministic fake decoder derives frames from payload md5 so the
    oracle replays the identical math; a real ffmpeg decoder drops in via
    the same FrameDecoder contract.

    The catalog row serializes the 8-dim feature to ``feature_sig`` — the
    raw integer nibble scores (md5 hex digit − 8, i.e. feature×8, exact)
    joined with commas — because external comparison harnesses
    canonicalize via pandas sort and can't hash array cells; the
    array<float> API stays on :func:`sample_frames` itself. Both engines
    derive the string from ``frame_md5`` with the same per-digit math, so
    the comparison is still integer-exact."""
    from ctcityscraper_spark.operators.multimodal import (
        deterministic_fake_frame_decoder,
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    payload = docs.withColumn("payload", F.encode("text", "UTF-8"))
    frames = sample_frames(payload, deterministic_fake_frame_decoder, every=2)
    return (
        frames.select(
            "doc_id",
            "frame_idx",
            "frame_md5",
            F.expr(
                "concat_ws(',', transform(sequence(1, 8), i -> "
                "cast(cast(conv(substring(frame_md5, i, 1), 16, 10) as int)"
                " - 8 as string)))"
            ).alias("feature_sig"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id", "frame_idx")
    )


@query(
    "dedup_semdedup_drop_list",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, embedding,
               {_srp_bucket_sql('embedding', EMB_DIMS, 4)} AS blk
        FROM {EMB_VALID} embeddings),
    p AS (
        SELECT b.vec_id AS drop_id
        FROM v a JOIN v b ON a.blk = b.blk AND a.vec_id < b.vec_id
        WHERE {fold_dot_sql('a.embedding', 'b.embedding', EMB_DIMS)}
                / ({fold_norm_sql('a.embedding', EMB_DIMS)}
                   * {fold_norm_sql('b.embedding', EMB_DIMS)}) >= 0.3)
    SELECT DISTINCT drop_id FROM p ORDER BY drop_id
    """,
)
def q_dedup_semdedup_drop_list(spark, sf_dir):
    """SemDeDup (operators/dedup.semdedup_drop_list): cluster embeddings
    (deterministic 4-bit SRP buckets here; KMeans plugs in via
    cluster_col), prune within-cluster cosine near-dups keeping each set's
    minimum id. Pairwise work is bounded by the largest cluster, never the
    corpus."""
    from ctcityscraper_spark.operators.dedup import semdedup_drop_list

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        semdedup_drop_list(emb, dims=EMB_DIMS, threshold=0.3, bits=4)
        .repartition(1)
        .sortWithinPartitions("drop_id")
    )


@query(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_cascade_oracle()}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    walk(node, component) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, w.component FROM edges e JOIN walk w ON e.b = w.node
        WHERE w.component < e.a
    ),
    comp AS (SELECT node, MIN(component) AS component FROM walk GROUP BY node),
    ranked AS (
        SELECT c.node, c.component,
               ROW_NUMBER() OVER (PARTITION BY c.component
                                  ORDER BY {quality_score_sql('d.text')} DESC,
                                           c.node) AS rk
        FROM comp c JOIN documents d ON d.doc_id = c.node),
    keepers AS (SELECT component, node AS keep_id FROM ranked WHERE rk = 1)
    SELECT r.node AS drop_id, k.keep_id
    FROM ranked r JOIN keepers k USING (component)
    WHERE r.rk > 1 ORDER BY drop_id
    """,
)
def q_dedup_keep_best(spark, sf_dir):
    """Keep-BEST-representative dedup (operators/dedup.keep_best_representative):
    cascade pairs -> connected components -> keep the highest-quality member
    of each duplicate cluster (quality_score_col; ties to smallest id),
    drop the rest. The production drop-list policy — a trainer keeps the
    cleanest copy of each near-duplicate set, not an arbitrary minimum id.
    Oracle recomputes the same clusters via the recursive min-label CTE and
    the same quality ranking."""
    from ctcityscraper_spark.operators.dedup import keep_best_representative
    from ctcityscraper_spark.operators.graph import connected_components
    from ctcityscraper_spark.operators.text import quality_score_col

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    sh0, confirmed = _cascade_edges(docs)
    comp = connected_components(confirmed)
    out = keep_best_representative(docs, comp, quality_score_col("text"))
    release(sh0)
    return out.repartition(1).sortWithinPartitions("drop_id")


# ================================================================== k-means


_KM_K, _KM_ITERS = 8, 2


def _km_l2_sql(a: str, b: str, dims: int) -> str:
    """Integer L2 between two BIGINT[] columns — int64 fold, order-exact."""
    return (
        f"list_reduce(list_transform(range(1, {dims + 1}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )


def _km_assign_cte(name: str, ctr: str, dims: int, src: str = "v") -> str:
    """Assignment CTE: every valid quantized vector in ``src`` to its
    integer-L2 argmin centroid in ``ctr`` (ties to the lower list_id),
    keeping the distance — the DuckDB twin of
    clustering.l2int_best_expr."""
    return f"""{name} AS (
      SELECT vid, vm, list_id, d FROM (
        SELECT s.vid, s.vm, p.list_id, {_km_l2_sql('s.vm', 'p.c', dims)} AS d,
               ROW_NUMBER() OVER (PARTITION BY s.vid
                                  ORDER BY {_km_l2_sql('s.vm', 'p.c', dims)},
                                           p.list_id) AS rn
        FROM {src} s CROSS JOIN {ctr} p) WHERE rn = 1)"""


def _km_update_cte(name: str, prev_assign: str, prev_ctr: str, dims: int, k: int) -> str:
    """Lloyd update CTE: per-dim truncating integer mean (``//`` — same
    toward-zero semantics as Spark ``DIV`` and clustering._tdiv); clusters
    that captured nothing keep their previous centroid."""
    cl = ", ".join(
        f"CAST(sum(vm[{d + 1}]) // count(*) AS BIGINT)" for d in range(dims)
    )
    return f"""{name} AS (
      SELECT g.list_id, CASE WHEN s.n IS NULL THEN p.c ELSE s.cl END AS c
      FROM (SELECT unnest(range(0, {k}))::INT AS list_id) g
      LEFT JOIN (SELECT list_id, count(*) AS n, [{cl}] AS cl
                 FROM {prev_assign} GROUP BY list_id) s USING (list_id)
      JOIN {prev_ctr} p USING (list_id))"""


def _kmeans_chain_sql(
    dims: int,
    k: int,
    iters: int,
    seed: str = "kmctr",
    fit_where: str | None = None,
) -> str:
    """The full WITH-chain replaying clustering.kmeans_fit_micros: quantize
    (v), hash-picked init (c0), then ``iters`` unrolled assign/update
    rounds ending at centroid CTE ``cf`` and a final assignment ``af``
    over the FULL corpus. With ``fit_where``, init and the Lloyd rounds
    run over the filtered subset ``vb`` (the incremental-update oracle:
    fit on the base split, final state over base + delta)."""
    parts = [
        f"""v AS (SELECT vec_id AS vid,
             list_transform(embedding,
                            x -> CAST(floor(x::DOUBLE * 1000000.0) AS BIGINT)) AS vm
           FROM {EMB_VALID} embeddings)""",
    ]
    fit_src = "v"
    if fit_where is not None:
        parts.append(f"vb AS (SELECT * FROM v WHERE {fit_where})")
        fit_src = "vb"
    parts.append(
        f"""c0 AS (SELECT rn - 1 AS list_id, vm AS c FROM (
           SELECT vid, vm, ROW_NUMBER() OVER (
               ORDER BY {hash64_sql('vid', seed)}, vid) AS rn FROM {fit_src})
         WHERE rn <= {k})"""
    )
    prev = "c0"
    for i in range(1, iters + 1):
        parts.append(_km_assign_cte(f"a{i}", prev, dims, src=fit_src))
        parts.append(_km_update_cte(f"c{i}", f"a{i}", prev, dims, k))
        prev = f"c{i}"
    parts.append(f"cf AS (SELECT * FROM {prev})")
    parts.append(_km_assign_cte("af", "cf", dims))
    return ",\n".join(parts)


@query(
    "ann_kmeans_centroids",
    oracle=f"""
    WITH {_kmeans_chain_sql(EMB_DIMS, _KM_K, _KM_ITERS)},
    cnt AS (
      SELECT g.list_id, count(af.vid)::BIGINT AS n_assigned
      FROM (SELECT unnest(range(0, {_KM_K}))::INT AS list_id) g
      LEFT JOIN af USING (list_id) GROUP BY g.list_id),
    dg AS (SELECT unnest(range(0, {EMB_DIMS}))::INT AS dim)
    SELECT cf.list_id::INT AS list_id, dg.dim,
           CAST(cf.c[dg.dim + 1] AS BIGINT) AS c_micros, cnt.n_assigned
    FROM cf JOIN cnt USING (list_id) CROSS JOIN dg
    ORDER BY list_id, dim
    """,
    headline=True,
)
def q_ann_kmeans_centroids(spark, sf_dir):
    """Fixed-point Lloyd's k-means whose FITTED STATE is itself under the
    oracle gate (operators/clustering.kmeans_fit_micros): embeddings
    quantize to integer micros, distances/updates stay in int64 (long
    sums are order-independent; the centroid mean is a truncating
    integer division — Spark DIV == DuckDB //), init is hash-picked, so
    DuckDB replays both Lloyd iterations and matches every centroid
    coordinate bit-for-bit — a stronger guarantee than the IVF family's
    downstream-top-k-only gate, and the auditability a curation pipeline
    needs when cluster ids drive keep/drop decisions. Output: the k x d
    centroid table exploded to (list_id, dim, c_micros) rows with each
    cluster's final population attached. Per iteration: one corpus scan
    + one k-row mergeable groupBy (d+1 longs per cluster)."""
    from ctcityscraper_spark.operators.clustering import (
        cluster_sizes,
        kmeans_fit_micros,
    )

    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"), spark)
    ctr = kmeans_fit_micros(emb, _KM_K, iters=_KM_ITERS)
    sizes = cluster_sizes(emb, ctr)
    grid = local_rows_df(
        spark,
        [
            (i, d, int(ctr[i][d]))
            for i in range(len(ctr))
            for d in range(len(ctr[i]))
        ],
        ["list_id", "dim", "c_micros"],
        "list_id int, dim int, c_micros long",
    )
    return (
        grid.join(F.broadcast(sizes), "list_id")
        .select("list_id", "dim", "c_micros", "n_assigned")
        .repartition(1)
        .sortWithinPartitions("list_id", "dim")
    )


@query(
    "corpus_cluster_balanced_sample",
    oracle=f"""
    WITH {_kmeans_chain_sql(EMB_DIMS, _KM_K, _KM_ITERS)}
    SELECT list_id::INT AS list_id, rk::INT AS pick_rank, vid AS vec_id
    FROM (
      SELECT list_id, vid, ROW_NUMBER() OVER (
          PARTITION BY list_id
          ORDER BY {hash64_sql('vid', 'kmsample')}, vid) AS rk
      FROM af)
    WHERE rk <= 5 ORDER BY list_id, pick_rank
    """,
)
def q_corpus_cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced corpus subsampling (operators/clustering.
    cluster_balanced_sample): fit the deterministic k-means, assign every
    vector scan-side, keep 5 hash-ranked representatives per cluster —
    the density-flattening curation sample (uniform per cluster instead
    of uniform per row, so dense regions of embedding space don't
    dominate the subset; the cluster-level half of SemDeDup-style
    curation). Two-phase exact top-k: local rank within (input-partition,
    cluster) prunes before the per-cluster rank, so no k-partition
    straggler at 100 TB. Oracle replays the fit and the hash ranking."""
    from ctcityscraper_spark.operators.clustering import (
        cluster_balanced_sample,
        kmeans_fit_micros,
    )

    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"), spark)
    ctr = kmeans_fit_micros(emb, _KM_K, iters=_KM_ITERS)
    return (
        cluster_balanced_sample(emb, ctr, per_cluster=5)
        .repartition(1)
        .sortWithinPartitions("list_id", "pick_rank")
    )


@query(
    "ann_kmeans_update",
    oracle=f"""
    WITH {_kmeans_chain_sql(EMB_DIMS, _KM_K, _KM_ITERS,
                            fit_where=f"{hash64_sql('vid', 'kmsplit')} % 5 != 0")},
    st AS (
      SELECT list_id, count(*) AS n,
             {', '.join(f'sum(vm[{d + 1}]) AS s{d}' for d in range(EMB_DIMS))}
      FROM af GROUP BY list_id),
    cn AS (
      SELECT g.list_id,
             CASE WHEN st.n IS NULL THEN cf.c
                  ELSE [{', '.join(f'CAST(st.s{d} // st.n AS BIGINT)'
                                   for d in range(EMB_DIMS))}] END AS c,
             COALESCE(st.n, 0)::BIGINT AS n_assigned
      FROM (SELECT unnest(range(0, {_KM_K}))::INT AS list_id) g
      LEFT JOIN st USING (list_id) JOIN cf USING (list_id)),
    dg AS (SELECT unnest(range(0, {EMB_DIMS}))::INT AS dim)
    SELECT cn.list_id::INT AS list_id, dg.dim,
           CAST(cn.c[dg.dim + 1] AS BIGINT) AS c_micros, cn.n_assigned
    FROM cn CROSS JOIN dg
    ORDER BY list_id, dim
    """,
)
def q_ann_kmeans_update(spark, sf_dir):
    """Incremental k-means maintenance (operators/clustering
    .kmeans_partial_state / merge_kmeans_states / centroids_from_state):
    the centroids are fitted on an 80% base split, the Lloyd state
    (per-cluster count + d per-dim long sums — SUM-mergeable) is
    aggregated separately for base and for the 20% delta batch under the
    FROZEN centroids, merged, and one update step produces the refreshed
    centroids. The oracle replays the fit and takes the same update step
    over base-union-delta in one pass — a value-hash match therefore
    proves state(base) + state(delta) == state(base ∪ delta) bit-for-bit
    (the delta-zone contract: the nightly refresh pays one batch-sized
    assignment, never a corpus re-scan). Output shape matches
    ann_kmeans_centroids; n_assigned is the merged-state population."""
    from ctcityscraper_spark.operators.clustering import (
        centroids_from_state,
        kmeans_fit_micros,
        kmeans_partial_state,
        merge_kmeans_states,
    )

    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"), spark)
    bucket = hash64(F.col("vec_id"), "kmsplit") % 5
    base, delta = emb.filter(bucket != 0), emb.filter(bucket == 0)
    ctr = kmeans_fit_micros(base, _KM_K, iters=_KM_ITERS)
    # consumed twice (population readout + the update step): persist, or
    # the second action re-runs both corpus-assignment passes
    merged = persist_tracked(
        merge_kmeans_states(
            kmeans_partial_state(base, ctr), kmeans_partial_state(delta, ctr)
        )
    )
    rows = {r["list_id"]: r for r in merged.collect()}
    new_ctr = centroids_from_state(merged, ctr)
    grid = local_rows_df(
        spark,
        [
            (i, d, int(new_ctr[i][d]), int(rows[i]["n"]) if i in rows else 0)
            for i in range(len(new_ctr))
            for d in range(len(new_ctr[i]))
        ],
        ["list_id", "dim", "c_micros", "n_assigned"],
        "list_id int, dim int, c_micros long, n_assigned long",
    )
    return grid.repartition(1).sortWithinPartitions("list_id", "dim")


@query(
    "corpus_prototype_prune",
    oracle=f"""
    WITH {_kmeans_chain_sql(EMB_DIMS, _KM_K, _KM_ITERS)},
    qt AS (SELECT list_id, (count(*) * 20) // 100 AS quota
           FROM af GROUP BY list_id)
    SELECT list_id::INT AS list_id, rk::INT AS proto_rank,
           vid AS vec_id, d AS d2
    FROM (
      SELECT af.list_id, af.vid, af.d, qt.quota, ROW_NUMBER() OVER (
          PARTITION BY af.list_id ORDER BY af.d, af.vid) AS rk
      FROM af JOIN qt USING (list_id))
    WHERE rk <= quota ORDER BY list_id, proto_rank
    """,
)
def q_corpus_prototype_prune(spark, sf_dir):
    """D4-style prototype pruning (operators/clustering.prototype_prune —
    Tirumala et al. 2023): per k-means cluster, the drop list of the 20%
    of vectors CLOSEST to their centroid (the most prototypical, least
    informative examples; dropping them is the SSL-prototypes half of
    the D4 curation recipe, complementing dedup_semdedup_drop_list's
    near-duplicate half). Distances are exact int64 micros^2, the quota
    one truncating integer division, the ranking the two-phase exact
    per-cluster top-k — and the docstring's 100 TB variant swaps the
    global rank for a mergeable quantile-sketch d2 threshold applied
    scan-side."""
    from ctcityscraper_spark.operators.clustering import (
        kmeans_fit_micros,
        prototype_prune,
    )

    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"), spark)
    ctr = kmeans_fit_micros(emb, _KM_K, iters=_KM_ITERS)
    return (
        prototype_prune(emb, ctr, drop_pct=20)
        .repartition(1)
        .sortWithinPartitions("list_id", "proto_rank")
    )


# sketch capacity >= the whole embeddings table at every gated sf (500 at
# sf0.001/0.01, 2000 at sf0.1, ~303 adversarial), so the hash-ranked
# sample IS the full cluster and the sketch cutoff is the exact
# ceil-rank percentile — the regime where the operator's documented
# superset-by-at-most-one contract vs the exact prune is provable
_PPQ_SKETCH_K = 2048


@query(
    "corpus_prototype_prune_threshold",
    oracle=f"""
    WITH {_kmeans_chain_sql(EMB_DIMS, _KM_K, _KM_ITERS)},
    rs AS (
      SELECT list_id, {hash64_sql('vid', 'ppq')} AS h, d,
             ROW_NUMBER() OVER (
                 PARTITION BY list_id ORDER BY d::DOUBLE, {hash64_sql('vid', 'ppq')}
             ) AS rn,
             COUNT(*) OVER (PARTITION BY list_id) AS n_kept
      FROM af),
    cut AS (SELECT list_id, d AS d2_cut FROM rs
            WHERE rn = (20 * n_kept + 99) // 100)
    SELECT af.list_id::INT AS list_id, af.vid AS vec_id, af.d AS d2
    FROM af JOIN cut USING (list_id)
    WHERE af.d <= cut.d2_cut
    ORDER BY list_id, vec_id
    """,
)
def q_corpus_prototype_prune_threshold(spark, sf_dir):
    """The 100 TB variant of prototype pruning (operators/clustering.
    prototype_prune_threshold — r13 VERDICT item 7): the per-cluster d2
    CUTOFF comes from the mergeable hash-ranked quantile sketch
    (quantile_sketch_by / quantile_estimate_by — ceil-rank percentile
    over (val, h) order) and is applied as a broadcast scan-side filter
    — no global per-cluster ranking of the corpus. With sketch capacity
    >= cluster size (guaranteed at every gated sf, see _PPQ_SKETCH_K)
    the sample is the full cluster, so the oracle replays the cutoff
    EXACTLY: rank ceil(20·n/100) of the int64 distances, all boundary
    ties kept. Together with corpus_prototype_prune's green hash (the
    exact floor-quota ranking of the SAME fitted assignment), this pins
    the superset-by-at-most-one contract cross-engine: ceil vs floor
    rank of one shared order differ by at most the boundary row per
    cluster. The d2 < 2^53 sketch-exactness guard is part of the scored
    plan (clustering.py — out-of-contract magnitudes raise, never
    round)."""
    from ctcityscraper_spark.operators.clustering import (
        kmeans_fit_micros,
        prototype_prune_threshold,
    )

    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"), spark)
    ctr = kmeans_fit_micros(emb, _KM_K, iters=_KM_ITERS)
    return (
        prototype_prune_threshold(
            emb, ctr, drop_pct=20, sketch_k=_PPQ_SKETCH_K
        )
        .repartition(1)
        .sortWithinPartitions("list_id", "vec_id")
    )

"""Corpus-preparation catalog: segment dedup, repetition filters, PII scrub,
deterministic sampling/splits, contamination detection (operators/corpus.py)
under the DuckDB oracle gate.

Oracle construction follows queries_ext.py: integer counts with single
exact divisions, the cross-engine hash64 primitive for every sampling /
split decision, and RE2-safe regexes evaluated by both engines.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from ctcityscraper_spark.operators.corpus import (
    BOILER_MIN_DOCS,
    PII_PATTERNS,
    SAMPLE_MOD,
    SEGMENT_WIDTH,
    boilerplate_segments,
    contaminated_train_ids,
    contamination_pairs,
    cut_duplicate_spans,
    duplicate_substring_spans,
    incremental_substring_spans,
    mixture_resample,
    pack_sequences,
    pii_scrub,
    remove_boilerplate,
    repetition_signals,
    segments,
    shuffle_shards,
    stratified_sample,
    token_budget_selection,
)
from ctcityscraper_spark.functions.hashing import hash64
from ctcityscraper_spark.functions.localdf import local_rows_df
from ctcityscraper_spark.operators.text import (
    quality_score_sql,
    tfidf_top_terms,
    unigram_surprisal,
    vocab_coverage,
)
from ctcityscraper_spark.plans.queries import query
from ctcityscraper_spark.plans.queries_ext import TOKS, hash64_sql, shingle_sql
from ctcityscraper_spark.plans.tables import load_table, parallelize_scan

W = SEGMENT_WIDTH

_SEGS = f"""
    toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
    segs AS (
        SELECT doc_id,
               unnest(list_transform(range(0, (len(t) + {W - 1}) // {W}),
                      i -> array_to_string(list_slice(t, i*{W}+1, i*{W}+{W}), ' '))) AS segment,
               unnest(range(0, (len(t) + {W - 1}) // {W})) AS pos
        FROM toks)
"""


@query(
    "corpus_boilerplate_segments",
    oracle=f"""
    WITH {_SEGS}
    SELECT segment, count(DISTINCT doc_id) AS n_docs
    FROM segs GROUP BY segment
    HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
    ORDER BY segment
    """,
)
def q_corpus_boilerplate(spark, sf_dir):
    """Cross-document repeated segments (the CCNet boilerplate set): one
    shuffle on the segment key; output small by construction."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return boilerplate_segments(segments(docs)).repartition(1).sortWithinPartitions("segment")


@query(
    "corpus_segment_dedup",
    headline=True,  # representative corpus-prep cost, benched round-over-round
    oracle=f"""
    WITH {_SEGS},
    hot AS (
        SELECT segment FROM segs GROUP BY segment
        HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DOCS})
    SELECT s.doc_id AS doc_id, count(*) AS n_segments,
           count(*) FILTER (WHERE h.segment IS NOT NULL) AS n_dropped,
           coalesce(string_agg(s.segment, ' ' ORDER BY pos)
                    FILTER (WHERE h.segment IS NULL), '') AS clean_text
    FROM segs s LEFT JOIN hot h USING (segment)
    GROUP BY s.doc_id ORDER BY doc_id
    """,
)
def q_corpus_segment_dedup(spark, sf_dir):
    """CCNet-style segment (line) dedup: drop segments repeated across >=3
    docs, reassemble the survivors in position order. Broadcast anti-flag
    against the small hot set + one reassembly shuffle."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return remove_boilerplate(docs).repartition(1).sortWithinPartitions("doc_id")


@query(
    "corpus_repetition_signals",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
    wc AS (
        SELECT doc_id, word, count(*) AS c
        FROM (SELECT doc_id, unnest(t) AS word FROM toks) GROUP BY doc_id, word),
    ws AS (
        SELECT doc_id, sum(c)::BIGINT AS n_words,
               count(*) / sum(c)::BIGINT AS distinct_word_frac,
               max(c) / sum(c)::BIGINT AS top_word_frac
        FROM wc GROUP BY doc_id),
    grams AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 2
                    THEN 1.0 - len(list_distinct(g)) / len(g)
                    ELSE 0.0 END AS dup_2gram_frac
        FROM (SELECT doc_id, t,
                     list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS g
              FROM toks))
    SELECT doc_id, n_words, distinct_word_frac, top_word_frac, dup_2gram_frac
    FROM ws JOIN grams USING (doc_id) ORDER BY doc_id
    """,
)
def q_corpus_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals per document — explode +
    two-level aggregation, single exact divisions."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return repetition_signals(docs).repartition(1).sortWithinPartitions("doc_id")


# Inject deterministic PII into every 25th document so the scrub is
# exercised end-to-end on this (PII-free) synthetic corpus; both engines
# apply the identical injection expression.
_PII_INJECT_SQL = """
    CASE WHEN doc_id % 25 = 0 THEN
        text || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@example.com from 10.0.0.' || CAST(doc_id % 200 AS VARCHAR)
             || ' call +1 555 0100'
    ELSE text END
"""


def _pii_oracle() -> str:
    counts = ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{kind}"
        for kind, pat, _ in PII_PATTERNS
    )
    red = "text"
    for _, pat, token in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    return f"""
    WITH injected AS (SELECT doc_id, ({_PII_INJECT_SQL}) AS text FROM documents)
    SELECT doc_id, {counts}, {red} AS redacted
    FROM injected ORDER BY doc_id
    """


@query("corpus_pii_scrub", oracle=_pii_oracle())
def q_corpus_pii_scrub(spark, sf_dir):
    """PII redaction (emails / IPv4s / phones) with per-doc match counts —
    pure regexp expressions in the scan stage, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 25 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com from 10.0.0."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(" call +1 555 0100"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = pii_scrub(injected)
    return out.select(
        "doc_id", *[f"n_{kind}" for kind, _, _ in PII_PATTERNS], "redacted"
    ).repartition(1).sortWithinPartitions("doc_id")


# Mixing weights for the sampling demo: up-weight two sources, drop one,
# default the rest to 5%.
SAMPLE_WEIGHTS = {"src0": 0.5, "src1": 1.0, "src2": 0.0}
SAMPLE_DEFAULT = 0.05


def _sample_oracle() -> str:
    cases = " ".join(
        f"WHEN source = '{k}' THEN {int(round(v * SAMPLE_MOD))}"
        for k, v in SAMPLE_WEIGHTS.items()
    )
    thresh = f"CASE {cases} ELSE {int(round(SAMPLE_DEFAULT * SAMPLE_MOD))} END"
    return f"""
    SELECT doc_id, source
    FROM documents
    WHERE {hash64_sql('doc_id', 'sample')} % {SAMPLE_MOD} < {thresh}
    ORDER BY doc_id
    """


@query("corpus_stratified_sample", oracle=_sample_oracle())
def q_corpus_stratified_sample(spark, sf_dir):
    """Deterministic hash-based stratified sampling with per-source mixing
    weights — a pure filter in the scan stage (the 100 TB data-mixing
    primitive: reproducible, no RNG state, prunes before downstream work)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        stratified_sample(docs, SAMPLE_WEIGHTS, default_rate=SAMPLE_DEFAULT)
        .select("doc_id", "source")
        .repartition(1).sortWithinPartitions("doc_id")
    )


GROUP_K = 20


@query(
    "corpus_sample_k_per_group",
    oracle=f"""
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY {hash64_sql('doc_id', 'groupk')},
                                           doc_id) AS rk
        FROM documents)
    WHERE rk <= {GROUP_K} ORDER BY doc_id
    """,
)
def q_corpus_sample_k_per_group(spark, sf_dir):
    """Exactly-k-per-source uniform sample (hash-ranked window) — the
    deterministic eval-set quota primitive: same k docs per source on
    every run, no RNG state, one window shuffle on the group key."""
    from ctcityscraper_spark.operators.corpus import sample_k_per_group

    docs = load_table(spark, sf_dir, "documents")
    return (
        sample_k_per_group(docs, GROUP_K)
        .select("doc_id", "source")
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


N_SHARDS = 16


@query(
    "corpus_shard_stats",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id, n_chars,
               ({hash64_sql('doc_id', 'shard')} % {N_SHARDS})::INT AS shard_id
        FROM documents)
    SELECT shard_id, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM assigned GROUP BY shard_id ORDER BY shard_id
    """,
)
def q_corpus_shard_stats(spark, sf_dir):
    """Deterministic training-shard assignment audited per shard: the
    hash-balanced global shuffle (shuffle_shards) summarized as per-shard
    doc counts / char volume — one aggregation shuffle at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        shuffle_shards(docs, N_SHARDS)
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .repartition(1).sortWithinPartitions("shard_id")
    )


@query(
    "corpus_contamination",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
    sh0 AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(0, greatest(len(t) - 7, 0)),
                   i -> array_to_string(list_slice(t, i+1, i+8), ' ')))) AS shingle
        FROM toks),
    sh AS (
        SELECT * FROM sh0 WHERE shingle IN (
            SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 1000)),
    flagged AS (
        SELECT doc_id, shingle,
               {hash64_sql('doc_id', 'split')} % 10 = 0 AS is_test
        FROM sh)
    SELECT a.doc_id AS test_doc, b.doc_id AS train_doc, count(*) AS n_shared
    FROM flagged a JOIN flagged b ON a.shingle = b.shingle
    WHERE a.is_test AND NOT b.is_test
    GROUP BY 1, 2 ORDER BY test_doc, train_doc
    """,
)
def q_corpus_contamination(spark, sf_dir):
    """Train→test n-gram contamination: inverted 8-gram index join between
    the hash-held-out test split and the train split, document-frequency
    cap bounding hot shingles — candidates only where shingles collide."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return contamination_pairs(docs).repartition(1).sortWithinPartitions("test_doc", "train_doc")


@query(
    "corpus_pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               ({hash64_sql('doc_id', 'pack')} % 8)::INT AS shard_id,
               len(regexp_extract_all(text, ' ?[0-9]+| ?[A-Za-z]+| ?[^A-Za-z0-9 \t\n\v\f\r]+'))::BIGINT AS n_tok
        FROM documents),
    spans AS (
        SELECT doc_id, shard_id, n_tok,
               (SUM(n_tok) OVER (PARTITION BY shard_id ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING))::BIGINT AS end_off
        FROM toks WHERE n_tok > 0),
    sp AS (SELECT *, end_off - n_tok AS start_off FROM spans),
    exploded AS (
        SELECT shard_id, doc_id, start_off, end_off,
               unnest(range(start_off // 512, (end_off - 1) // 512 + 1)) AS pack_id
        FROM sp)
    SELECT shard_id, pack_id, doc_id,
           GREATEST(start_off, pack_id * 512) - pack_id * 512 AS offset_in_pack,
           LEAST(end_off, (pack_id + 1) * 512) - GREATEST(start_off, pack_id * 512) AS n_tokens
    FROM exploded
    ORDER BY shard_id, pack_id, doc_id
    """,
)
def q_corpus_pack_sequences(spark, sf_dir):
    """Concat-then-chunk sequence packing (operators/corpus.pack_sequences):
    documents -> fixed 512-token training sequences, packed independently
    per hash shard so the cumulative-offset window is one shuffle on the
    shard key, never a global sort. One output row per (doc, sequence it
    touches) — the loader's assembly map and the token-provenance audit."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return (
        pack_sequences(docs)
        .repartition(1)
        .sortWithinPartitions("shard_id", "pack_id", "doc_id")
    )


MIX_WEIGHTS = {"en": 0.3, "zh": 0.25, "es": 0.2, "de": 0.15, "fr": 0.1}

_MIX_CASE = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}::DOUBLE" for k, v in MIX_WEIGHTS.items()
) + " END"


@query(
    "corpus_mixture_resample",
    oracle=f"""
    WITH counts AS (
        SELECT lang, count(*)::BIGINT AS n_s,
               (SELECT count(*) FROM documents)::BIGINT AS n_total
        FROM documents GROUP BY lang),
    rates AS (
        SELECT lang, ({_MIX_CASE} * n_total) / n_s AS rate FROM counts),
    rep AS (
        SELECT d.doc_id, d.lang,
               FLOOR(rate)::BIGINT
               + CASE WHEN {hash64_sql('d.doc_id', 'mix')} % {SAMPLE_MOD}
                           < FLOOR((rate - FLOOR(rate)) * {SAMPLE_MOD})::BIGINT
                      THEN 1 ELSE 0 END AS n_copies
        FROM documents d JOIN rates r USING (lang))
    SELECT doc_id, lang, unnest(range(1, n_copies + 1)) AS copy, n_copies
    FROM rep WHERE n_copies > 0
    ORDER BY doc_id, copy
    """,
)
def q_corpus_mixture_resample(spark, sf_dir):
    """Dataset mixing (operators/corpus.mixture_resample): resample the
    corpus so languages hit target mixture weights — integer epoch repeats
    plus a hash-deterministic fractional epoch per stratum. One count
    shuffle, rates broadcast back, narrow explode; every copy decision is
    a pure function of doc_id (re-runs byte-identical)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        mixture_resample(docs, MIX_WEIGHTS)
        .repartition(1)
        .sortWithinPartitions("doc_id", "copy")
    )


_SPAN_W = 40  # SPAN_WINDOW_CHARS


@query(
    "corpus_substring_spans",
    headline=True,  # the heaviest realistic corpus-dedup pipeline (stride-1
    # windows over the whole corpus); benched round-over-round
    oracle=f"""
    WITH pos AS (
        SELECT doc_id, text,
               unnest(range(1, greatest(len(text) - {_SPAN_W} + 2, 1)))::INT AS pos
        FROM documents),
    w AS (SELECT doc_id, pos, substr(text, pos, {_SPAN_W}) AS win FROM pos),
    hot AS (
        SELECT win FROM w GROUP BY win
        HAVING count(DISTINCT doc_id) > 1000),
    wf AS (SELECT * FROM w WHERE win NOT IN (SELECT win FROM hot)),
    m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pa, b.pos AS pb, a.pos - b.pos AS delta
        FROM wf a JOIN wf b ON a.win = b.win AND a.doc_id < b.doc_id),
    brk AS (
        SELECT *, CASE WHEN pa - LAG(pa) OVER
                 (PARTITION BY doc_a, doc_b, delta ORDER BY pa) = 1
            THEN 0 ELSE 1 END AS b
        FROM m),
    isl AS (
        SELECT *, SUM(b) OVER
            (PARTITION BY doc_a, doc_b, delta ORDER BY pa) AS island
        FROM brk)
    SELECT doc_a, doc_b, MIN(pa) AS start_a, MIN(pb) AS start_b,
           MAX(pa) - MIN(pa) + {_SPAN_W} AS span_len, COUNT(*) AS n_windows
    FROM isl GROUP BY doc_a, doc_b, delta, island
    ORDER BY doc_a, doc_b, start_a, start_b
    """,
)
def q_corpus_substring_spans(spark, sf_dir):
    """Exact duplicated-substring spans >= 40 chars across documents (the
    output of Lee et al. 2021's suffix-array dedup, computed as stride-1
    window buckets + island merge — operators/corpus.duplicate_substring_spans).
    Runs the scale path explicitly: equi-join on xxhash64(window) 8-byte keys
    (the window string never rides the shuffle), doc_cap hot-window filter
    aggregated over the same 8-byte keys, then one window-shuffle on (pair,
    alignment) and a span-level fetch-and-verify join that re-extracts both
    substrings from the true-duplication-sized shortlist."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return (
        duplicate_substring_spans(docs, width=_SPAN_W, bucket_by_hash=True)
        .repartition(1)
        .sortWithinPartitions("doc_a", "doc_b", "start_a", "start_b")
    )


@query(
    "corpus_cut_spans",
    oracle=f"""
    WITH pos AS (
        SELECT doc_id, text,
               unnest(range(1, greatest(len(text) - {_SPAN_W} + 2, 1)))::INT AS pos
        FROM documents),
    w AS (SELECT doc_id, pos, substr(text, pos, {_SPAN_W}) AS win FROM pos),
    hot AS (
        SELECT win FROM w GROUP BY win
        HAVING count(DISTINCT doc_id) > 1000),
    wf AS (SELECT * FROM w WHERE win NOT IN (SELECT win FROM hot)),
    m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pa, b.pos AS pb, a.pos - b.pos AS delta
        FROM wf a JOIN wf b ON a.win = b.win AND a.doc_id < b.doc_id),
    brk AS (
        SELECT *, CASE WHEN pa - LAG(pa) OVER
                 (PARTITION BY doc_a, doc_b, delta ORDER BY pa) = 1
            THEN 0 ELSE 1 END AS b
        FROM m),
    isl AS (
        SELECT *, SUM(b) OVER
            (PARTITION BY doc_a, doc_b, delta ORDER BY pa) AS island
        FROM brk),
    spans AS (
        SELECT doc_a, doc_b, MIN(pb) AS start_b,
               MAX(pa) - MIN(pa) + {_SPAN_W} AS span_len
        FROM isl GROUP BY doc_a, doc_b, delta, island),
    cuts AS (
        SELECT doc_b AS doc_id, start_b AS s, start_b + span_len AS e
        FROM spans),
    cbrk AS (
        SELECT *, CASE WHEN s > coalesce(MAX(e) OVER
                 (PARTITION BY doc_id ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            THEN 1 ELSE 0 END AS nb
        FROM cuts),
    cisl AS (
        SELECT *, SUM(nb) OVER (
            PARTITION BY doc_id ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ci
        FROM cbrk),
    merged AS (
        SELECT doc_id, MIN(s) AS s, MAX(e) AS e
        FROM cisl GROUP BY doc_id, ci),
    pieces AS (
        SELECT mm.doc_id, mm.s AS ord,
               substr(mm.text, mm.prev_e, mm.s - mm.prev_e) AS piece
        FROM (SELECT mg.doc_id, mg.s, mg.e,
                     coalesce(LAG(mg.e) OVER (
                         PARTITION BY mg.doc_id ORDER BY mg.s), 1) AS prev_e,
                     d.text
              FROM merged mg JOIN documents d USING (doc_id)) mm
        UNION ALL
        SELECT mg.doc_id, 2147483647 AS ord,
               substr(d.text, mx.me, len(d.text) - mx.me + 1) AS piece
        FROM (SELECT doc_id, MAX(e) AS me FROM merged GROUP BY doc_id) mx
        JOIN documents d USING (doc_id)
        JOIN (SELECT DISTINCT doc_id FROM merged) mg USING (doc_id)),
    reassembled AS (
        SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS clean_text
        FROM pieces GROUP BY doc_id),
    stats AS (
        SELECT doc_id, COUNT(*)::BIGINT AS n_cut_spans,
               SUM(e - s)::BIGINT AS n_cut_chars
        FROM merged GROUP BY doc_id)
    SELECT d.doc_id AS doc_id,
           coalesce(r.clean_text, d.text) AS clean_text,
           coalesce(st.n_cut_spans, 0) AS n_cut_spans,
           coalesce(st.n_cut_chars, 0) AS n_cut_chars
    FROM documents d
    LEFT JOIN reassembled r USING (doc_id)
    LEFT JOIN stats st USING (doc_id)
    ORDER BY doc_id
    """,
)
def q_corpus_cut_spans(spark, sf_dir):
    """The APPLY step of exact-substring dedup (Lee et al. 2021): detect
    duplicated spans (hash-bucketed scale path), cut each from the
    higher-id document of its pair (lowest-id occurrence survives), merge
    overlapping cut intervals per doc, reassemble the survivors with one
    fold expression (operators/corpus.cut_duplicate_spans)."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    spans = duplicate_substring_spans(docs, width=_SPAN_W, bucket_by_hash=True)
    return (
        cut_duplicate_spans(docs, spans)
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


@query(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({TOKS}) AS term FROM documents),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term != '' GROUP BY doc_id, term),
    dfreq AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM toks
        WHERE term != '' GROUP BY term),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, term, tf, df, (tf * n_docs) / df AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n)
    SELECT doc_id, term, tf, df, tfidf, rank FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        FROM scored
    ) WHERE rank <= 3 ORDER BY doc_id, rank
    """,
)
def q_text_tfidf_top_terms(spark, sf_dir):
    """Top-3 characteristic terms per document by TF-IDF (log-free N/df idf
    surrogate keeps every score an exact integer ratio — operators/
    text.tfidf_top_terms). Two partial-aggregated shuffles + broadcast
    corpus count + per-doc top-k window."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return (
        tfidf_top_terms(docs, k=3)
        .repartition(1)
        .sortWithinPartitions("doc_id", "rank")
    )


@query(
    "text_unigram_surprisal",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({TOKS}) AS term FROM documents),
    tc AS (
        SELECT term, count(*) AS c_t FROM toks
        WHERE term != '' GROUP BY term),
    tot AS (SELECT SUM(c_t)::BIGINT AS t_total FROM tc),
    dt AS (
        SELECT doc_id, term, count(*) AS c_dt FROM toks
        WHERE term != '' GROUP BY doc_id, term),
    scored AS (
        SELECT doc_id, c_dt,
               length(bin(t_total // c_t))::BIGINT AS s_bits
        FROM dt JOIN tc USING (term) CROSS JOIN tot)
    SELECT doc_id,
           SUM(c_dt)::BIGINT AS n_tokens,
           SUM(c_dt * s_bits)::BIGINT AS sum_bits,
           SUM(c_dt * s_bits) / SUM(c_dt) AS mean_surprisal
    FROM scored GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def q_text_unigram_surprisal(spark, sf_dir):
    """CCNet-style LM quality signal, transcendental-free: per-document
    mean QUANTIZED unigram surprisal (integer bit-width of the inverse
    token probability, length(bin(T div c_t)) — exact in both engines;
    operators/text.unigram_surprisal). Aggregation-shaped: term-count
    groupBy + (doc, term) groupBy + broadcast scalar total + per-doc agg;
    the mean is one exact integer division. Boilerplate scores low,
    rare-token-heavy documents high — the bucketing input for CCNet-style
    head/middle/tail corpus splits."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return (
        unigram_surprisal(docs)
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


_CMS_W, _CMS_D = 1024, 4


def _cms_cells_sql(src: str) -> str:
    """CMS cell rows over term CTE ``src`` — THE single definition of
    the oracle-side cell derivation (heavy-hitters builds over 't', the
    drift query over each epoch's term CTE; one place to change the
    seed format or modulus)."""
    return " UNION ALL ".join(
        f"SELECT {r} AS r, {hash64_sql('term', f'cms{r}')} % {_CMS_W} AS c,"
        f" term FROM {src}"
        for r in range(_CMS_D)
    )


_CMS_CELLS = _cms_cells_sql("t")


@query(
    "text_cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({TOKS}) AS term FROM documents),
    t AS (SELECT term FROM toks WHERE term != ''),
    cells AS ({_CMS_CELLS}),
    sketch AS (
        SELECT r, c, COUNT(*)::BIGINT AS n FROM cells GROUP BY r, c),
    top AS (
        SELECT term, COUNT(*)::BIGINT AS true_count FROM t GROUP BY term
        ORDER BY true_count DESC, term LIMIT 10),
    probes AS (
        SELECT top.term, top.true_count, p.r,
               ('0x' || substring(md5('cms' || p.r || top.term), 1, 15))::BIGINT
                   % {_CMS_W} AS c
        FROM top, range(0, {_CMS_D}) p(r))
    SELECT pr.term AS term, pr.true_count AS true_count,
           MIN(COALESCE(s.n, 0))::BIGINT AS estimate
    FROM probes pr LEFT JOIN sketch s ON pr.r = s.r AND pr.c = s.c
    GROUP BY 1, 2 ORDER BY true_count DESC, term
    """,
)
def q_text_cms_heavy_hitters(spark, sf_dir):
    """Count-Min sketch heavy-hitter audit (operators/text.count_min_sketch
    + cms_estimate): the depth x width integer sketch is built over the
    whole token stream (bounded state — the 100 TB alternative to a
    billion-key vocabulary groupBy), then the exact top-10 tokens probe it.
    Pure hash64 + integer counting, so DuckDB rebuilds the sketch
    bit-for-bit; the comparison pins BOTH the cell contents and the CMS
    one-sided-error contract (estimate >= true_count always — also
    asserted directly in tests)."""
    from ctcityscraper_spark.operators.text import (
        cms_estimate,
        count_min_sketch,
        tokens_col,
    )

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    sketch = count_min_sketch(docs, width=_CMS_W, depth=_CMS_D)
    top = (
        docs.select(F.explode(tokens_col("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("true_count"))
        .orderBy(F.col("true_count").desc(), "term")
        .limit(10)
    )
    return (
        cms_estimate(top, sketch, width=_CMS_W, depth=_CMS_D)
        .repartition(1)
        .sortWithinPartitions(F.col("true_count").desc(), "term")
    )


def _cms_probe_sql(sketch: str, out: str) -> str:
    """Min-over-rows CMS estimate for the ``cand`` term set against
    sketch CTE ``sketch`` — the oracle twin of text.cms_estimate."""
    return f"""(
        SELECT pr.term, MIN(COALESCE(s.n, 0))::BIGINT AS {out}
        FROM (SELECT cand.term, p.r,
                     ('0x' || substring(md5('cms' || p.r || cand.term), 1, 15))::BIGINT
                         % {_CMS_W} AS c
              FROM cand, range(0, {_CMS_D}) p(r)) pr
        LEFT JOIN {sketch} s ON pr.r = s.r AND pr.c = s.c
        GROUP BY pr.term)"""


@query(
    "text_cms_drift",
    oracle=f"""
    WITH d AS (
        SELECT text, {hash64_sql('doc_id', 'cmsdrift')} % 2 = 0 AS is_b
        FROM documents WHERE doc_id IS NOT NULL),
    ta AS (SELECT term FROM (
            SELECT unnest({TOKS}) AS term FROM d WHERE NOT is_b)
           WHERE term != ''),
    tb AS (SELECT term FROM (
            SELECT unnest({TOKS}) AS term FROM d WHERE is_b)
           WHERE term != ''),
    sa AS (SELECT r, c, COUNT(*)::BIGINT AS n
           FROM ({_cms_cells_sql('ta')}) GROUP BY r, c),
    sb AS (SELECT r, c, COUNT(*)::BIGINT AS n
           FROM ({_cms_cells_sql('tb')}) GROUP BY r, c),
    topa AS (SELECT term FROM (
            SELECT term, COUNT(*) AS tc FROM ta GROUP BY term
            ORDER BY tc DESC, term LIMIT 5)),
    topb AS (SELECT term FROM (
            SELECT term, COUNT(*) AS tc FROM tb GROUP BY term
            ORDER BY tc DESC, term LIMIT 5)),
    cand AS (SELECT term FROM topa UNION SELECT term FROM topb),
    ea AS {_cms_probe_sql('sa', 'est_a')},
    eb AS {_cms_probe_sql('sb', 'est_b')}
    SELECT term, est_a, est_b, est_b - est_a AS drift
    FROM ea JOIN eb USING (term) ORDER BY term
    """,
)
def q_text_cms_drift(spark, sf_dir):
    """Epoch-over-epoch hot-token frequency drift (operators/text.
    cms_drift) — the FREQUENCY member of the drift-monitor family
    (quantile = distribution, IVF = list occupancy, PQ = quantization):
    the corpus hash-splits into two epochs, each builds its own CMS
    (bounded depth×width state), and the union of the epochs' top-5
    tokens probes BOTH sketches into (est_a, est_b, drift) rows — which
    hot tokens surged or collapsed between crawls, with candidate-sized
    work against sketch-sized state (at 100 TB the candidate list is a
    stored hot-terms/heavy-hitter artifact and the raw epochs are never
    re-read; the in-plan exact top-5 here is the gate's self-contained
    convention). Pure hash64 + integer counting + integer subtraction —
    DuckDB rebuilds both sketches bit-for-bit."""
    from ctcityscraper_spark.operators.text import (
        cms_drift,
        count_min_sketch,
        tokens_col,
    )

    docs = parallelize_scan(
        load_table(spark, sf_dir, "documents"), spark
    ).filter(F.col("doc_id").isNotNull())
    is_b = hash64(F.col("doc_id"), "cmsdrift") % 2 == 0
    ep_a, ep_b = docs.filter(~is_b), docs.filter(is_b)

    def top5(d):
        return (
            d.select(F.explode(tokens_col("text")).alias("term"))
            .filter(F.col("term") != "")
            .groupBy("term")
            .agg(F.count("*").alias("tc"))
            .orderBy(F.col("tc").desc(), "term")
            .limit(5)
            .select("term")
        )

    cand = top5(ep_a).unionByName(top5(ep_b)).distinct()
    sk_a = count_min_sketch(ep_a, width=_CMS_W, depth=_CMS_D)
    sk_b = count_min_sketch(ep_b, width=_CMS_W, depth=_CMS_D)
    return (
        cms_drift(sk_a, sk_b, cand, width=_CMS_W, depth=_CMS_D)
        .repartition(1)
        .sortWithinPartitions("term")
    )


@query(
    "text_cms_saturation",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({TOKS}) AS term FROM documents),
    t AS (SELECT term FROM toks WHERE term != ''),
    cells AS ({_CMS_CELLS}),
    sketch AS (
        SELECT r, c, COUNT(*)::BIGINT AS n FROM cells GROUP BY r, c),
    agg AS (
        SELECT COALESCE(SUM(n) FILTER (WHERE r = 0), 0)::BIGINT AS n_items,
               COALESCE(MAX(n), 0)::BIGINT AS max_cell,
               COUNT(*) FILTER (WHERE n > 0)::BIGINT AS nonzero_cells
        FROM sketch)
    SELECT {_CMS_W} AS width, {_CMS_D} AS depth,
           n_items, max_cell, nonzero_cells,
           nonzero_cells / {_CMS_W * _CMS_D} AS fill,
           (2 * n_items) // {_CMS_W} AS err_bound
    FROM agg
    """,
)
def q_text_cms_saturation(spark, sf_dir):
    """Count-Min sketch saturation / accuracy monitor (operators/text.
    cms_health) — the FREQUENCY member of the saturation-monitor family
    (dedup_bloom_saturation is the membership member): one row with the
    total stream count (row 0's cell sum — each item increments exactly
    one cell per row), the hottest cell, the nonzero-cell fill fraction,
    and the classic CMS overcount guarantee ``2·N/width`` as an exact
    integer err_bound. fill and err_bound only ever RISE for an
    append-only sketch: when err_bound crosses the count scale a df_cap
    chase or drift screen cares about, estimates stop separating hot
    from cold and the fix is a wider rebuild. Pure integer sums/counts +
    two exact divisions over the ≤ depth×width cell table — DuckDB
    rebuilds the sketch and every monitor field bit-for-bit."""
    from ctcityscraper_spark.operators.text import (
        cms_health,
        count_min_sketch,
    )

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    sketch = count_min_sketch(docs, width=_CMS_W, depth=_CMS_D)
    return cms_health(sketch, _CMS_W, _CMS_D)


_BM25_TERMS = ("hash", "merge", "window")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    k1p1, omb = float(_BM25_K1 + 1.0), float(1.0 - _BM25_B)
    return f"""
    WITH toks AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
    t AS (SELECT doc_id, term FROM toks WHERE term != ''),
    dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM t GROUP BY doc_id),
    stats AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs,
                     count(*)::BIGINT AS total_tokens FROM t),
    hit AS (SELECT doc_id, term FROM t WHERE term IN ({terms})),
    tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
           FROM hit GROUP BY doc_id, term),
    dfq AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df_t
            FROM hit GROUP BY term),
    sc AS (
        SELECT tf.doc_id,
               CAST(floor(((length(bin(n_docs // df_t)) * (tf * {k1p1!r})) /
                    (tf + {float(_BM25_K1)!r} * ({omb!r} + {float(_BM25_B)!r} *
                     ((dl * n_docs) / total_tokens)))) * 1000000.0)
                    AS BIGINT) AS sm
        FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), stats)
    SELECT doc_id, n_terms_matched, score_micros, rank FROM (
        SELECT doc_id, count(*)::BIGINT AS n_terms_matched,
               CAST(sum(sm) AS BIGINT) AS score_micros,
               ROW_NUMBER() OVER (ORDER BY sum(sm) DESC, doc_id) AS rank
        FROM sc GROUP BY doc_id)
    WHERE rank <= 10 ORDER BY rank
    """


@query("text_bm25_topk", oracle=_bm25_oracle())
def q_text_bm25_topk(spark, sf_dir):
    """BM25 lexical retrieval (operators/text.bm25_topk) — the keyword
    leg of hybrid search (the ANN catalog queries are the semantic leg;
    production unions both shortlists and re-ranks). Transcendental-free
    BM25: quantized bit-width idf (length(bin(n_docs div df)), the
    unigram_surprisal rule), rational saturation/length normalization
    over exact integer inputs with literals folded driver-side so both
    engines parse identical doubles, and per-term scores fixed-point
    floored to micros BEFORE the per-doc SUM (aggregation-order-
    independent — the flagship cents rule). 100 TB shape: the scan
    filters to the query's terms before any shuffle (the inverted-probe
    shape — cost ∝ matched postings, never the vocabulary), doc-length
    and corpus stats are aggregation-shaped, top-k is
    TakeOrderedAndProject."""
    from ctcityscraper_spark.operators.text import bm25_topk

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return bm25_topk(
        docs, list(_BM25_TERMS), k=10, k1=_BM25_K1, b=_BM25_B
    )


@query("text_bm25_incremental", oracle=_bm25_oracle())
def q_text_bm25_incremental(spark, sf_dir):
    """Stored BM25 index, maintained incrementally and served as a
    probe (operators/text.bm25_index_delta / bm25_topk_from_index) —
    retrieval joining the stored-state pattern every other index
    family follows (r13 VERDICT item 5; the dedup_incremental_* /
    text_kmv_update recipe): the corpus hash-splits 80/20 into a base
    build and a delta batch, each contributes its own SUM-mergeable
    index delta (postings + per-term df + 1-row totals), and the query
    is served entirely from the merged state — the corpus is never
    re-read at serve time. The oracle scores the FULL corpus fresh in
    one pass, so a value-hash match proves incremental-index serving
    ≡ fresh scoring, exactly (integer counts sum exactly across
    batches under the append-only one-batch-per-doc contract; the
    scoring expression is shared code with bm25_topk). 100 TB shape:
    per-batch upkeep is batch-sized; the probe filters postings to the
    query's terms (partition-prunable when term-bucketed) and
    broadcasts ≤|query|-row stats."""
    from ctcityscraper_spark.operators.text import (
        bm25_index_delta,
        bm25_topk_from_index,
    )

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    bucket = hash64(F.col("doc_id"), "bm25split") % 5
    base, batch = docs.filter(bucket != 0), docs.filter(bucket == 0)
    p1, t1, s1 = bm25_index_delta(base)
    p2, t2, s2 = bm25_index_delta(batch)
    return bm25_topk_from_index(
        p1.unionByName(p2),
        t1.unionByName(t2),
        s1.unionByName(s2),
        list(_BM25_TERMS),
        k=10, k1=_BM25_K1, b=_BM25_B,
    )


_BM25_HEALTH_BUCKETS = 64


@query(
    "text_bm25_index_health",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
    t AS (SELECT doc_id, term FROM toks WHERE term != ''),
    p AS (SELECT term, doc_id, {hash64_sql('term', 'bm25bkt')} % {_BM25_HEALTH_BUCKETS} AS b
          FROM t GROUP BY term, doc_id),
    per_bucket AS (SELECT b, count(*)::BIGINT AS n FROM p GROUP BY b),
    occ AS (SELECT SUM(n)::BIGINT AS total_postings,
                   COUNT(*)::BIGINT AS buckets_used,
                   MAX(n)::BIGINT AS max_bucket_postings
            FROM per_bucket),
    dfq AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df_t
            FROM t GROUP BY term),
    terms AS (SELECT COUNT(*)::BIGINT AS n_terms, MAX(df_t)::BIGINT AS max_df
              FROM dfq),
    docs AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM t)
    SELECT total_postings, buckets_used, max_bucket_postings,
           n_terms, max_df, n_docs
    FROM occ, terms, docs
    """,
)
def q_text_bm25_index_health(spark, sf_dir):
    """Stored-BM25-index health monitor (operators/text.bm25_index_health)
    — the retrieval member of the per-family monitor pattern: bucket
    occupancy (hot bucket => probe pruning degrades; the re-bucket
    trigger) + vocabulary size and the hottest term's df (max_df ~
    n_docs => stopword drag; the df-cap trigger), all exact integers
    off the stored zones with the corpus never re-read at monitor time
    (derived in-plan here per the gate's self-contained convention)."""
    from ctcityscraper_spark.operators.text import (
        bm25_bucket_postings,
        bm25_index_delta,
        bm25_index_health,
    )

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    postings, term_stats, totals = bm25_index_delta(docs)
    return bm25_index_health(
        bm25_bucket_postings(postings, _BM25_HEALTH_BUCKETS),
        term_stats,
        totals,
        n_buckets=_BM25_HEALTH_BUCKETS,
    )


_RRF_K0 = 60  # the standard reciprocal-rank-fusion damping constant
_HYBRID_SHORTLIST = 20
_HYBRID_QUERY_VEC = 7  # queries-from-corpus, the ann_* convention


def _hybrid_oracle() -> str:
    from ctcityscraper_spark.plans.queries_ext import (
        EMB_DIMS,
        EMB_VALID,
        fold_dot_sql,
        fold_norm_sql,
    )

    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    k1p1, omb = float(_BM25_K1 + 1.0), float(1.0 - _BM25_B)
    cos = (
        f"{fold_dot_sql('q.embedding', 'c.embedding', EMB_DIMS)}"
        f" / ({fold_norm_sql('q.embedding', EMB_DIMS)}"
        f" * {fold_norm_sql('c.embedding', EMB_DIMS)})"
    )
    return f"""
    WITH toks AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
    t AS (SELECT doc_id, term FROM toks WHERE term != ''),
    dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM t GROUP BY doc_id),
    stats AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs,
                     count(*)::BIGINT AS total_tokens FROM t),
    hit AS (SELECT doc_id, term FROM t WHERE term IN ({terms})),
    tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
           FROM hit GROUP BY doc_id, term),
    dfq AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df_t
            FROM hit GROUP BY term),
    sc AS (
        SELECT tf.doc_id,
               CAST(floor(((length(bin(n_docs // df_t)) * (tf * {k1p1!r})) /
                    (tf + {float(_BM25_K1)!r} * ({omb!r} + {float(_BM25_B)!r} *
                     ((dl * n_docs) / total_tokens)))) * 1000000.0)
                    AS BIGINT) AS sm
        FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), stats),
    lex AS (
        SELECT doc_id, rank AS lex_rank FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY sum(sm) DESC, doc_id) AS rank
            FROM sc GROUP BY doc_id)
        WHERE rank <= {_HYBRID_SHORTLIST}),
    sem AS (
        SELECT neighbor_id AS doc_id, rank AS sem_rank FROM (
            SELECT c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (ORDER BY {cos} DESC, c.vec_id) AS rank
            FROM {EMB_VALID} q, {EMB_VALID} c
            WHERE q.vec_id = {_HYBRID_QUERY_VEC}
              AND c.vec_id != q.vec_id)
        WHERE rank <= {_HYBRID_SHORTLIST}),
    fused AS (
        SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
               lex_rank, sem_rank,
               coalesce(1.0 / ({_RRF_K0} + lex_rank), 0.0)
                   + coalesce(1.0 / ({_RRF_K0} + sem_rank), 0.0) AS rrf
        FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
    SELECT doc_id, lex_rank, sem_rank, rrf, rank FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rank
        FROM fused)
    WHERE rank <= 10 ORDER BY rank
    """


@query("hybrid_rrf_topk", oracle=_hybrid_oracle())
def q_hybrid_rrf_topk(spark, sf_dir):
    """Hybrid retrieval — the composition production search actually
    runs: the BM25 lexical shortlist (text.bm25_topk over documents)
    and the exact-cosine semantic shortlist (similarity.cosine_topk
    over the aligned embeddings, query = corpus vector 7 — the
    queries-from-corpus convention) fused by Reciprocal Rank Fusion
    ``Σ 1/(k0 + rank)`` (Cormack et al.'s robust rank-only fusion — no
    score normalization across incomparable scales needed). The fusion
    is a full-outer join of two ≤ shortlist-row frames plus one
    fixed-two-term double expression — no aggregation, so no sum-order
    hazard; both legs' ranks are already oracle-pinned by their own
    catalog queries, and this query pins the JOIN + fusion arithmetic.
    At 100 TB each leg keeps its own documented shape (inverted-probe
    scan for BM25; the ANN leg swaps cosine_topk for the IVF/PQ/LSH
    operators at scale) and the fusion cost is shortlist-sized.

    r14: the lexical leg now reads the STORED index (bm25_index_delta
    → bm25_topk_from_index) instead of rescanning the corpus — the
    serve path a deployment actually runs; output is unchanged (the
    text_bm25_incremental gate hash-proves index-served ≡ fresh, and
    this query's own unchanged oracle re-proves it here)."""
    from ctcityscraper_spark.operators.similarity import cosine_topk
    from ctcityscraper_spark.operators.text import (
        bm25_index_delta,
        bm25_topk_from_index,
    )

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    emb = load_table(spark, sf_dir, "embeddings")
    postings, term_stats, totals = bm25_index_delta(docs)
    lex = bm25_topk_from_index(
        postings, term_stats, totals, list(_BM25_TERMS),
        k=_HYBRID_SHORTLIST, k1=_BM25_K1, b=_BM25_B,
    ).select("doc_id", F.col("rank").alias("lex_rank"))
    sem = (
        cosine_topk(
            emb, emb.filter(F.col("vec_id") == _HYBRID_QUERY_VEC),
            k=_HYBRID_SHORTLIST,
        )
        .select(F.col("neighbor_id").alias("doc_id"),
                F.col("rank").alias("sem_rank"))
    )
    from pyspark.sql import Window

    k0 = F.lit(float(_RRF_K0))
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id", "lex_rank", "sem_rank",
        (
            F.coalesce(F.lit(1.0) / (k0 + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (k0 + F.col("sem_rank")), F.lit(0.0))
        ).alias("rrf"),
    )
    w = Window.orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("doc_id", "lex_rank", "sem_rank", "rrf", "rank")
    )


_BUDGET_TOKENS = 40_000
_BPE_RE_SQL = r" ?[0-9]+| ?[A-Za-z]+| ?[^A-Za-z0-9 \t\n\v\f\r]+"


@query(
    "corpus_token_budget",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '{_BPE_RE_SQL}'))::BIGINT AS n_tokens,
               CAST(floor(({quality_score_sql('text')}) * 1000) AS INT) AS q_bin,
               {hash64_sql('doc_id', 'budget')} AS h
        FROM documents),
    o AS (
        SELECT *, coalesce(SUM(n_tokens) OVER (
            ORDER BY q_bin DESC, h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        FROM t WHERE q_bin IS NOT NULL)
    SELECT doc_id, n_tokens, q_bin FROM o
    WHERE bef < {_BUDGET_TOKENS} ORDER BY doc_id
    """,
)
def q_corpus_token_budget(spark, sf_dir):
    """Data-budget selection: the highest-quality documents whose cumulative
    BPE-token count fits a budget (operators/corpus.token_budget_selection).
    Two-phase — per-quality-bin token sums (<= 1001 rows to the driver)
    pick the full bins and the single straddling bin; only the straddling
    ~1/1000 of the corpus pays a window, full bins are a filter. The naive
    SQL twin (global ORDER BY + running sum) must match row-for-row."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return (
        token_budget_selection(docs, _BUDGET_TOKENS)
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


_VOCAB_V = 500


@query(
    "text_vocab_coverage",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
    tf AS (SELECT term, count(*) AS tf FROM toks
           WHERE term != '' GROUP BY term),
    vocab AS (SELECT term FROM tf ORDER BY tf DESC, term LIMIT {_VOCAB_V}),
    t AS (SELECT doc_id, term FROM toks WHERE term != '')
    SELECT t.doc_id AS doc_id, count(*) AS n_tokens,
           count(*) FILTER (WHERE v.term IS NULL) AS n_oov,
           count(*) FILTER (WHERE v.term IS NULL) / count(*) AS oov_frac
    FROM t LEFT JOIN vocab v USING (term)
    GROUP BY t.doc_id ORDER BY doc_id
    """,
)
def q_text_vocab_coverage(spark, sf_dir):
    """Per-document OOV rate against the corpus top-500 vocabulary
    (tokenizer-budget planning — operators/text.vocab_coverage). Vocabulary
    selection plans as a distributed top-K (TakeOrderedAndProject), then a
    broadcast flag join + one per-doc aggregation; OOV fraction is an
    exact integer-count division."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return (
        vocab_coverage(docs, vocab_size=_VOCAB_V)
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


@query(
    "corpus_incremental_spans",
    oracle=f"""
    WITH split AS (
        SELECT doc_id, text,
               {hash64_sql('doc_id', 'incspan')} % 5 = 0 AS is_new
        FROM documents),
    cw AS (
        SELECT doc_id, pos, substr(text, pos, {_SPAN_W}) AS win FROM (
            SELECT doc_id, text,
                   unnest(range(1, greatest(len(text) - {_SPAN_W} + 2, 1)))::INT AS pos
            FROM split WHERE NOT is_new)),
    hot AS (
        SELECT win FROM cw GROUP BY win
        HAVING count(DISTINCT doc_id) > 1000),
    cwf AS (SELECT * FROM cw WHERE win NOT IN (SELECT win FROM hot)),
    nw AS (
        SELECT doc_id, pos, substr(text, pos, {_SPAN_W}) AS win FROM (
            SELECT doc_id, text,
                   unnest(range(1, greatest(len(text) - {_SPAN_W} + 2, 1)))::INT AS pos
            FROM split WHERE is_new)),
    m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pa, b.pos AS pb, a.pos - b.pos AS delta
        FROM nw a JOIN cwf b ON a.win = b.win AND a.doc_id != b.doc_id),
    brk AS (
        SELECT *, CASE WHEN pa - LAG(pa) OVER
                 (PARTITION BY doc_a, doc_b, delta ORDER BY pa) = 1
            THEN 0 ELSE 1 END AS b
        FROM m),
    isl AS (
        SELECT *, SUM(b) OVER
            (PARTITION BY doc_a, doc_b, delta ORDER BY pa) AS island
        FROM brk)
    SELECT doc_a AS new_doc, doc_b AS corpus_doc,
           MIN(pa) AS start_new, MIN(pb) AS start_corpus,
           MAX(pa) - MIN(pa) + {_SPAN_W} AS span_len, COUNT(*) AS n_windows
    FROM isl GROUP BY doc_a, doc_b, delta, island
    ORDER BY new_doc, corpus_doc, start_new, start_corpus
    """,
)
def q_corpus_incremental_spans(spark, sf_dir):
    """Incremental exact-substring dedup: a hash-held-out 20% 'new batch'
    of documents checked against the other 80% 'existing corpus' via the
    (storable) corpus window index — join cost ∝ batch windows, the corpus
    never re-pairs against itself (operators/corpus.
    incremental_substring_spans). Scale path: hashed (16 B/window) index,
    fetch-and-verify on the span shortlist."""
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    is_new = hash64(F.col("doc_id"), "incspan") % 5 == 0
    return (
        incremental_substring_spans(
            docs.filter(is_new), docs.filter(~is_new), width=_SPAN_W,
            bucket_by_hash=True
        )
        .repartition(1)
        .sortWithinPartitions("new_doc", "corpus_doc", "start_new", "start_corpus")
    )


@query(
    "corpus_quality_deciles",
    oracle=f"""
    WITH q AS (SELECT doc_id, {quality_score_sql('text')} AS q FROM documents),
    r AS (SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY q DESC NULLS LAST, doc_id) AS rank
          FROM q)
    SELECT doc_id, rank,
           (((rank - 1) * 10) // (SELECT count(*) FROM documents) + 1)::INT
             AS decile
    FROM r ORDER BY doc_id
    """,
)
def q_corpus_quality_deciles(spark, sf_dir):
    """Exact global quality rank + decile WITHOUT a global sort
    (operators/corpus.global_quality_rank): histogram bins -> driver
    prefix-sum offsets (<= n_bins+1 rows) -> per-bin parallel ranking
    windows. The oracle is the naive ROW_NUMBER global sort — row-for-row
    equality proves the histogram path exact. The curriculum/selection
    primitive at 100 TB, where a real global ORDER BY means a corpus-wide
    range shuffle."""
    from ctcityscraper_spark.operators.corpus import global_quality_rank
    from ctcityscraper_spark.operators.text import quality_score_col

    docs = load_table(spark, sf_dir, "documents")
    return (
        global_quality_rank(docs, quality_score_col("text"))
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


_CURRICULUM_CTES = f"""q AS (SELECT doc_id, {quality_score_sql('text')} AS q FROM documents),
    r AS (SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY q DESC NULLS LAST, doc_id) AS rank
          FROM q),
    s AS (SELECT doc_id,
                 (((rank - 1) * 10) // (SELECT count(*) FROM documents) + 1)::INT
                   AS stage
          FROM r),
    j AS (SELECT doc_id, stage,
                 ROW_NUMBER() OVER (PARTITION BY stage
                                    ORDER BY {hash64_sql('doc_id', 'curr')},
                                             doc_id) AS jr
          FROM s),
    o AS (SELECT stage, COUNT(*) AS n FROM s GROUP BY stage),
    off AS (SELECT stage,
                   COALESCE(SUM(n) OVER (ORDER BY stage
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0) AS o
            FROM o),
    cur AS (SELECT j.doc_id, j.stage, (off.o + j.jr)::BIGINT AS curriculum_rank
            FROM j JOIN off USING (stage))"""


@query(
    "corpus_curriculum_order",
    oracle=f"""
    WITH {_CURRICULUM_CTES}
    SELECT doc_id, stage, curriculum_rank FROM cur ORDER BY doc_id
    """,
)
def q_corpus_curriculum_order(spark, sf_dir):
    """Curriculum training order (operators/corpus.curriculum_order):
    easy -> hard staging off the exact histogram quality rank (no global
    sort), a deterministic hash shuffle INSIDE each stage (so the
    trainer never sees quality-sorted batches), and the exact 1-based
    global feed position from stages-row driver offsets. The oracle is
    the naive global-window replay — row-for-row equality proves the
    distributed staging + jitter + offset arithmetic exact."""
    from ctcityscraper_spark.operators.corpus import curriculum_order
    from ctcityscraper_spark.operators.text import quality_score_col

    docs = load_table(spark, sf_dir, "documents")
    return (
        curriculum_order(docs, quality_score_col("text"))
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


@query(
    "corpus_curriculum_pack",
    oracle=f"""
    WITH {_CURRICULUM_CTES},
    toks AS (
        SELECT d.doc_id, c.stage AS shard_id, c.curriculum_rank,
               len(regexp_extract_all(d.text, ' ?[0-9]+| ?[A-Za-z]+| ?[^A-Za-z0-9 \t\n\v\f\r]+'))::BIGINT AS n_tok
        FROM documents d JOIN cur c USING (doc_id)),
    spans AS (
        SELECT doc_id, shard_id, n_tok,
               (SUM(n_tok) OVER (PARTITION BY shard_id ORDER BY curriculum_rank
                                 ROWS UNBOUNDED PRECEDING))::BIGINT AS end_off
        FROM toks WHERE n_tok > 0),
    sp AS (SELECT *, end_off - n_tok AS start_off FROM spans),
    exploded AS (
        SELECT shard_id, doc_id, start_off, end_off,
               unnest(range(start_off // 512, (end_off - 1) // 512 + 1)) AS pack_id
        FROM sp)
    SELECT shard_id, pack_id, doc_id,
           GREATEST(start_off, pack_id * 512) - pack_id * 512 AS offset_in_pack,
           LEAST(end_off, (pack_id + 1) * 512) - GREATEST(start_off, pack_id * 512) AS n_tokens
    FROM exploded
    ORDER BY shard_id, pack_id, doc_id
    """,
)
def q_corpus_curriculum_pack(spark, sf_dir):
    """Curriculum-ordered sequence packing: the feed SCHEDULE
    (corpus.curriculum_order — easy -> hard stages, hash-shuffled
    within) composed with concat-then-chunk packing
    (corpus.pack_sequences with shard_col='stage',
    order_col='curriculum_rank') — sequences come out shard-by-stage in
    exactly the order the curriculum chose, so a loader streaming
    shard 1..k replays the schedule. Same plan shape as hash packing
    (one cumulative window per stage partition); the oracle replays
    staging, jitter, offsets AND the packing arithmetic."""
    from ctcityscraper_spark.operators.corpus import (
        curriculum_order,
        pack_sequences,
    )
    from ctcityscraper_spark.operators.text import quality_score_col

    docs = load_table(spark, sf_dir, "documents")
    cur = curriculum_order(docs, quality_score_col("text"))
    joined = docs.select("doc_id", "text").join(cur, "doc_id")
    return (
        pack_sequences(joined, shard_col="stage", order_col="curriculum_rank")
        .repartition(1)
        .sortWithinPartitions("shard_id", "pack_id", "doc_id")
    )


# =========================================================================
# KMV distinct-count sketches (operators/text.kmv_*) — the cardinality
# member of the mergeable-sketch triad (Bloom = membership, Count-Min =
# frequency, KMV = distinct count). Pure integer top-k of hash64 values,
# so DuckDB rebuilds every sketch bit-for-bit and the single estimate
# division rounds identically (IEEE double) in both engines.
# =========================================================================

_KMV_K = 256  # global sketch size
_KMV_KG = 64  # per-group sketch size
_KMV_POW60 = "1152921504606846976.0"  # 2^60 as an exact double literal


@query(
    "text_kmv_distinct_shingles",
    oracle=f"""
    WITH sh AS (SELECT unnest({shingle_sql(3)}) AS term FROM documents),
    t AS (SELECT DISTINCT {hash64_sql('term', 'kmv')} AS h FROM sh),
    sk AS (SELECT h FROM t ORDER BY h LIMIT {_KMV_K}),
    agg AS (SELECT COUNT(*)::BIGINT AS n_kept, MAX(h) AS kth_h FROM sk),
    tru AS (SELECT COUNT(*)::BIGINT AS true_distinct FROM t)
    SELECT n_kept, kth_h,
           CASE WHEN n_kept < {_KMV_K} THEN n_kept::DOUBLE
                ELSE {_KMV_K - 1}.0 * {_KMV_POW60} / kth_h::DOUBLE
           END AS distinct_est,
           true_distinct
    FROM agg, tru
    """,
)
def q_text_kmv_distinct_shingles(spark, sf_dir):
    """KMV cardinality sketch over the trigram-shingle universe
    (operators/text.kmv_sketch_terms + kmv_estimate): the k smallest
    distinct hash64 values estimate how many distinct shingles the corpus
    holds — the number that sizes every inverted shingle index — without
    the billion-key distinct shuffle (the Arrow local-top-k pass bounds
    the shuffle at partitions x k rows). The oracle rebuilds the sketch
    with DISTINCT + ORDER BY + LIMIT and the true count audits the
    estimate; the value-hash match pins sketch contents AND the
    cross-engine-exact estimator arithmetic."""
    from ctcityscraper_spark.operators.dedup import shingles_col
    from ctcityscraper_spark.operators.text import kmv_estimate, kmv_sketch_terms

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    sh = docs.select(F.explode(shingles_col("text", 3)).alias("term"))
    est = kmv_estimate(kmv_sketch_terms(sh, "term", k=_KMV_K), _KMV_K)
    true = sh.agg(F.countDistinct("term").alias("true_distinct"))
    # 1-row x 1-row summary join (the recall-audit shape — excluded from
    # the no-cartesian gate by design, like ann_pca_ivf_recall)
    return est.crossJoin(true)


@query(
    "text_kmv_lang_cardinality",
    oracle=f"""
    WITH sh AS (SELECT lang, unnest({shingle_sql(3)}) AS term FROM documents),
    t AS (SELECT DISTINCT lang, {hash64_sql('term', 'kmv')} AS h FROM sh),
    r AS (SELECT lang, h,
                 row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
          FROM t),
    sk AS (SELECT lang, h FROM r WHERE rn <= {_KMV_KG}),
    agg AS (SELECT lang, COUNT(*)::BIGINT AS n_kept, MAX(h) AS kth_h
            FROM sk GROUP BY lang),
    tru AS (SELECT lang, COUNT(DISTINCT term)::BIGINT AS true_distinct
            FROM sh GROUP BY lang)
    SELECT a.lang AS lang, n_kept, kth_h,
           CASE WHEN n_kept < {_KMV_KG} THEN n_kept::DOUBLE
                ELSE {_KMV_KG - 1}.0 * {_KMV_POW60} / kth_h::DOUBLE
           END AS distinct_est,
           true_distinct
    FROM agg a JOIN tru USING (lang)
    ORDER BY lang
    """,
)
def q_text_kmv_lang_cardinality(spark, sf_dir):
    """Per-language shingle cardinality via per-group KMV sketches
    (operators/text.kmv_sketch_by + kmv_estimate_by) — the bounded-shuffle
    alternative to per-group COUNT(DISTINCT): the shuffle carries
    <= partitions x groups x k partial rows instead of every distinct
    (lang, shingle) pair, and the per-group top-k window runs over those
    bounded partials, keyed by lang (never single-partition). The exact
    per-lang distinct count rides along as the audit column."""
    from ctcityscraper_spark.operators.dedup import shingles_col
    from ctcityscraper_spark.operators.text import kmv_estimate_by, kmv_sketch_by

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    sh = docs.select("lang", F.explode(shingles_col("text", 3)).alias("term"))
    est = kmv_estimate_by(
        kmv_sketch_by(sh, ["lang"], "term", k=_KMV_KG), ["lang"], _KMV_KG
    )
    true = sh.groupBy("lang").agg(
        F.countDistinct("term").alias("true_distinct")
    )
    return (
        est.join(true, "lang")
        .select("lang", "n_kept", "kth_h", "distinct_est", "true_distinct")
        .repartition(1)
        .sortWithinPartitions("lang")
    )


@query(
    "text_kmv_update",
    oracle=f"""
    WITH sh AS (SELECT unnest({shingle_sql(3)}) AS term FROM documents),
    t AS (SELECT DISTINCT {hash64_sql('term', 'kmv')} AS h FROM sh),
    sk AS (SELECT h FROM t ORDER BY h LIMIT {_KMV_K}),
    agg AS (SELECT COUNT(*)::BIGINT AS n_kept, MAX(h) AS kth_h FROM sk)
    SELECT n_kept, kth_h,
           CASE WHEN n_kept < {_KMV_K} THEN n_kept::DOUBLE
                ELSE {_KMV_K - 1}.0 * {_KMV_POW60} / kth_h::DOUBLE
           END AS distinct_est
    FROM agg
    """,
)
def q_text_kmv_update(spark, sf_dir):
    """Incremental KMV maintenance (operators/text.update_kmv_sketch): the
    sketch is built over an 80% base corpus, then a 20% delta batch is
    folded in (batch's own <= k-row delta, merge_kmv over <= 2k rows —
    delta-sized upkeep regardless of corpus size). The oracle builds the
    sketch over base+delta in ONE pass — a value-hash match therefore
    proves merged state is bit-for-bit a fresh build (min-k-of-distinct
    associativity), the property that makes per-batch cardinality
    maintenance exact on a growing corpus."""
    from ctcityscraper_spark.operators.dedup import shingles_col
    from ctcityscraper_spark.operators.text import (
        kmv_estimate,
        kmv_sketch_terms,
        update_kmv_sketch,
    )

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    bucket = hash64(F.col("doc_id"), "kmvsplit") % 5
    base = docs.filter(bucket != 0)
    batch = docs.filter(bucket == 0)
    shingle = lambda d: d.select(F.explode(shingles_col("text", 3)).alias("term"))
    stored = kmv_sketch_terms(shingle(base), "term", k=_KMV_K)
    merged = update_kmv_sketch(stored, shingle(batch), "term", k=_KMV_K)
    return kmv_estimate(merged, _KMV_K)


@query(
    "text_kmv_overlap",
    oracle=f"""
    WITH split AS (
        SELECT doc_id, text,
               {hash64_sql('doc_id', 'kmvovl')} % 5 = 0 AS is_test
        FROM documents),
    ta AS (SELECT DISTINCT term FROM (
               SELECT unnest({shingle_sql(3)}) AS term FROM split
               WHERE NOT is_test)),
    tb AS (SELECT DISTINCT term FROM (
               SELECT unnest({shingle_sql(3)}) AS term FROM split
               WHERE is_test)),
    ha AS (SELECT DISTINCT {hash64_sql('term', 'kmv')} AS h FROM ta),
    hb AS (SELECT DISTINCT {hash64_sql('term', 'kmv')} AS h FROM tb),
    ska AS (SELECT h FROM ha ORDER BY h LIMIT {_KMV_K}),
    skb AS (SELECT h FROM hb ORDER BY h LIMIT {_KMV_K}),
    tha AS (SELECT CASE WHEN COUNT(*) < {_KMV_K}
                        THEN 1152921504606846976 ELSE MAX(h) END AS theta_a
            FROM ska),
    thb AS (SELECT CASE WHEN COUNT(*) < {_KMV_K}
                        THEN 1152921504606846976 ELSE MAX(h) END AS theta_b
            FROM skb),
    th AS (SELECT least(theta_a, theta_b) AS theta FROM tha, thb),
    inter AS (SELECT h FROM ska INTERSECT SELECT h FROM skb),
    uni AS (SELECT h FROM ska UNION SELECT h FROM skb),
    ni AS (SELECT COUNT(*)::BIGINT AS n_inter FROM inter, th
           WHERE h < theta),
    nu AS (SELECT COUNT(*)::BIGINT AS n_union FROM uni, th
           WHERE h < theta),
    tru AS (SELECT COUNT(*)::BIGINT AS true_inter
            FROM ta JOIN tb USING (term))
    SELECT n_inter, n_union, theta,
           n_inter::DOUBLE / (theta::DOUBLE / {_KMV_POW60}) AS inter_est,
           n_union::DOUBLE / (theta::DOUBLE / {_KMV_POW60}) AS union_est,
           CASE WHEN n_union = 0 THEN 0.0
                ELSE n_inter::DOUBLE / n_union::DOUBLE END AS jaccard_est,
           true_inter
    FROM ni, nu, th, tru
    """,
)
def q_text_kmv_overlap(spark, sf_dir):
    """Theta-style KMV set operations (operators/text.kmv_overlap): the
    corpus splits 80/20 into train/test by doc hash, each side's
    trigram-shingle universe is KMV-sketched, and the shared-shingle
    cardinality + Jaccard are estimated from the two <= k-row sketches
    below the shared theta threshold — the contamination-scale question
    answered without a distinct-key join of both corpora (sketch-sized
    work only; at 100 TB that join carries ~10^11 keys). Below-theta
    candidate counts are exact integers and the sampled-fraction
    division is IEEE-identical cross-engine; the exact intersection
    count rides along as the audit column."""
    from ctcityscraper_spark.operators.dedup import shingles_col
    from ctcityscraper_spark.operators.text import kmv_overlap, kmv_sketch_terms

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    is_test = hash64(F.col("doc_id"), "kmvovl") % 5 == 0
    sh = lambda d: d.select(F.explode(shingles_col("text", 3)).alias("term"))
    train, test = docs.filter(~is_test), docs.filter(is_test)
    out = kmv_overlap(
        kmv_sketch_terms(sh(train), "term", k=_KMV_K),
        kmv_sketch_terms(sh(test), "term", k=_KMV_K),
        _KMV_K,
    )
    true = (
        sh(train).select("term").distinct()
        .join(sh(test).select("term").distinct(), "term")
        .agg(F.count("*").alias("true_inter"))
    )
    # 1-row x 1-row audit join (recall-audit shape, outside the
    # no-cartesian gate like the other summary-row queries)
    return out.crossJoin(true)


# =========================================================================
# Quantile sketches (operators/text.quantile_*) — the FOURTH mergeable-
# sketch family (Bloom = membership, Count-Min = frequency, KMV =
# cardinality, quantile = distribution). Bottom-k-by-hash64 row sampling
# carrying values; the percentile estimator is a pure-integer rank rule
# ((p·n + 99) // 100 over the (val, h) total order), so DuckDB rebuilds
# every sample bit-for-bit and every estimate matches exactly.
# =========================================================================

_QSK_K = 256  # global sample size
_QSK_KG = 64  # per-group sample size
_QSK_PCTS = "[25, 50, 75, 90, 99]"

_QSK_VALS = f"""
    v AS (SELECT doc_id, ({quality_score_sql('text')})::DOUBLE AS val
          FROM documents
          WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    hv AS (SELECT {hash64_sql('doc_id', 'qsk')} AS h, val FROM v
           WHERE val IS NOT NULL AND NOT isnan(val))
"""


@query(
    "text_quantile_sketch",
    oracle=f"""
    WITH {_QSK_VALS},
    sk AS (SELECT h, val FROM hv ORDER BY h, val LIMIT {_QSK_K}),
    s AS (SELECT val, ROW_NUMBER() OVER (ORDER BY val, h) AS rn,
                 COUNT(*) OVER () AS n_kept FROM sk),
    ps AS (SELECT unnest({_QSK_PCTS})::INT AS pct),
    est AS (SELECT pct, n_kept, val AS est FROM ps JOIN s
            ON rn = (pct * n_kept + 99) // 100),
    t AS (SELECT val, ROW_NUMBER() OVER (ORDER BY val, h) AS rn,
                 COUNT(*) OVER () AS n FROM hv),
    tru AS (SELECT pct, val AS true_est FROM ps JOIN t
            ON rn = (pct * n + 99) // 100)
    SELECT e.pct AS pct, n_kept, est, true_est
    FROM est e JOIN tru USING (pct) ORDER BY pct
    """,
)
def q_text_quantile_sketch(spark, sf_dir):
    """Quality-score percentile monitoring from a bounded-state sample
    (operators/text.quantile_sketch + quantile_estimate): the k rows
    with the smallest hash64(doc_id) carry their quality scores — a
    deterministic uniform sample whose rank-selected percentiles
    estimate the corpus distribution without quantiles_by_status's
    exact full shuffle (the Arrow local-bottom-k pass bounds the
    shuffle at partitions x k rows). The oracle rebuilds the sample
    with ORDER BY h LIMIT k and the exact same-rank-rule percentile
    over the FULL corpus rides along as the audit column — the
    value-hash match pins sample contents AND the pure-integer
    estimator arithmetic."""
    from ctcityscraper_spark.operators.text import (
        quality_score_col,
        quantile_estimate,
        quantile_sketch,
    )
    from pyspark.sql.window import Window

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    v = docs.select("doc_id", quality_score_col("text").alias("val"))
    est = quantile_estimate(quantile_sketch(v, "val", "doc_id", k=_QSK_K))
    # exact same-rank-rule percentiles over the full corpus: the audit
    # leg (single-partition window — gate-time cost only, like the
    # true_distinct audit columns of the KMV family; the production
    # path at 100 TB is the sketch above)
    val = F.col("val").cast("double")
    hv = v.filter(
        F.col("doc_id").isNotNull() & val.isNotNull() & ~F.isnan(val)
    ).select(hash64(F.col("doc_id"), "qsk").alias("h"), val.alias("val"))
    t = (
        hv.withColumn("rn", F.row_number().over(Window.orderBy("val", "h")))
        .withColumn("n", F.count("*").over(Window.partitionBy()))
    )
    ps = local_rows_df(spark, [(p,) for p in (25, 50, 75, 90, 99)], ["pct"], "pct int")
    tru = t.join(
        F.broadcast(ps), F.col("rn") == F.expr("(pct * n + 99) div 100")
    ).select("pct", F.col("val").alias("true_est"))
    return (
        est.join(tru, "pct")
        .select("pct", "n_kept", "est", "true_est")
        .repartition(1)
        .sortWithinPartitions("pct")
    )


@query(
    "text_quantile_update",
    oracle=f"""
    WITH {_QSK_VALS},
    sk AS (SELECT h, val FROM hv ORDER BY h, val LIMIT {_QSK_K}),
    s AS (SELECT val, ROW_NUMBER() OVER (ORDER BY val, h) AS rn,
                 COUNT(*) OVER () AS n_kept FROM sk),
    ps AS (SELECT unnest({_QSK_PCTS})::INT AS pct)
    SELECT pct, n_kept, val AS est FROM ps JOIN s
    ON rn = (pct * n_kept + 99) // 100
    ORDER BY pct
    """,
)
def q_text_quantile_update(spark, sf_dir):
    """Incremental quantile-sample maintenance
    (operators/text.update_quantile_sketch): the sample is built over an
    80% base corpus, then a 20% delta batch is folded in (the batch's
    own <= k-row delta, merge over <= 2k rows — delta-sized upkeep
    regardless of corpus size). The oracle builds the sample over
    base+delta in ONE pass — a value-hash match therefore proves merged
    state is bit-for-bit a fresh build (min-k-by-hash associativity),
    the property that makes per-batch percentile monitoring exact on a
    growing corpus."""
    from ctcityscraper_spark.operators.text import (
        quality_score_col,
        quantile_estimate,
        quantile_sketch,
        update_quantile_sketch,
    )

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    v = docs.select("doc_id", quality_score_col("text").alias("val"))
    bucket = hash64(F.col("doc_id"), "qsksplit") % 5
    stored = quantile_sketch(v.filter(bucket != 0), "val", "doc_id", k=_QSK_K)
    merged = update_quantile_sketch(
        stored, v.filter(bucket == 0), "val", "doc_id", k=_QSK_K
    )
    return (
        quantile_estimate(merged)
        .repartition(1)
        .sortWithinPartitions("pct")
    )


@query(
    "text_quantile_by_source",
    oracle=f"""
    WITH v AS (SELECT doc_id, source,
                      ({quality_score_sql('text')})::DOUBLE AS val
               FROM documents
               WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    hv AS (SELECT source, {hash64_sql('doc_id', 'qsk')} AS h, val FROM v
           WHERE val IS NOT NULL AND NOT isnan(val)),
    r AS (SELECT source, h, val,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, val) AS krn
          FROM hv),
    sk AS (SELECT source, h, val FROM r WHERE krn <= {_QSK_KG}),
    s AS (SELECT source, val,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY val, h) AS rn,
                 COUNT(*) OVER (PARTITION BY source) AS n_kept FROM sk),
    ps AS (SELECT unnest({_QSK_PCTS})::INT AS pct)
    SELECT source, pct, n_kept, val AS est FROM ps JOIN s
    ON rn = (pct * n_kept + 99) // 100
    ORDER BY source, pct
    """,
)
def q_text_quantile_by_source(spark, sf_dir):
    """Per-source quality-score percentiles via per-group quantile
    sketches (operators/text.quantile_sketch_by + quantile_estimate_by)
    — the bounded-shuffle alternative to per-group exact percentiles:
    the shuffle carries <= partitions x groups x k sample rows instead
    of every (source, score) pair, and both the sample-truncation and
    rank-selection windows are keyed by source (never
    single-partition). NULL sources are real groups (kept in both
    engines). The per-source mixture-policy input at 100 TB: which
    crawl sources are dragging the quality floor."""
    from ctcityscraper_spark.operators.text import (
        quality_score_col,
        quantile_estimate_by,
        quantile_sketch_by,
    )

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    v = docs.select("source", "doc_id", quality_score_col("text").alias("val"))
    sk = quantile_sketch_by(v, ["source"], "val", "doc_id", k=_QSK_KG)
    return (
        quantile_estimate_by(sk, ["source"])
        .repartition(1)
        .sortWithinPartitions("source", "pct")
    )


@query(
    "text_quantile_drift",
    oracle=f"""
    WITH v AS (SELECT doc_id, ({quality_score_sql('text')})::DOUBLE AS val,
                      {hash64_sql('doc_id', 'qdrift')} % 2 = 0 AS is_b
               FROM documents
               WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    hv AS (SELECT {hash64_sql('doc_id', 'qsk')} AS h, val, is_b FROM v
           WHERE val IS NOT NULL AND NOT isnan(val)),
    ska AS (SELECT h, val FROM hv WHERE NOT is_b
            ORDER BY h, val LIMIT {_QSK_K}),
    skb AS (SELECT h, val FROM hv WHERE is_b
            ORDER BY h, val LIMIT {_QSK_K}),
    sa AS (SELECT val, ROW_NUMBER() OVER (ORDER BY val, h) AS rn,
                  COUNT(*) OVER () AS n_kept FROM ska),
    sb AS (SELECT val, ROW_NUMBER() OVER (ORDER BY val, h) AS rn,
                  COUNT(*) OVER () AS n_kept FROM skb),
    ps AS (SELECT unnest({_QSK_PCTS})::INT AS pct),
    ea AS (SELECT pct, n_kept AS n_kept_a, val AS est_a FROM ps JOIN sa
           ON rn = (pct * n_kept + 99) // 100),
    eb AS (SELECT pct, n_kept AS n_kept_b, val AS est_b FROM ps JOIN sb
           ON rn = (pct * n_kept + 99) // 100)
    SELECT pct, n_kept_a, n_kept_b, est_a, est_b, est_b - est_a AS drift
    FROM ea FULL JOIN eb USING (pct) ORDER BY pct
    """,
)
def q_text_quantile_drift(spark, sf_dir):
    """Epoch-over-epoch quality-distribution drift
    (operators/text.quantile_drift): the corpus hash-splits into two
    epochs, each epoch's quality scores are quantile-sketched (the same
    bounded-state sample as text_quantile_sketch), and per-percentile
    estimates are joined into (est_a, est_b, drift) rows — the alert
    input of a nightly corpus monitor ("did this crawl's quality
    distribution move"), computed entirely from two <= k-row samples.
    At 100 TB the epochs are never re-read: each epoch's sketch is the
    persisted <= k-row artifact its own round already maintains
    (update_quantile_sketch), and the drift join is sketch x sketch.
    Rank selection and the final subtraction are integer/IEEE-exact, so
    DuckDB matches bit-for-bit."""
    from ctcityscraper_spark.operators.text import (
        quality_score_col,
        quantile_drift,
        quantile_sketch,
    )

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    v = docs.select("doc_id", quality_score_col("text").alias("val"))
    is_b = hash64(F.col("doc_id"), "qdrift") % 2 == 0
    sk_a = quantile_sketch(v.filter(~is_b), "val", "doc_id", k=_QSK_K)
    sk_b = quantile_sketch(v.filter(is_b), "val", "doc_id", k=_QSK_K)
    return (
        quantile_drift(sk_a, sk_b)
        .repartition(1)
        .sortWithinPartitions("pct")
    )


# =========================================================================
# corpus_e2e_prep — the composed nightly pretraining-prep DAG: boilerplate
# removal -> bloom-chased exact dedup -> contamination gate (with a KMV-
# overlap residual audit) -> trained quality gate -> DSIR domain-selection
# gate -> sequence packing, as ONE oracle-gated plan. Every stage is an
# already-oracle-gated operator; composing them in one query
# regression-guards the stage INTERFACES against each other (a change in
# any stage shifts every downstream pack offset and the hash match
# catches it).
# =========================================================================

_E2E_CLEAN_SH8 = shingle_sql(8, "clean_text")
_E2E_CLEAN_SH3 = shingle_sql(3, "clean_text")

# DSIR selection stage (r13 VERDICT item 6): the composed DAGs gate on
# DOMAIN between the quality gate and packing. Threshold is per-token
# (weight_bits scales with document length): keep docs whose mean
# per-token quantized bit gap is >= NUM/DEN — pure integer cross-
# multiplication, exact in both engines. -2/5 measured to keep ~60-80%
# of the corpus at sf0.001/0.01 under the lang='en' target (a real
# selection rate with nonzero attrition at every gate scale).
_E2E_DSIR_B = 2048
_E2E_DSIR_NUM = -2
_E2E_DSIR_DEN = 5
_E2E_DSIR_TGT = "coalesce(lang = 'en', FALSE)"
_E2E_CLEAN_TOKS = TOKS.replace("trim(text, ", "trim(clean_text, ")
assert _E2E_CLEAN_TOKS != TOKS


def _e2e_dsir_model_sql(model_docs: str, prefix: str) -> str:
    """CTE chain replaying the DAGs' DSIR bucket model: hashed-unigram
    (b, c_r, c_t) counts over ``model_docs``'s clean_text with target
    labels joined from documents.lang, totals, and per-bucket quantized
    bit-widths. Ends at ``{prefix}bits`` (+ ``{prefix}tot``)."""
    B = _E2E_DSIR_B
    return f"""{prefix}mtk AS (
        SELECT k.doc_id,
               coalesce(d.lang = 'en', FALSE) AS is_target,
               list_filter({_E2E_CLEAN_TOKS}, t -> t != '') AS tk
        FROM {model_docs} k JOIN documents d USING (doc_id)),
    {prefix}mt0 AS (
        SELECT doc_id, is_target, unnest(tk) AS term FROM {prefix}mtk),
    {prefix}mt AS (
        SELECT doc_id, is_target,
               {hash64_sql('term', 'dsir')} % {B} AS b
        FROM {prefix}mt0),
    {prefix}model AS (
        SELECT b, count(*) AS c_r,
               SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_t
        FROM {prefix}mt GROUP BY b),
    {prefix}tot AS (
        SELECT SUM(c_r) AS t_r, SUM(c_t) AS t_t FROM {prefix}model),
    {prefix}bits AS (
        SELECT b,
               length(bin((t_r + {B}) // (c_r + 1)))::BIGINT AS bits_r,
               length(bin((t_t + {B}) // (c_t + 1)))::BIGINT AS bits_t
        FROM {prefix}model CROSS JOIN {prefix}tot)"""


def _e2e_dsir_score_sql(
    score_docs: str, prefix: str, model_prefix: str, with_floor: bool = False
) -> str:
    """CTE chain scoring ``score_docs`` against the ``model_prefix``
    model CTEs (:func:`_e2e_dsir_model_sql`) and applying the per-token
    threshold. ``with_floor=True`` replays dsir_score_with_model's
    unseen-bucket smoothing floor (needed when score_docs is NOT a
    subset of the model corpus — the incremental DAG's frozen stored
    model); otherwise every scored bucket exists in the model and a
    plain join suffices. Ends at ``{prefix}drop`` = doc_ids failing
    the threshold."""
    B = _E2E_DSIR_B
    floor_cte = f"""{prefix}floor AS (
        SELECT length(bin((t_r + {B}) // 1))::BIGINT AS fl_r,
               length(bin((t_t + {B}) // 1))::BIGINT AS fl_t
        FROM {model_prefix}tot),
    """
    join_kind = "LEFT JOIN" if with_floor else "JOIN"
    bits_r = "coalesce(bits_r, fl_r)" if with_floor else "bits_r"
    bits_t = "coalesce(bits_t, fl_t)" if with_floor else "bits_t"
    floor_src = f", {prefix}floor" if with_floor else ""
    return f"""{floor_cte if with_floor else ''}{prefix}stk AS (
        SELECT doc_id, list_filter({_E2E_CLEAN_TOKS}, t -> t != '') AS tk
        FROM {score_docs}),
    {prefix}sdb AS (
        SELECT doc_id, b, count(*) AS c_db FROM (
            SELECT doc_id, {hash64_sql('term', 'dsir')} % {B} AS b
            FROM (SELECT doc_id, unnest(tk) AS term FROM {prefix}stk))
        GROUP BY doc_id, b),
    {prefix}sc AS (
        SELECT doc_id, SUM(c_db)::BIGINT AS n_tok_d,
               SUM(c_db * ({bits_r} - {bits_t}))::BIGINT AS wb
        FROM {prefix}sdb {join_kind} {model_prefix}bits USING (b){floor_src}
        GROUP BY doc_id),
    {prefix}drop AS (
        SELECT doc_id FROM {prefix}sc
        WHERE wb * {_E2E_DSIR_DEN} < {_E2E_DSIR_NUM} * n_tok_d)"""


def _e2e_dsir_sql(
    model_docs: str, score_docs: str, prefix: str, with_floor: bool = False
) -> str:
    """Model + score in one chain (the batch DAG's shape)."""
    return (
        _e2e_dsir_model_sql(model_docs, prefix)
        + ",\n    "
        + _e2e_dsir_score_sql(score_docs, prefix, prefix, with_floor)
    )

# The composed DAGs' quality-gate sidecars (one per query — gate queries
# never race on one file, the quality_classifier_score convention). The
# weights become DATA the oracle reads back; a corpus fingerprint gates
# the oracle's SELECT so a stale sidecar yields 0 rows, never a silent
# plausible match.
_E2E_QCLF_SIDECAR = str(
    Path(__file__).resolve().parents[2]
    / "spark-warehouse"
    / "quality_classifier_weights_e2e.json"
)
_E2E_QCLF_INC_SIDECAR = str(
    Path(__file__).resolve().parents[2]
    / "spark-warehouse"
    / "quality_classifier_weights_e2e_inc.json"
)


def _qclf_logit_sql(text_expr: str) -> str:
    """The literal-folded classifier logit over a ``wv`` weights array
    (read from a sidecar CTE aliased ``w``) — left-associative ``+`` so
    DuckDB reproduces the double bit-for-bit; shared by every composed-DAG
    oracle that replays the quality gate."""
    from ctcityscraper_spark.operators.text import quality_feature_sqls

    f1, f2, f3, f4, f5 = quality_feature_sqls(text_expr)
    return (
        f"wv[6] + wv[1] * {f1} + wv[2] * {f2} + wv[3] * {f3}"
        f" + wv[4] * {f4} + wv[5] * {f5}"
    )


@query(
    "corpus_e2e_prep",
    oracle=f"""
    WITH {_SEGS},
    hot AS (SELECT segment FROM segs GROUP BY segment
            HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DOCS}),
    rb AS (
        SELECT s.doc_id AS doc_id,
               coalesce(string_agg(s.segment, ' ' ORDER BY pos)
                        FILTER (WHERE h.segment IS NULL), '') AS clean_text
        FROM segs s LEFT JOIN hot h USING (segment)
        GROUP BY s.doc_id),
    spl AS (SELECT doc_id, clean_text,
                   {hash64_sql('doc_id', 'e2esplit')} % 5 = 0 AS is_new
            FROM rb),
    corp AS (SELECT doc_id, clean_text, md5(clean_text) AS fp
             FROM spl WHERE NOT is_new),
    bat AS (SELECT doc_id, clean_text, md5(clean_text) AS fp
            FROM spl WHERE is_new),
    dups AS (SELECT doc_id FROM bat WHERE fp IN (SELECT fp FROM corp)),
    kept AS (SELECT doc_id, clean_text FROM corp
             UNION ALL
             SELECT doc_id, clean_text FROM bat b
             WHERE NOT EXISTS (SELECT 1 FROM dups d WHERE d.doc_id = b.doc_id)),
    ksh0 AS (SELECT doc_id, unnest({_E2E_CLEAN_SH8}) AS shingle FROM kept),
    ksh AS (SELECT * FROM ksh0 WHERE shingle IN (
                SELECT shingle FROM ksh0 GROUP BY shingle
                HAVING count(*) <= 1000)),
    kfl AS (SELECT doc_id, shingle,
                   {hash64_sql('doc_id', 'split')} % 10 = 0 AS is_test
            FROM ksh),
    contam AS (SELECT DISTINCT b.doc_id
               FROM kfl a JOIN kfl b ON a.shingle = b.shingle
               WHERE a.is_test AND NOT b.is_test),
    trainf AS (SELECT doc_id, clean_text FROM kept k
               WHERE {hash64_sql('doc_id', 'split')} % 10 != 0
                 AND NOT EXISTS (SELECT 1 FROM contam c
                                 WHERE c.doc_id = k.doc_id)),
    testd AS (SELECT doc_id, clean_text FROM kept
              WHERE {hash64_sql('doc_id', 'split')} % 10 = 0),
    w AS (SELECT (data[1])::DOUBLE[] AS wv
          FROM read_json('{_E2E_QCLF_SIDECAR}')),
    trainq AS (SELECT doc_id, clean_text FROM trainf, w
               WHERE ({_qclf_logit_sql('clean_text')}) > 0),
    {_e2e_dsir_sql('kept', 'trainq', 'd')},
    trains AS (SELECT t.doc_id, t.clean_text FROM trainq t
               WHERE NOT EXISTS (SELECT 1 FROM ddrop x
                                 WHERE x.doc_id = t.doc_id)),
    ta AS (SELECT DISTINCT term FROM (
               SELECT unnest({_E2E_CLEAN_SH3}) AS term FROM trains)),
    tb AS (SELECT DISTINCT term FROM (
               SELECT unnest({_E2E_CLEAN_SH3}) AS term FROM testd)),
    ha AS (SELECT DISTINCT {hash64_sql('term', 'kmv')} AS h FROM ta),
    hb AS (SELECT DISTINCT {hash64_sql('term', 'kmv')} AS h FROM tb),
    ska AS (SELECT h FROM ha ORDER BY h LIMIT {_KMV_K}),
    skb AS (SELECT h FROM hb ORDER BY h LIMIT {_KMV_K}),
    tha AS (SELECT CASE WHEN COUNT(*) < {_KMV_K}
                        THEN 1152921504606846976 ELSE MAX(h) END AS theta_a
            FROM ska),
    thb AS (SELECT CASE WHEN COUNT(*) < {_KMV_K}
                        THEN 1152921504606846976 ELSE MAX(h) END AS theta_b
            FROM skb),
    th AS (SELECT least(theta_a, theta_b) AS theta FROM tha, thb),
    ints AS (SELECT h FROM ska INTERSECT SELECT h FROM skb),
    uni AS (SELECT h FROM ska UNION SELECT h FROM skb),
    ni AS (SELECT COUNT(*)::BIGINT AS n_inter FROM ints, th WHERE h < theta),
    nu AS (SELECT COUNT(*)::BIGINT AS n_union FROM uni, th WHERE h < theta),
    audit AS (
        SELECT n_inter::DOUBLE / (theta::DOUBLE / {_KMV_POW60})
                   AS resid_inter_est,
               CASE WHEN n_union = 0 THEN 0.0
                    ELSE n_inter::DOUBLE / n_union::DOUBLE
               END AS resid_jaccard_est
        FROM ni, nu, th),
    cnts AS (
        SELECT (SELECT count(*) FROM rb) AS n_docs_in,
               (SELECT count(*) FROM dups) AS n_dup_dropped,
               (SELECT count(*) FROM testd) AS n_test_held_out,
               (SELECT count(*) FROM contam) AS n_contam_dropped,
               (SELECT count(*) FROM trainf, w
                WHERE NOT (({_qclf_logit_sql('clean_text')}) > 0))
                   AS n_quality_dropped,
               (SELECT count(*) FROM ddrop) AS n_dsir_dropped),
    ptoks AS (
        SELECT doc_id,
               ({hash64_sql('doc_id', 'pack')} % 8)::INT AS shard_id,
               len(regexp_extract_all(clean_text,
                   ' ?[0-9]+| ?[A-Za-z]+| ?[^A-Za-z0-9 \t\n\v\f\r]+'))::BIGINT AS n_tok
        FROM trains),
    spans AS (
        SELECT doc_id, shard_id, n_tok,
               (SUM(n_tok) OVER (PARTITION BY shard_id ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING))::BIGINT AS end_off
        FROM ptoks WHERE n_tok > 0),
    sp AS (SELECT *, end_off - n_tok AS start_off FROM spans),
    expl AS (
        SELECT shard_id, doc_id, start_off, end_off,
               unnest(range(start_off // 512, (end_off - 1) // 512 + 1)) AS pack_id
        FROM sp)
    SELECT shard_id, pack_id, doc_id,
           GREATEST(start_off, pack_id * 512) - pack_id * 512 AS offset_in_pack,
           LEAST(end_off, (pack_id + 1) * 512)
               - GREATEST(start_off, pack_id * 512) AS n_tokens,
           n_docs_in, n_dup_dropped, n_test_held_out, n_contam_dropped,
           n_quality_dropped, n_dsir_dropped,
           resid_inter_est, resid_jaccard_est
    FROM expl, cnts, audit
    WHERE EXISTS (
        SELECT 1
        FROM read_json('{_E2E_QCLF_SIDECAR}') sj,
             (SELECT count(*) AS n, sum(doc_id) AS s FROM kept) cur
        WHERE sj.fingerprint_n = cur.n AND sj.fingerprint_s = cur.s)
    ORDER BY shard_id, pack_id, doc_id
    """,
    headline=True,
)
def q_corpus_e2e_prep(spark, sf_dir):
    """The composed nightly pretraining-prep DAG as ONE plan — the query
    a real user schedules, regression-guarding the stage interfaces
    against each other:

    1. remove_boilerplate — CCNet-style cross-document segment dedup.
    2. Bloom-chased exact dedup (build_bloom_index +
       bloom_chased_duplicates over the cleaned text): the 20%
       hash-split "tonight's batch" probes the 80% corpus's stored
       Bloom words; only flagged docs chase the fingerprint index. The
       oracle's dedup leg is plain exact membership — identical output
       BY THE no-false-negative CONTRACT (is_dup = might_contain AND
       exact, and exact implies might_contain), so a Bloom bug that
       dropped a true duplicate would hash-mismatch here even though
       the SQL never rebuilds the filter (the filter arithmetic itself
       is pinned bit-for-bit by dedup_bloom_chase).
    3. Contamination gate (contamination_pairs over the cleaned
       survivors): the hash-held-out test split's 8-gram matches mark
       train docs as contaminated; the training stream drops BOTH the
       test docs and the contaminated train docs. The KMV-overlap
       residual audit (kmv_overlap of train-vs-test trigram-shingle
       sketches — the text_kmv_overlap instrument) rides on every
       output row as resid_inter_est / resid_jaccard_est: the number a
       monitoring job alerts on when residual leakage grows — computed
       over the stream that is actually packed (post-quality-gate).
    4. Trained quality gate (train_quality_classifier over the kept
       docs' clean text, CCNet-style weak teacher quality_score >=
       0.45; weights persisted to the fingerprint-guarded sidecar and
       applied as the literal-folded logit): train docs with logit <= 0
       are dropped before packing — the stage a real lab runs between
       decontamination and packing. Only the bounded numpy fit stays
       outside the hash match; the keep decision replays in DuckDB
       bit-for-bit from the sidecar weights.
    5. DSIR domain-selection gate (r13 VERDICT item 6 — the stored-
       model-probe form): dsir_bucket_model over the kept corpus
       (target = documents.lang = 'en'), dsir_score_with_model over the
       quality-kept train stream, drop docs whose mean per-token
       quantized bit gap falls below _E2E_DSIR_NUM/_E2E_DSIR_DEN —
       exact integer cross-multiplication, model + scores + threshold
       all replayed bit-for-bit by the oracle.
    6. pack_sequences — the surviving train docs packed into fixed
       512-token sequences per hash shard.

    Output: the loader's pack-assignment table with the stage-attrition
    audit columns (n_docs_in / n_dup_dropped / n_test_held_out /
    n_contam_dropped / n_quality_dropped / n_dsir_dropped) and the
    residual-overlap
    estimates attached via 1-row broadcast audit joins (BNLJ with 1-row
    build sides — the allowed summary shape; the plan gate pins no
    CartesianProduct and hash-join shapes for every real join). Scale:
    each stage keeps its own documented shape — broadcast hot-segment
    anti-flag, ~m/32-row Bloom word probe + chase on the flagged ~1%,
    df-capped inverted 8-gram index join, sample_n-bounded classifier
    fit + scan-stage literal logit, sketch-sized KMV legs, per-shard
    packing windows — composing them adds no new shuffle beyond the
    stages' own."""
    from ctcityscraper_spark.operators.artifacts import (
        checkpoint_tracked,
        persist_tracked,
    )
    from ctcityscraper_spark.operators.dedup import (
        bloom_chased_duplicates,
        rebuild_bloom_from_fingerprints,
        shingles_col,
    )
    from ctcityscraper_spark.operators.text import kmv_overlap, kmv_sketch_terms
    from ctcityscraper_spark.plans.queries_ext import _BLOOM_K, _BLOOM_M

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    rb = remove_boilerplate(docs).select("doc_id", "clean_text")
    rb = persist_tracked(rb)

    # stage 2: two-tier incremental exact dedup of the 20% batch against
    # the 80% corpus
    is_new = hash64(F.col("doc_id"), "e2esplit") % 5 == 0
    corpus, batch = rb.filter(~is_new), rb.filter(is_new)
    # one md5 pass over the corpus clean_text: persist the distinct
    # fingerprint index and rebuild the Bloom words from it (bit-for-bit
    # the fresh build — OR over duplicate fingerprints sets the same
    # bits), instead of a second md5+explode pass over the full corpus
    # (guide §2.4)
    corpus_fp = persist_tracked(
        corpus.select(F.md5("clean_text").alias("fingerprint")).distinct()
    )
    bloom = rebuild_bloom_from_fingerprints(corpus_fp, _BLOOM_M, _BLOOM_K)
    verdicts = bloom_chased_duplicates(
        batch, corpus_fp, bloom, _BLOOM_M, _BLOOM_K, text="clean_text"
    )
    # dup_ids feeds both the anti-join and the attrition counts; it is a
    # small id list at the tail of the whole bloom-probe + chase lineage,
    # so it gets the eager LINEAGE CUT (checkpoint_tracked, the r12
    # kmv_overlap lesson): persist alone leaves the bloom lineage in the
    # analyzed plan of every downstream consumer (kept -> contam ->
    # train_f -> packs -> cnts) and the driver re-analyzes it per subplan
    dup_ids = checkpoint_tracked(
        verdicts.filter(F.col("is_dup")).select("doc_id")
    )
    kept = corpus.unionByName(batch.join(dup_ids, "doc_id", "left_anti"))
    kept = persist_tracked(kept)
    # materialize the cache once BEFORE the concurrent consumers below —
    # three threads racing an unbuilt cache serialize on the per-partition
    # cache locks anyway, so one cheap count here makes the overlap real
    kept.count()

    # stages 3/4/4.5 front half — five mutually-independent bounded jobs
    # over the persisted `kept` frame, overlapped in a driver thread pool
    # (r15 optimization round; guide §2.6 — actions are only sequential
    # because driver code calls them sequentially, and each of these is a
    # deterministic function of its input, so concurrency cannot change
    # any value):
    #   A. contamination gate (the long pole: semi-join of the shingle
    #      index, eager lineage cut on the tiny id list),
    #   B. quality-classifier fit (bounded TakeOrdered sample collect),
    #   C. the ≤ B-row DSIR bucket-model materialization (independent of
    #      the fit — split from it so the two token passes overlap),
    #   D. the corpus fingerprint aggregate for the sidecar guard,
    #   E. the test-side KMV residual sketch (a real trigram pass over
    #      the test split that previously sat in the FINAL action waiting
    #      on the dsir_drop checkpoint it does not depend on).
    # Serial cost was the SUM of these round-trips; now it is the slowest
    # one.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    from ctcityscraper_spark.operators.corpus import (
        dsir_bucket_model,
        dsir_score_with_model,
        sum_dsir_models,
    )
    from ctcityscraper_spark.operators.similarity import save_vectors_json
    from ctcityscraper_spark.operators.text import (
        quality_classifier_logit_col,
        quality_score_col,
        train_quality_classifier,
    )

    is_test = hash64(F.col("doc_id"), "split") % 10 == 0
    test_d = kept.filter(is_test)
    sh3 = lambda d: d.select(
        F.explode(shingles_col("clean_text", 3)).alias("term")
    )

    def _contam():
        # contam feeds the anti-join AND the attrition counts — eager
        # lineage cut on the tiny id list so the shingle-index join runs
        # once AND its (very deep) plan stops being re-analyzed by every
        # downstream consumer. Only the DISTINCT contaminated train ids
        # are needed here, so this rides contaminated_train_ids — the
        # semi-join form, row-identical to contamination_pairs(...)
        # .select(train_doc).distinct() (pinned by test) but with no
        # test×train pair explosion and one fewer text explode pass.
        return checkpoint_tracked(
            contaminated_train_ids(kept, text="clean_text")
        )

    def _fit():
        return train_quality_classifier(
            kept,
            text="clean_text",
            labels=quality_score_col("clean_text") >= 0.45,
        )

    def _model():
        # pre-materialize the ≤ B-row DSIR bucket model (persist + count)
        # so the scoring job downstream starts from the cached model
        # instead of rebuilding it on its critical path
        m = persist_tracked(
            sum_dsir_models(
                dsir_bucket_model(
                    kept.join(docs.select("doc_id", "lang"), "doc_id"),
                    F.col("lang") == "en",
                    n_buckets=_E2E_DSIR_B,
                    text="clean_text",
                )
            )
        )
        m.count()
        return m

    def _test_kmv():
        # ≤ k rows once built; persist-backed (cheap to hold, recomputable)
        s = persist_tracked(kmv_sketch_terms(sh3(test_d), "term", k=_KMV_K))
        s.count()
        return s

    with ThreadPoolExecutor(max_workers=5) as pool:
        # each leg keeps the caller's job group (wrapped HERE, on the
        # submitting thread, with its own copy of the local properties)
        submit = lambda fn: pool.submit(inheritable_thread_target(spark)(fn))
        f_contam = submit(_contam)
        f_fit = submit(_fit)
        f_model = submit(_model)
        f_fpr = submit(
            lambda: kept.agg(
                F.count("*").alias("n"), F.sum("doc_id").alias("s")
            ).collect()[0]
        )
        f_tkmv = submit(_test_kmv)
        contam = f_contam.result()
        weights = f_fit.result()
        dsir_model = f_model.result()
        fpr = f_fpr.result()
        test_kmv = f_tkmv.result()

    # stage 4 back half: persist the weights to the fingerprint-guarded
    # sidecar, apply as the literal-folded logit in the scan stage
    Path(_E2E_QCLF_SIDECAR).parent.mkdir(parents=True, exist_ok=True)
    save_vectors_json(
        [weights],
        _E2E_QCLF_SIDECAR,
        kind="quality_classifier",
        extra={"fingerprint_n": int(fpr.n), "fingerprint_s": int(fpr.s)},
    )
    logit = quality_classifier_logit_col("clean_text", weights)
    # The logit is a large literal-folded expression over clean_text and
    # train_f feeds FOUR downstream consumers (DSIR scoring chain, the
    # quality-dropped attrition count, the KMV residual leg, packing) —
    # materialize the gate ONCE into the cache as a boolean instead of
    # re-evaluating the expression per consumer (r15 optimization round;
    # guide §2.4 duplicate work). Both filter branches below are then
    # cheap boolean reads of the cached column.
    train_f = persist_tracked(
        kept.filter(~is_test)
        .join(contam, "doc_id", "left_anti")
        .withColumn("_q_pass", logit > 0)
    )
    train_q = train_f.filter(F.col("_q_pass")).drop("_q_pass")

    # stage 4.5 back half: DSIR domain-selection gate (r13 VERDICT item
    # 6) — the stored-model-probe form: the quality-kept train stream is
    # scored against the pre-materialized ≤ B-row bucket model
    # (dsir_score_with_model — one token pass + broadcast model join),
    # and docs whose mean per-token bit gap falls below
    # _E2E_DSIR_NUM/_E2E_DSIR_DEN are dropped before packing. Pure
    # integer cross-multiplication — DuckDB replays the model, the
    # scores, and the threshold bit-for-bit. Docs with zero tokens score
    # no row and pass through (packing drops them anyway).
    dscored = dsir_score_with_model(
        train_q, dsir_model, n_buckets=_E2E_DSIR_B, text="clean_text"
    )
    # tiny id list at the tail of the whole model+scoring lineage —
    # eager lineage cut, feeds the anti-join AND the attrition count
    dsir_drop = checkpoint_tracked(
        dscored.filter(
            F.col("weight_bits") * _E2E_DSIR_DEN
            < _E2E_DSIR_NUM * F.col("n_tokens")
        ).select("doc_id")
    )
    train_s = train_q.join(dsir_drop, "doc_id", "left_anti")

    # test sketch pre-materialized in the pool (leg E above) — row-
    # identical to computing it here, minus the wait on dsir_drop
    resid = kmv_overlap(
        kmv_sketch_terms(sh3(train_s), "term", k=_KMV_K),
        test_kmv,
        _KMV_K,
    ).select(
        F.col("inter_est").alias("resid_inter_est"),
        F.col("jaccard_est").alias("resid_jaccard_est"),
    )
    cnts = (
        rb.agg(F.count("*").alias("n_docs_in"))
        .crossJoin(dup_ids.agg(F.count("*").alias("n_dup_dropped")))
        .crossJoin(test_d.agg(F.count("*").alias("n_test_held_out")))
        .crossJoin(contam.agg(F.count("*").alias("n_contam_dropped")))
        .crossJoin(
            train_f.filter(~F.col("_q_pass")).agg(
                F.count("*").alias("n_quality_dropped")
            )
        )
        .crossJoin(dsir_drop.agg(F.count("*").alias("n_dsir_dropped")))
    )

    # stage 5: pack the surviving training stream (post-DSIR)
    packs = pack_sequences(train_s, text="clean_text")
    return (
        packs.crossJoin(F.broadcast(cnts.crossJoin(resid)))
        .repartition(1)
        .sortWithinPartitions("shard_id", "pack_id", "doc_id")
    )


# =========================================================================
# corpus_e2e_prep_incremental — the DELTA-SIZED nightly variant of the
# composed DAG: tonight's 20% batch is processed entirely against STORED
# artifacts from the 80% corpus (frozen hot-segment list, Bloom +
# fingerprint index, df-capped test-shingle index, train/test KMV
# sketches, per-shard pack cursors), so the recurring cost is O(batch),
# never O(corpus). The gate derives the stored artifacts in-plan (the
# query must be self-contained); production reads them from disk — the
# same convention as dedup_bloom_chase / text_kmv_update.
# =========================================================================


@query(
    "corpus_e2e_prep_incremental",
    oracle=f"""
    WITH {_SEGS},
    spl AS (SELECT doc_id, {hash64_sql('doc_id', 'e2einc')} % 5 = 0 AS is_new
            FROM documents),
    hot AS (SELECT s.segment FROM segs s JOIN spl USING (doc_id)
            WHERE NOT is_new
            GROUP BY s.segment
            HAVING count(DISTINCT s.doc_id) >= {BOILER_MIN_DOCS}),
    clean AS (
        SELECT s.doc_id AS doc_id,
               coalesce(string_agg(s.segment, ' ' ORDER BY pos)
                        FILTER (WHERE h.segment IS NULL), '') AS clean_text
        FROM segs s LEFT JOIN hot h USING (segment)
        GROUP BY s.doc_id),
    cs AS (SELECT c.doc_id, clean_text, is_new,
                  {hash64_sql('doc_id', 'split')} % 10 = 0 AS is_test
           FROM clean c JOIN spl USING (doc_id)),
    corp AS (SELECT * FROM cs WHERE NOT is_new),
    bat AS (SELECT * FROM cs WHERE is_new),
    dups AS (SELECT doc_id FROM bat
             WHERE md5(clean_text) IN (SELECT md5(clean_text) FROM corp)),
    bkept AS (SELECT * FROM bat b
              WHERE NOT EXISTS (SELECT 1 FROM dups d
                                WHERE d.doc_id = b.doc_id)),
    ssh AS (SELECT doc_id, unnest({_E2E_CLEAN_SH8}) AS shingle FROM corp),
    scap AS (SELECT shingle FROM ssh GROUP BY shingle
             HAVING count(*) > 1000),
    tidx AS (SELECT DISTINCT shingle FROM ssh s JOIN corp c USING (doc_id)
             WHERE c.is_test
               AND shingle NOT IN (SELECT shingle FROM scap)),
    scontam AS (SELECT DISTINCT s.doc_id
                FROM ssh s JOIN corp c USING (doc_id)
                WHERE NOT c.is_test
                  AND s.shingle IN (SELECT shingle FROM tidx)),
    strainf AS (SELECT doc_id, clean_text FROM corp k
                WHERE NOT is_test AND NOT EXISTS
                      (SELECT 1 FROM scontam x WHERE x.doc_id = k.doc_id)),
    bsh AS (SELECT doc_id, unnest({_E2E_CLEAN_SH8}) AS shingle
            FROM bkept WHERE NOT is_test),
    bcontam AS (SELECT DISTINCT doc_id FROM bsh
                WHERE shingle IN (SELECT shingle FROM tidx)),
    btrainf AS (SELECT doc_id, clean_text FROM bkept k
                WHERE NOT is_test AND NOT EXISTS
                      (SELECT 1 FROM bcontam x WHERE x.doc_id = k.doc_id)),
    w AS (SELECT (data[1])::DOUBLE[] AS wv
          FROM read_json('{_E2E_QCLF_INC_SIDECAR}')),
    strainq AS (SELECT doc_id, clean_text FROM strainf, w
                WHERE ({_qclf_logit_sql('clean_text')}) > 0),
    btrainq AS (SELECT doc_id, clean_text FROM btrainf, w
                WHERE ({_qclf_logit_sql('clean_text')}) > 0),
    {_e2e_dsir_model_sql('(SELECT doc_id, clean_text FROM corp)', 'i')},
    {_e2e_dsir_score_sql('strainq', 'ds', 'i')},
    strains AS (SELECT t.doc_id, t.clean_text FROM strainq t
                WHERE NOT EXISTS (SELECT 1 FROM dsdrop x
                                  WHERE x.doc_id = t.doc_id)),
    {_e2e_dsir_score_sql('btrainq', 'db', 'i', with_floor=True)},
    btrains AS (SELECT t.doc_id, t.clean_text FROM btrainq t
                WHERE NOT EXISTS (SELECT 1 FROM dbdrop x
                                  WHERE x.doc_id = t.doc_id)),
    ta AS (SELECT DISTINCT term FROM (
               SELECT unnest({_E2E_CLEAN_SH3}) AS term FROM strains
               UNION ALL
               SELECT unnest({_E2E_CLEAN_SH3}) AS term FROM btrains)),
    tb AS (SELECT DISTINCT term FROM (
               SELECT unnest({_E2E_CLEAN_SH3}) AS term FROM corp
               WHERE is_test)),
    ha AS (SELECT DISTINCT {hash64_sql('term', 'kmv')} AS h FROM ta),
    hb AS (SELECT DISTINCT {hash64_sql('term', 'kmv')} AS h FROM tb),
    ska AS (SELECT h FROM ha ORDER BY h LIMIT {_KMV_K}),
    skb AS (SELECT h FROM hb ORDER BY h LIMIT {_KMV_K}),
    tha AS (SELECT CASE WHEN COUNT(*) < {_KMV_K}
                        THEN 1152921504606846976 ELSE MAX(h) END AS theta_a
            FROM ska),
    thb AS (SELECT CASE WHEN COUNT(*) < {_KMV_K}
                        THEN 1152921504606846976 ELSE MAX(h) END AS theta_b
            FROM skb),
    th AS (SELECT least(theta_a, theta_b) AS theta FROM tha, thb),
    ints AS (SELECT h FROM ska INTERSECT SELECT h FROM skb),
    uni AS (SELECT h FROM ska UNION SELECT h FROM skb),
    ni AS (SELECT COUNT(*)::BIGINT AS n_inter FROM ints, th WHERE h < theta),
    nu AS (SELECT COUNT(*)::BIGINT AS n_union FROM uni, th WHERE h < theta),
    audit AS (
        SELECT n_inter::DOUBLE / (theta::DOUBLE / {_KMV_POW60})
                   AS resid_inter_est,
               CASE WHEN n_union = 0 THEN 0.0
                    ELSE n_inter::DOUBLE / n_union::DOUBLE
               END AS resid_jaccard_est
        FROM ni, nu, th),
    cnts AS (
        SELECT (SELECT count(*) FROM bat) AS n_batch_in,
               (SELECT count(*) FROM dups) AS n_dup_dropped,
               (SELECT count(*) FROM bkept WHERE is_test) AS n_test_held_out,
               (SELECT count(*) FROM bcontam) AS n_contam_dropped,
               (SELECT count(*) FROM btrainf, w
                WHERE NOT (({_qclf_logit_sql('clean_text')}) > 0))
                   AS n_quality_dropped,
               (SELECT count(*) FROM dbdrop) AS n_dsir_dropped),
    pt_s AS (
        SELECT ({hash64_sql('doc_id', 'pack')} % 8)::INT AS shard_id,
               len(regexp_extract_all(clean_text,
                   ' ?[0-9]+| ?[A-Za-z]+| ?[^A-Za-z0-9 \t\n\v\f\r]+'))::BIGINT AS n_tok
        FROM strains),
    cur AS (SELECT shard_id, SUM(n_tok)::BIGINT AS base_off FROM pt_s
            WHERE n_tok > 0 GROUP BY shard_id),
    pt_b AS (
        SELECT doc_id,
               ({hash64_sql('doc_id', 'pack')} % 8)::INT AS shard_id,
               len(regexp_extract_all(clean_text,
                   ' ?[0-9]+| ?[A-Za-z]+| ?[^A-Za-z0-9 \t\n\v\f\r]+'))::BIGINT AS n_tok
        FROM btrains),
    spans AS (
        SELECT p.doc_id, p.shard_id, p.n_tok,
               ((SUM(p.n_tok) OVER (PARTITION BY p.shard_id ORDER BY p.doc_id
                                    ROWS UNBOUNDED PRECEDING))::BIGINT
                + coalesce(c.base_off, 0)) AS end_off
        FROM pt_b p LEFT JOIN cur c USING (shard_id)
        WHERE p.n_tok > 0),
    sp AS (SELECT *, end_off - n_tok AS start_off FROM spans),
    expl AS (
        SELECT shard_id, doc_id, start_off, end_off,
               unnest(range(start_off // 512, (end_off - 1) // 512 + 1)) AS pack_id
        FROM sp)
    SELECT shard_id, pack_id, doc_id,
           GREATEST(start_off, pack_id * 512) - pack_id * 512 AS offset_in_pack,
           LEAST(end_off, (pack_id + 1) * 512)
               - GREATEST(start_off, pack_id * 512) AS n_tokens,
           n_batch_in, n_dup_dropped, n_test_held_out, n_contam_dropped,
           n_quality_dropped, n_dsir_dropped,
           resid_inter_est, resid_jaccard_est
    FROM expl, cnts, audit
    WHERE EXISTS (
        SELECT 1
        FROM read_json('{_E2E_QCLF_INC_SIDECAR}') sj,
             (SELECT count(*) AS n, sum(doc_id) AS s FROM corp) cur
        WHERE sj.fingerprint_n = cur.n AND sj.fingerprint_s = cur.s)
    ORDER BY shard_id, pack_id, doc_id
    """,
)
def q_corpus_e2e_prep_incremental(spark, sf_dir):
    """The nightly prep DAG in its DELTA form — every stage runs against
    a stored artifact, so the recurring cost is O(tonight's batch):

    1. Boilerplate: the batch's segments anti-flag against the FROZEN
       stored hot-segment list (remove_boilerplate(hot=...) — applied,
       not recomputed; new boilerplate waits for the next hot-list
       refresh, the documented policy trade).
    2. Dedup: bloom_chased_duplicates against the stored corpus's Bloom
       words + fingerprint index — only flagged batch docs chase.
    3. Contamination: batch train docs probe the STORED df-capped
       test-shingle inverted index (batch test docs are held out but do
       not extend the index tonight — frozen, like the hot list).
    4. Residual audit: update_kmv_sketch folds the batch survivors'
       trigram delta into the stored train sketch (merge ≡ fresh build
       by KMV associativity — which is exactly why the oracle may build
       its sketch over the stored∪batch union in one pass), then
       kmv_overlap against the stored test sketch.
    5. Quality gate: the classifier weights are last night's artifact
       (trained on the stored corpus's clean text, frozen tonight —
       the hot-list refresh-cadence policy); the batch's train
       survivors keep only logit > 0.
    6. DSIR domain gate: the selection model is last night's artifact
       too (dsir_bucket_model over the stored corpus, frozen tonight);
       the batch's survivors score against it via
       dsir_score_with_model — batch buckets the stored model never
       saw take the smoothing floor, which the oracle replays exactly
       (the floor leg of _e2e_dsir_score_sql). The stored train stream
       (KMV sketch, pack cursor) is the quality- AND DSIR-kept stream
       because last night's run packed through the same gates.
    7. Packing: pack_sequences(base_offsets=stored per-shard cursors)
       appends the batch to the existing token stream — a batch doc can
       land mid-way through the stored run's last partial pack.

    Output schema matches corpus_e2e_prep with batch-scoped attrition
    counts (n_batch_in / n_dup_dropped / n_test_held_out /
    n_contam_dropped / n_quality_dropped / n_dsir_dropped). The stored artifacts are derived in-plan because
    the gate query must be self-contained (the dedup_bloom_chase
    convention); in production each is read from its persisted form and
    the batch never touches corpus-sized state except through
    sketch/index probes."""
    from ctcityscraper_spark.operators.artifacts import (
        checkpoint_tracked,
        persist_tracked,
    )
    from ctcityscraper_spark.operators.dedup import (
        bloom_chased_duplicates,
        doc_shingles,
        rebuild_bloom_from_fingerprints,
        shingles_col,
    )
    from ctcityscraper_spark.operators.text import (
        kmv_overlap,
        kmv_sketch_terms,
        update_kmv_sketch,
    )
    from ctcityscraper_spark.plans.queries_ext import _BLOOM_K, _BLOOM_M

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    is_new = hash64(F.col("doc_id"), "e2einc") % 5 == 0
    stored_raw, batch_raw = docs.filter(~is_new), docs.filter(is_new)

    # ---- last night's artifacts (persisted in production) ----
    # the four frozen "stored artifacts" below are small frames at the
    # tail of deep derivations — eager lineage cuts (checkpoint_tracked,
    # the r12 kmv_overlap lesson) so downstream consumers plan against
    # leaf frames, exactly like production reading them from disk
    hot = checkpoint_tracked(
        boilerplate_segments(segments(stored_raw))
    )
    stored = persist_tracked(remove_boilerplate(stored_raw, hot=hot)
        .select("doc_id", "clean_text")
        )
    is_test = hash64(F.col("doc_id"), "split") % 10 == 0
    # one md5 pass over the stored corpus: the persisted fingerprint index
    # is built first and the Bloom words REBUILT from it (bit-for-bit the
    # fresh build — OR over duplicate fingerprints sets the same bits), so
    # the old second md5+explode pass over clean_text disappears
    # (guide §2.4); production does exactly this, rebuilding from the
    # stored fingerprint zone rather than re-reading the corpus
    stored_fp = persist_tracked(
        stored.select(F.md5("clean_text").alias("fingerprint")).distinct()
    )
    bloom = rebuild_bloom_from_fingerprints(stored_fp, _BLOOM_M, _BLOOM_K)
    ssh = doc_shingles(stored, "clean_text", "doc_id", 8)
    cap = (
        ssh.groupBy("shingle")
        .agg(F.count("*").alias("dfc"))
        .filter(F.col("dfc") > 1000)
        .select("shingle")
    )
    # is_test is a pure hash of doc_id and every ssh row's doc_id comes
    # from stored, so the test/train splits are direct filters on the
    # shingle index — no id join needed (r15: two joins removed); the
    # contamination probe is a left-semi (identical id set, no duplicate
    # match rows materialized before the distinct)
    tidx = checkpoint_tracked(
        ssh.filter(is_test)
        .select("shingle")
        .distinct()
        .join(cap, "shingle", "left_anti")
    )
    scontam = (
        ssh.filter(~is_test)
        .join(tidx, "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    strainf_base = stored.filter(~is_test).join(scontam, "doc_id", "left_anti")

    # the quality gate's weights are LAST NIGHT's artifact too: trained
    # on the stored corpus's clean text (bounded sample_n fit), persisted
    # to the fingerprint-guarded sidecar, frozen for tonight's batch —
    # the same refresh-cadence policy as the hot-segment list. The stored
    # train stream (KMV sketch, pack cursor) is the QUALITY-KEPT stream,
    # because last night's run packed through the same gate.
    from ctcityscraper_spark.operators.similarity import save_vectors_json
    from ctcityscraper_spark.operators.text import (
        quality_classifier_logit_col,
        quality_score_col,
        train_quality_classifier,
    )

    weights = train_quality_classifier(
        stored,
        text="clean_text",
        labels=quality_score_col("clean_text") >= 0.45,
    )
    fpr = stored.agg(
        F.count("*").alias("n"), F.sum("doc_id").alias("s")
    ).collect()[0]
    Path(_E2E_QCLF_INC_SIDECAR).parent.mkdir(parents=True, exist_ok=True)
    save_vectors_json(
        [weights],
        _E2E_QCLF_INC_SIDECAR,
        kind="quality_classifier",
        extra={"fingerprint_n": int(fpr.n), "fingerprint_s": int(fpr.s)},
    )
    logit = quality_classifier_logit_col("clean_text", weights)
    # same r15 optimization as the full-rerun twin: the logit is a large
    # literal-folded expression and each persisted train frame feeds
    # several consumers — materialize the boolean gate once into the
    # cache instead of re-evaluating the expression per consumer
    strainf = persist_tracked(strainf_base.withColumn("_q_pass", logit > 0))
    strainq = strainf.filter(F.col("_q_pass")).drop("_q_pass")

    # the DSIR selection model is LAST NIGHT's artifact too: the
    # ≤ B-row bucket model over the stored corpus's clean text (target
    # labels from the raw split's lang), frozen for tonight's batch —
    # the same refresh-cadence policy as the hot list and the quality
    # weights. The stored train stream (KMV sketch, pack cursor) is the
    # DSIR-KEPT stream, because last night's run packed through the
    # same gate.
    from ctcityscraper_spark.operators.corpus import (
        dsir_bucket_model,
        dsir_score_with_model,
        sum_dsir_models,
    )

    dsir_model = checkpoint_tracked(
        sum_dsir_models(
            dsir_bucket_model(
                stored.join(stored_raw.select("doc_id", "lang"), "doc_id"),
                F.col("lang") == "en",
                n_buckets=_E2E_DSIR_B,
                text="clean_text",
            )
        )
    )

    def _dsir_drop_ids(frame):
        scored = dsir_score_with_model(
            frame, dsir_model, n_buckets=_E2E_DSIR_B, text="clean_text"
        )
        return checkpoint_tracked(
            scored.filter(
                F.col("weight_bits") * _E2E_DSIR_DEN
                < _E2E_DSIR_NUM * F.col("n_tokens")
            ).select("doc_id")
        )

    strain_s = strainq.join(_dsir_drop_ids(strainq), "doc_id", "left_anti")

    sh3 = lambda d: d.select(
        F.explode(shingles_col("clean_text", 3)).alias("term")
    )
    stored_train_kmv = kmv_sketch_terms(sh3(strain_s), "term", k=_KMV_K)
    stored_test_kmv = kmv_sketch_terms(
        sh3(stored.filter(is_test)), "term", k=_KMV_K
    )
    cursor = checkpoint_tracked(
        pack_sequences(strain_s, text="clean_text")
        .groupBy("shard_id")
        .agg(F.sum("n_tokens").alias("base_off"))
    )

    # ---- tonight's batch: every stage delta-sized ----
    batch = persist_tracked(remove_boilerplate(batch_raw, hot=hot)
        .select("doc_id", "clean_text")
        )
    verdicts = bloom_chased_duplicates(
        batch, stored_fp, bloom, _BLOOM_M, _BLOOM_K, text="clean_text"
    )
    dup_ids = checkpoint_tracked(
        verdicts.filter(F.col("is_dup")).select("doc_id")
    )
    bkept = persist_tracked(batch.join(dup_ids, "doc_id", "left_anti"))
    bcontam = checkpoint_tracked(
        doc_shingles(bkept.filter(~is_test), "clean_text", "doc_id", 8)
        # left-semi, not inner+distinct: the id set is identical but no
        # duplicate (doc, shingle-match) rows are materialized first
        .join(tidx, "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    btrainf = persist_tracked(
        bkept.filter(~is_test)
        .join(bcontam, "doc_id", "left_anti")
        .withColumn("_q_pass", logit > 0)
    )
    # tonight's batch passes through the FROZEN quality gate (weights
    # above) — batch-scoped attrition, like the other counts
    btrainq = btrainf.filter(F.col("_q_pass")).drop("_q_pass")
    # ... and through the FROZEN DSIR model: batch buckets the stored
    # model never saw take dsir_score_with_model's smoothing floor
    # (out-of-model features read maximally surprising under BOTH
    # models — the documented serving contract, replayed by the
    # oracle's floor leg)
    bdsir_drop = _dsir_drop_ids(btrainq)
    btrain_s = btrainq.join(bdsir_drop, "doc_id", "left_anti")
    resid = kmv_overlap(
        update_kmv_sketch(stored_train_kmv, sh3(btrain_s), "term", k=_KMV_K),
        stored_test_kmv,
        _KMV_K,
    ).select(
        F.col("inter_est").alias("resid_inter_est"),
        F.col("jaccard_est").alias("resid_jaccard_est"),
    )
    cnts = (
        batch.agg(F.count("*").alias("n_batch_in"))
        .crossJoin(dup_ids.agg(F.count("*").alias("n_dup_dropped")))
        .crossJoin(
            bkept.filter(is_test).agg(F.count("*").alias("n_test_held_out"))
        )
        .crossJoin(bcontam.agg(F.count("*").alias("n_contam_dropped")))
        .crossJoin(
            btrainf.filter(~F.col("_q_pass")).agg(
                F.count("*").alias("n_quality_dropped")
            )
        )
        .crossJoin(bdsir_drop.agg(F.count("*").alias("n_dsir_dropped")))
    )
    packs = pack_sequences(btrain_s, text="clean_text", base_offsets=cursor)
    return (
        packs.crossJoin(F.broadcast(cnts.crossJoin(resid)))
        .repartition(1)
        .sortWithinPartitions("shard_id", "pack_id", "doc_id")
    )


# =========================================================================
# quality_classifier_score — the TRAINABLE quality filter: a fastText-style
# linear classifier fit driver-side on a bounded sample (the
# pq_train_codebooks pattern), weights persisted via the validated JSON
# sidecar (the ann_pca_ivf_recall pattern: the fit's output becomes DATA
# the oracle reads back), applied as a literal-folded scan-stage
# expression. Only the numpy gradient descent stays outside the hash
# match; features, logit fold, and the keep decision are all replayed by
# DuckDB bit-for-bit. A corpus fingerprint rides in the sidecar and gates
# the oracle's SELECT, so a stale sidecar (another sf's gate, an
# oracle-only replay) yields 0 rows — a loud row-count mismatch, never a
# silent plausible match.

_QCLF_SIDECAR = str(
    Path(__file__).resolve().parents[2]
    / "spark-warehouse"
    / "quality_classifier_weights.json"
)


def _qclf_oracle() -> str:
    from ctcityscraper_spark.operators.text import quality_feature_sqls

    f1, f2, f3, f4, f5 = quality_feature_sqls("text")
    logit = (
        f"wv[6] + wv[1] * {f1} + wv[2] * {f2} + wv[3] * {f3}"
        f" + wv[4] * {f4} + wv[5] * {f5}"
    )
    return f"""
    WITH w AS (
        SELECT (data[1])::DOUBLE[] AS wv FROM read_json('{_QCLF_SIDECAR}')),
    scored AS (
        SELECT doc_id, {logit} AS logit
        FROM documents, w
        WHERE doc_id IS NOT NULL AND text IS NOT NULL)
    SELECT doc_id, logit, logit > 0 AS keep
    FROM scored
    WHERE EXISTS (
        SELECT 1
        FROM read_json('{_QCLF_SIDECAR}') sj,
             (SELECT count(*) AS n, sum(doc_id) AS s FROM documents
              WHERE doc_id IS NOT NULL AND text IS NOT NULL) cur
        WHERE sj.fingerprint_n = cur.n AND sj.fingerprint_s = cur.s)
    ORDER BY doc_id
    """


@query("quality_classifier_score", oracle=_qclf_oracle())
def q_quality_classifier_score(spark, sf_dir):
    """Trained quality classifier end-to-end (operators/text.
    train_quality_classifier -> save_vectors_json ->
    quality_classifier_logit_col): fit a linear model on a 2000-row
    hash-picked sample under weak supervision by the fixed heuristic
    (quality_score >= 0.45, the fixture's score median so both classes
    exist — distillation of the hand-tuned filter into
    a trainable form, the CCNet-style bootstrap; swap the ``labels``
    Column for human/LLM labels when they exist), persist [w1..w5, b]
    to the sidecar, then score EVERY document with the literal-folded
    logit (b + Σ w·f, left-to-right — the logit, not the sigmoid:
    exp() is not bit-portable across engines and the logit is
    ranking-equivalent with keep = logit > 0 ≡ p > 0.5).

    At 100 TB: training collects exactly sample_n feature rows
    (TakeOrderedAndProject); scoring is whole-stage-codegen arithmetic
    in the scan stage — the weights are six plan literals, zero Python,
    zero shuffle (the terminal sort here is presentation-only)."""
    from ctcityscraper_spark.operators.similarity import save_vectors_json
    from ctcityscraper_spark.operators.text import (
        quality_classifier_logit_col,
        quality_score_col,
        train_quality_classifier,
    )

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    valid = docs.filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    weights = train_quality_classifier(
        valid, labels=quality_score_col("text") >= 0.45
    )
    fp = valid.agg(
        F.count("*").alias("n"), F.sum("doc_id").alias("s")
    ).collect()[0]
    Path(_QCLF_SIDECAR).parent.mkdir(parents=True, exist_ok=True)
    save_vectors_json(
        [weights],
        _QCLF_SIDECAR,
        kind="quality_classifier",
        extra={"fingerprint_n": int(fp.n), "fingerprint_s": int(fp.s)},
    )
    logit = quality_classifier_logit_col("text", weights)
    return (
        valid.select(
            "doc_id",
            logit.alias("logit"),
            (logit > 0).alias("keep"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


# quality_classifier_eval — the held-out evaluation of the trained filter:
# train on one hash split, score the OTHER, report integer confusion
# counts against the teacher plus one exact-division accuracy. The number
# a pipeline owner reads before trusting the classifier's keep decisions
# (and the regression guard when retraining on fresh labels). Separate
# sidecar from quality_classifier_score so the two gate queries never
# race on one file; the fingerprint covers the TRAIN universe, so a
# stale sidecar (weights fit on a different split or corpus) yields 0
# oracle rows.

_QCLF_EVAL_SIDECAR = str(
    Path(__file__).resolve().parents[2]
    / "spark-warehouse"
    / "quality_classifier_weights_eval.json"
)


def _qclf_eval_oracle() -> str:
    from ctcityscraper_spark.operators.text import quality_feature_sqls

    f1, f2, f3, f4, f5 = quality_feature_sqls("text")
    logit = (
        f"wv[6] + wv[1] * {f1} + wv[2] * {f2} + wv[3] * {f3}"
        f" + wv[4] * {f4} + wv[5] * {f5}"
    )
    # 0.45 splits the fixture near its score median, so BOTH classes
    # exist in training and eval (at 0.6 every doc is negative and the
    # confusion matrix degenerates to all-tn accuracy 1.0 — correct but
    # uninformative); production swaps the teacher for real labels
    label = f"({quality_score_sql('text')}) >= 0.45"
    return f"""
    WITH w AS (
        SELECT (data[1])::DOUBLE[] AS wv
        FROM read_json('{_QCLF_EVAL_SIDECAR}')),
    ev AS (
        SELECT ({logit}) > 0 AS pred, {label} AS y
        FROM documents, w
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
          AND {hash64_sql('doc_id', 'qeval')} % 2 = 0),
    cm AS (
        SELECT count(*) AS n_eval,
               CAST(sum(CASE WHEN pred AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN pred AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN NOT pred AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(sum(CASE WHEN NOT pred AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn
        FROM ev)
    SELECT n_eval, tp, fp, fn, tn, (tp + tn) / n_eval AS accuracy
    FROM cm
    WHERE EXISTS (
        SELECT 1
        FROM read_json('{_QCLF_EVAL_SIDECAR}') sj,
             (SELECT count(*) AS n, sum(doc_id) AS s FROM documents
              WHERE doc_id IS NOT NULL AND text IS NOT NULL
                AND {hash64_sql('doc_id', 'qeval')} % 2 != 0) cur
        WHERE sj.fingerprint_n = cur.n AND sj.fingerprint_s = cur.s)
    """


@query("quality_classifier_eval", oracle=_qclf_eval_oracle())
def q_quality_classifier_eval(spark, sf_dir):
    """Held-out evaluation of the trainable quality filter: the model
    fits on the hash-split TRAIN half (operators/text.
    train_quality_classifier — weak teacher labels, the
    quality_classifier_score pattern) and is scored on the EVAL half it
    never saw: one row of integer confusion counts (tp/fp/fn/tn vs the
    teacher) plus accuracy as one exact division — cross-engine exact
    end-to-end (integer sums are aggregation-order-independent; only
    the numpy fit stays outside the hash). This is the number a
    pipeline owner reads before trusting keep decisions, and the
    regression guard when retraining; swap the labels Column for
    human/LLM labels and the same query becomes a real eval harness.
    At 100 TB: training collects sample_n rows, eval is one
    scan-stage pass + one aggregate over the eval split."""
    from ctcityscraper_spark.operators.similarity import save_vectors_json
    from ctcityscraper_spark.operators.text import (
        quality_classifier_logit_col,
        quality_score_col,
        train_quality_classifier,
    )

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    valid = docs.filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    is_eval = hash64(F.col("doc_id"), "qeval") % 2 == 0
    train = valid.filter(~is_eval)
    teacher = quality_score_col("text") >= 0.45  # median split, see oracle
    weights = train_quality_classifier(train, labels=teacher)
    fp = train.agg(
        F.count("*").alias("n"), F.sum("doc_id").alias("s")
    ).collect()[0]
    Path(_QCLF_EVAL_SIDECAR).parent.mkdir(parents=True, exist_ok=True)
    save_vectors_json(
        [weights],
        _QCLF_EVAL_SIDECAR,
        kind="quality_classifier",
        extra={"fingerprint_n": int(fp.n), "fingerprint_s": int(fp.s)},
    )
    pred = quality_classifier_logit_col("text", weights) > 0
    y = teacher
    cm = valid.filter(is_eval).agg(
        F.count("*").alias("n_eval"),
        F.sum((pred & y).cast("int")).alias("tp"),
        F.sum((pred & ~y).cast("int")).alias("fp"),
        F.sum((~pred & y).cast("int")).alias("fn"),
        F.sum((~pred & ~y).cast("int")).alias("tn"),
    )
    return cm.select(
        "n_eval",
        "tp",
        "fp",
        "fn",
        "tn",
        ((F.col("tp") + F.col("tn")) / F.col("n_eval")).alias("accuracy"),
    )


# ================================================================== DSIR


_DSIR_B = 2048
# The catalog's target domain: English documents (NULL lang = not target).
_DSIR_TGT = "coalesce(lang = 'en', FALSE)"


def _dsir_scored_sql(n_buckets: int, tgt_pred: str, ngram: int = 1) -> str:
    """WITH-chain replaying corpus.dsir_importance: hashed-bucket feature
    stream (nonempty unigrams; plus adjacent bigrams over the same
    filtered token list at ``ngram=2`` — corpus._dsir_term_stream's
    twin), raw + target bucket models with add-one smoothing, per-bucket
    quantized bit-widths, per-doc exact integer weight. Ends at CTE
    ``scored`` = (doc_id, n_tokens, weight_bits)."""
    bigram_leg = f"""
        UNION ALL
        SELECT doc_id, is_target,
               unnest(list_transform(
                   range(1, greatest(len(tk) - 1, 0) + 1),
                   i -> tk[i] || ' ' || tk[i + 1])) AS term
        FROM tkf""" if ngram == 2 else ""
    return f"""tkf AS (
        SELECT doc_id, {tgt_pred} AS is_target,
               list_filter({TOKS}, t -> t != '') AS tk
        FROM documents),
    toks0 AS (
        SELECT doc_id, is_target, unnest(tk) AS term FROM tkf{bigram_leg}),
    toks AS (
        SELECT doc_id, is_target,
               {hash64_sql('term', 'dsir')} % {n_buckets} AS b
        FROM toks0),
    doc_b AS (
        SELECT doc_id, b, count(*) AS c_db FROM toks GROUP BY doc_id, b),
    model AS (
        SELECT b, count(*) AS c_r,
               SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_t
        FROM toks GROUP BY b),
    tot AS (SELECT SUM(c_r) AS t_r, SUM(c_t) AS t_t FROM model),
    bits AS (
        SELECT b,
               length(bin((t_r + {n_buckets}) // (c_r + 1)))::BIGINT AS bits_r,
               length(bin((t_t + {n_buckets}) // (c_t + 1)))::BIGINT AS bits_t
        FROM model CROSS JOIN tot),
    scored AS (
        SELECT doc_id,
               SUM(c_db)::BIGINT AS n_tokens,
               SUM(c_db * (bits_r - bits_t))::BIGINT AS weight_bits
        FROM doc_b JOIN bits USING (b) GROUP BY doc_id)"""


@query(
    "corpus_dsir_importance",
    oracle=f"""
    WITH {_dsir_scored_sql(_DSIR_B, _DSIR_TGT)}
    SELECT doc_id, n_tokens, weight_bits, rk::INT AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (
            ORDER BY weight_bits DESC, doc_id) AS rk FROM scored)
    WHERE rk <= 100 ORDER BY rank
    """,
)
def q_corpus_dsir_importance(spark, sf_dir):
    """DSIR importance resampling (operators/corpus.dsir_importance — Xie
    et al. 2023): score every raw document by the quantized log-ratio of
    a hashed-unigram TARGET model (English docs here) over the raw-corpus
    model, keep the top 100 — the data-selection primitive for "find me
    more text like my high-quality seed set" at pretraining scale. The
    log-probs are quantized to integer bit-widths (the unigram_surprisal
    rule) so the weights are exact integers, bit-identical in DuckDB.
    Shapes: two mergeable groupBys (per-doc-bucket, <=B-row model),
    broadcast model join, distributed top-k."""
    from ctcityscraper_spark.operators.corpus import dsir_select_top

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return dsir_select_top(
        docs, F.col("lang") == "en", m=100, n_buckets=_DSIR_B
    ).repartition(1).sortWithinPartitions("rank")


@query(
    "corpus_dsir_shift",
    oracle=f"""
    WITH {_dsir_scored_sql(_DSIR_B, _DSIR_TGT)},
    sel AS (
        SELECT doc_id FROM (
            SELECT doc_id, ROW_NUMBER() OVER (
                ORDER BY weight_bits DESC, doc_id) AS rk FROM scored)
        WHERE rk <= 150)
    SELECT d.lang, count(*)::BIGINT AS n_docs,
           count(s.doc_id)::BIGINT AS n_selected
    FROM documents d LEFT JOIN sel s USING (doc_id)
    GROUP BY d.lang ORDER BY d.lang NULLS FIRST
    """,
)
def q_corpus_dsir_shift(spark, sf_dir):
    """Selection-shift audit for DSIR: per-language corpus counts vs
    how many of each language the top-150 importance selection kept —
    the one-look sanity check that the selection actually moved toward
    the target domain (n_selected concentrates on the target language)
    instead of sampling uniformly. Anti-join-free: one left join of the
    bounded selection ids onto the corpus and a language groupBy."""
    from ctcityscraper_spark.operators.corpus import dsir_select_top

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    sel = dsir_select_top(
        docs, F.col("lang") == "en", m=150, n_buckets=_DSIR_B
    ).select("doc_id")
    return (
        docs.join(sel.withColumn("_s", F.lit(1)), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("_s").alias("n_selected"),
        )
        .repartition(1)
        .sortWithinPartitions(F.col("lang").asc_nulls_first())
    )


@query(
    "corpus_dsir_bigram",
    oracle=f"""
    WITH {_dsir_scored_sql(_DSIR_B, _DSIR_TGT, ngram=2)}
    SELECT doc_id, n_tokens, weight_bits, rk::INT AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (
            ORDER BY weight_bits DESC, doc_id) AS rk FROM scored)
    WHERE rk <= 100 ORDER BY rank
    """,
)
def q_corpus_dsir_bigram(spark, sf_dir):
    """DSIR at the paper's actual feature space (Xie et al. 2023 hash
    unigrams AND adjacent bigrams into one bucket space): the same
    quantized importance weights as corpus_dsir_importance with
    ngram=2 — bigrams sharpen the domain signal because word ORDER is
    domain-specific where bag-of-words is not. The feature stream
    roughly doubles; the model state stays ≤ n_buckets rows (hashing
    bounds it), so every 100 TB shape bound is unchanged."""
    from ctcityscraper_spark.operators.corpus import dsir_select_top

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    return dsir_select_top(
        docs, F.col("lang") == "en", m=100, n_buckets=_DSIR_B, ngram=2
    ).repartition(1).sortWithinPartitions("rank")


@query(
    "corpus_dsir_incremental",
    oracle=f"""
    WITH {_dsir_scored_sql(_DSIR_B, _DSIR_TGT)}
    SELECT doc_id, n_tokens, weight_bits, rk::INT AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (
            ORDER BY weight_bits DESC, doc_id) AS rk FROM scored)
    WHERE rk <= 100 ORDER BY rank
    """,
)
def q_corpus_dsir_incremental(spark, sf_dir):
    """Incremental DSIR maintenance (operators/corpus.dsir_bucket_model /
    sum_dsir_models / dsir_score_with_model): the selection model is
    built on an 80% base split, the 20% delta batch contributes its own
    ≤ B-row model delta (one token pass over the batch — the base corpus
    is never re-read), the two merge by SUM, and the corpus is scored
    against the merged stored model. The oracle is the ONE-SHOT
    corpus_dsir_importance replay — a value-hash match therefore proves
    model(base) + model(delta) == model(base ∪ delta) bit-for-bit AND
    that stored-model scoring (left join + smoothing floor) equals
    direct scoring. Output shape matches corpus_dsir_importance."""
    from pyspark.sql import Window

    from ctcityscraper_spark.functions.hashing import hash64
    from ctcityscraper_spark.operators.corpus import (
        dsir_bucket_model,
        dsir_score_with_model,
        sum_dsir_models,
    )

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), spark)
    tgt = F.col("lang") == "en"
    bucket = hash64(F.col("doc_id"), "dsirsplit") % 5
    base, delta = docs.filter(bucket != 0), docs.filter(bucket == 0)
    model = sum_dsir_models(
        dsir_bucket_model(base, tgt, n_buckets=_DSIR_B).unionByName(
            dsir_bucket_model(delta, tgt, n_buckets=_DSIR_B)
        )
    )
    scored = dsir_score_with_model(docs, model, n_buckets=_DSIR_B)
    top = scored.orderBy(F.col("weight_bits").desc(), "doc_id").limit(100)
    w = Window.orderBy(F.col("weight_bits").desc(), "doc_id")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("doc_id", "n_tokens", "weight_bits", "rank")
        .repartition(1)
        .sortWithinPartitions("rank")
    )

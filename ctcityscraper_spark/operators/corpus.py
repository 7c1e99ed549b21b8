"""Corpus-preparation operators for large-scale training-data pipelines.

The four families a pretraining data pipeline runs between raw scrape and
tokenizer, beyond whole-document dedup (operators/dedup.py):

- **segment (line) dedup**: CCNet-style boilerplate removal — split each
  document into segments, drop segments that repeat across many documents
  (navigation chrome, license headers), reassemble the rest in order.
- **repetition signals**: Gopher-style within-document repetition quality
  metrics (top-word fraction, duplicate 2-gram fraction) used as filters.
- **PII scrub**: regex redaction of emails / IPv4s / phone numbers with
  per-document match counts, all RE2-safe patterns so the DuckDB oracle
  evaluates the identical expressions.
- **deterministic sampling & splits**: hash-based stratified sampling with
  per-stratum mixing weights, hash-based train/test splits, and train→test
  n-gram contamination detection.

Every float is a single exact division of integer counts, every random
choice is the cross-engine ``hash64`` primitive (functions/hashing.py), so
each operator has a bit-identical DuckDB twin under the oracle gate.

Scale notes are per-operator; nothing here collects to the driver, and the
only joins are equi-joins on segment/shingle hashes or doc ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ctcityscraper_spark.functions.exprs import bind_once
from ctcityscraper_spark.functions.hashing import hash64
from ctcityscraper_spark.functions.localdf import local_rows_df
from ctcityscraper_spark.operators.artifacts import persist_tracked
from ctcityscraper_spark.operators.dedup import doc_shingles
from ctcityscraper_spark.operators.text import tokens_col

SEGMENT_WIDTH = 4  # words per segment (a "line" in this whitespace corpus)
BOILER_MIN_DOCS = 3  # a segment seen in >= this many docs is boilerplate

# RE2-safe PII patterns (no backrefs / lookaround): evaluate identically
# under Java regex (Spark) and RE2 (DuckDB). Redaction order matters —
# emails first (they contain dots and digits), then IPs, then phones.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+[0-9][0-9() -]{6,}[0-9]", "<PHONE>"),
]

SAMPLE_MOD = 1_000_000  # hash-uniform resolution for sampling rates


def segments(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    width: int = SEGMENT_WIDTH,
) -> DataFrame:
    """(doc_id, pos, segment): non-overlapping ``width``-word chunks.

    In a corpus with real line structure the splitter would be
    ``split(text, '\\n')``; this synthetic corpus is single-line, so fixed
    word windows stand in for lines — the dedup semantics downstream are
    identical. Pure expressions inside the scan stage; the explode output is
    ~1 row per ``width`` words, so the blow-up factor is bounded by design.
    """
    # let-bind the token array: the per-segment lambda must slice a bound
    # variable, not re-run the whitespace split per segment (bind_once —
    # the shingles_col lesson, same O(tokens²) shape otherwise)
    def make_segs(toks):
        n_seg = F.floor(
            (F.size(toks) + (width - 1)) / F.lit(width)
        ).cast("int")
        segs = F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i * width + 1, width)),
        )
        return F.when(n_seg >= 1, segs).otherwise(F.array())

    return df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(bind_once(tokens_col(text), make_segs)).alias(
            "pos", "segment"
        ),
    )


def boilerplate_segments(
    seg: DataFrame, min_docs: int = BOILER_MIN_DOCS
) -> DataFrame:
    """(segment, n_docs) for segments appearing in >= ``min_docs`` documents.

    One shuffle on the segment string (at 100 TB: on md5(segment) — same
    plan shape). The output is small by construction — only segments hot
    enough to be boilerplate — so callers can broadcast it.
    """
    return (
        seg.select("segment", "doc_id")
        .distinct()
        .groupBy("segment")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_boilerplate(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    width: int = SEGMENT_WIDTH,
    min_docs: int = BOILER_MIN_DOCS,
    hot: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style segment dedup: drop cross-document repeated segments.

    Returns (doc_id, n_segments, n_dropped, clean_text) for every input
    document — a fully-boilerplate document survives with clean_text ''.

    Plan: segment explode -> broadcast anti-flag against the (small) hot
    set -> one groupBy(doc_id) reassembling surviving segments in position
    order. Two shuffles total (hot-set agg + reassembly); the reassembly
    collect_list is per-document, bounded by document length.

    ``hot`` is the delta path: a precomputed hot-segment frame (any frame
    with a ``segment`` column — e.g. yesterday's ``boilerplate_segments``
    output read from storage) is APPLIED without recomputing corpus-wide
    segment frequencies, so a nightly batch pays only its own segment
    explode + the broadcast anti-flag. The policy trade is explicit:
    between hot-list refreshes, new boilerplate that only emerges in
    recent batches is not yet dropped (recompute cadence is the knob).
    """
    seg = segments(df, text, id_col, width)
    if hot is None:
        hot = boilerplate_segments(seg, min_docs)
    else:
        # stored lists are distinct by construction (groupBy output), but a
        # duplicated segment row here would fan out the flag join — guard
        hot = hot.select("segment").distinct()
    hot = hot.select("segment", F.lit(True).alias("is_boiler"))
    flagged = seg.join(F.broadcast(hot), "segment", "left").select(
        "doc_id", "pos", "segment", F.coalesce("is_boiler", F.lit(False)).alias("is_boiler")
    )
    # collect ONLY the surviving segments: collect_list skips the nulls
    # the when() emits for boilerplate rows, so dropped segments never
    # enter the aggregation buffers or ride the partial-aggregate shuffle
    # payload (r15; guide §2.3 — the old form collected every segment and
    # filtered after the sort). pos is unique per doc, so the (pos,
    # segment) sort order is identical to the old 3-field sort.
    kept = F.array_sort(
        F.collect_list(F.when(~F.col("is_boiler"), F.struct("pos", "segment")))
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.col("is_boiler").cast("int")).alias("n_dropped"),
        F.array_join(F.transform(kept, lambda x: x["segment"]), " ").alias(
            "clean_text"
        ),
    )


def repetition_signals(
    df: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style within-document repetition metrics.

    (doc_id, n_words, distinct_word_frac, top_word_frac, dup_2gram_frac):
    high top-word or duplicate-2-gram fractions mark degenerate repetitive
    documents that inflate perplexity-filter costs downstream.

    Scale: word stats via explode -> two-level aggregation (partial
    map-side combine on (doc_id, word), then doc_id) — never a per-doc
    O(n²) expression; the 2-gram fraction is a linear pure-column pass.
    """
    toks = tokens_col(text)

    # let-bind the token array (bind_once — the shingles_col lesson): the
    # bigram lambda reads a bound variable instead of re-splitting per
    # element
    def dup_frac(tk):
        grams = F.transform(
            F.slice(tk, 1, F.size(tk) - 1),
            lambda x, i: F.concat_ws(" ", x, F.element_at(tk, i + 2)),
        )
        return (
            F.when(
                F.size(tk) >= 2,
                F.lit(1.0)
                - F.size(F.array_distinct(grams)) / F.size(grams),
            )
            .otherwise(F.lit(0.0))
        )

    gram_stats = df.select(
        F.col(id_col).alias("doc_id"),
        bind_once(toks, dup_frac).alias("dup_2gram_frac"),
    )
    words = df.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("word"))
    word_stats = (
        words.groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            (F.count("*") / F.sum("cnt")).alias("distinct_word_frac"),
            (F.max("cnt") / F.sum("cnt")).alias("top_word_frac"),
        )
    )
    return word_stats.join(gram_stats, "doc_id")


def pii_scrub(df: DataFrame, text: str = "text") -> DataFrame:
    """Redact emails / IPv4s / phones; count matches per document.

    Adds ``redacted`` plus one ``n_<kind>`` count column per pattern.
    Counts are over the original text (independent per pattern); redaction
    applies patterns in PII_PATTERNS order. Pure regexp expressions in the
    scan stage — zero shuffles, zero UDFs at any scale.
    """
    c = F.col(text)
    out = df
    for kind, pat, _ in PII_PATTERNS:
        # regexp_count == size(regexp_extract_all(.., 0)) by definition
        # (same Matcher.find loop) without materializing the match array
        out = out.withColumn(f"n_{kind}", F.regexp_count(c, F.lit(pat)))
    red = c
    for _, pat, token in PII_PATTERNS:
        red = F.regexp_replace(red, pat, token)
    return out.withColumn("redacted", red)


def stratified_sample(
    df: DataFrame,
    weights: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "sample",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic hash-based stratified sampling with mixing weights.

    Keeps a row iff ``hash64(seed, id) % 1e6 < rate(stratum) * 1e6`` — the
    standard reproducible data-mixing primitive: exact re-runs, no RNG
    state, rates adjustable per stratum without reshuffling. Pure filter in
    the scan stage; at 100 TB this is the cheapest possible sampler (no
    shuffle, no sort, prunes before any downstream work).
    """
    thresholds = {k: int(round(v * SAMPLE_MOD)) for k, v in weights.items()}
    default_thresh = F.lit(int(round(default_rate * SAMPLE_MOD)))
    if thresholds:
        mapping = F.create_map(
            *[F.lit(x) for kv in thresholds.items() for x in kv]
        )
        thresh = F.coalesce(mapping[F.col(strata_col)], default_thresh)
    else:
        # empty map() is VOID-typed and map()[k] fails analysis; with no
        # per-stratum overrides the threshold is just the default
        thresh = default_thresh
    u = hash64(F.col(id_col), seed) % SAMPLE_MOD
    return df.filter(u < thresh)


def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    seed: str = "shard",
) -> DataFrame:
    """Deterministic global shuffle into fixed training shards.

    Adds ``shard_id`` (hash64 % n_shards) and ``shard_pos`` (a second
    independent hash) — sorting by (shard_id, shard_pos) is a reproducible
    global permutation, the standard pretraining shard layout: examples
    from the same source end up scattered, re-runs produce byte-identical
    shards, and shard count is fixed up front so downstream loaders can
    address them. Writing is ``.repartition(n_shards, 'shard_id')`` +
    ``sortWithinPartitions('shard_pos')`` — exactly one shuffle at any
    scale, no global sort.
    """
    return df.withColumn(
        "shard_id", (hash64(F.col(id_col), seed) % n_shards).cast("int")
    ).withColumn("shard_pos", hash64(F.col(id_col), f"{seed}_pos"))


def write_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    seed: str = "shard",
) -> None:
    """Materialize ``shuffle_shards`` as one sorted parquet file per shard."""
    (
        shuffle_shards(df, n_shards, id_col, seed)
        .repartition(n_shards, "shard_id")
        .sortWithinPartitions("shard_id", "shard_pos")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )


def sample_k_per_group(
    df: DataFrame,
    k: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "groupk",
) -> DataFrame:
    """Deterministic uniform sample of exactly k rows per group.

    Rank rows within each group by an id hash (a reproducible random
    order) and keep rank <= k — the standard eval-set / per-source quota
    primitive. One window shuffle on the group key; with G groups the
    output is exactly min(k, |group|) rows per group, stable across
    re-runs and engines (ties impossible: the hash ranks over unique ids,
    with the id itself as final tie-break).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        hash64(F.col(id_col), seed), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def train_test_split(
    df: DataFrame, id_col: str = "doc_id", seed: str = "split", test_mod: int = 10
) -> DataFrame:
    """Adds ``is_test``: deterministic 1/test_mod holdout by id hash."""
    return df.withColumn("is_test", hash64(F.col(id_col), seed) % test_mod == 0)


def contamination_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    seed: str = "split",
    test_mod: int = 10,
    df_cap: int | None = 1000,
) -> DataFrame:
    """Train→test leakage: (test_doc, train_doc, n_shared) word-n-gram overlaps.

    The standard pretraining contamination check: a held-out document
    sharing long n-grams with a training document is compromised. Inverted
    n-gram index joined test-side × train-side — candidates only where a
    shingle collides, never all pairs. ``df_cap`` drops shingles whose
    corpus-wide document frequency exceeds the cap before the join (the
    same Σ bucket² guard as ngram_jaccard_pairs), so no boilerplate
    shingle can go quadratic at 100 TB.
    """
    sh = doc_shingles(df, text, id_col, n)
    if df_cap is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df_count"))
            .filter(F.col("df_count") > df_cap)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sh = sh.withColumn("is_test", hash64(F.col("doc_id"), seed) % test_mod == 0)
    test = sh.filter(F.col("is_test")).select(
        F.col("doc_id").alias("test_doc"), "shingle"
    )
    train = sh.filter(~F.col("is_test")).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    return (
        test.join(train, "shingle")
        .groupBy("test_doc", "train_doc")
        .agg(F.count("*").alias("n_shared"))
    )


def contaminated_train_ids(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    seed: str = "split",
    test_mod: int = 10,
    df_cap: int | None = 1000,
) -> DataFrame:
    """Distinct contaminated train-doc ids: exactly
    ``contamination_pairs(...).select(train_doc).distinct()`` without ever
    materializing the test×train pair explosion.

    A train doc is contaminated iff it shares at least one sub-cap shingle
    with at least one test doc, so the per-pair counts are irrelevant to
    the id set. One aggregate per shingle — ``(df_count, any_test)``, both
    partial-aggregation friendly, so the shuffle carries per-map-task
    partials, never the raw index — yields the qualifying-shingle list
    (``df_count <= df_cap`` folds the hot-cap guard into the same pass);
    a left-semi join of the train-side index against it, then distinct,
    gives the ids. Versus the pair form: one fewer explode pass over the
    text, no Σ test_bucket × train_bucket intermediate, and the worst-case
    aggregation state per shingle is two longs (the pair form's df-cap
    pre-pass stays implicit here for the same reason: no collect buffers).
    """
    sh = doc_shingles(df, text, id_col, n).withColumn(
        "is_test", hash64(F.col("doc_id"), seed) % test_mod == 0
    )
    agg = sh.groupBy("shingle").agg(
        F.count("*").alias("df_count"), F.max("is_test").alias("any_test")
    )
    cond = F.col("any_test")
    if df_cap is not None:
        cond = cond & (F.col("df_count") <= df_cap)
    idx = agg.filter(cond).select("shingle")
    return (
        sh.filter(~F.col("is_test"))
        .join(idx, "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )


# GPT-2-style pre-tokenizer split (lookaheads removed so the identical
# pattern runs under Java regex and DuckDB's RE2); shared with the
# text_bpe_token_count catalog query.
BPE_SPLIT_RE = r" ?[0-9]+| ?[A-Za-z]+| ?[^A-Za-z0-9\s]+"

PACK_SEQ_LEN = 512
PACK_SHARDS = 8


def pack_sequences(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    seq_len: int = PACK_SEQ_LEN,
    num_shards: int = PACK_SHARDS,
    seed: str = "pack",
    base_offsets: DataFrame | None = None,
    shard_col: str | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """Concat-then-chunk sequence packing: the map from documents to
    fixed-length training sequences.

    The standard pretraining batch-prep step: documents are concatenated
    into one token stream and cut every ``seq_len`` tokens; a document
    spanning a cut contributes its tail to the next sequence. Output is
    the assignment table ``(shard_id, pack_id, doc_id, offset_in_pack,
    n_tokens)`` — one row per (document, sequence it touches) — which is
    exactly what a loader needs to assemble sequence tensors, and what an
    attrition audit needs to trace a training token back to its source.

    Scale design: packing is inherently sequential, so the stream is
    deterministically sharded first (``hash64(id) % num_shards``) and each
    shard packs independently — the cumulative-offset window is
    ``partitionBy(shard)``, ONE shuffle on the shard key and parallelism =
    ``num_shards`` (tens of thousands at 100 TB, each shard a bounded
    token budget). No collect, no global sort: chunk assignment per doc is
    pure arithmetic on the running offset, and the span explode
    (`F.sequence`) is narrow. Token counts use the BPE-ish pre-tokenizer
    regex inside the scan stage.

    ``base_offsets`` is the pack-CONTINUATION delta path: a per-shard
    cursor frame ``(shard_id, base_off)`` — the previous run's per-shard
    packed-token totals read from storage — shifts every offset so
    tonight's batch appends to the existing token stream (a batch doc can
    land mid-way through the stored run's last partial pack, exactly as a
    full rerun over old+new would place it when new ids sort after old).
    The batch pays only its own window; shards absent from the cursor
    start at 0. The frame is ≤ num_shards rows, so it broadcasts.

    ``shard_col`` / ``order_col`` override the hash shard and the
    in-shard doc_id order with caller columns — the CURRICULUM packing
    path (``corpus_curriculum_pack``): shard by curriculum stage and
    pack in curriculum_rank order, so the emitted sequences feed the
    trainer in the schedule `curriculum_order` chose. Same plan shape
    (one window per shard partition); the caller owns shard balance.
    """
    shard = (
        F.col(shard_col).cast("int")
        if shard_col
        else (hash64(F.col(id_col), seed) % num_shards).cast("int")
    )
    order_cols = [F.col(order_col).alias("_ord")] if order_col else []
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        shard.alias("shard_id"),
        *order_cols,
        # regexp_count: same match count as size(regexp_extract_all)
        # without materializing the token array (pure count use)
        F.regexp_count(text, F.lit(BPE_SPLIT_RE))
        .cast("long")
        .alias("n_tok"),
    ).filter(F.col("n_tok") > 0)

    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard_id")
        .orderBy("_ord" if order_col else "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = toks.withColumn("end_off", F.sum("n_tok").over(w)).withColumn(
        "start_off", F.col("end_off") - F.col("n_tok")
    )
    if base_offsets is not None:
        # cursor hygiene: exact duplicate rows collapse (an accidental
        # double-append of the cursor parquet must not fan the join out
        # and double every pack row), and CONFLICTING duplicates — two
        # different base_offs for one shard — fail the job loudly via
        # raise_error instead of silently mis-packing under whichever
        # row the join happened to pick
        base = (
            base_offsets.select(
                F.col("shard_id").cast("int").alias("shard_id"),
                F.col("base_off").cast("long").alias("base_off"),
            )
            .distinct()
            .groupBy("shard_id")
            .agg(F.count("*").alias("__n"), F.max("base_off").alias("base_off"))
            .select(
                "shard_id",
                F.when(
                    F.col("__n") > 1,
                    F.raise_error(
                        F.concat(
                            F.lit("conflicting base_off rows for shard_id "),
                            F.col("shard_id").cast("string"),
                            F.lit(" in pack_sequences base_offsets"),
                        )
                    ).cast("long"),
                )
                .otherwise(F.col("base_off"))
                .alias("base_off"),
            )
        )
        spans = (
            spans.join(F.broadcast(base), "shard_id", "left")
            .withColumn("__base", F.coalesce("base_off", F.lit(0)))
            .withColumn("end_off", F.col("end_off") + F.col("__base"))
            .withColumn("start_off", F.col("start_off") + F.col("__base"))
            .drop("base_off", "__base")
        )
    packs = spans.select(
        "shard_id",
        "doc_id",
        "start_off",
        "end_off",
        F.explode(
            F.sequence(
                F.expr(f"start_off div {seq_len}"),
                F.expr(f"(end_off - 1) div {seq_len}"),
            )
        ).alias("pack_id"),
    )
    lit_len = F.lit(seq_len).cast("long")
    pack_start = F.greatest(F.col("start_off"), F.col("pack_id") * lit_len)
    pack_end = F.least(F.col("end_off"), (F.col("pack_id") + 1) * lit_len)
    return packs.select(
        "shard_id",
        "pack_id",
        "doc_id",
        (pack_start - F.col("pack_id") * lit_len).alias("offset_in_pack"),
        (pack_end - pack_start).alias("n_tokens"),
    )


def mixture_resample(
    df: DataFrame,
    weights: dict[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    seed: str = "mix",
    mod: int = SAMPLE_MOD,
) -> DataFrame:
    """Deterministic dataset mixing: resample strata to target weights.

    The pretraining "data mixture" step: given target proportions per
    stratum (language / source / domain), emit each document
    ``floor(rate)`` times plus one more for a deterministic
    ``hash64(id) % mod < frac(rate)·mod`` fraction of ids, where
    ``rate = weight·N_total / n_stratum``. Over-represented strata are
    downsampled (rate < 1: keep-probability), under-represented strata
    are upsampled epoch-style (rate > 1: integer repeats + fractional
    epoch) — the output mixture matches the weights in expectation while
    every decision is a pure function of the id, so re-runs are
    byte-identical and resampling is audit-able per document. Strata
    missing from ``weights`` get weight 0 (dropped).

    Scale design: one aggregation shuffle for the per-stratum counts
    (corpus total via a window over that tiny frame, never a driver
    ``count()``), rates broadcast-joined back, repeats exploded narrowly
    via ``F.sequence``. No collect, no skew: output rows per stratum are
    bounded by weight·N_total by construction.
    """
    from pyspark.sql import Window

    counts = df.groupBy(stratum_col).agg(F.count("*").alias("n_s"))
    counts = counts.withColumn(
        "n_total", F.sum("n_s").over(Window.partitionBy())
    )
    wmap = F.create_map(
        *[F.lit(x) for k, v in weights.items() for x in (k, float(v))]
    )
    rates = counts.withColumn(
        "rate", wmap[F.col(stratum_col)] * F.col("n_total") / F.col("n_s")
    ).select(stratum_col, "rate")
    joined = df.join(F.broadcast(rates), stratum_col)
    base = F.floor("rate")
    thresh = F.floor((F.col("rate") - F.floor("rate")) * F.lit(mod)).cast("long")
    n_copies = base + F.when(
        hash64(F.col(id_col), seed) % mod < thresh, 1
    ).otherwise(0)
    return (
        joined.withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") > 0)
        .select(
            id_col,
            stratum_col,
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("n_copies"))
            ).alias("copy"),
            "n_copies",
        )
    )


# -- exact duplicated-substring spans ---------------------------------------
#
# The suffix-array exact-substring dedup of Lee et al., "Deduplicating
# Training Data Makes Language Models Better" (2021), re-expressed as a
# shuffle pipeline: a suffix array doesn't distribute, but its *output* —
# every maximal cross-document duplicated span of length >= L — is exactly
# recoverable from stride-1 character windows of width L: two documents
# share a substring of length s >= L iff they share s - L + 1 consecutive
# aligned windows. Group windows by content, self-join the buckets,
# island-merge consecutive positions per (pair, alignment) into maximal
# spans. Every step is an equi-join or a window function; nothing touches
# the driver.

SPAN_WINDOW_CHARS = 40  # window width L: the minimum detectable span
SPAN_DOC_CAP = 1000  # drop windows shared by more docs (boilerplate guard)
# Above this many total windows the string-keyed bucket join is swapped for
# the xxhash64-keyed one (8-byte shuffle keys + span-level fetch-and-verify).
# Below it the string join wins locally: no second verify pass, and the
# window strings fit comfortably in shuffle memory at that volume.
SPAN_HASH_GATE_WINDOWS = 20_000_000


def substring_windows(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    width: int = SPAN_WINDOW_CHARS,
    hashed: bool = False,
) -> DataFrame:
    """(doc_id, pos, win): stride-1 character windows, 1-based positions.

    Row inflation is x(len - L + 1) per document — the same order as the
    corpus itself (a suffix array is bigger). With ``hashed=True`` the
    window string is replaced by ``win_h = xxhash64(win)`` in the same
    projection, so the ``width``-char string never leaves the scan stage:
    shuffle keys are 8 bytes instead of ``width`` bytes (~5x lighter at
    the default width, the difference between TB- and PB-scale shuffle at
    100 TB corpus size). A hashed index is also the storable form for
    :func:`incremental_substring_spans` — 16 B/window on disk.
    """
    n = F.length(F.col(text))
    positions = F.when(n >= width, F.sequence(F.lit(1), n - width + 1)).otherwise(
        F.array().cast("array<int>")
    )
    win = F.expr(f"substring(_txt, pos, {width})")
    key = F.xxhash64(win).alias("win_h") if hashed else win.alias("win")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text).alias("_txt"),
        F.explode(positions).alias("pos"),
    ).select("doc_id", "pos", key)


def duplicate_substring_spans(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    width: int = SPAN_WINDOW_CHARS,
    min_span: int | None = None,
    doc_cap: int = SPAN_DOC_CAP,
    bucket_by_hash: bool | None = None,
) -> DataFrame:
    """Maximal cross-document duplicated spans of length >= ``width``.

    Output: (doc_a, doc_b, start_a, start_b, span_len, n_windows), doc_a <
    doc_b, one row per maximal run of aligned shared windows.

    Two bucket-key strategies, auto-selected by corpus window volume when
    ``bucket_by_hash`` is None (one cheap length-sum aggregation over the
    text column decides):

    - **string keys** (small inputs): join on the window string itself —
      exact with no verify pass, fastest below
      ``SPAN_HASH_GATE_WINDOWS`` total windows.
    - **xxhash64 keys** (the scale path): windows shuffle as
      (doc_id, pos, int64) — 8-byte keys instead of ``width``-byte
      strings, so self-join shuffle volume drops ~``width``/8 x. The
      ``doc_cap`` hot filter also aggregates over the 8-byte key. After
      the island merge, a fetch-and-verify join re-extracts both span
      substrings from the (tiny, true-duplication-sized) span shortlist
      and keeps only string-equal spans, so hash collisions cannot
      produce false output. (In the astronomically unlikely case a
      collision lands *inside* a run — P ~ pair_windows / 2^64 — the
      verify compares the full merged substrings, mismatches, and drops
      that merged span entirely, so its true sub-spans go unreported;
      the standard exactness caveat of every hashed-fingerprint dedup.)

    Scale: the self-join cost is sum(bucket^2) over identical-window
    buckets — true duplication only, and ``doc_cap`` drops windows shared
    by more than that many documents (license headers, navigation chrome)
    whose pair output would be quadratic noise rather than signal. The
    island merge shuffles once on (doc_a, doc_b, alignment), keys that are
    high-cardinality and skew-free by construction.
    """
    if bucket_by_hash is None:
        n_windows = (
            df.select(
                F.sum(
                    F.greatest(F.length(F.col(text)) - width + 1, F.lit(0))
                ).alias("n")
            ).first()["n"]
            or 0
        )
        bucket_by_hash = n_windows > SPAN_HASH_GATE_WINDOWS
    key = "win_h" if bucket_by_hash else "win"
    bucketed = substring_windows(df, text, id_col, width, hashed=bucket_by_hash)
    # One aggregate over the bucket key yields BOTH guards: nd > doc_cap
    # (boilerplate) and nd >= 2 (pair candidates) — a window whose key
    # lives in a single document can never satisfy doc_a < doc_b, so the
    # qualifying-key list is true-duplication-sized. A semi-join against
    # it replaces the hot anti-join AND shrinks the self-join's input from
    # the full window index to the duplicated windows only; those
    # survivors are persisted (bounded by actual cross-document
    # duplication, never the corpus) so the explode feeding the pair join
    # runs once, not once per join side.
    nd_agg = bucketed.groupBy(key).agg(F.countDistinct("doc_id").alias("nd"))
    cond = F.col("nd") >= 2
    if doc_cap is not None:
        cond = cond & (F.col("nd") <= doc_cap)
    dup_keys = nd_agg.filter(cond).select(key)
    bucketed = persist_tracked(bucketed.join(dup_keys, key, "left_semi"))
    a, b = bucketed.alias("a"), bucketed.alias("b")
    matched = a.join(
        b,
        (F.col(f"a.{key}") == F.col(f"b.{key}"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
        F.col("a.pos").alias("pa"), F.col("b.pos").alias("pb"),
        (F.col("a.pos") - F.col("b.pos")).alias("delta"),
    )
    spans = _merge_window_runs(matched, width)
    if bucket_by_hash:
        spans = _verify_spans(spans, df, df, text, id_col, "doc_a", "doc_b",
                              "start_a", "start_b")
    if min_span is not None:
        spans = spans.filter(F.col("span_len") >= min_span)
    return spans


def _verify_spans(
    spans: DataFrame,
    docs_a: DataFrame,
    docs_b: DataFrame,
    text: str,
    id_col: str,
    a_col: str,
    b_col: str,
    sa: str,
    sb: str,
) -> DataFrame:
    """Fetch-and-verify pass for hash-bucketed spans: join the span
    shortlist back to each side's OWN text source and keep spans whose
    substrings are string-equal. The shortlist is true-duplication-sized
    (plus a ~2^-64 collision tail), so the two joins move only the texts
    of documents that actually share content."""
    out_cols = [a_col, b_col, sa, sb, "span_len", "n_windows"]
    ta = docs_a.select(F.col(id_col).alias(a_col), F.col(text).alias("_ta"))
    tb = docs_b.select(F.col(id_col).alias(b_col), F.col(text).alias("_tb"))
    return (
        spans.join(ta, a_col)
        .join(tb, b_col)
        .filter(
            F.col("_ta").substr(F.col(sa), F.col("span_len"))
            == F.col("_tb").substr(F.col(sb), F.col("span_len"))
        )
        .select(*out_cols)
    )


def cut_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """APPLY exact-substring dedup: excise duplicated spans from documents.

    The second half of Lee et al. 2021 — :func:`duplicate_substring_spans`
    *detects* cross-document duplication; this operator removes it. Policy:
    every span is cut from the higher-id document of its pair (``doc_b``),
    so the lowest-id occurrence of any duplicated substring survives —
    deterministic and order-free, the standard greedy tie-break.

    Returns (doc_id, clean_text, n_cut_spans, n_cut_chars) for EVERY input
    document (uncut docs pass through with 0s). ``n_cut_spans`` counts
    merged (maximal, non-overlapping) cut intervals, not raw pair rows.

    Scale: cut intervals per doc are bounded by true duplication; the
    interval merge is the same window-island shape as the span detector
    (one shuffle on doc_id), the interval list per doc collapses to an
    array (few elements — merged intervals are disjoint), and text
    reassembly is a single fold expression over that array in the join
    stage. One window shuffle + one aggregation + one equi-join with the
    docs table; text strings cross the shuffle once (the join), never
    per-interval.
    """
    from pyspark.sql.window import Window

    cuts = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.col("start_b").cast("int").alias("start"),
        (F.col("start_b") + F.col("span_len")).cast("int").alias("end"),
    )
    # classic island merge: a new island starts where this interval begins
    # past the running max end of all preceding intervals (touching
    # intervals — start == prev end, end exclusive — merge too)
    w = Window.partitionBy("doc_id").orderBy("start", "end")
    run_max = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    merged = (
        cuts.withColumn(
            "brk",
            F.when(F.col("start") > F.coalesce(run_max, F.lit(0)), 1).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "island")
        .agg(F.min("start").alias("start"), F.max("end").alias("end"))
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("start", "end"))).alias("ivs"),
        F.count("*").alias("n_cut_spans"),
        F.sum(F.col("end") - F.col("start")).alias("n_cut_chars"),
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text).alias("_txt")
    ).join(per_doc, "doc_id", "left")
    empty_ivs = F.array().cast("array<struct<start:int,end:int>>")
    txt = F.col("_txt")
    # fold the disjoint sorted intervals: acc carries (cursor pos, output
    # so far); each interval appends the kept gap before it and advances
    # the cursor past it; finish appends the tail after the last interval
    folded = F.aggregate(
        F.coalesce(F.col("ivs"), empty_ivs),
        F.struct(
            F.lit(1).cast("int").alias("pos"), F.lit("").alias("out")
        ),
        lambda acc, iv: F.struct(
            iv["end"].alias("pos"),
            F.concat(
                acc["out"], txt.substr(acc["pos"], iv["start"] - acc["pos"])
            ).alias("out"),
        ),
        lambda acc: F.concat(
            acc["out"],
            txt.substr(acc["pos"], F.length(txt) - acc["pos"] + 1),
        ),
    )
    return base.select(
        "doc_id",
        folded.alias("clean_text"),
        F.coalesce("n_cut_spans", F.lit(0)).alias("n_cut_spans"),
        F.coalesce("n_cut_chars", F.lit(0)).alias("n_cut_chars"),
    )


def _merge_window_runs(matched: DataFrame, width: int) -> DataFrame:
    """Island-merge matched windows (doc_a, doc_b, pa, pb, delta) into
    maximal spans: one window shuffle on (pair, alignment)."""
    from pyspark.sql.window import Window

    run = Window.partitionBy("doc_a", "doc_b", "delta").orderBy("pa")
    return (
        matched.withColumn(
            "brk",
            F.when(F.col("pa") - F.lag("pa").over(run) == 1, F.lit(0)).otherwise(
                F.lit(1)
            ),
        )
        .withColumn("island", F.sum("brk").over(run))
        .groupBy("doc_a", "doc_b", "delta", "island")
        .agg(
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
            (F.max("pa") - F.min("pa") + width).alias("span_len"),
            F.count("*").alias("n_windows"),
        )
        .select("doc_a", "doc_b", "start_a", "start_b", "span_len", "n_windows")
    )


def incremental_substring_spans(
    new_docs: DataFrame,
    corpus_docs: DataFrame | None = None,
    corpus_windows: DataFrame | None = None,
    text: str = "text",
    id_col: str = "doc_id",
    width: int = SPAN_WINDOW_CHARS,
    min_span: int | None = None,
    doc_cap: int = SPAN_DOC_CAP,
    bucket_by_hash: bool | None = None,
) -> DataFrame:
    """Duplicated spans between a NEW batch and an EXISTING corpus only.

    The production shape for growing corpora (same pattern as
    incremental_dedup_pairs): the corpus window index is a stored artifact
    — pass ``corpus_windows`` (the substring_windows output, ideally kept
    bucketed on its key) to skip recomputing it — and the join cost is
    ∝ batch windows x true duplication, never corpus x corpus. The
    ``doc_cap`` boilerplate guard is computed over the corpus index, where
    boilerplate lives. Returns (new_doc, corpus_doc, start_new,
    start_corpus, span_len, n_windows).

    ``bucket_by_hash``: as in :func:`duplicate_substring_spans` — the
    stored-index scale path is a *hashed* index (``substring_windows(...,
    hashed=True)``: 16 B/window instead of carrying the window string).
    When None, it is inferred from a provided ``corpus_windows``'s key
    column (``win_h`` vs ``win``), else from the corpus window volume.
    The fetch-and-verify pass needs the corpus texts, so with a hashed
    index pass ``corpus_docs`` too; without them the spans are exact only
    up to xxhash64 collisions (~2^-64 per window pair) and verification
    is skipped.
    """
    idx = corpus_windows
    if idx is None and corpus_docs is None:
        raise ValueError("pass corpus_docs or corpus_windows")
    if bucket_by_hash is None:
        if idx is not None:
            bucket_by_hash = "win_h" in idx.columns
        else:
            n_windows = (
                corpus_docs.select(
                    F.sum(
                        F.greatest(
                            F.length(F.col(text)) - width + 1, F.lit(0)
                        )
                    ).alias("n")
                ).first()["n"]
                or 0
            )
            bucket_by_hash = n_windows > SPAN_HASH_GATE_WINDOWS
    key = "win_h" if bucket_by_hash else "win"
    if idx is None:
        idx = substring_windows(
            corpus_docs, text, id_col, width, hashed=bucket_by_hash
        )
    elif bucket_by_hash and "win_h" not in idx.columns:
        idx = idx.select("doc_id", "pos", F.xxhash64("win").alias("win_h"))
    if doc_cap is not None:
        hot = (
            idx.groupBy(key)
            .agg(F.countDistinct("doc_id").alias("nd"))
            .filter(F.col("nd") > doc_cap)
            .select(key)
        )
        idx = idx.join(hot, key, "left_anti")
    new_win = substring_windows(new_docs, text, id_col, width,
                                hashed=bucket_by_hash)
    matched = new_win.alias("a").join(
        idx.alias("b"),
        (F.col(f"a.{key}") == F.col(f"b.{key}"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
        F.col("a.pos").alias("pa"), F.col("b.pos").alias("pb"),
        (F.col("a.pos") - F.col("b.pos")).alias("delta"),
    )
    spans = _merge_window_runs(matched, width)
    if bucket_by_hash and corpus_docs is not None:
        # verify each side against ITS OWN text source: a doc_id present in
        # both new_docs and corpus_docs (a re-ingested document) must check
        # the new side against the new text and the corpus side against the
        # stored text — a unioned frame would double-match and verify
        # against the wrong version
        spans = _verify_spans(spans, new_docs, corpus_docs, text, id_col,
                              "doc_a", "doc_b", "start_a", "start_b")
    if min_span is not None:
        spans = spans.filter(F.col("span_len") >= min_span)
    return spans.select(
        F.col("doc_a").alias("new_doc"),
        F.col("doc_b").alias("corpus_doc"),
        F.col("start_a").alias("start_new"),
        F.col("start_b").alias("start_corpus"),
        "span_len",
        "n_windows",
    )


def token_budget_selection(
    df: DataFrame,
    budget_tokens: int,
    text: str = "text",
    id_col: str = "doc_id",
    bins: int = 1000,
    seed: str = "budget",
    sub_bits: int = 10,
) -> DataFrame:
    """Highest-quality documents up to a token budget, without a global sort.

    The data-budget step of a pretraining pipeline ("take the best N
    billion tokens"): documents are ranked by quality bin
    (``floor(quality_score * bins)``, descending), ties broken by
    ``hash64(id, seed)`` then id, and a document is selected iff the
    cumulative token count BEFORE it is < ``budget_tokens`` — the greedy
    prefix, which may overshoot by at most one document.

    Scale design — the naive version is a global ORDER BY + running sum
    over the whole corpus (one giant range shuffle + serial window). This
    is two-phase instead: (1) one aggregation of per-bin token sums
    (<= bins+1 rows collected to the driver — bounded, never corpus-sized)
    finds which bins are fully inside the budget and which single bin
    straddles it; (2) full bins come back as a filter (no ordering at
    all), and only the straddling bin pays ordering work. Output matches
    the naive version row-for-row, including the tie where a bin exactly
    exhausts the budget (such a bin is treated as a straddling bin so a
    zero-token document sorted at its tail — cumulative-before == budget
    — is excluded, exactly like ``bef < budget`` in the naive form).

    The straddling bin itself gets the SAME treatment one level down: at
    100 TB it is still ~1/``bins`` of the corpus (~100 GB), and a single
    global window over it would be one task. Its tie-break key is a
    UNIFORM hash by construction, so a second histogram over the top
    ``sub_bits`` bits of ``_h`` — shift ``60 - sub_bits``, because
    :func:`hash64` is a 60-bit hash (15 md5 hex chars), NOT 64-bit; a
    64-based shift would silently expose only ``sub_bits - 4`` bits —
    splits it exactly (the shift is monotone in ``_h``, and a doc_id tie
    can never cross a sub-bin because equal ``_h`` means equal sub-bin):
    full sub-bins by filter, and ONLY the straddling sub-bin —
    ~1/(bins * 2^sub_bits) of the corpus — pays the window. No single-partition sort anywhere at
    any realistic scale. Documents with a NULL ``text`` have no quality
    score and are never selected. Triggers two Spark actions at call
    time (the bin-sum and sub-bin-sum collects, both over the persisted
    token frame). Returns (doc_id, n_tokens, q_bin).
    """
    from pyspark.sql import Window

    from ctcityscraper_spark.operators.text import quality_score_col

    if not 1 <= sub_bits <= 32:
        # sub_bits=0 would collapse to ONE sub-bin (shift 60 of a 60-bit
        # hash -> everything 0: the single global window this refinement
        # exists to avoid); >32 leaves <28 hash bits of within-sub-bin
        # entropy for no benefit. Refuse both.
        raise ValueError(f"sub_bits must be in [1, 32], got {sub_bits}")
    # persist BEFORE the bin-sum collect: toks embeds the caller's
    # upstream plan and is consumed up to three times (the collect, the
    # full-bins filter, the straddling-bin window) — without this an
    # expensive upstream would execute once per consumer. persist (not
    # localCheckpoint): evicted or released blocks recompute instead of
    # failing, so the returned plan stays valid.
    toks = persist_tracked(df.select(
        F.col(id_col).alias("doc_id"),
        # regexp_count: same match count, no materialized token array
        F.regexp_count(text, F.lit(BPE_SPLIT_RE))
        .cast("long")
        .alias("n_tokens"),
        F.floor(quality_score_col(text) * bins).cast("int").alias("q_bin"),
        hash64(F.col(id_col), seed).alias("_h"),
    ).filter(F.col("q_bin").isNotNull()))
    bin_sums = {
        r["q_bin"]: r["s"]
        for r in toks.groupBy("q_bin").agg(F.sum("n_tokens").alias("s")).collect()
    }
    full_bins: list[int] = []
    boundary = None
    remaining = 0
    cum = 0
    for b in sorted(bin_sums, reverse=True):
        s = bin_sums[b]
        # strict <: a bin that EXACTLY exhausts the budget goes through the
        # window path so its zero-token tail (cum-before == budget) is
        # excluded, matching the naive `bef < budget` rule row-for-row
        if cum + s < budget_tokens:
            full_bins.append(b)
            cum += s
            continue
        if cum < budget_tokens:
            boundary = b
            remaining = budget_tokens - cum
        break
    out_cols = ["doc_id", "n_tokens", "q_bin"]
    selected = toks.filter(F.lit(False)).select(*out_cols)
    if full_bins:
        selected = toks.filter(F.col("q_bin").isin(full_bins)).select(*out_cols)
    if boundary is not None:
        part_toks = toks.filter(F.col("q_bin") == boundary)
        # hash64 is 60-bit (conv of 15 md5 hex chars, always < 2^60): the
        # sub-bin key is its TOP sub_bits bits, so shift from 60, not 64
        # (64 - sub_bits exposes only max(0, sub_bits - 4) real bits and
        # silently degenerates sub_bits <= 4 to a single sub-bin)
        shift = 60 - sub_bits
        sub = F.shiftright("_h", shift)
        sub_sums = {
            r["_sub"]: r["s"]
            for r in part_toks.groupBy(sub.alias("_sub"))
            .agg(F.sum("n_tokens").alias("s"))
            .collect()
        }
        # selection order inside the bin is _h ASC, so walk sub-bins
        # ascending; the exact-fit rule mirrors the outer loop (strict <)
        # for the same zero-token-tail reason
        full_subs: list[int] = []
        sub_boundary = None
        sub_remaining = remaining
        scum = 0
        for sb in sorted(sub_sums):
            s = sub_sums[sb]
            if scum + s < remaining:
                full_subs.append(sb)
                scum += s
                continue
            if scum < remaining:
                sub_boundary = sb
                sub_remaining = remaining - scum
            break
        if full_subs:
            selected = selected.unionByName(
                part_toks.filter(sub.isin(full_subs)).select(*out_cols)
            )
        if sub_boundary is not None:
            w = Window.orderBy("_h", "doc_id").rowsBetween(
                Window.unboundedPreceding, -1
            )
            tail = (
                part_toks.filter(sub == sub_boundary)
                .withColumn(
                    "_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
                )
                .filter(F.col("_before") < sub_remaining)
                .select(*out_cols)
            )
            selected = selected.unionByName(tail)
    return selected


def global_quality_rank(
    df: DataFrame,
    quality,
    n_bins: int = 8192,
    id_col: str = "doc_id",
    deciles: int | None = 10,
) -> DataFrame:
    """Exact global rank by (quality DESC, id ASC) — without a global sort.

    The curriculum/selection primitive: "rank every document in the corpus
    by quality" is a global ORDER BY, which at 100 TB means either a
    single-partition sort (catastrophic) or a range-partitioned TeraSort
    (a full corpus shuffle into sampled ranges). This computes the same
    EXACT ranks with a histogram instead:

    1. coarse-bin each row by quality (scan-stage projection; ``quality``
       is assumed in [0, 1] — clamped on BOTH sides, so out-of-range
       values land in the first/last bin with exact within-bin ordering
       by the raw ``_q`` preserved; NULL and NaN quality -> a trailing
       bin — NaN means "no usable score" here, same as NULL, and is
       routed explicitly because its would-be bin is NULL and its sort
       position engine-dependent);
    2. one groupBy collects per-bin counts (<= n_bins+1 rows to the
       driver — bounded) and prefix-sums them into bin offsets, ordered
       high-quality-bin first, NULL bin last;
    3. a window partitioned BY BIN (parallel across bins — never a
       single-partition sort) ranks within bins; global rank = bin offset
       + within-bin row_number.

    Rows in a higher bin have strictly higher quality than any row in a
    lower bin, so concatenating per-bin orderings reproduces the global
    ordering row-for-row (oracled against ROW_NUMBER() OVER (ORDER BY q
    DESC NULLS LAST, id)). Skew caveat: a single bin holding most of the
    corpus degrades toward the sort it replaces — raise ``n_bins`` (the
    histogram costs the same one aggregate; the driver collect and the
    broadcast offset frame stay tiny at any sane setting — the 8192
    default is <1 MB). The irreducible case is a corpus where most rows
    share ONE exact quality value: no value-based split can separate
    ties, and the tied mass lands in one window partition ordered by id.

    With ``deciles=k``, also emits the k-quantile bucket from the driver-
    known total count (floor((rank-1)*k/N)+1) for curriculum staging.
    """
    from pyspark.sql import Window

    q = quality if not isinstance(quality, str) else F.col(quality)
    qd = q.cast("double")
    # clamp the DOUBLE before floor: clamping first is monotone (exact
    # global order preserved — within-bin ordering uses the raw _q) and
    # it is what makes +/-Infinity safe under ANSI mode, where
    # floor(inf).cast("int") throws CAST_OVERFLOW instead of binning
    b = F.when(qd.isNull() | F.isnan(qd), F.lit(-1)).otherwise(
        F.least(
            F.floor(F.greatest(F.least(qd, F.lit(1.0)), F.lit(0.0)) * n_bins)
            .cast("int"),
            F.lit(n_bins - 1),
        )
    )
    # persist BEFORE the histogram collect: binned embeds the caller's
    # upstream plan (often an expensive dedup/quality pipeline), and both
    # the collect below and the returned join/window consume it — without
    # this the whole upstream would execute twice (the exact issue
    # graph.connected_components fixes with its eager checkpoint).
    # persist (not localCheckpoint): evicted or released blocks recompute
    # from lineage instead of failing, the right degradation corpus-side.
    binned = persist_tracked(
        df.select(F.col(id_col), qd.alias("_q"), b.alias("_bin"))
    )
    counts = binned.groupBy("_bin").agg(F.count("*").alias("n")).collect()
    ordered = sorted(counts, key=lambda r: (r["_bin"] == -1, -r["_bin"]))
    offs: list[tuple[int, int]] = []
    total = 0
    for r in ordered:
        offs.append((r["_bin"], total))
        total += r["n"]
    spark = df.sparkSession
    if not offs:
        from pyspark.sql.types import LongType, StructField, StructType

        binned.unpersist()
        # id keeps its INPUT type (string ids stay strings) so the empty
        # path's schema matches the non-empty path's
        out = spark.createDataFrame(
            [],
            StructType(
                [
                    StructField(id_col, df.schema[id_col].dataType, True),
                    StructField("rank", LongType(), True),
                ]
            ),
        )
        return out.withColumn("decile", F.lit(None).cast("int")) if deciles else out
    off_df = local_rows_df(spark, offs, ["_bin", "_off"], "_bin int, _off long")
    w = Window.partitionBy("_bin").orderBy(F.col("_q").desc_nulls_last(), id_col)
    ranked = (
        binned.join(F.broadcast(off_df), "_bin")
        .withColumn("rank", (F.col("_off") + F.row_number().over(w)).cast("long"))
        .select(id_col, "rank")
    )
    if deciles:
        ranked = ranked.withColumn(
            "decile",
            (F.floor((F.col("rank") - 1) * deciles / F.lit(total)) + 1).cast("int"),
        )
    return ranked


def curriculum_order(
    df: DataFrame,
    quality,
    stages: int = 10,
    id_col: str = "doc_id",
    seed: str = "curr",
) -> DataFrame:
    """Deterministic training ORDER for curriculum learning: documents
    feed easy -> hard (stage 1 = the highest-quality decile-equivalent,
    from :func:`global_quality_rank`'s histogram path — no global sort),
    with a deterministic hash SHUFFLE inside each stage so the trainer
    never sees quality-sorted (and therefore near-duplicate-adjacent)
    batches. Output: (id, stage, curriculum_rank) where curriculum_rank
    is the exact 1-based global feed position.

    100 TB shape: stage assignment rides global_quality_rank (one
    histogram aggregate + per-bin parallel windows); the within-stage
    shuffle is a window partitioned BY STAGE ordered by
    ``hash64(id, seed)`` (parallel across stages; skew bounded at
    ~N/stages rows per window partition); stage offsets are a
    ``stages``-row driver fold embedded as a broadcast join — never a
    single-partition global window. NULL/NaN quality ranks last, so
    those docs land in the final stage (the same contract as
    global_quality_rank, whose oracle pins it)."""
    from pyspark.sql import Window

    ranked = global_quality_rank(df, quality, id_col=id_col, deciles=stages)
    spark = df.sparkSession
    staged = persist_tracked(ranked.select(id_col, F.col("decile").alias("stage")))
    counts = staged.groupBy("stage").agg(F.count("*").alias("n")).collect()
    offs: list[tuple[int, int]] = []
    total = 0
    for r in sorted(counts, key=lambda r: r["stage"]):
        offs.append((r["stage"], total))
        total += r["n"]
    if not offs:
        from pyspark.sql.types import (
            IntegerType,
            LongType,
            StructField,
            StructType,
        )

        staged.unpersist()
        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField(id_col, df.schema[id_col].dataType, True),
                    StructField("stage", IntegerType(), True),
                    StructField("curriculum_rank", LongType(), True),
                ]
            ),
        )
    off_df = local_rows_df(spark, offs, ["stage", "_off"], "stage int, _off long")
    w = Window.partitionBy("stage").orderBy(
        hash64(F.col(id_col), seed), id_col
    )
    return (
        staged.join(F.broadcast(off_df), "stage")
        .withColumn(
            "curriculum_rank",
            (F.col("_off") + F.row_number().over(w)).cast("long"),
        )
        .select(id_col, "stage", "curriculum_rank")
    )


DSIR_BUCKETS = 2048  # hashed-feature space (DSIR's "hashed n-grams")


def _dsir_term_stream(
    df: DataFrame, target, ngram: int, text: str, id_col: str
) -> DataFrame:
    """(doc_id, is_target, term) token instances for the DSIR models:
    nonempty unigrams, plus — at ``ngram=2``, the paper's feature space —
    the adjacent bigrams over the SAME empty-filtered token sequence
    (filter first, so both engines pair identical neighbors)."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(target, F.lit(False)).alias("is_target"),
        F.filter(tokens_col(text), lambda t: t != "").alias("_tk"),
    )
    uni = base.select(
        "doc_id", "is_target", F.explode("_tk").alias("term")
    )
    if ngram == 1:
        return uni
    if ngram != 2:
        raise ValueError(f"ngram must be 1 or 2, got {ngram}")
    # sequence(1, 0) DESCENDS in Spark, so gate on size >= 2 instead
    big = base.select(
        "doc_id",
        "is_target",
        F.explode(
            F.expr(
                "CASE WHEN size(_tk) >= 2 THEN transform("
                "sequence(1, size(_tk) - 1), "
                "i -> concat(_tk[i - 1], ' ', _tk[i])) "
                "ELSE array() END"
            )
        ).alias("term"),
    )
    return uni.unionByName(big)


def _dsir_bits_expr(total_col: str, count_col, n_buckets: int):
    """Quantized bit-width of a smoothed inverse bucket probability —
    THE single definition of the DSIR bit rule (scoring, the stored-model
    path, and the unseen-bucket floor all use it)."""
    return F.length(
        F.bin(F.expr(f"({total_col} + {n_buckets}) DIV ({count_col} + 1)"))
    ).cast("long")


def dsir_bucket_model(
    df: DataFrame,
    target,
    n_buckets: int = DSIR_BUCKETS,
    text: str = "text",
    id_col: str = "doc_id",
    seed: str = "dsir",
    ngram: int = 1,
) -> DataFrame:
    """The DSIR hashed-feature models as DATA: ``(b, c_r, c_t)`` — per
    hashed bucket, the raw-corpus feature count and the target-subset
    feature count. ≤ n_buckets rows, and SUM-MERGEABLE across
    batches/epochs (counts of disjoint batches add), which makes the
    selection model incrementally maintainable: model(base) +
    model(delta) == model(base ∪ delta) bit-for-bit — the delta-zone
    contract (`streaming_dsir` is the streaming instance). One
    map-side-partial groupBy over the batch's own token stream."""
    toks = _dsir_term_stream(df, target, ngram, text, id_col)
    return (
        toks.withColumn("b", hash64(F.col("term"), seed) % n_buckets)
        .groupBy("b")
        .agg(
            F.count("*").alias("c_r"),
            F.sum(F.col("is_target").cast("long")).alias("c_t"),
        )
    )


def sum_dsir_models(models: DataFrame) -> DataFrame:
    """SUM-collapse a model table holding several delta rows per bucket
    into one row per bucket — exact, idempotent on a collapsed table."""
    return models.groupBy("b").agg(
        F.sum("c_r").alias("c_r"), F.sum("c_t").alias("c_t")
    )


def dsir_score_with_model(
    df: DataFrame,
    model: DataFrame,
    n_buckets: int = DSIR_BUCKETS,
    text: str = "text",
    id_col: str = "doc_id",
    seed: str = "dsir",
    ngram: int = 1,
) -> DataFrame:
    """Score documents against a STORED bucket model — the serving half
    of incremental DSIR: the model is built/maintained once
    (:func:`dsir_bucket_model` / `streaming_dsir`), and any batch scores
    against it with one token pass + a broadcast join, never re-reading
    the model's corpus. Buckets the model never saw take the smoothing
    floor (count 0 → ``bits(T + B)``), so out-of-model features read as
    maximally surprising under BOTH models — identical arithmetic to
    scoring in :func:`dsir_importance` when the model was built from the
    same corpus (every doc bucket exists there; pinned in tests).
    Returns (doc_id, n_tokens, weight_bits).

    Degenerate-model guard (r13 ADVICE): an ABSENT model zone fails
    loudly in the zone reader, but a present-but-EMPTY model table
    would make the ``tot`` aggregation return NULL totals and every
    ``weight_bits`` silently NULL. The totals are therefore wrapped in
    a lazy ``assert_true`` that raises at execution time — same
    loud-failure posture, no eager job on the scoring path."""
    toks = _dsir_term_stream(df, F.lit(False), ngram, text, id_col)
    doc_b = (
        toks.withColumn("b", hash64(F.col("term"), seed) % n_buckets)
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("c_db"))
    )
    m = sum_dsir_models(model)

    def _nonempty(name: str):
        # sum() over zero rows is NULL: convert the silent NULL into a
        # runtime error naming the cause (coalesce's second arm only
        # evaluates — and raises — when the first is NULL)
        return F.coalesce(
            F.col(name),
            F.assert_true(
                F.lit(False),
                F.lit(
                    "dsir_score_with_model: stored model table has no "
                    "rows — build it with dsir_bucket_model / "
                    "streaming_dsir before scoring"
                ),
            ).cast("long"),
        ).alias(name)

    tot = m.agg(
        F.sum("c_r").alias("t_r"), F.sum("c_t").alias("t_t")
    ).select(_nonempty("t_r"), _nonempty("t_t"))
    bits = (
        m.crossJoin(F.broadcast(tot))
        .withColumn("bits_r", _dsir_bits_expr("t_r", "c_r", n_buckets))
        .withColumn("bits_t", _dsir_bits_expr("t_t", "c_t", n_buckets))
        .select("b", "bits_r", "bits_t")
    )
    floor = (
        F.broadcast(tot)
        .withColumn("floor_r", _dsir_bits_expr("t_r", "0", n_buckets))
        .withColumn("floor_t", _dsir_bits_expr("t_t", "0", n_buckets))
        .select("floor_r", "floor_t")
    )
    return (
        doc_b.join(F.broadcast(bits), "b", "left")
        .crossJoin(F.broadcast(floor))
        .withColumn("bits_r", F.coalesce("bits_r", "floor_r"))
        .withColumn("bits_t", F.coalesce("bits_t", "floor_t"))
        .groupBy("doc_id")
        .agg(
            F.sum("c_db").alias("n_tokens"),
            F.sum(
                F.col("c_db") * (F.col("bits_r") - F.col("bits_t"))
            ).alias("weight_bits"),
        )
    )


def dsir_importance(
    df: DataFrame,
    target,
    n_buckets: int = DSIR_BUCKETS,
    text: str = "text",
    id_col: str = "doc_id",
    seed: str = "dsir",
    ngram: int = 1,
) -> DataFrame:
    """DSIR-style importance weights: rank raw documents by how much more
    likely they are under a hashed unigram model of a TARGET domain than
    under the raw-corpus model (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling").

    ``target`` is a boolean Column marking the in-domain exemplar docs
    (NULL counts as not-target). Tokens hash into ``n_buckets`` buckets
    via the cross-engine ``hash64`` (nonnegative 60-bit, so a plain
    ``%`` agrees between engines); both bucket models get add-one
    smoothing. The true log-ratio ``log2 p_t(b) - log2 p_r(b)`` is not
    bit-portable (module determinism rule: no transcendentals across the
    oracle boundary), so each bucket's log-prob is QUANTIZED to its
    integer bit-width — the unigram_surprisal rule::

        bits_X(b) = length(bin((T_X + n_buckets) DIV (c_X(b) + 1)))

    and the document weight is the exact integer::

        weight_bits(d) = sum_b c_db * (bits_r(b) - bits_t(b))

    (positive = more target-like: buckets cheap under the target model
    and expensive under the raw model pull the weight up). Monotone in
    the true ratio at bucket granularity — all the downstream selection
    (top-m resampling, mixture reweighting) consumes.

    100 TB shape: one (doc, bucket) groupBy and one bucket groupBy (both
    map-side partial — the bucket model state is <= n_buckets mergeable
    rows), the two scalar totals broadcast, the <= n_buckets-row model
    table broadcast back onto the per-doc buckets, one per-doc
    aggregation. Nothing is vocabulary-sized: hashing bounds the model
    at n_buckets rows regardless of corpus vocabulary. No Python, no
    driver collect.

    ``ngram=2`` switches to the paper's actual feature space — hashed
    unigrams AND adjacent bigrams sharing the bucket space (the bigram
    leg roughly doubles the token stream; every shape bound above is
    unchanged). Returns (doc_id, n_tokens, weight_bits) — one row per
    document with at least one nonempty token; n_tokens counts hashed
    FEATURE instances (unigrams + bigrams at ngram=2).
    """
    toks = _dsir_term_stream(df, target, ngram, text, id_col)
    toks = toks.withColumn("b", hash64(F.col("term"), seed) % n_buckets)
    doc_b = toks.groupBy("doc_id", "b").agg(F.count("*").alias("c_db"))
    raw = toks.groupBy("b").agg(
        F.count("*").alias("c_r"),
        F.sum(F.col("is_target").cast("long")).alias("c_t"),
    )
    tot = raw.agg(
        F.sum("c_r").alias("t_r"), F.sum("c_t").alias("t_t")
    )
    bits = (
        raw.crossJoin(F.broadcast(tot))
        .withColumn("bits_r", _dsir_bits_expr("t_r", "c_r", n_buckets))
        .withColumn("bits_t", _dsir_bits_expr("t_t", "c_t", n_buckets))
        .select("b", "bits_r", "bits_t")
    )
    return (
        doc_b.join(F.broadcast(bits), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c_db").alias("n_tokens"),
            F.sum(
                F.col("c_db") * (F.col("bits_r") - F.col("bits_t"))
            ).alias("weight_bits"),
        )
    )


def dsir_select_top(
    df: DataFrame,
    target,
    m: int,
    n_buckets: int = DSIR_BUCKETS,
    text: str = "text",
    id_col: str = "doc_id",
    seed: str = "dsir",
    ngram: int = 1,
) -> DataFrame:
    """The resampling half of DSIR: the ``m`` most target-like raw
    documents by (weight_bits DESC, id) — a distributed top-k
    (TakeOrderedAndProject), never a global sort. Returns
    (doc_id, n_tokens, weight_bits, rank)."""
    from pyspark.sql import Window

    scored = dsir_importance(df, target, n_buckets, text, id_col, seed, ngram)
    top = scored.orderBy(
        F.col("weight_bits").desc(), F.col("doc_id")
    ).limit(m)
    w = Window.orderBy(F.col("weight_bits").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "n_tokens", "weight_bits", "rank"
    )

"""Distributed BPE tokenizer training over the corpus word-frequency table.

Byte-pair encoding the way the original trainers do it (Sennrich et al.
2016): collapse the corpus to a (word, freq) table ONCE, then run every
merge iteration against the vocabulary — train cost after the first scan
is ∝ |vocab|, never ∝ corpus, which is exactly what survives 100 TB
(reference parity note: the reference engine has no tokenizer trainer;
this is part of the LLM-pipeline extension surface, like the dedup/ANN
families).

Tokenization state is carried as a WRAPPED string per word — every token
enclosed in parentheses, ``cat`` -> ``(c)(a)(t)`` — because one merge
step is then a plain ``replace``: merging pair (a, b) is
``replace(wrapped, '(a)(b)', '(ab)')``, and leftmost non-overlapping
``replace`` semantics (identical in Spark and DuckDB) implement exactly
BPE's greedy left-to-right merge: ``(a)(a)(a)`` -> ``(aa)(a)``. That
makes the whole merge chain cross-engine replayable — the catalog
queries' DuckDB oracles re-run every iteration bit-for-bit (the k-means
Lloyd-replay recipe, plans/queries_ext.py).

Alphabet contract: words are ``[A-Za-z0-9]+`` runs of the RAW text,
lowercased AFTER extraction — lowering only pure-ASCII strings sidesteps
the context-sensitive Unicode casing seam the r13 probe pinned (Greek
final sigma, Turkish İ), where ``lower(text)`` before extraction could
diverge across engines. Parentheses can therefore never appear INSIDE a
token, the wrapped encoding is unambiguous, and the (cnt DESC, pair_a,
pair_b) tie-break compares pure-ASCII strings — binary collation agrees
across engines by construction.

Determinism: pair counts are exact integer sums; the argmax tie-break is
total; no floats, no transcendentals anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

WORD_RE = "[A-Za-z0-9]+"
# token inside one (...) wrapper — RE2- and Java-compatible
TOKEN_RE = r"\(([^)]*)\)"


def bpe_word_freqs(docs: DataFrame, text: str = "text") -> DataFrame:
    """(word, freq) over the text's ``[A-Za-z0-9]+`` runs, lowercased
    after extraction (ASCII-only lower — no Unicode casing seam) — the
    ONE corpus-sized pass of BPE training. Scan-stage extraction + one
    mergeable groupBy (map-side combine), vocabulary-bounded output."""
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.col(text), F.lit(WORD_RE), 0)
            ).alias("w0")
        )
        .select(F.lower("w0").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def bpe_wrap_col(word) -> F.Column:
    """``cat`` -> ``(c)(a)(t)``: the wrapped single-char tokenization."""
    col = F.col(word) if isinstance(word, str) else word
    return F.regexp_replace(col, "(.)", "($1)")


def _pair_counts(wrapped_freqs: DataFrame) -> DataFrame:
    """Exact adjacent-pair frequencies over the wrapped vocabulary:
    (pair_a, pair_b, cnt) weighted by word freq. Overlapping occurrences
    count per position (standard BPE: ``(a)(a)(a)`` contributes 2 to
    (a, a)) — the merge step's replace then resolves greedily."""
    toks = F.regexp_extract_all("wrapped", F.lit(TOKEN_RE), 1)
    pairs = F.arrays_zip(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))).alias("a"),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))).alias("b"),
    )
    return (
        wrapped_freqs.select(F.explode(pairs).alias("p"), "freq")
        .select(
            F.col("p.a").alias("pair_a"),
            F.col("p.b").alias("pair_b"),
            "freq",
        )
        .groupBy("pair_a", "pair_b")
        .agg(F.sum("freq").alias("cnt"))
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text: str = "text",
    checkpoint_every: int = 8,
) -> DataFrame:
    """Train ``n_merges`` BPE merges over the corpus; returns the merge
    table (rank, pair_a, pair_b, merged, cnt) — rank is 1-based merge
    order, cnt the exact weighted pair frequency that won the step.

    Each iteration: count adjacent pairs over the wrapped vocabulary
    (one vocab-sized aggregate), take the (cnt DESC, pair_a, pair_b)
    argmax — a 1-row TakeOrderedAndProject collect, the k-means-literal
    pattern: driver round-trips grow with n_merges, not data — then fold
    the winning pair into the wrapped column as a scan-stage replace.
    Replaces stack as expressions on ONE checkpointed base frame;
    ``checkpoint_every`` re-materializes to cap expression depth for
    large vocabularies / merge counts.

    Stops early (fewer rows than ``n_merges``) when no pair remains —
    tiny or empty corpora; the DuckDB twin goes empty identically.
    """
    return bpe_train_from_freqs(
        bpe_word_freqs(docs, text), n_merges, checkpoint_every
    )


def bpe_train_from_freqs(
    freqs: DataFrame,
    n_merges: int,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Train from a (word, freq) table directly — the stored-state entry
    point: word frequencies are plain SUM-mergeable counts, so a
    maintained freq zone (``streaming.events.streaming_word_freqs``)
    feeds retraining WITHOUT re-reading the corpus, and merged deltas
    train identically to a fresh one-shot run (``sum_word_freqs`` is
    exact — hash-gated by ``text_bpe_incremental``)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ctcityscraper_spark.operators.artifacts import checkpoint_tracked, scope

    spark = freqs.sparkSession
    merges: list[tuple] = []
    # every intermediate checkpoint is dead once the merge list exists —
    # the returned frame is driver-local rows
    with scope():
        vocab = checkpoint_tracked(
            freqs.select(bpe_wrap_col("word").alias("wrapped"), "freq")
        )
        for rank in range(1, n_merges + 1):
            top = (
                _pair_counts(vocab)
                .orderBy(F.desc("cnt"), "pair_a", "pair_b")
                .limit(1)
                .collect()
            )
            if not top:
                break
            a, b, cnt = top[0].pair_a, top[0].pair_b, top[0].cnt
            merges.append((rank, a, b, a + b, cnt))
            vocab = vocab.withColumn(
                "wrapped",
                F.replace(
                    "wrapped", F.lit(f"({a})({b})"), F.lit(f"({a}{b})")
                ),
            )
            if rank % checkpoint_every == 0 and rank < n_merges:
                vocab = checkpoint_tracked(vocab)
    # Arrow-path local frame (functions/localdf.py): the plain-list form
    # cost ~1.4 s of Python-worker fan-out on the final materialization
    from ctcityscraper_spark.functions.localdf import local_rows_df

    return local_rows_df(
        spark,
        merges,
        ["rank", "pair_a", "pair_b", "merged", "cnt"],
        StructType(
            [
                StructField("rank", LongType(), False),
                StructField("pair_a", StringType(), False),
                StructField("pair_b", StringType(), False),
                StructField("merged", StringType(), False),
                StructField("cnt", LongType(), False),
            ]
        ),
    )


def bpe_encode_col(word, merges: list) -> F.Column:
    """Wrapped BPE encoding of a word column under a trained merge list
    (rows/tuples of (rank, pair_a, pair_b, ...), applied in rank order).
    Pure scan-stage expression — encode cost at serving time is one
    replace chain, no shuffle, no state."""
    col = bpe_wrap_col(word)
    for m in sorted(merges, key=lambda r: r[0]):
        a, b = m[1], m[2]
        col = F.replace(col, F.lit(f"({a})({b})"), F.lit(f"({a}{b})"))
    return col


def bpe_apply(
    docs: DataFrame,
    merges: list,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode documents under a trained merge list: per doc, the total
    BPE token count and the pre-merge character token count (the
    compression the vocab bought). Merges ride the plan as literals
    (bounded by n_merges — the codebook-broadcast pattern); everything
    else is scan-stage + one SUM aggregate."""
    words = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(text), F.lit(WORD_RE), 0)
        ).alias("w0"),
    ).select(id_col, F.lower("w0").alias("word"))
    enc = words.select(
        id_col,
        # regexp_count == size(regexp_extract_all(.., 1)): extract_all
        # emits exactly one group-1 entry per match, so counting matches
        # is the same number without materializing the token array
        F.regexp_count(bpe_encode_col("word", merges), F.lit(TOKEN_RE)).alias(
            "n_bpe"
        ),
        F.length("word").alias("n_char"),
    )
    return enc.groupBy(id_col).agg(
        F.sum("n_bpe").alias("bpe_tokens"),
        F.sum("n_char").alias("char_tokens"),
        F.count("*").alias("words"),
    )


def sum_word_freqs(freqs: DataFrame) -> DataFrame:
    """SUM-collapse delta (word, freq) rows — exact under the one-batch-
    per-document contract, idempotent over already-merged rows (the
    compaction-transform contract)."""
    return freqs.groupBy("word").agg(F.sum("freq").alias("freq"))


def bpe_fertility_from_freqs(freqs: DataFrame, merges: list) -> DataFrame:
    """Tokenizer-health monitor off a (word, freq) table: exact totals
    (bpe_tokens, char_tokens, words) of encoding the table's words under
    a trained merge list — fertility (tokens/word) and compression
    (chars/token) are ratios of these integers; keeping the INTEGER
    numerator/denominator is the module's standing determinism rule.
    Vocab-sized work: the monitor runs off the stored frequency zone
    (``streaming_word_freqs``), never re-reading the corpus. A rising
    fertility epoch-over-epoch means the corpus distribution drifted
    away from the vocab — the retrain trigger (``bpe_train_from_freqs``
    off the same zone closes the loop)."""
    enc = bpe_encode_col("word", merges)
    return freqs.select(
        # regexp_count: one group-1 entry per match, so same count
        (F.col("freq") * F.regexp_count(enc, F.lit(TOKEN_RE))).alias("t"),
        (F.col("freq") * F.length("word")).alias("c"),
        F.col("freq").alias("w"),
    ).agg(
        F.sum("t").alias("bpe_tokens"),
        F.sum("c").alias("char_tokens"),
        F.sum("w").alias("words"),
    )

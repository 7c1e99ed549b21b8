"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding near-dup.

The scale-path design (100 TB of documents):

- **exact**: hash-groupBy on a content fingerprint — one shuffle on md5.
- **n-gram Jaccard**: inverted shingle index (explode -> self-join on
  shingle) so only pairs sharing >=1 shingle are scored — never the
  quadratic cross join. Shingle width picked so random collisions are rare.
- **MinHash + LSH**: K independent min-hashes per doc from one explode +
  one groupBy (K aggregates, map-side partial), banded so candidate pairs
  come from equi-joins on (band, band_hash) buckets.
- **SimHash**: B-bit signature from one pass over tokens; near-dups via
  hamming distance on the compact signature.
- **embedding near-dup**: brute-force cosine for verification-scale inputs;
  the LSH-bucketed variant (similarity.py) is the scale path.

All hashing uses the cross-engine ``hash64`` primitive
(functions/hashing.py) so every operator has an exact DuckDB oracle.
The reference's dedup surface is hash-equality only (SURVEY §2.9 D1-D3,
src/engine/database.py:139-149); everything beyond exact-match is this
engine's extension per the project north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ctcityscraper_spark.functions.exprs import bind_once
from ctcityscraper_spark.functions.hashing import hash64
from ctcityscraper_spark.operators.text import fingerprint_col, tokens_col

MINHASH_K = 16  # signatures per doc
LSH_BANDS = 4  # bands of MINHASH_K / LSH_BANDS rows each
SHINGLE_N = 5  # words per shingle

# Universal-hash permutation family for MinHash: perm_k(x) = (a_k*x + b_k) mod P
# over the 31-bit reduction of the base hash. One md5 per shingle instead of K
# (16x less hashing); a_k/b_k derive from the same md5 primitive so both
# engines rebuild the family from constants.
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def _perm_constants(k: int) -> list[tuple[int, int]]:
    from ctcityscraper_spark.functions.hashing import hash64_py

    out = []
    for i in range(k):
        a = hash64_py(f"a{i}") % (MINHASH_P - 1) + 1
        b = hash64_py(f"b{i}") % MINHASH_P
        out.append((a, b))
    return out


def shingles_col(text, n: int = SHINGLE_N):
    """Distinct word n-gram shingles of a text column (empty-safe).

    The token array is let-bound (``bind_once``) so the per-position
    lambda slices a bound variable instead of re-running the whitespace
    split per shingle — the inlined form re-evaluates the split once per
    position (O(tokens²) per doc; measured 2.9 s -> 0.65 s for the
    8-gram explode over the sf0.1 corpus)."""

    def make_shingles(toks):
        count = F.size(toks) - (n - 1)
        make = F.transform(
            F.sequence(F.lit(0), count - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
        return F.array_distinct(
            F.when(count >= 1, make).otherwise(F.array())
        )

    return bind_once(tokens_col(text), make_shingles)


def exact_duplicates(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-content duplicate groups: fingerprint -> groupBy -> count.

    One shuffle on the 32-char hash; at 100 TB this is the cheapest dedup
    pass and runs first in a dedup cascade.
    """
    return (
        df.select(F.col(id_col), fingerprint_col(text).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def incremental_exact_duplicates(
    new_docs: DataFrame,
    corpus_fingerprints: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Mark each NEW document as an exact duplicate of the stored corpus.

    ``corpus_fingerprints`` is the stored fingerprint index — e.g. the
    ``fingerprint`` column of :func:`exact_duplicates` output, persisted as
    parquet. Returns (doc_id, fingerprint, dup_of_corpus) for every new
    document; output is exact.

    Scale design — the naive shape shuffles BOTH sides of the probe join,
    and at 100 TB the index side dwarfs every batch. The join is written so
    Catalyst's runtime Bloom-filter injection
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) applies: the
    index is the application (big, scan) side and the batch the creation
    side, so the optimizer builds a Bloom of the batch's fingerprints and
    pushes ``might_contain`` beneath the index scan — the corpus-sized
    side shuffles only rows whose fingerprint *might* be in the batch
    (true matches + the Bloom's fpp), not the whole index
    (asserted in tests/test_extension_plans.py). The left join back to the
    batch keeps non-duplicates with dup_of_corpus=false.
    """
    fps = new_docs.select(
        F.col(id_col).alias("doc_id"), fingerprint_col(text).alias("fingerprint")
    )
    # index side first = application side for the runtime-filter rewrite
    hits = (
        corpus_fingerprints.select("fingerprint")
        .join(fps.select("fingerprint").distinct(), "fingerprint", "left_semi")
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return fps.join(hits, "fingerprint", "left").select(
        "doc_id",
        "fingerprint",
        F.coalesce(F.col("_dup"), F.lit(False)).alias("dup_of_corpus"),
    )


def bloom_parameters(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Standard Bloom sizing: ``m = -n ln p / (ln 2)^2`` bits (rounded up
    to a multiple of 32 — the word width below), ``k = (m/n) ln 2``
    probes, clamped to [1, 16]."""
    import math

    n = max(n_items, 1)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = ((m + 31) // 32) * 32
    k = min(16, max(1, round(m / n * math.log(2))))
    return m, k


# Position-derivation version for STORED Bloom word tables. v2 (round 8)
# clamps the Kirsch-Mitzenmacher step hash into [1, m-1]; v1 indexes
# (plain `% m` step) place bits at different positions for essentially
# every fingerprint, so probing a v1 word table with v2 code LOSES the
# no-false-negative guarantee. Stored indexes built before v2 must be
# rebuilt (build is one explode + bit_or — cheap); persist this constant
# alongside any word table whose lifetime crosses code versions.
BLOOM_FORMAT_VERSION = 2


def _bloom_positions(fp, m_bits: int, k: int) -> list:
    """k probe positions via Kirsch-Mitzenmacher double hashing over the
    md5-based :func:`hash64` pair — cross-engine reproducible. Both
    halves reduce mod m BEFORE combining, so the sum stays < (k+1)*m and
    can never overflow a long under ANSI mode at any k. The step hash is
    forced into [1, m-1] (``% (m-1) + 1``): an ``h2 == 0`` would collapse
    all k probes onto h1, silently degrading that fingerprint to 1-probe
    fpp (no false negatives either way, but the measured fpp would miss
    :func:`bloom_parameters`' design point). Any change here must land in
    lockstep with the DuckDB oracle in plans/queries_ext.py
    (dedup_bloom_membership) AND bump :data:`BLOOM_FORMAT_VERSION` —
    stored word tables are position-dependent, so a silent change breaks
    the no-false-negative guarantee against existing indexes."""
    from ctcityscraper_spark.functions.hashing import hash64

    if m_bits < 2:
        # m_bits=1 would make the step clamp a modulo-by-zero (ANSI mode
        # fails the job at action time with an opaque DIVIDE_BY_ZERO);
        # a 1-bit filter is useless anyway — refuse loudly at build time
        raise ValueError(f"m_bits must be >= 2, got {m_bits}")
    h1 = hash64(fp, "bloomA") % m_bits
    h2 = (hash64(fp, "bloomB") % F.lit(m_bits - 1)) + 1
    return [(h1 + F.lit(i) * h2) % m_bits for i in range(k)]


def build_bloom_index(
    df: DataFrame, m_bits: int, k: int, text: str = "text"
) -> DataFrame:
    """Stored Bloom membership index: (word_idx, word) 32-bit words of one
    ``m_bits``-bit Bloom filter over the md5 fingerprints of every
    non-NULL ``text``.

    The "have we already got this document?" primitive for a continuously
    growing corpus: probing costs a join against ~m/32 rows (≤ a few GB
    for billions of documents at 1 % fpp) instead of the corpus-sized
    fingerprint index — :func:`incremental_exact_duplicates` is the exact
    path, this is the cheap pre-filter in front of it. Build is one
    explode (k rows/doc) + one bit_or aggregation; probes use the same
    md5-derived positions, so DuckDB reproduces the filter bit-for-bit
    (the whole operator is oracle-checkable — no Java Bloom library
    involved). Words hold 32 bits each so every mask stays positive in
    both engines' signed-long bit ops.
    """
    pos = F.explode(
        F.array(*_bloom_positions(F.md5(F.col(text)), m_bits, k))
    ).alias("pos")
    return (
        df.filter(F.col(text).isNotNull())
        .select(pos)
        .selectExpr(
            "CAST(pos DIV 32 AS BIGINT) AS word_idx",
            "shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT)) AS mask",
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def merge_bloom_words(words: DataFrame) -> DataFrame:
    """bit_or-merge a (word_idx, word) frame (any mix of full filters,
    per-batch deltas, or partially-merged epochs over the SAME
    ``(m_bits, k)``) into one word per index. THE single definition of
    the Bloom merge — :func:`update_bloom_index`, the streaming sink's
    compaction transform, and ``streaming.events.read_bloom_words`` all
    call this, so the merge ≡ fresh-build property (OR-associativity)
    can't silently desynchronize between the batch and streaming paths.
    Idempotent over already-merged rows (required by the compaction
    ``transform`` contract)."""
    return (
        words.select("word_idx", "word")
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )


def bloom_saturation(bloom: DataFrame, m_bits: int, k: int) -> DataFrame:
    """Saturation / false-positive health of a stored Bloom word table —
    the MEMBERSHIP member of the monitor family (quantile_drift, IVF
    imbalance, PQ recon drift, CMS drift): one row ``(m_bits, k,
    n_words, set_bits, fill, est_fpp)``.

    ``fill`` (set bits / m_bits) only ever RISES for an append-only
    filter (words only gain bits), and the probe's false-positive rate
    is ``fill^k`` — when it crosses the design point the pre-filter
    stops pre-filtering (every probe flags, every row pays the exact
    chase) and the fix is a bigger rebuild. A nightly check of this one
    row is what keeps :func:`bloom_chased_duplicates`' "chase ~1 % of
    the batch" claim true as the corpus grows. Pure integer bit_count +
    one exact division + a k-fold left-to-right multiply — DuckDB
    reproduces every field bit-for-bit. Cost: one aggregate over the
    ≤ m/32-row word table; nothing corpus-sized.

    Accepts UNMERGED input (per-batch delta rows from a streaming zone,
    with overlapping bits per ``word_idx``): :func:`merge_bloom_words`
    runs first, so ``sum(bit_count)`` never double-counts a bit that two
    deltas both set. Idempotent on already-merged tables."""
    if m_bits < 1 or k < 1:
        raise ValueError(f"m_bits and k must be >= 1, got ({m_bits}, {k})")
    agg = merge_bloom_words(bloom).agg(
        F.count("*").alias("n_words"),
        F.coalesce(F.sum(F.bit_count("word")), F.lit(0)).alias("set_bits"),
    )
    fill = F.col("set_bits") / F.lit(int(m_bits))
    fpp = fill
    for _ in range(k - 1):
        fpp = fpp * fill
    return agg.select(
        F.lit(int(m_bits)).alias("m_bits"),
        F.lit(int(k)).alias("k"),
        "n_words",
        "set_bits",
        fill.alias("fill"),
        fpp.alias("est_fpp"),
    )


def update_bloom_index(
    bloom: DataFrame, new_docs: DataFrame, m_bits: int, k: int,
    text: str = "text",
) -> DataFrame:
    """Merge a new document batch into a stored :func:`build_bloom_index`.

    Bloom filters over the same ``(m_bits, k)`` parameters merge by
    bitwise OR, so the incremental maintenance step for a continuously
    growing corpus is exact: ``update_bloom_index(build_bloom_index(A),
    B)`` is bit-for-bit identical to ``build_bloom_index(A ∪ B)``
    (OR-associativity; property-tested). Cost is the delta build (one
    explode + bit_or over the BATCH only — never the corpus) plus a
    union + bit_or re-aggregation of ≤ 2·m/32 word rows. Rewrite the
    merged result bucketed on word_idx (sources/bucketed.py) to keep the
    probe join shuffle-free on the index side; the union discards the
    stored table's bucketing, so the re-write is where it comes back.
    No false negative can ever be introduced: words only gain bits.
    """
    delta = build_bloom_index(new_docs, m_bits, k, text)
    return merge_bloom_words(bloom.unionByName(delta))


def rebuild_bloom_from_fingerprints(
    fps: DataFrame, m_bits: int, k: int, fingerprint: str = "fingerprint"
) -> DataFrame:
    """Rebuild the Bloom word table at NEW ``(m_bits, k)`` from the
    stored md5-fingerprint index — the response arm of the
    :func:`bloom_saturation` monitor, closing the Bloom maintenance
    loop (detect saturation → WIDER rebuild → verify) without ever
    re-reading the corpus.

    Exactness: :func:`build_bloom_index` hashes documents through
    ``md5(text)`` and the two-tier chase stores exactly that md5 as the
    fingerprint index (``bloom_chased_duplicates`` /
    ``streaming_corpus_prep``'s ``fingerprints`` zone), so probing
    positions derived from the STORED fingerprints is bit-for-bit the
    fresh build over the original texts at the new parameters — no
    false negative can be introduced, because the rebuilt filter covers
    precisely the document set the fingerprint index covers (pinned by
    test). Cost: one explode + bit_or over the fingerprint index (one
    row per distinct document content — corpus-shaped but a single
    scan-stage pass; the texts themselves are never touched). A filter
    CANNOT be widened from its own word table (positions don't map
    between m values) — the fingerprint index is what makes cheap
    re-parameterization possible, which is why the two-tier design
    stores it."""
    pos = F.explode(
        F.array(*_bloom_positions(F.col(fingerprint), m_bits, k))
    ).alias("pos")
    return (
        fps.filter(F.col(fingerprint).isNotNull())
        .select(pos)
        .selectExpr(
            "CAST(pos DIV 32 AS BIGINT) AS word_idx",
            "shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT)) AS mask",
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_might_contain(
    batch: DataFrame,
    bloom: DataFrame,
    m_bits: int,
    k: int,
    text: str = "text",
    id_col: str = "doc_id",
    out_col: str = "might_contain",
) -> DataFrame:
    """Flag each batch document against a stored :func:`build_bloom_index`.

    No false negatives (a document whose fingerprint was fed to the build
    always flags true); false positives at the filter's designed fpp —
    chase flagged rows with the exact :func:`incremental_exact_duplicates`
    join when exactness matters. NULL-text documents flag false. The
    probe explodes k rows per batch doc and left-joins the bloom words on
    ``word_idx`` — bucket the stored bloom table on word_idx to make that
    join shuffle-free on the (already tiny) index side.
    """
    probes = (
        batch.filter(F.col(text).isNotNull())
        .select(
            F.col(id_col),
            F.explode(
                F.array(*_bloom_positions(F.md5(F.col(text)), m_bits, k))
            ).alias("pos"),
        )
        .selectExpr(
            id_col,
            "CAST(pos DIV 32 AS BIGINT) AS word_idx",
            "shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT)) AS mask",
        )
    )
    flags = (
        probes.join(bloom, "word_idx", "left")
        .groupBy(id_col)
        .agg(
            F.bool_and(
                (F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("mask")))
                == F.col("mask")
            ).alias("_mc")
        )
    )
    return batch.join(flags, id_col, "left").withColumn(
        out_col, F.coalesce(F.col("_mc"), F.lit(False))
    ).drop("_mc")


def bloom_chased_duplicates(
    batch: DataFrame,
    corpus_fingerprints: DataFrame,
    bloom: DataFrame,
    m_bits: int,
    k: int,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The production two-tier incremental exact dedup: Bloom pre-filter,
    exact chase for FLAGGED rows only.

    Every batch document probes the stored :func:`build_bloom_index`
    words (~m/32 rows); only the flagged subset — true duplicates plus
    the filter's designed fpp — joins the corpus-sized fingerprint
    index. At 25B docs that turns "every batch row joins a 25B-row
    index" into "a few-GB word probe for everyone + an index join for
    ~1 % of the batch". No false negatives end-to-end: the chase uses
    the SAME fingerprint definition as the bloom build (raw
    ``md5(text)`` — ``corpus_fingerprints`` must carry it in a
    ``fingerprint`` column; a different definition, e.g. the normalized
    :func:`fingerprint_col`, would let a true duplicate flag false and
    make ``is_dup AND NOT might_contain`` possible, breaking the whole
    point of the pre-filter). Returns (doc_id, might_contain, is_dup);
    ``is_dup`` implies ``might_contain`` by construction. NULL-text
    rows flag false/false.
    """
    from ctcityscraper_spark.operators.artifacts import persist_tracked

    # Project the fingerprint ONCE (md5 per batch row, not once per
    # downstream reference) and persist the narrow (doc_id, _fp,
    # might_contain) frame: it feeds BOTH the chase's semi-join probe and
    # the final verdict join, and without the persist the whole probe
    # chain (word-position explode + bloom-word join + bool_and groupBy)
    # plans — and executes — once per consumer (guide §2.4; the committed
    # r15 dedup_bloom_chase plan shows the duplicated chains).
    flagged = persist_tracked(
        bloom_might_contain(
            batch, bloom, m_bits, k, text=text, id_col=id_col
        ).select(
            F.col(id_col).alias("doc_id"),
            F.md5(F.col(text)).alias("_fp"),
            "might_contain",
        )
    )
    hits = (
        corpus_fingerprints.select("fingerprint")
        .join(
            flagged.filter(F.col("might_contain"))
            .select(F.col("_fp").alias("fingerprint"))
            .distinct(),
            "fingerprint",
            "left_semi",
        )
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        flagged.join(
            hits,
            flagged["_fp"] == hits["fingerprint"],
            "left",
        )
        .select(
            "doc_id",
            "might_contain",
            F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"),
        )
    )


def doc_shingles(df: DataFrame, text: str = "text", id_col: str = "doc_id", n: int = SHINGLE_N) -> DataFrame:
    """(id, shingle) inverted-index rows, distinct per doc."""
    return df.select(
        F.col(id_col).alias("doc_id"), F.explode(shingles_col(text, n)).alias("shingle")
    )


JACCARD_DF_CAP = 1000  # max document frequency for a shingle to stay indexed


def _drop_hot(
    rows: DataFrame, term_col: str, cap: int | None, sketched: bool
) -> DataFrame:
    """Shared df_cap guard: anti-join out terms above the cap. The hot
    list is exact in both modes (text.hot_terms — the sketched mode is
    the CMS-pre-filtered chase) and tiny by construction, so it
    broadcasts. None disables."""
    from ctcityscraper_spark.operators.text import hot_terms

    if cap is None:
        return rows
    hot = hot_terms(rows, term_col, cap, sketched=sketched)
    return rows.join(F.broadcast(hot), term_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = SHINGLE_N,
    threshold: float = 0.6,
    df_cap: int | None = JACCARD_DF_CAP,
    df_cap_sketched: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard similarity.

    Inverted-index join: |A ∩ B| from pairs sharing a shingle, sizes from a
    per-doc count, jaccard = inter / (|A| + |B| - inter) — integer-exact
    until the single final division.

    ``df_cap`` bounds the self-join's worst case: the join cost is
    Σ bucket², so one boilerplate shingle shared by 10⁶ docs would alone
    yield 10¹² candidate rows. Shingles with document frequency above the
    cap carry no dedup signal and are dropped from the index BEFORE sizes
    and intersections (Jaccard is over the informative-shingle universe);
    the drop list is tiny by construction, so it broadcasts. None disables.
    ``df_cap_sketched`` computes the SAME drop list through the Count-Min
    two-tier (text.hot_terms: sketch pre-pass + exact chase of flagged
    rows) so the full distinct-shingle table never shuffles — row-
    identical output, the scale path when the shingle universe is huge.
    """
    sh = doc_shingles(df, text, id_col, n)
    # the capped index feeds three subplans (sizes, intersect side a,
    # intersect side b) — persist so the explode + hot-list aggregation +
    # anti-join run once, not once per consumer (guide §2.4; same pattern
    # as prefix_filter_jaccard_pairs)
    from ctcityscraper_spark.operators.artifacts import persist_tracked

    sh = persist_tracked(_drop_hot(sh, "shingle", df_cap, df_cap_sketched))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def winnow_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int | None = None,
    window: int | None = None,
    min_shared: int = 3,
    df_cap: int | None = JACCARD_DF_CAP,
    df_cap_sketched: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by shared winnowing fingerprints.

    Position-robust partial-overlap detection: every pair sharing at least
    ``min_shared`` distinct winnowed k-gram window minima (operators/text.py
    ``winnow_fps_col``) is reported with its overlap count. Complements
    whole-set Jaccard — a long verbatim passage inside otherwise-different
    documents still collides here.

    Same inverted-index shape as ``ngram_jaccard_pairs``: equi-join on the
    fingerprint (never a cross join), with the ``df_cap`` hot-bucket guard
    so one boilerplate fingerprint shared by 10^6 docs can't go quadratic.
    """
    from ctcityscraper_spark.operators.text import (
        WINNOW_K,
        WINNOW_WINDOW,
        winnow_fingerprints,
    )

    fps = winnow_fingerprints(
        df, text, id_col, k or WINNOW_K, window or WINNOW_WINDOW
    )
    fps = _drop_hot(fps, "fp", df_cap, df_cap_sketched)
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def jaccard_verify_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = SHINGLE_N,
    threshold: float = 0.6,
    df_cap: int | None = JACCARD_DF_CAP,
    df_cap_sketched: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard for a GIVEN candidate pair list only.

    The cascade's verification stage done right at scale: intersections
    come from joining the shingle index against the candidate pairs
    (cost ∝ |candidates| × per-doc shingle count), never from the full
    inverted-index self-join — so verification scales with candidate
    count, not with how many documents happen to share a shingle.

    The shingle universe (including the ``df_cap`` drop) matches
    ngram_jaccard_pairs exactly: for any pair this returns the same
    jaccard value the all-pairs operator would.
    """
    sh = doc_shingles(df, text, id_col, n)
    return _jaccard_verify_from_shingles(
        sh, candidates, threshold, df_cap, df_cap_sketched
    )


def _jaccard_verify_from_shingles(
    sh0: DataFrame,
    candidates: DataFrame,
    threshold: float,
    df_cap: int | None,
    df_cap_sketched: bool = False,
) -> DataFrame:
    """Single-frame verify: the ``sh_a == sh_b`` instance of
    :func:`_jaccard_verify_cross` after the df_cap drop — one definition
    of the exactness-critical jaccard arithmetic."""
    sh = _drop_hot(sh0, "shingle", df_cap, df_cap_sketched)
    if sh is not sh0:
        # the freshly capped index feeds three subplans (intersect side A,
        # side B, the size aggregation) and each would re-run the hot-list
        # aggregation + anti-join — persist it once, exactly as
        # prefix_filter_jaccard_pairs persists its own capped index
        # (guide §2.4; runtime exchange reuse does not recover the
        # duplicates — see _jaccard_verify_cross). cap=None passes the
        # caller's frame through untouched (the prefix path arrives here
        # already capped AND persisted).
        from ctcityscraper_spark.operators.artifacts import persist_tracked

        sh = persist_tracked(sh)
    return _jaccard_verify_cross(sh, sh, candidates, threshold)


def _prefix_rows(sh, dfreq, threshold_pct: int):
    """(doc_id, shingle, set_size, rn) INDEX-PREFIX rows: each doc's
    first ``s - ceil(t·s) + 1`` shingles under the shared global order
    (ascending ``dfq``, ties by shingle value; shingles absent from the
    order table — e.g. batch-only tokens probed against a frozen corpus
    order — rank as df 0, i.e. rarest). ``rn`` is the shingle's 1-based
    position in the doc's full ordered set — the PPJoin positional
    filter's input (:func:`_prefix_candidates`). Integer-exact ceil:
    ``(t_pct·s + 99) div 100``."""
    ranked = (
        sh.join(dfreq, "shingle", "left")
        .withColumn("dfq", F.coalesce("dfq", F.lit(0)))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("dfq", "shingle")
            ),
        )
        .withColumn(
            "set_size", F.count("*").over(Window.partitionBy("doc_id"))
        )
    )
    alpha = F.expr(f"({threshold_pct} * set_size + 99) div 100")
    return ranked.filter(F.col("rn") <= F.col("set_size") - alpha + 1).select(
        "doc_id", "shingle", "set_size", "rn"
    )


def _prefix_candidates(
    probe: DataFrame,
    index: DataFrame,
    threshold_pct: int,
    self_join: bool,
    keep_sizes: bool = False,
) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs from two :func:`_prefix_rows`
    frames: equi-join on the shared prefix token, then two PPJoin-family
    prunes (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    Detection") before any pair reaches the exact verify:

    - **length filter**: ``t·max(|A|,|B|) <= 100·min(|A|,|B|)``
      (necessary for J >= t) — pure-integer, pushed into the join.
    - **positional filter**: a shared token at 1-based global-order
      positions ``(i, j)`` bounds the overlap by ``1 + min(|A|-i,
      |B|-j)`` (everything common ranks at-or-after the shared token on
      both sides), which must reach the Jaccard overlap requirement
      ``α(A,B) = ceil(t/(1+t)·(|A|+|B|))``. Integer-exact:
      ``α = (t_pct·(sa+sb) + (100+t_pct) − 1) div (100+t_pct)``.

    Recall stays EXACTLY 1: for any pair with J >= t, the FIRST common
    token in the global order lies in both prefixes (the prefix-filter
    pigeonhole), and at that token the bound ``1 + min(|A|-i, |B|-j)``
    is a true upper bound that the real overlap >= α already meets — so
    the pair survives through that witness row even when later shared
    tokens are pruned. Both prunes are candidate-count reducers only;
    the df-cap'd naive-join oracle (hash-match gate) proves it per run.

    ``self_join`` adds doc_a < doc_b so each unordered pair emits once.
    One definition of the exactness-critical size/position arithmetic
    for the self-join and incremental variants.

    ``keep_sizes`` carries each side's ``set_size`` (already exact per-doc
    counts over the capped index, computed by :func:`_prefix_rows`) onto
    the candidate rows as ``size_a``/``size_b`` — sizes are functions of
    the doc ids, so the distinct yields the identical pair set — letting
    :func:`_jaccard_verify_cross` skip re-aggregating sizes from the
    shingle frames (two groupBy passes + two joins)."""
    a, b = probe.alias("a"), index.alias("b")
    sa, sb = F.col("a.set_size"), F.col("b.set_size")
    big, small = F.greatest(sa, sb), F.least(sa, sb)
    # α = ceil(t/(1+t)·(sa+sb)) in integers; denominators are literals
    denom = 100 + threshold_pct
    alpha = F.expr(
        f"({threshold_pct} * (a.set_size + b.set_size) + {denom - 1}) "
        f"div {denom}"
    )
    ubound = F.lit(1) + F.least(sa - F.col("a.rn"), sb - F.col("b.rn"))
    cond = (
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.lit(threshold_pct) * big <= F.lit(100) * small)
        & (ubound >= alpha)
    )
    if self_join:
        cond = cond & (F.col("a.doc_id") < F.col("b.doc_id"))
    cols = [
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    ]
    if keep_sizes:
        cols += [sa.alias("size_a"), sb.alias("size_b")]
    return a.join(b, cond).select(*cols).distinct()


def _jaccard_verify_cross(
    sh_a: DataFrame, sh_b: DataFrame, candidates: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard for cross-set candidate pairs, with each side's
    shingles and sizes kept SEPARATE: ``doc_a`` resolves only against
    ``sh_a`` and ``doc_b`` only against ``sh_b``, so a doc_id present in
    BOTH frames (a batch re-ingesting an id the corpus already holds)
    cannot merge two documents' shingle sets the way a naive
    union-then-verify would — that silently double-counts sizes and
    intersections and breaks the exact-recall contract.

    When ``candidates`` already carries ``size_a``/``size_b`` (the
    ``keep_sizes`` form of :func:`_prefix_candidates` — per-side exact
    counts over the same capped universes, from :func:`_prefix_rows`),
    the sizes ride the intersect aggregation as extra group keys
    (functionally dependent on the doc ids, so the groups are unchanged)
    instead of being re-aggregated from the shingle frames — two groupBy
    passes and two joins fewer, row-identical output."""
    have_sizes = {"size_a", "size_b"} <= set(candidates.columns)
    group = (
        ["doc_a", "doc_b", "size_a", "size_b"]
        if have_sizes
        else ["doc_a", "doc_b"]
    )
    pairs = candidates.select(*group)
    inter = (
        pairs.join(
            sh_a.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            sh_b.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy(*group)
        .agg(F.count("*").alias("inter"))
    )
    if not have_sizes:
        if sh_a is sh_b:
            # self-verify (the cascade / ngram_jaccard paths): both sides'
            # sizes are the SAME per-doc counts over the same frame —
            # aggregate once into a tiny (doc_id, sz) frame, persist it,
            # and serve both joins from the cache instead of running the
            # full index scan + aggregation once per side (guide §2.4;
            # exchange reuse does NOT collapse the two subtrees — the
            # committed r15 before-plans show both passes executing).
            from ctcityscraper_spark.operators.artifacts import persist_tracked

            sizes = persist_tracked(
                sh_a.groupBy("doc_id").agg(F.count("*").alias("_sz"))
            )
            sa = sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("_sz").alias("size_a")
            )
            sb = sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("_sz").alias("size_b")
            )
        else:
            sa = sh_a.groupBy("doc_id").agg(F.count("*").alias("size_a")).withColumnRenamed("doc_id", "doc_a")
            sb = sh_b.groupBy("doc_id").agg(F.count("*").alias("size_b")).withColumnRenamed("doc_id", "doc_b")
        inter = inter.join(sa, "doc_a").join(sb, "doc_b")
    return (
        inter.withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = SHINGLE_N,
    threshold_pct: int = 60,
    df_cap: int | None = JACCARD_DF_CAP,
    df_cap_sketched: bool = False,
) -> DataFrame:
    """Exact Jaccard self-join via prefix filtering (AllPairs/PPJoin
    family) — the EXACT-recall counterpart to ``minhash_lsh_pairs``.

    Same output contract as :func:`ngram_jaccard_pairs` (row-identical by
    construction: candidates are verified by the shared
    ``_jaccard_verify_from_shingles`` over the same shingle universe),
    but candidate generation never joins the full inverted index:

    - Each doc's shingles are ordered by ASCENDING global document
      frequency (ties by shingle value — a deterministic total order),
      and only the first ``p = s - ceil(t*s) + 1`` of its ``s`` shingles
      are indexed. Prefix-filtering principle: J(A,B) >= t implies
      ``|A∩B| >= ceil(t/(1+t)*(|A|+|B|)) >= ceil(t*|A|)`` and
      ``>= ceil(t*|B|)``, so by pigeonhole the two prefixes must share a
      token — no candidate (hence no result row) is ever lost, unlike
      LSH's probabilistic recall.
    - The prefix join therefore touches only the ~(1-t) RAREST tokens of
      each doc: the hot boilerplate shingles that dominate Σ bucket² in
      the naive self-join sort to the END of the df-ascending order and
      never enter the index. ``df_cap`` stays as the adversarial
      backstop (and keeps the verify universe identical to
      ``ngram_jaccard_pairs``).
    - Candidates below the size bound ``t*max(|A|,|B|) <= min(|A|,|B|)``
      (a necessary condition for J >= t) are pruned before verification.

    All candidate arithmetic is pure-integer (``threshold_pct`` is an
    integer percent; ``ceil(t*s)`` is ``(t_pct*s + 99) div 100``), so no
    float rounding can shift a prefix length across engines; the single
    float comparison is the final verify division — the same rule the
    oracle applies. Shuffle shape: one groupBy(shingle) for document
    frequencies, one doc-keyed window for prefix ranks, the prefix-only
    equi-join, then candidate-bounded verification — never a cross join.
    """
    if not (isinstance(threshold_pct, int) and 1 <= threshold_pct <= 100):
        raise ValueError(
            f"threshold_pct must be an integer in [1, 100], got {threshold_pct!r}"
        )
    sh0 = doc_shingles(df, text, id_col, n)
    # The capped index is referenced by the df attach, the rank window,
    # and the verify stage's sizes + two candidate joins — without the
    # persist each reference re-executes the shingle explode and the
    # hot-list aggregation (the r11 kmv_overlap lesson: reused frames in
    # composed plans must be materialized once). Registered with
    # operators.artifacts for long-lived-session release.
    from ctcityscraper_spark.operators.artifacts import persist_tracked

    if df_cap is not None and not df_cap_sketched:
        # FUSED exact path: ONE groupBy(shingle) yields both the hot
        # drop list (dfq > cap) and the document-frequency order table
        # (dfq <= cap) — dropping hot shingles doesn't change any other
        # shingle's count, so the filtered counts ARE the post-drop
        # dfreq, and the old second aggregation over the capped stream
        # is pure duplicate work. (The sketched mode keeps its two-tier
        # CMS pre-pass — its whole point is never shuffling the full
        # distinct-term table.)
        counts = persist_tracked(
            sh0.groupBy("shingle").agg(F.count("*").alias("dfq"))
        )
        hot = counts.filter(F.col("dfq") > df_cap).select("shingle")
        sh = persist_tracked(sh0.join(F.broadcast(hot), "shingle", "left_anti"))
        dfreq = counts.filter(F.col("dfq") <= df_cap)
    else:
        sh = persist_tracked(_drop_hot(sh0, "shingle", df_cap, df_cap_sketched))
        dfreq = sh.groupBy("shingle").agg(F.count("*").alias("dfq"))
    prefix = _prefix_rows(sh, dfreq, threshold_pct)
    candidates = _prefix_candidates(
        prefix, prefix, threshold_pct, self_join=True, keep_sizes=True
    )
    # verify over the ALREADY-capped index (cap=None: `sh` has the hot
    # shingles dropped above, so re-deriving the hot list would redo the
    # distinct-shingle aggregation for an identical universe)
    return _jaccard_verify_from_shingles(
        sh, candidates, threshold_pct / 100, None
    )


def minhash_signatures(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    n: int = SHINGLE_N,
) -> DataFrame:
    """K-permutation MinHash signatures via a universal-hash family.

    One md5 (hash64) per shingle, reduced mod 2^31-1, then K affine
    permutations — pure integer arithmetic, so K grows nearly free. One
    explode + one groupBy with K map-side-combinable mins: the shuffle
    carries one row per doc, K longs wide, regardless of doc length.
    """
    sh = doc_shingles(df, text, id_col, n)
    return _minhash_sigs_from_shingles(sh, k)


def _minhash_sigs_from_shingles(sh0: DataFrame, k: int) -> DataFrame:
    sh = sh0.withColumn("base", hash64("shingle") % MINHASH_P)
    aggs = [
        F.min((F.lit(a) * F.col("base") + F.lit(b)) % MINHASH_P).alias(f"mh_{i}")
        for i, (a, b) in enumerate(_perm_constants(k))
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    n: int = SHINGLE_N,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Signature split into ``bands`` bands of k/bands rows; docs sharing any
    band hash are candidates. Pair generation is an equi-join on
    (band, band_hash) — bucket-local, never quadratic in the corpus.
    """
    rows = k // bands
    sig = minhash_signatures(df, text, id_col, k, n)
    return _lsh_band_pairs(sig, k, bands)


def _band_stack(sig: DataFrame, k: int, bands: int) -> DataFrame:
    """(doc_id, band, band_hash) rows — the persistable LSH bucket index."""
    rows = k // bands
    band_cols = [
        F.md5(F.concat_ws(":", *[F.col(f"mh_{b * rows + r}").cast("string") for r in range(rows)])).alias(
            f"band_{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select("doc_id", *band_cols)
    return banded.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias(
            "band", "band_hash"
        ),
    )


def lsh_band_index(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    n: int = SHINGLE_N,
) -> DataFrame:
    """The corpus-side LSH artifact for incremental dedup: (doc_id, band,
    band_hash). In production this is computed once per corpus snapshot and
    stored (ideally bucketed on (band, band_hash), sources/bucketed.py);
    each new batch then joins its own small index against it."""
    return _band_stack(minhash_signatures(df, text, id_col, k, n), k, bands)


def _lsh_band_pairs(sig: DataFrame, k: int, bands: int) -> DataFrame:
    # Persist the band index before self-joining: both join sides are the
    # SAME frame, and without the persist Spark plans two full
    # scan→shingle-explode→min-agg chains — every shingle md5 computed
    # twice. Cached, the signature pipeline runs once and both sides read
    # the in-memory index (~(8+k/bands·16) bytes/doc·band — far smaller
    # than the corpus; MEMORY_AND_DISK spills rather than recomputes at
    # 100 TB, and LRU eviction bounds a long session). Registered with
    # operators.artifacts — release via artifacts.scope()/release_all()
    # (recomputes from lineage afterwards).
    from pyspark.storagelevel import StorageLevel

    from ctcityscraper_spark.operators.artifacts import _track_persist

    stacked = _track_persist(
        _band_stack(sig, k, bands).persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def cascade_confirmed_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    n: int = SHINGLE_N,
    threshold: float = 0.6,
    df_cap: int | None = JACCARD_DF_CAP,
    materialize: bool = True,
) -> DataFrame:
    """The production dedup cascade over ONE shared shingle index.

    LSH candidate generation and exact-Jaccard verification both consume
    the same (doc_id, shingle) inverted index; ``materialize`` checkpoints
    that index once so the explode + per-shingle md5 run a single time
    instead of once per consumer (signature build, intersection side A,
    intersection side B). At cluster scale the same role is played by
    ``persist(DISK_ONLY)`` or writing the index as a bucketed table
    (sources/bucketed.py) — the point is identical: the index is the
    expensive artifact; build it once, reuse it across cascade stages.
    """
    sh0 = doc_shingles(df, text, id_col, n)
    if materialize:
        from ctcityscraper_spark.operators.artifacts import checkpoint_tracked

        sh0 = checkpoint_tracked(sh0)
    cand = _lsh_band_pairs(_minhash_sigs_from_shingles(sh0, k), k, bands)
    return _jaccard_verify_from_shingles(sh0, cand, threshold, df_cap)


def incremental_dedup_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    corpus_index: DataFrame | None = None,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    n: int = SHINGLE_N,
    threshold: float = 0.6,
    df_cap: int | None = JACCARD_DF_CAP,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and an EXISTING corpus only.

    The production shape for continuously-growing corpora: the corpus LSH
    index (``lsh_band_index``) is a stored artifact, the new batch builds
    its own (small) index, and candidates come from the cross join of the
    two band-bucket sets — cost ∝ |batch|, never re-pairing the corpus
    against itself. Verification is exact Jaccard over the combined
    shingle universe, restricted to the candidate pairs.

    Returns (new_doc, corpus_doc, jaccard >= threshold).
    """
    idx = corpus_index
    if idx is None:
        idx = lsh_band_index(corpus_docs, text, id_col, k, bands, n)
    new_idx = lsh_band_index(new_docs, text, id_col, k, bands, n)
    cand = (
        new_idx.withColumnRenamed("doc_id", "doc_a")
        .join(idx.withColumnRenamed("doc_id", "doc_b"), ["band", "band_hash"])
        .select("doc_a", "doc_b")
        .distinct()
    )
    from ctcityscraper_spark.operators.artifacts import persist_tracked

    sh_b = doc_shingles(new_docs, text, id_col, n)
    sh_c = doc_shingles(corpus_docs, text, id_col, n)
    if df_cap is not None:
        # hot list over the COMBINED universe — the documented semantics
        # (and this query's oracle); the drop applies to both sides.
        # Persisted: it embeds a full corpus shingle explode + aggregation
        # and feeds TWO broadcast anti-joins below — without the persist
        # the second anti-join re-runs the whole union + aggregation
        # (the kmv_overlap lesson; incremental_prefix_pairs persists its
        # frozen-corpus drop list the same way).
        from ctcityscraper_spark.operators.text import hot_terms

        hot = persist_tracked(
            hot_terms(sh_b.unionByName(sh_c), "shingle", df_cap)
        )
        sh_b = sh_b.join(F.broadcast(hot), "shingle", "left_anti")
        sh_c = sh_c.join(F.broadcast(hot), "shingle", "left_anti")
    # both shingle frames feed multiple verify subplans (set sizes side A,
    # side B, intersection) — persist so the explode + per-shingle md5 +
    # hot anti-join run once, not once per consumer (mirrors
    # incremental_prefix_pairs)
    sh_b = persist_tracked(sh_b)
    sh_c = persist_tracked(sh_c)
    # side-separated verify: a doc_id present in BOTH frames (a batch
    # re-ingesting an id the corpus holds) must not merge two documents'
    # shingle sets the way the old union-then-verify did
    verified = _jaccard_verify_cross(sh_b, sh_c, cand, threshold)
    return verified.select(
        F.col("doc_a").alias("new_doc"),
        F.col("doc_b").alias("corpus_doc"),
        "jaccard",
    )


def incremental_prefix_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = SHINGLE_N,
    threshold_pct: int = 60,
    df_cap: int | None = JACCARD_DF_CAP,
    df_cap_sketched: bool = False,
) -> DataFrame:
    """EXACT near-dup pairs between a NEW batch and an EXISTING corpus —
    the recall=1 counterpart of :func:`incremental_dedup_pairs` (whose
    MinHash bands can miss a true pair with LSH probability).

    Production shape: the corpus side's artifacts are all FROZEN and
    storable — the hot-shingle drop list, the (shingle, dfq) document-
    frequency order table, and the corpus prefix index
    (:func:`_prefix_rows` output: only each doc's ``(1-t)`` rarest
    shingles) — so the nightly batch pays only its own shingle explode,
    a broadcast hot-list anti-join, its own prefix ranking against the
    stored order (tokens the corpus has never seen rank as df 0), the
    prefix-probe equi-join, and candidate-bounded exact verification.
    Cost ∝ |batch| × index, never corpus × corpus. Store the prefix
    index BUCKETED on shingle (sources/bucketed.py): the probe join
    then plans with no Exchange on the corpus-sized side — only the
    batch probe re-buckets (plan-asserted in
    tests/test_extension_plans.py, the same layout contract as the
    span/bloom/IVF stored indexes).

    Exactness: both sides' prefixes use the SAME fixed global order
    (corpus dfq, ties by shingle) over the SAME capped universe (the
    corpus-derived hot list applied to both sides), so the prefix-
    filtering principle guarantees every batch×corpus pair with capped-
    universe Jaccard ≥ t shares a token in both prefixes — no candidate
    lost, pure-integer prefix arithmetic, and the verify stage is the
    shared exact kernel. Returns (new_doc, corpus_doc, jaccard)."""
    from ctcityscraper_spark.operators.artifacts import persist_tracked
    from ctcityscraper_spark.operators.text import hot_terms

    if not (isinstance(threshold_pct, int) and 1 <= threshold_pct <= 100):
        raise ValueError(
            f"threshold_pct must be an integer in [1, 100], got {threshold_pct!r}"
        )
    sh_c = doc_shingles(corpus_docs, text, id_col, n)
    sh_b = doc_shingles(new_docs, text, id_col, n)
    if df_cap is not None and not df_cap_sketched:
        # FUSED exact path (see prefix_filter_jaccard_pairs): one corpus
        # groupBy yields the frozen drop list AND the frozen (shingle,
        # dfq) order table — both stored artifacts in production, both
        # the tail of the same aggregation. Batch-emergent hot shingles
        # wait for the next index rebuild, like the frozen hot-segment
        # list of the incremental prep DAG.
        counts = persist_tracked(
            sh_c.groupBy("shingle").agg(F.count("*").alias("dfq"))
        )
        hot = counts.filter(F.col("dfq") > df_cap).select("shingle")
        sh_c = sh_c.join(F.broadcast(hot), "shingle", "left_anti")
        sh_b = sh_b.join(F.broadcast(hot), "shingle", "left_anti")
        sh_c = persist_tracked(sh_c)
        sh_b = persist_tracked(sh_b)
        dfreq = counts.filter(F.col("dfq") <= df_cap)
    else:
        if df_cap is not None:
            # sketched drop list: the CMS two-tier pre-pass — persisted
            # because it feeds BOTH sides' anti-joins
            hot = persist_tracked(
                hot_terms(sh_c, "shingle", df_cap, sketched=df_cap_sketched)
            )
            sh_c = sh_c.join(F.broadcast(hot), "shingle", "left_anti")
            sh_b = sh_b.join(F.broadcast(hot), "shingle", "left_anti")
        sh_c = persist_tracked(sh_c)
        sh_b = persist_tracked(sh_b)
        # dfreq feeds both _prefix_rows calls — persist so the corpus df
        # aggregation runs once
        dfreq = persist_tracked(
            sh_c.groupBy("shingle").agg(F.count("*").alias("dfq"))
        )
    idx = _prefix_rows(sh_c, dfreq, threshold_pct)  # the stored artifact
    probe = _prefix_rows(sh_b, dfreq, threshold_pct)
    cand = _prefix_candidates(
        probe, idx, threshold_pct, self_join=False, keep_sizes=True
    )
    # side-separated verify: a doc_id present in BOTH frames (a batch
    # re-ingesting an id the corpus holds) must not merge two documents'
    # shingle sets — see _jaccard_verify_cross
    verified = _jaccard_verify_cross(sh_b, sh_c, cand, threshold_pct / 100)
    return verified.select(
        F.col("doc_a").alias("new_doc"),
        F.col("doc_b").alias("corpus_doc"),
        "jaccard",
    )


def simhash_signatures(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """B-bit SimHash over distinct tokens.

    bit_b = 1 iff sum over tokens of (bit_b(hash64(token)) * 2 - 1) > 0
    (ties -> 0, deterministic). Computed as B conditional aggregates after
    one explode — map-side combinable, one row per doc out.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens_col(text))).alias("token"),
    ).withColumn("th", hash64("token"))
    bit_sums = [
        F.sum(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"s_{b}")
        for b in range(bits)
    ]
    summed = toks.groupBy("doc_id").agg(*bit_sums)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"s_{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return summed.select("doc_id", sig.alias("simhash"))


def simhash_blocks(bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """(shift_offset, width) of each signature block, bits split as evenly
    as possible. Shared with the DuckDB oracle generator so both engines
    block identically."""
    widths = [bits // n_blocks + (1 if i < bits % n_blocks else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    return list(zip(offsets, widths))


def simhash_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """ALL pairs within SimHash hamming distance <= max_hamming.

    Charikar multi-block scheme: the signature splits into
    ``n_blocks = max_hamming + 1`` blocks; a pair differing in at most
    ``max_hamming`` bits must agree EXACTLY on at least one block
    (pigeonhole), so the candidate set from a single equi-join on
    (block, block_val) over the posexploded block table provably contains
    every true pair. The exact ``bit_count(xor)`` filter then makes the
    result exactly the hamming ball — full recall, no cross join.

    The join is a plain hash/sort-merge equi-join (never CartesianProduct —
    asserted in tests/test_extension_plans.py). Per-block candidate work is
    O(sum over buckets of bucket²); at 100 TB use wider signatures
    (bits=48/64) so each block carries >= 12 bits -> >= 4096 bucket values.
    """
    if n_blocks is None:
        n_blocks = max_hamming + 1
    sig = simhash_signatures(df, text, id_col, bits)
    block_vals = F.array(
        *[
            F.shiftright("simhash", off).bitwiseAND(F.lit(2**w - 1))
            for off, w in simhash_blocks(bits, n_blocks)
        ]
    )
    stacked = sig.select(
        "doc_id", "simhash", F.posexplode(block_vals).alias("block", "block_val")
    )
    a, b = stacked.alias("a"), stacked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.select("doc_a", "doc_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    block: str | None = "label",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity.

    ``block`` joins only within a blocking key (e.g. a cluster/LSH bucket
    from similarity.py) — pass None for the exhaustive O(n²) verify-scale
    variant. Dot/norm are left-to-right float64 folds so the DuckDB oracle
    matches bit-for-bit. Invalid vectors (NULL / NULL-element / zero-norm,
    ``similarity.valid_vector_cond``) are excluded — cosine is undefined
    for them and the division raises under ANSI mode.
    """
    from ctcityscraper_spark.operators.similarity import valid_vectors

    df = valid_vectors(df, vec)
    v = df.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec), lambda x: x.cast("double")).alias("v"),
        *([F.col(block).alias("blk")] if block else []),
    )
    a, b = v.alias("a"), v.alias("b")
    cond = F.col("a.vec_id") < F.col("b.vec_id")
    if block:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda side: F.sqrt(  # noqa: E731
        F.aggregate(F.col(f"{side}.v"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (dot / (norm("a") * norm("b"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def srp_bucket_index(
    df: DataFrame,
    dims: int,
    bits: int = 4,
    vec: str = "embedding",
    id_col: str = "vec_id",
    literal_gate: int | None = None,
) -> DataFrame:
    """The STORABLE SRP bucket index for an embedding corpus:
    ``(vec_id, v, bucket)`` rows — write it as parquet bucketed on
    ``bucket`` (sources/bucketed.py) so incremental probes join
    shuffle-free on the corpus side. The plane matrix is
    seed-deterministic (``similarity.srp_bucket_col``), so index and
    probe agree with NO shared state beyond (dims, bits) — record both
    next to the table (the `_zone_meta` discipline). Above
    ``literal_gate`` plan literals the bucketing auto-switches to the
    Arrow matmul (:func:`similarity.srp_bucket_vectorized`), same gate
    as :func:`semdedup_drop_list`."""
    from ctcityscraper_spark.operators.similarity import (
        SRP_LITERAL_GATE,
        srp_bucket_col,
        srp_bucket_vectorized,
        valid_vectors,
    )

    if literal_gate is None:
        literal_gate = SRP_LITERAL_GATE
    df = valid_vectors(df, vec).filter(F.col(id_col).isNotNull())
    if dims * bits <= literal_gate:
        return df.select(
            F.col(id_col).alias("vec_id"),
            F.transform(F.col(vec), lambda x: x.cast("double")).alias("v"),
            srp_bucket_col(
                F.transform(F.col(vec), lambda x: x.cast("double")),
                dims,
                bits,
            ).alias("bucket"),
        )
    return srp_bucket_vectorized(
        df, dims, bits, vec=vec, id_col=id_col,
        out_col="bucket", carry_vec=True,
    ).select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec), lambda x: x.cast("double")).alias("v"),
        "bucket",
    )


def incremental_embedding_pairs(
    new_vectors: DataFrame,
    corpus_vectors: DataFrame | None,
    dims: int,
    corpus_index: DataFrame | None = None,
    threshold: float = 0.95,
    bits: int = 4,
    vec: str = "embedding",
    id_col: str = "vec_id",
    literal_gate: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs between a NEW batch and an EXISTING
    corpus only — the embedding member of the incremental-dedup family
    (exact: :func:`incremental_exact_duplicates`, MinHash:
    :func:`incremental_dedup_pairs`, prefix-exact:
    :func:`incremental_prefix_pairs`; this one for SemDeDup-style
    semantic duplicates).

    Production shape: the corpus side is the STORED
    :func:`srp_bucket_index` (pass ``corpus_index``; bucketed on
    ``bucket`` the probe join is shuffle-free on the corpus side), the
    batch computes its own buckets under the SAME seed-deterministic
    planes, candidates come from the bucket equi-join — cost
    ∝ |batch| × bucket occupancy, never corpus × corpus — and exact
    fold-cosine verifies candidates only. Sides stay separated: a
    vec_id present in BOTH frames verifies against each side's own
    vector (a batch re-ingesting a corpus id is a legitimate pair).
    Recall caveat (the SemDeDup/SRP trade): a true pair split across
    buckets is missed — ``bits`` is the recall/cost knob, multi-probe
    (:func:`similarity.probe_masks`) the refinement; for recall-1
    incremental dedup use :func:`incremental_prefix_pairs` on text.
    Returns (new_vec, corpus_vec, cosine >= threshold)."""
    from ctcityscraper_spark.operators.similarity import _dot, _norm

    idx = corpus_index
    if idx is None:
        if corpus_vectors is None:
            raise ValueError(
                "incremental_embedding_pairs: pass corpus_vectors or a "
                "stored corpus_index"
            )
        idx = srp_bucket_index(
            corpus_vectors, dims, bits, vec, id_col, literal_gate
        )
    probe = srp_bucket_index(
        new_vectors, dims, bits, vec, id_col, literal_gate
    )
    a, b = probe.alias("a"), idx.alias("b")
    return (
        a.join(b, F.col("a.bucket") == F.col("b.bucket"))
        .select(
            F.col("a.vec_id").alias("new_vec"),
            F.col("b.vec_id").alias("corpus_vec"),
            (
                _dot(F.col("a.v"), F.col("b.v"))
                / (_norm(F.col("a.v")) * _norm(F.col("b.v")))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semdedup_drop_list(
    df: DataFrame,
    dims: int,
    threshold: float = 0.3,
    bits: int = 4,
    vec: str = "embedding",
    id_col: str = "vec_id",
    cluster_col: str | None = None,
    literal_gate: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup via cluster-then-prune.

    Cluster the embedding space, compare pairs ONLY within a cluster, and
    drop every non-minimum member of each near-duplicate set (cosine >=
    ``threshold``) — the cluster step bounds the pairwise work to
    sum(cluster^2) instead of corpus^2, which is the paper's entire point
    at 100 TB. Returns the drop list (drop_id rows, ascending).

    ``cluster_col`` plugs in a trained assignment (e.g. KMeans list_id from
    similarity.ivf_topk's indexer); the default derives a deterministic
    ``bits``-bit SRP bucket so the result is oracle-checkable end-to-end —
    same drop rule, swappable clusterer. Above ``literal_gate`` plan
    literals (dims * bits — the catalog's 64-dim configs sit far below
    it) the default clusterer auto-switches to the Arrow-matmul SRP path
    (:func:`similarity.srp_bucket_vectorized` with ``carry_vec`` — one
    scan, no bucket join back): at 4096-dim/16-bit the literal expression
    is 65k plan literals and falls out of codegen entirely.
    """
    from ctcityscraper_spark.operators.similarity import (
        SRP_LITERAL_GATE,
        srp_bucket_col,
        srp_bucket_vectorized,
        valid_vectors,
    )

    if literal_gate is None:
        literal_gate = SRP_LITERAL_GATE
    df = valid_vectors(df, vec)
    if cluster_col is None:
        if dims * bits <= literal_gate:
            df = df.withColumn(
                "_semcluster",
                srp_bucket_col(
                    F.transform(F.col(vec), lambda x: x.cast("double")), dims, bits
                ),
            )
        else:
            df = srp_bucket_vectorized(
                df, dims, bits, vec=vec, id_col=id_col,
                out_col="_semcluster", carry_vec=True,
            )
        cluster_col = "_semcluster"
    pairs = embedding_neardup_pairs(
        df, vec=vec, id_col=id_col, threshold=threshold, block=cluster_col
    )
    return pairs.select(F.col("vec_b").alias("drop_id")).distinct()


def keep_best_representative(
    docs: DataFrame,
    components: DataFrame,
    quality,
    id_col: str = "doc_id",
    node_col: str = "node",
    component_col: str = "component",
    broadcast_max_nodes: int = 8_000_000,
    window_max_cluster: int | None = 10_000_000,
) -> DataFrame:
    """Drop list keeping the BEST member of each duplicate cluster.

    The production alternative to keep-min-id: given ``components`` from
    :func:`graph.connected_components` (node, component) and a quality
    expression over ``docs`` (e.g. ``text.quality_score_col``), keep the
    highest-quality member per cluster (ties: smallest id) and emit
    (drop_id, keep_id) for everything else — so a trainer keeps the
    cleanest copy of each near-duplicate set instead of an arbitrary one.

    Scale shape: ``components`` holds only nodes that appear in duplicate
    clusters, so on lightly-duplicated corpora it is orders smaller than
    the corpus and broadcasting it into the docs scan avoids a corpus
    shuffle to fetch quality. But crawl-scale corpora run 30-50 %
    duplication — that is WHY they get deduped — so the frame can be a
    large fraction of the corpus and an unconditional broadcast would OOM
    the executors. Same remedy as :func:`graph.connected_components`:
    eagerly ``localCheckpoint`` components (which also guarantees the
    often-expensive LSH->CC upstream plan is evaluated exactly ONCE — a
    keep/drop self-join here would run it twice, measured ~2x wall-clock
    on the 10x corpus; the count afterwards is free), then broadcast only
    when it holds <= ``broadcast_max_nodes`` rows (two longs/row — the
    default ~8M rows is ~200 MB of hint, comfortably under executor
    memory); above the gate a plain shuffle join lets AQE pick the
    strategy at runtime. The ranking window then shuffles only cluster
    members on component. keep_id rides the SAME window as the rank
    (``first`` over the identical ordering). NULL quality (e.g. NULL
    text) ranks last in both engines (DESC NULLS LAST). The checkpoint
    backing the returned plan stays persisted (same lifetime contract as
    ``connected_components``' returned labels).

    Skew bound: the window partitions BY COMPONENT, so the largest
    duplicate cluster sizes one partition (~24 B/member — a 10M-member
    boilerplate cluster is ~240 MB, fine). Above ``window_max_cluster``
    members in the largest cluster (one count-groupBy over the
    checkpointed labels decides), the operator switches to an
    aggregation rewrite: per-component best member via ``min`` over a
    sort-key struct (partial map-side combine — a hundreds-of-millions-
    member boilerplate cluster never sits in one partition) + a second
    join of the scored members against the per-component winner. The
    struct key reproduces the window ordering EXACTLY — quality DESC
    with Spark's NaN-above-numbers, NULL quality last, ties by smallest
    id — so both paths are row-identical (property-tested against the
    same Python model; no-single-partition-window plan asserted in
    tests/test_extension_plans.py). ``window_max_cluster=None`` skips
    the size probe (its one extra action) and always windows — for
    callers that KNOW clusters are small, e.g. tight per-batch loops;
    ``0`` forces the aggregate path, also probe-free.
    """
    from ctcityscraper_spark.operators.artifacts import checkpoint_tracked

    q = docs.select(F.col(id_col).alias(node_col), quality.alias("_q"))
    components = checkpoint_tracked(components.select(node_col, component_col))
    n_comp = components.count()  # free: materialized by the checkpoint
    comp_side = (
        F.broadcast(components)
        if n_comp <= broadcast_max_nodes
        else components
    )
    scored = q.join(comp_side, node_col)
    # window_max_cluster=None opts out of the size probe entirely (one
    # groupBy+max action over the checkpointed labels) for callers that
    # KNOW their clusters are small — e.g. tight per-batch loops — and
    # always takes the window path; 0 forces the aggregate path with no
    # probe either. Only a positive threshold pays the probe.
    if window_max_cluster is not None and window_max_cluster <= 0:
        return _keep_best_aggregate(scored, node_col, component_col)
    if window_max_cluster is not None:
        max_cluster = (
            components.groupBy(component_col)
            .agg(F.count("*").alias("_n"))
            .agg(F.max("_n").alias("_m"))
            .collect()[0]["_m"]
            or 0
        )
        if max_cluster > window_max_cluster:
            return _keep_best_aggregate(scored, node_col, component_col)
    w = Window.partitionBy(component_col).orderBy(
        F.col("_q").desc(), F.col(node_col)
    )
    ranked = scored.withColumn("rk", F.row_number().over(w)).withColumn(
        "keep_id", F.first(node_col).over(w)
    )
    return ranked.filter(F.col("rk") > 1).select(
        F.col(node_col).alias("drop_id"), "keep_id"
    )


def _keep_best_aggregate(
    scored: DataFrame, node_col: str, component_col: str
) -> DataFrame:
    """Window-free keep-best: per-component ``min`` of a sort-key struct.

    The struct linearizes the window ordering ``_q DESC NULLS LAST``
    (Spark ranks NaN ABOVE every number in DESC order) then ``node`` ASC
    into an ascending lexicographic key:

    - ``_k1``: 0 = NaN quality (best), 1 = real number, 2 = NULL (worst)
    - ``_k2``: ``-_q`` inside class 1 (negation flips DESC to ASC;
      constant elsewhere so NaN never poisons the comparison)
    - ``node``: the tie-break

    ``min(struct)`` aggregates with partial map-side combine, so the
    largest cluster never occupies a single partition — the scale path
    for boilerplate clusters with hundreds of millions of members. The
    winner then joins back against the scored members (both sides hash-
    partitioned on component; the winner side is one row per component)
    to emit (drop_id, keep_id)."""
    k1 = (
        F.when(F.col("_q").isNull(), F.lit(2))
        .when(F.isnan("_q"), F.lit(0))
        .otherwise(F.lit(1))
    )
    k2 = F.when(k1 == 1, -F.col("_q")).otherwise(F.lit(0.0))
    best = scored.groupBy(component_col).agg(
        F.min(F.struct(k1.alias("_k1"), k2.alias("_k2"),
                       F.col(node_col).alias("_n"))).alias("_best")
    )
    keep = best.select(component_col, F.col("_best._n").alias("keep_id"))
    return (
        scored.join(keep, component_col)
        .filter(F.col(node_col) != F.col("keep_id"))
        .select(F.col(node_col).alias("drop_id"), "keep_id")
    )

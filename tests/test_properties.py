"""Property-based tests (hypothesis) for the canonical expression layer.

The invariants the whole engine leans on: hash stability under column order,
null-drop sensitivity, Python-twin parity, coercion totality (never throws,
garbage -> NULL), cross-engine hash64 equality on arbitrary strings.
"""

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from ctcityscraper_spark.functions import (
    compute_row_hash,
    hash64,
    money_col,
    row_hash_col,
)

# shared hypothesis config: Spark round-trips are slow -> few examples,
# no deadline, and the session-scoped `spark` fixture trips the
# function-scoped-fixture health check by design.
SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

printable = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
    min_size=0,
    max_size=40,
)


class TestRowHashProperties:
    @settings(**SETTINGS)
    @given(a=printable, b=printable)
    def test_python_twin_matches_spark_for_strings(self, spark, a, b):
        row = {"col_a": a, "col_b": b}
        df = spark.createDataFrame([(a, b)], "col_a string, col_b string")
        spark_h = df.select(row_hash_col(["col_a", "col_b"]).alias("h")).first().h
        assert compute_row_hash(row) == spark_h

    @settings(**SETTINGS)
    @given(v=printable)
    def test_null_vs_value_always_differ(self, spark, v):
        df = spark.createDataFrame([(v, v), (v, None)], "a string, b string")
        h = [r.h for r in df.select(row_hash_col(["a", "b"]).alias("h")).collect()]
        assert h[0] != h[1]

    @settings(**SETTINGS)
    @given(v=printable)
    def test_column_order_invariant(self, spark, v):
        d1 = spark.createDataFrame([(v, "x")], "a string, b string")
        d2 = spark.createDataFrame([("x", v)], "b string, a string")
        h1 = d1.select(row_hash_col(["a", "b"]).alias("h")).first().h
        h2 = d2.select(row_hash_col(["b", "a"]).alias("h")).first().h
        assert h1 == h2


class TestHash64CrossEngine:
    @settings(**SETTINGS)
    @given(v=printable, seed=st.integers(min_value=0, max_value=99))
    def test_matches_duckdb(self, spark, v, seed):
        got = (
            spark.createDataFrame([(v,)], "v string")
            .select(hash64("v", seed=seed).alias("h"))
            .first()
            .h
        )
        (exp,) = (
            duckdb.connect()
            .execute(
                "select ('0x' || substring(md5(? || ?), 1, 15))::BIGINT",
                [str(seed), v],
            )
            .fetchone()
        )
        assert got == exp


class TestCoercionTotality:
    @settings(**SETTINGS)
    @given(raw=printable)
    def test_money_never_throws(self, spark, raw):
        out = (
            spark.createDataFrame([(raw,)], "v string")
            .select(money_col("v").alias("r"))
            .first()
            .r
        )
        assert out is None or isinstance(out, float)

    @settings(**SETTINGS)
    @given(amount=st.integers(min_value=0, max_value=10**12))
    def test_money_roundtrip_cents(self, spark, amount):
        text = f"${amount // 100:,}.{amount % 100:02d}"
        out = (
            spark.createDataFrame([(text,)], "v string")
            .select(money_col("v").alias("r"))
            .first()
            .r
        )
        assert out == pytest.approx(amount / 100.0)


def _ref_spans(docs: dict, width: int):
    """Brute-force reference for duplicate_substring_spans (tiny inputs)."""
    spans = []
    ids = sorted(docs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ta, tb = docs[a], docs[b]
            matched = [
                (pa, pb)
                for pa in range(1, len(ta) - width + 2)
                for pb in range(1, len(tb) - width + 2)
                if ta[pa - 1:pa - 1 + width] == tb[pb - 1:pb - 1 + width]
            ]
            bydelta = {}
            for pa, pb in matched:
                bydelta.setdefault(pa - pb, []).append((pa, pb))
            for pts in bydelta.values():
                pts.sort()
                run = [pts[0]]
                for p in pts[1:] + [(None, None)]:
                    if p[0] is not None and p[0] == run[-1][0] + 1:
                        run.append(p)
                    else:
                        spans.append(
                            (a, b, run[0][0], run[0][1],
                             run[-1][0] - run[0][0] + width)
                        )
                        run = [p]
    return spans


def _ref_cut(docs: dict, width: int):
    """Reference for cut_duplicate_spans: merge per-doc_b intervals, excise."""
    cuts = {}
    for a, b, sa, sb, L in _ref_spans(docs, width):
        cuts.setdefault(b, []).append((sb, sb + L))
    out = {}
    for d, t in docs.items():
        merged = []
        for s, e in sorted(cuts.get(d, [])):
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        kept, pos = [], 1
        for s, e in merged:
            kept.append(t[pos - 1:s - 1])
            pos = e
        kept.append(t[pos - 1:])
        out[d] = ("".join(kept), len(merged), sum(e - s for s, e in merged))
    return out


class TestSpanCutProperties:
    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(
        texts=st.lists(
            st.text(alphabet="ab ", min_size=0, max_size=30),
            min_size=2, max_size=4,
        ),
        hashed=st.booleans(),
    )
    def test_detect_and_cut_match_bruteforce(self, spark, texts, hashed):
        """Random tiny-alphabet corpora (duplication-dense by construction):
        both bucket-key paths of detect+cut must match the brute-force
        reference on clean text and cut stats."""
        from ctcityscraper_spark.operators.corpus import (
            cut_duplicate_spans,
            duplicate_substring_spans,
        )

        width = 5
        docs = {i: t for i, t in enumerate(texts)}
        df = spark.createDataFrame(
            list(docs.items()), "doc_id long, text string"
        )
        spans = duplicate_substring_spans(
            df, width=width, doc_cap=None, bucket_by_hash=hashed
        )
        got = {
            r.doc_id: (r.clean_text, r.n_cut_spans, r.n_cut_chars)
            for r in cut_duplicate_spans(df, spans).collect()
        }
        assert got == _ref_cut(docs, width)


class TestValidVectorPredicateParity:
    """The usable-vector contract must agree between the Spark predicate
    (similarity.valid_vector_cond) and its DuckDB SQL twin
    (queries_ext.VALID_EMB_PRED) on ARBITRARY float vectors — including
    -0.0, subnormals, infinities, NaN, NULL elements and NULL vectors —
    or the adversarial gate's guarantees only hold for the seeded cases."""

    _elem = st.one_of(
        st.none(),
        st.floats(width=32, allow_nan=True, allow_infinity=True),
        st.sampled_from([-0.0, 0.0, 5e-39, -5e-39, 3.4e38, -3.4e38]),
    )
    _vec = st.one_of(st.none(), st.lists(_elem, min_size=0, max_size=6))

    @settings(**SETTINGS)
    @given(vecs=st.lists(_vec, min_size=1, max_size=8))
    def test_spark_and_duckdb_agree(self, spark, vecs):
        from ctcityscraper_spark.operators.similarity import valid_vector_cond
        from ctcityscraper_spark.plans.queries_ext import VALID_EMB_PRED

        rows = [Row(vec_id=i, embedding=v) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got_spark = sorted(
            r.vec_id for r in df.filter(valid_vector_cond("embedding")).collect()
        )
        con = duckdb.connect()
        con.register("embeddings", df.toPandas())
        got_duck = sorted(
            r[0]
            for r in con.execute(
                f"SELECT vec_id FROM embeddings WHERE {VALID_EMB_PRED}"
            ).fetchall()
        )
        con.close()
        assert got_spark == got_duck, (vecs, got_spark, got_duck)


class TestGlobalRankTotality:
    """global_quality_rank over ARBITRARY doubles: any mix of NaN,
    +/-Infinity, subnormals, negatives and out-of-range values must
    produce the exact ranking of the documented contract — usable values
    by raw quality DESC (clamping is monotone, so out-of-range keeps its
    exact position), then NaN, then NULL, ids breaking every tie — and
    never throw (ANSI floor/cast overflow was a real crash for inf)."""

    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(
        qs=st.lists(
            st.one_of(
                st.none(),
                st.floats(allow_nan=True, allow_infinity=True, width=64),
            ),
            min_size=1,
            max_size=12,
        )
    )
    def test_rank_matches_python_model(self, spark, qs):
        import math

        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators.corpus import global_quality_rank

        df = spark.createDataFrame(
            [(i, q) for i, q in enumerate(qs)], "doc_id long, q double"
        )
        got = {
            r.doc_id: r.rank
            for r in global_quality_rank(
                df, F.col("q"), n_bins=8, deciles=None
            ).collect()
        }

        def key(item):
            i, q = item
            if q is None:
                return (2, 0.0, i)
            if math.isnan(q):
                return (1, 0.0, i)
            # -q with a 0.0 normalization so -0.0 ties 0.0 like Spark does
            return (0, -(q + 0.0), i)

        expected = {
            i: rank + 1
            for rank, (i, _) in enumerate(sorted(enumerate(qs), key=key))
        }
        assert got == expected


class TestTokenBudgetTotality:
    """token_budget_selection over ARBITRARY corpora and budgets must
    equal the naive global-sort greedy prefix — including empty texts,
    NULL texts, zero-token docs, budgets of 0/1/huge, and corpora small
    enough that every sub-bin path (full bins, straddling bin, full
    sub-bins, straddling sub-bin) gets exercised across examples."""

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(
        texts=st.lists(
            st.one_of(
                st.none(),
                st.text(alphabet="ab ", min_size=0, max_size=30),
            ),
            min_size=1,
            max_size=15,
        ),
        budget=st.integers(min_value=0, max_value=60),
        sub_bits=st.sampled_from([1, 2, 10]),
    )
    def test_matches_naive_greedy_prefix(self, spark, texts, budget, sub_bits):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from ctcityscraper_spark.functions.hashing import hash64
        from ctcityscraper_spark.operators.corpus import (
            BPE_SPLIT_RE,
            token_budget_selection,
        )
        from ctcityscraper_spark.operators.text import quality_score_col

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {
            r.doc_id
            for r in token_budget_selection(df, budget, sub_bits=sub_bits).collect()
        }
        naive = (
            df.select(
                "doc_id",
                F.size(F.regexp_extract_all("text", F.lit(BPE_SPLIT_RE), 0))
                .cast("long")
                .alias("n_tokens"),
                F.floor(quality_score_col("text") * 1000)
                .cast("int")
                .alias("q_bin"),
                hash64(F.col("doc_id"), "budget").alias("_h"),
            )
            .filter(F.col("q_bin").isNotNull())
            .withColumn(
                "_before",
                F.coalesce(
                    F.sum("n_tokens").over(
                        Window.orderBy(
                            F.col("q_bin").desc(), "_h", "doc_id"
                        ).rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                ),
            )
            .filter(F.col("_before") < budget)
        )
        assert got == {r.doc_id for r in naive.collect()}


class TestKeepBestTotality:
    """keep_best_representative over ARBITRARY qualities (NaN, infinities,
    NULLs, ties) and arbitrary cluster assignments must equal the Python
    model: per component, keep the member ranked first by quality DESC
    (Spark ordering: NaN above numbers, NULLs last), ties by id; emit
    (drop, keep) for every other member. Members without a docs row
    vanish through the inner join."""

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(
        qs=st.lists(
            st.one_of(
                st.none(),
                st.floats(allow_nan=True, allow_infinity=True, width=64),
            ),
            min_size=2,
            max_size=12,
        ),
        n_groups=st.integers(min_value=1, max_value=4),
    )
    def test_matches_python_model(self, spark, qs, n_groups):
        import math

        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators.dedup import keep_best_representative

        docs = spark.createDataFrame(
            [(i, q) for i, q in enumerate(qs)], "doc_id long, q double"
        )
        comps = spark.createDataFrame(
            [(i, i % n_groups) for i in range(len(qs))],
            "node long, component long",
        )
        got = {
            (r.drop_id, r.keep_id)
            for r in keep_best_representative(docs, comps, F.col("q")).collect()
        }
        # the mega-cluster aggregation rewrite (window_max_cluster=0 forces
        # it) must be row-identical on the same arbitrary inputs — the
        # struct sort key linearizes the exact window ordering
        got_agg = {
            (r.drop_id, r.keep_id)
            for r in keep_best_representative(
                docs, comps, F.col("q"), window_max_cluster=0
            ).collect()
        }

        def key(i):
            q = qs[i]
            if q is None:
                return (2, 0.0, i)
            if math.isnan(q):
                return (0, 0.0, i)
            return (1, -(q + 0.0), i)

        expected = set()
        for g in range(n_groups):
            members = sorted(
                (i for i in range(len(qs)) if i % n_groups == g), key=key
            )
            expected |= {(i, members[0]) for i in members[1:]}
        assert got == expected
        assert got_agg == expected


class TestBloomMergeProperty:
    """update_bloom_index over ARBITRARY corpus partitions must equal a
    fresh build over the union bit-for-bit (OR-associativity is the
    contract that makes per-batch maintenance exact), and probing the
    merged filter with any ingested doc must never flag false."""

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(
        texts=st.lists(
            st.one_of(st.none(), printable), min_size=1, max_size=12
        ),
        split=st.integers(min_value=0, max_value=12),
    )
    def test_merge_equals_fresh_and_no_false_negatives(
        self, spark, texts, split
    ):
        from ctcityscraper_spark.operators.dedup import (
            bloom_might_contain,
            build_bloom_index,
            update_bloom_index,
        )

        m, k = 1024, 3
        rows = [(i, t) for i, t in enumerate(texts)]
        split = min(split, len(rows))
        a = spark.createDataFrame(rows[:split], "doc_id long, text string") \
            if rows[:split] else spark.createDataFrame([], "doc_id long, text string")
        b = spark.createDataFrame(rows[split:], "doc_id long, text string") \
            if rows[split:] else spark.createDataFrame([], "doc_id long, text string")
        al = spark.createDataFrame(rows, "doc_id long, text string")
        merged = {
            (r.word_idx, r.word)
            for r in update_bloom_index(build_bloom_index(a, m, k), b, m, k).collect()
        }
        fresh = {
            (r.word_idx, r.word)
            for r in build_bloom_index(al, m, k).collect()
        }
        assert merged == fresh
        flags = bloom_might_contain(
            al, update_bloom_index(build_bloom_index(a, m, k), b, m, k), m, k
        )
        assert flags.filter("NOT might_contain AND text IS NOT NULL").count() == 0


class TestSurprisalProperty:
    """unigram_surprisal over ARBITRARY corpora must equal the Python
    model exactly: integer bit-math end-to-end, so no tolerance."""

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(
        texts=st.lists(
            st.one_of(
                st.none(),
                st.text(alphabet="abc \t", min_size=0, max_size=25),
            ),
            min_size=1,
            max_size=10,
        )
    )
    def test_matches_python_model(self, spark, texts):
        from collections import Counter

        from ctcityscraper_spark.operators.text import unigram_surprisal

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {
            r.doc_id: (r.n_tokens, r.sum_bits, r.mean_surprisal)
            for r in unigram_surprisal(df).collect()
        }

        def toks(t):
            # split(trim(t), '\s+') semantics: trim, then whitespace split;
            # empty string -> [''] which the operator filters out
            return [x for x in (t.strip().split() if t else []) if x != ""]

        counts = Counter()
        for t in texts:
            counts.update(toks(t))
        total = sum(counts.values())
        expected = {}
        for i, t in enumerate(texts):
            tk = toks(t)
            if not tk:
                continue
            sum_bits = sum((total // counts[w]).bit_length() for w in tk)
            expected[i] = (len(tk), sum_bits, sum_bits / len(tk))
        assert got == expected


class TestHotTermsProperty:
    """text.hot_terms sketched mode (CMS pre-pass + exact chase) must be
    ROW-IDENTICAL to the exact groupBy for ANY term multiset and cap —
    even under a deliberately collision-heavy narrow sketch, where the
    one-sided estimate flags extra candidates but the exact chase must
    reject every below-cap term (never drops one) while the one-sided
    bound guarantees no above-cap term escapes the flag stage."""

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(
        counts=st.lists(
            st.integers(min_value=1, max_value=9), min_size=1, max_size=10
        ),
        cap=st.integers(min_value=1, max_value=6),
    )
    def test_sketched_equals_exact(self, spark, counts, cap):
        from ctcityscraper_spark.operators.text import hot_terms

        rows = [
            (f"term_{i}",) for i, c in enumerate(counts) for _ in range(c)
        ]
        df = spark.createDataFrame(rows, "shingle string")
        exact = {
            r.shingle for r in hot_terms(df, "shingle", cap).collect()
        }
        expected = {
            f"term_{i}" for i, c in enumerate(counts) if c > cap
        }
        assert exact == expected
        # collision-heavy sketch: width 8, depth 1 — nearly every term
        # shares a cell, so the flag stage overestimates wildly; the
        # chase must still land on the exact list
        sketched = {
            r.shingle
            for r in hot_terms(
                df, "shingle", cap, sketched=True, width=8, depth=1
            ).collect()
        }
        assert sketched == expected


class TestKmvProperty:
    """KMV invariants over ARBITRARY term streams: (1) the sketch equals
    the Python model exactly (k smallest distinct md5-prefix hashes — no
    tolerance, pure integer top-k), and (2) update_kmv_sketch over any
    split equals a fresh build over the union (min-k-of-distinct
    associativity — the contract that makes per-batch cardinality
    maintenance exact)."""

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(
        terms=st.lists(
            st.one_of(st.none(), printable), min_size=1, max_size=20
        ),
        split=st.integers(min_value=0, max_value=20),
        k=st.integers(min_value=1, max_value=6),
    )
    def test_matches_python_model_and_merge_equals_fresh(
        self, spark, terms, split, k
    ):
        import hashlib

        from ctcityscraper_spark.operators.text import (
            kmv_sketch_terms,
            update_kmv_sketch,
        )

        def model(ts):
            hs = {
                int(hashlib.md5(("kmv" + t).encode()).hexdigest()[:15], 16)
                for t in ts
                if t is not None
            }
            return sorted(hs)[:k]

        rows = [(t,) for t in terms]
        mk = lambda rs: (
            spark.createDataFrame(rs, "term string")
            if rs
            else spark.createDataFrame([], "term string")
        )
        fresh = sorted(
            r.h for r in kmv_sketch_terms(mk(rows), "term", k=k).collect()
        )
        assert fresh == model(terms)

        split = min(split, len(rows))
        stored = kmv_sketch_terms(mk(rows[:split]), "term", k=k)
        merged = sorted(
            r.h
            for r in update_kmv_sketch(
                stored, mk(rows[split:]), "term", k=k
            ).collect()
        )
        assert merged == fresh


class TestQuantileSketchProperty:
    """Quantile-sample invariants over ARBITRARY (id, value) streams:
    (1) the sketch equals the Python model exactly (k smallest
    md5-prefix row hashes carrying their values — no tolerance),
    (2) update_quantile_sketch over any split equals a fresh build over
    the union (min-k-by-hash associativity — the contract that makes
    per-batch percentile maintenance exact), and (3) the estimator is
    the pure-integer rank rule over the sorted sample."""

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(
        vals=st.lists(
            st.one_of(
                st.none(),
                st.floats(allow_nan=False, allow_infinity=False,
                          min_value=-1e6, max_value=1e6),
            ),
            min_size=1, max_size=20,
        ),
        split=st.integers(min_value=0, max_value=20),
        k=st.integers(min_value=1, max_value=6),
    )
    def test_matches_python_model_and_merge_equals_fresh(
        self, spark, vals, split, k
    ):
        import hashlib

        from ctcityscraper_spark.operators.text import (
            quantile_estimate,
            quantile_sketch,
            update_quantile_sketch,
        )

        rows = [(i, v) for i, v in enumerate(vals)]

        def model(rs):
            pairs = sorted(
                (
                    int(hashlib.md5(f"qsk{i}".encode()).hexdigest()[:15], 16),
                    float(v),
                )
                for i, v in rs
                if v is not None
            )
            return pairs[:k]

        mk = lambda rs: spark.createDataFrame(
            rs, "doc_id long, val double"
        ) if rs else spark.createDataFrame([], "doc_id long, val double")
        fresh_df = quantile_sketch(mk(rows), "val", "doc_id", k=k)
        fresh = sorted((r.h, r.val) for r in fresh_df.collect())
        assert fresh == model(rows)

        split = min(split, len(rows))
        stored = quantile_sketch(mk(rows[:split]), "val", "doc_id", k=k)
        merged = sorted(
            (r.h, r.val)
            for r in update_quantile_sketch(
                stored, mk(rows[split:]), "val", "doc_id", k=k
            ).collect()
        )
        assert merged == fresh

        # estimator: pure-integer rank rule over the (val, h) order
        sample = sorted(((v, h) for h, v in fresh))
        n = len(sample)
        got = {
            r.pct: (r.n_kept, r.est)
            for r in quantile_estimate(fresh_df).collect()
        }
        if n == 0:
            assert got == {}
        else:
            for p in (25, 50, 75, 90, 99):
                want = sample[(p * n + 99) // 100 - 1][0]
                assert got[p] == (n, want)


class TestPrefixFilterExactRecall:
    """prefix_filter_jaccard_pairs ≡ ngram_jaccard_pairs on ARBITRARY
    corpora and thresholds — the prefix-filtering principle's exact-recall
    guarantee, adversarially sampled. Tiny-alphabet texts are
    duplication-dense, so random corpora actually produce pairs at and
    around the threshold (including exact threshold hits where an
    off-by-one in the integer prefix arithmetic would show)."""

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(
        texts=st.lists(
            st.text(alphabet="ab ", min_size=0, max_size=24),
            min_size=2, max_size=6,
        ),
        tp=st.sampled_from([1, 25, 50, 66, 100]),
    )
    def test_matches_naive_join(self, spark, texts, tp):
        from ctcityscraper_spark.operators.dedup import (
            ngram_jaccard_pairs,
            prefix_filter_jaccard_pairs,
        )

        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        rows = lambda d: sorted(
            (r.doc_a, r.doc_b, r.jaccard) for r in d.collect()
        )
        got = rows(
            prefix_filter_jaccard_pairs(df, n=2, threshold_pct=tp, df_cap=None)
        )
        ref = rows(ngram_jaccard_pairs(df, n=2, threshold=tp / 100, df_cap=None))
        assert got == ref


class TestIncrementalPrefixExactRecall:
    """incremental_prefix_pairs ≡ the naive batch×corpus inverted-index
    join on ARBITRARY corpora — the frozen-artifact prefix probe's
    exact-recall guarantee under adversarial sampling, including ids
    present in both frames (the side-separated verify contract)."""

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(
        corpus_texts=st.lists(
            st.text(alphabet="ab ", min_size=0, max_size=20),
            min_size=1, max_size=4,
        ),
        batch_texts=st.lists(
            st.text(alphabet="ab ", min_size=0, max_size=20),
            min_size=1, max_size=3,
        ),
        tp=st.sampled_from([25, 60, 100]),
        shared_id=st.booleans(),
    )
    def test_matches_naive_cross_join(
        self, spark, corpus_texts, batch_texts, tp, shared_id
    ):
        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators.dedup import (
            doc_shingles,
            incremental_prefix_pairs,
        )

        corpus = spark.createDataFrame(
            list(enumerate(corpus_texts)), "doc_id long, text string"
        )
        # shared_id: batch ids overlap corpus ids (re-ingestion) — the
        # verify must keep the two documents' shingle sets separate
        base = 0 if shared_id else 1000
        batch = spark.createDataFrame(
            [(base + i, t) for i, t in enumerate(batch_texts)],
            "doc_id long, text string",
        )
        got = sorted(
            map(
                tuple,
                incremental_prefix_pairs(
                    batch, corpus, n=2, threshold_pct=tp, df_cap=None
                ).collect(),
            )
        )
        shc = doc_shingles(corpus, n=2)
        shb = doc_shingles(batch, n=2)
        szc = (
            shc.groupBy("doc_id").count()
            .withColumnRenamed("count", "sb")
            .withColumnRenamed("doc_id", "corpus_doc")
        )
        szb = (
            shb.groupBy("doc_id").count()
            .withColumnRenamed("count", "sa")
            .withColumnRenamed("doc_id", "new_doc")
        )
        inter = (
            shb.withColumnRenamed("doc_id", "new_doc")
            .join(shc.withColumnRenamed("doc_id", "corpus_doc"), "shingle")
            .groupBy("new_doc", "corpus_doc")
            .agg(F.count("*").alias("i"))
        )
        ref = sorted(
            map(
                tuple,
                inter.join(szb, "new_doc").join(szc, "corpus_doc")
                .withColumn(
                    "jaccard",
                    F.col("i") / (F.col("sa") + F.col("sb") - F.col("i")),
                )
                .filter(F.col("jaccard") >= tp / 100)
                .select("new_doc", "corpus_doc", "jaccard")
                .collect(),
            )
        )
        assert got == ref


class TestPrefixFilterRecallProperty:
    """The prefix-filter join's recall=1 claim under ARBITRARY corpora:
    for random small-alphabet documents (duplication- and near-miss-dense
    by construction) and random thresholds, prefix_filter_jaccard_pairs
    must be row-identical to the naive inverted-index join — the PPJoin
    positional + length filters prune candidates, never results."""

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(
        texts=st.lists(
            st.text(alphabet="abc ", min_size=1, max_size=40),
            min_size=2, max_size=6,
        ),
        tp=st.sampled_from([25, 40, 50, 60, 75, 100]),
    )
    def test_identical_to_naive_on_random_corpora(self, spark, texts, tp):
        from ctcityscraper_spark.operators.dedup import (
            ngram_jaccard_pairs,
            prefix_filter_jaccard_pairs,
        )

        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = sorted(
            (r.doc_a, r.doc_b, r.jaccard)
            for r in prefix_filter_jaccard_pairs(
                df, n=1, threshold_pct=tp, df_cap=None
            ).collect()
        )
        ref = sorted(
            (r.doc_a, r.doc_b, r.jaccard)
            for r in ngram_jaccard_pairs(
                df, n=1, threshold=tp / 100, df_cap=None
            ).collect()
        )
        assert got == ref


class TestKmeansCrossEngineProperties:
    """The fixed-point k-means determinism seams — floor quantization on
    arbitrary float32 (incl. negatives), truncating integer division on
    negative sums, argmin tie-breaks on duplicate vectors — must agree
    with the DuckDB replay on ARBITRARY corpora, not just the fixtures
    the unit tests pin."""

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(
        data=st.lists(
            st.lists(
                st.floats(min_value=-4.0, max_value=4.0,
                          allow_nan=False, allow_infinity=False,
                          width=32),
                min_size=3, max_size=3,
            ),
            min_size=4, max_size=20,
        ),
        k=st.integers(min_value=1, max_value=3),
        iters=st.integers(min_value=1, max_value=2),
        dup_first=st.booleans(),
    )
    def test_fit_matches_duckdb_replay(self, spark, data, k, iters, dup_first):
        import duckdb as _duckdb
        import pyarrow as pa

        from ctcityscraper_spark.operators.clustering import kmeans_fit_micros
        from ctcityscraper_spark.plans.queries_ext import _kmeans_chain_sql

        if dup_first:  # duplicate vectors: pure tie-break territory
            data = data + [data[0]] * 2
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(data)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        ctr = kmeans_fit_micros(df, k, iters=iters)

        tbl = pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in rows], pa.list_(pa.float32())
                ),
            }
        )
        con = _duckdb.connect()
        con.register("embeddings", tbl)
        chain = _kmeans_chain_sql(3, k, iters)
        duck = con.execute(
            f"WITH {chain} SELECT list_id, c FROM cf ORDER BY list_id"
        ).fetchall()
        con.close()
        assert [[int(x) for x in c] for _, c in duck] == [
            [int(x) for x in c] for c in ctr
        ]


class TestDsirCrossEngineProperties:
    """The DSIR determinism seams — whitespace tokenization on arbitrary
    unicode, the shared hash64-bucket mapping, bigram pairing over the
    empty-filtered token list, quantized bit-width arithmetic — must
    agree with the DuckDB twin on ARBITRARY corpora."""

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(
        texts=st.lists(printable, min_size=2, max_size=8),
        ngram=st.sampled_from([1, 2]),
    )
    # Unicode space separators at a text's edge: Spark's trim strips only
    # U+0020, so the twin must not strip U+3000 / U+00A0 either
    @example(texts=["\u3000a", "a"], ngram=1)
    @example(texts=["a\xa0", "a", "a b"], ngram=1)
    def test_importance_matches_duckdb_twin(self, spark, texts, ngram):
        import duckdb as _duckdb
        import pyarrow as pa
        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators.corpus import dsir_importance
        from ctcityscraper_spark.plans.queries_corpus import _dsir_scored_sql

        langs = ["en", "zh", None]
        rows = [
            (i, t, langs[i % 3], "s", len(t)) for i, t in enumerate(texts)
        ]
        df = spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        got = {
            r.doc_id: (r.n_tokens, r.weight_bits)
            for r in dsir_importance(
                df, F.col("lang") == "en", n_buckets=64, ngram=ngram
            ).collect()
        }
        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array([r[2] for r in rows], pa.string()),
                "source": pa.array([r[3] for r in rows], pa.string()),
                "n_chars": pa.array([r[4] for r in rows], pa.int64()),
            }
        )
        con = _duckdb.connect()
        con.register("documents", tbl)
        tgt = "coalesce(lang = 'en', FALSE)"
        sql = (
            f"WITH {_dsir_scored_sql(64, tgt, ngram=ngram)} "
            "SELECT doc_id, n_tokens, weight_bits FROM scored"
        )
        want = {
            int(r[0]): (int(r[1]), int(r[2]))
            for r in con.execute(sql).fetchall()
        }
        con.close()
        assert got == want


class TestBpeProperties:
    """BPE training invariants on ARBITRARY corpora: the Spark trainer
    must agree merge-for-merge with a transparent pure-Python reference
    (word extraction, overlapping pair counts, (cnt DESC, a, b)
    tie-break, greedy left-to-right fold), and encoding must round-trip
    token counts."""

    @staticmethod
    def _py_bpe(texts, n_merges):
        import re
        from collections import Counter

        freqs = Counter()
        for t in texts:
            for w in re.findall("[A-Za-z0-9]+", t or ""):
                freqs[w.lower()] += 1
        vocab = {tuple(w): f for w, f in freqs.items()}  # tokens per word
        merges = []
        for rank in range(1, n_merges + 1):
            pairs = Counter()
            for toks, f in vocab.items():
                for i in range(len(toks) - 1):
                    pairs[(toks[i], toks[i + 1])] += f
            if not pairs:
                break
            (a, b), cnt = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((rank, a, b, a + b, cnt))
            new_vocab = {}
            for toks, f in vocab.items():
                out, i = [], 0
                while i < len(toks):
                    if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
            vocab = new_vocab
        return merges

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(
        texts=st.lists(printable, min_size=1, max_size=8),
        n_merges=st.sampled_from([1, 3]),
    )
    def test_train_matches_python_model(self, spark, texts, n_merges):
        from ctcityscraper_spark.operators.bpe import bpe_train

        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = [tuple(r) for r in bpe_train(docs, n_merges).collect()]
        want = self._py_bpe(texts, n_merges)
        assert got == want

    @settings(max_examples=6, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(texts=st.lists(printable, min_size=1, max_size=6))
    def test_apply_conserves_chars_and_bounds_tokens(self, spark, texts):
        """Encoding never changes the underlying characters (char_tokens
        == total word length) and every merge can only SHRINK the token
        count: words <= bpe_tokens <= char_tokens."""
        import re

        from ctcityscraper_spark.operators.bpe import bpe_apply, bpe_train

        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        merges = [tuple(r) for r in bpe_train(docs, 2).collect()]
        rows = bpe_apply(docs, merges).collect()
        by_id = {r.doc_id: r for r in rows}
        for i, t in enumerate(texts):
            words = [w.lower() for w in re.findall("[A-Za-z0-9]+", t or "")]
            if not words:
                assert i not in by_id
                continue
            r = by_id[i]
            assert r.char_tokens == sum(len(w) for w in words)
            assert r.words == len(words)
            assert r.words <= r.bpe_tokens <= r.char_tokens

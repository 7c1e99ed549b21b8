"""Operator-level tests: dedup family internals and vectorized similarity."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ctcityscraper_spark.operators.dedup import (
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles_col,
    simhash_signatures,
)
from ctcityscraper_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_vectorized,
)
from ctcityscraper_spark.plans.tables import load_table

SF = "/root/testdata/sf0.001"


class TestShingles:
    def test_short_text_empty(self, spark):
        df = spark.createDataFrame([Row(text="one two three")])
        out = df.select(shingles_col("text", 5).alias("s")).first().s
        assert out == []

    def test_shingle_count(self, spark):
        df = spark.createDataFrame([Row(text="a b c d e f g")])
        out = df.select(shingles_col("text", 5).alias("s")).first().s
        assert out == ["a b c d e", "b c d e f", "c d e f g"]


class TestMinhashProperties:
    def test_identical_docs_identical_signatures(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=1, text="w1 w2 w3 w4 w5 w6 w7 w8"),
             Row(doc_id=2, text="w1 w2 w3 w4 w5 w6 w7 w8"),
             Row(doc_id=3, text="x1 x2 x3 x4 x5 x6 x7 x8")]
        )
        sig = {r.doc_id: tuple(r[1:]) for r in minhash_signatures(df, k=16).collect()}
        assert sig[1] == sig[2]
        assert sig[1] != sig[3]

    def test_signature_range(self, spark):
        docs = load_table(spark, SF, "documents").limit(50)
        sigs = minhash_signatures(docs, k=8).collect()
        for r in sigs:
            for i in range(8):
                assert 0 <= r[f"mh_{i}"] < 2_147_483_647


class TestSimhashProperties:
    def test_identical_docs_same_signature(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=1, text="alpha beta gamma"), Row(doc_id=2, text="beta alpha gamma")]
        )
        # token-set based: order-independent
        sig = {r.doc_id: r.simhash for r in simhash_signatures(df).collect()}
        assert sig[1] == sig[2]


class TestJaccardGroundTruth:
    def test_planted_duplicates_found(self, spark):
        docs = load_table(spark, SF, "documents")
        pairs = ngram_jaccard_pairs(docs, n=5, threshold=0.6).collect()
        # generator plants near-duplicate pairs; every reported pair must
        # genuinely exceed the threshold and be distinct
        assert len(pairs) > 0
        assert all(p.jaccard >= 0.6 and p.doc_a < p.doc_b for p in pairs)


class TestJaccardDfCap:
    def test_boilerplate_shingle_capped(self, spark):
        """10k docs all sharing one boilerplate 5-gram: uncapped, that single
        bucket alone is ~5*10^7 candidate pairs; with the cap the hot shingle
        drops from the index and only the two genuinely-similar docs pair."""
        n = 10_000
        base = [
            Row(doc_id=i, text=f"shared header five words u{i}a u{i}b u{i}c u{i}d u{i}e")
            for i in range(n)
        ]
        # one planted near-dup pair with below-cap shingles
        twins = [
            Row(doc_id=n, text="alpha beta gamma delta epsilon zeta eta"),
            Row(doc_id=n + 1, text="alpha beta gamma delta epsilon zeta theta"),
        ]
        df = spark.createDataFrame(base + twins).repartition(4)
        pairs = ngram_jaccard_pairs(df, n=5, threshold=0.3, df_cap=100).collect()
        assert [(p.doc_a, p.doc_b) for p in pairs] == [(n, n + 1)]

    def test_cap_changes_jaccard_universe(self, spark):
        """With the hot shingle removed, Jaccard is computed over the
        remaining (informative) shingles only."""
        df = spark.createDataFrame(
            [Row(doc_id=i, text="c1 c2 c3 c4 c5 t1 t2 t3 t4 t5") for i in range(5)]
        )
        # every shingle has df=5; cap at 4 drops them all -> no pairs at all
        assert ngram_jaccard_pairs(df, n=5, threshold=0.1, df_cap=4).count() == 0
        # uncapped, identical docs pair with jaccard 1.0
        uncapped = ngram_jaccard_pairs(df, n=5, threshold=0.99, df_cap=None)
        assert uncapped.count() == 10  # C(5,2)


class TestCosineTopkSizeGate:
    def test_refuses_above_max_pairs(self, spark):
        """The brute-force oracle twin must not silently launch an O(C*Q)
        cross join on a real corpus — same size-gate pattern as
        graph.connected_components."""
        import pytest

        emb = load_table(spark, SF, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        with pytest.raises(ValueError, match="cosine_topk_vectorized"):
            cosine_topk(emb, queries, k=3, max_pairs=10)

    def test_output_unchanged_below_gate(self, spark):
        emb = load_table(spark, SF, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        gated = sorted(
            (r.query_id, r.rank, r.neighbor_id)
            for r in cosine_topk(emb, queries, k=3).collect()
        )
        ungated = sorted(
            (r.query_id, r.rank, r.neighbor_id)
            for r in cosine_topk(emb, queries, k=3, max_pairs=0).collect()
        )
        assert gated == ungated and len(gated) > 0


class TestIvfAnn:
    def test_full_probe_equals_exact(self, spark):
        from ctcityscraper_spark.operators.similarity import ivf_topk

        emb = load_table(spark, SF, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        exact = {(r.query_id, r.rank): r.neighbor_id
                 for r in cosine_topk(emb, queries, k=3).collect()}
        # probing every list makes IVF exact
        full = {(r.query_id, r.rank): r.neighbor_id
                for r in ivf_topk(emb, queries, k=3, n_lists=8, n_probe=8).collect()}
        assert exact == full

    def test_flat_hash_centroids_full_probe_equals_exact(self, spark):
        """The expression-only IVF variant (hash-picked centroids, fold
        arithmetic — the oracle-auditable one) is also exact at full
        probe, like the k-means variant."""
        from ctcityscraper_spark.operators.similarity import (
            hash_pick_centroids,
            ivf_flat_topk,
        )

        emb = load_table(spark, SF, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        ctrs = hash_pick_centroids(emb, 8)
        assert len(ctrs) == 8
        exact = {(r.query_id, r.rank): r.neighbor_id
                 for r in cosine_topk(emb, queries, k=3).collect()}
        full = {(r.query_id, r.rank): r.neighbor_id
                for r in ivf_flat_topk(emb, queries, ctrs, k=3, n_probe=8).collect()}
        assert exact == full

    def test_partial_probe_recall(self, spark):
        from ctcityscraper_spark.operators.similarity import ivf_topk

        emb = load_table(spark, SF, "embeddings")
        queries = emb.filter(F.col("vec_id") < 10)
        exact = {(r.query_id, r.rank): r.neighbor_id
                 for r in cosine_topk(emb, queries, k=3).collect()}
        part = {(r.query_id, r.rank): r.neighbor_id
                for r in ivf_topk(emb, queries, k=3, n_lists=8, n_probe=4).collect()}
        hits = sum(1 for key, nid in exact.items() if part.get(key) == nid)
        # random embeddings are the hardest case for IVF; demand >=1/3 recall
        assert hits / len(exact) >= 0.33

    def test_kmeans_recall_at_least_hash_picked(self, spark):
        """The driver-verified ann_ivf_recall audit necessarily uses
        hash-picked centroids (DuckDB must reproduce them bit-for-bit);
        this pins the BETTER quantizer's advantage so a k-means
        regression can't hide behind the oracle: on the same fixture at
        equal n_probe, k-means-IVF recall@5 must be >= hash-picked
        recall@5. Deterministic fixture + seeded k-means => stable."""
        from ctcityscraper_spark.operators.similarity import (
            hash_pick_centroids,
            ivf_flat_topk,
            ivf_topk,
        )

        emb = load_table(spark, SF, "embeddings")
        queries = emb.filter(F.col("vec_id") < 20)
        exact: dict = {}
        for r in cosine_topk(emb, queries, k=5).collect():
            exact.setdefault(r.query_id, set()).add(r.neighbor_id)

        def recall(rows) -> float:
            got: dict = {}
            for r in rows:
                got.setdefault(r.query_id, set()).add(r.neighbor_id)
            hits = sum(len(got.get(q, set()) & n) for q, n in exact.items())
            return hits / sum(len(n) for n in exact.values())

        km = recall(
            ivf_topk(emb, queries, k=5, n_lists=8, n_probe=2).collect()
        )
        hp = recall(
            ivf_flat_topk(
                emb, queries, hash_pick_centroids(emb, 8), k=5, n_probe=2
            ).collect()
        )
        assert km >= hp, f"k-means recall {km} < hash-picked {hp}"

    def test_null_query_id_excluded_not_crashing(self, spark):
        """A NULL query id with a valid vector must be dropped at entry
        (int(None) inside the probe UDF killed the whole Arrow batch);
        the other queries keep their results."""
        from ctcityscraper_spark.operators.similarity import (
            build_ivf_index,
            ivf_probe_topk,
        )

        emb = load_table(spark, SF, "embeddings")
        idx, ctrs = build_ivf_index(emb, n_lists=4)
        queries = emb.limit(5).withColumn(
            "vec_id",
            F.when(F.col("vec_id") == 0, None).otherwise(F.col("vec_id")),
        )
        rows = ivf_probe_topk(idx, ctrs, queries, k=3).collect()
        assert rows and all(r.query_id is not None for r in rows)


    def test_stored_index_roundtrip_matches_inline(self, spark, tmp_path):
        """The production shape: build once, persist (parquet + JSON
        centroids), query the stored index — identical output to the
        inline build-and-query composition."""
        import json

        from ctcityscraper_spark.operators.similarity import (
            build_ivf_index,
            ivf_probe_topk,
            ivf_topk,
        )

        emb = load_table(spark, SF, "embeddings")
        queries = emb.filter(F.col("vec_id") < 10)
        inline = sorted(
            (r.query_id, r.rank, r.neighbor_id)
            for r in ivf_topk(emb, queries, k=3, n_lists=8, n_probe=4).collect()
        )

        indexed, centroids = build_ivf_index(emb, n_lists=8)
        indexed.write.parquet(str(tmp_path / "ivf_index"))
        (tmp_path / "centroids.json").write_text(json.dumps(centroids))

        stored_idx = spark.read.parquet(str(tmp_path / "ivf_index"))
        stored_ctrs = json.loads((tmp_path / "centroids.json").read_text())
        stored = sorted(
            (r.query_id, r.rank, r.neighbor_id)
            for r in ivf_probe_topk(
                stored_idx, stored_ctrs, queries, k=3, n_probe=4
            ).collect()
        )
        assert stored == inline and len(stored) > 0

    def test_incremental_update_equals_one_shot_assignment(self, spark):
        """update_ivf_index appends a delta under the frozen centroids:
        the merged index must be row-identical to assigning the union in
        one shot (per-row assignment), PARTIAL-probe results through it
        must match the one-shot index too, and hostile delta rows
        (NULL id / NULL / zero-norm vectors) contribute nothing."""
        from ctcityscraper_spark.operators.similarity import (
            assign_ivf_lists,
            build_ivf_index,
            ivf_probe_topk,
            update_ivf_index,
        )

        emb = load_table(spark, SF, "embeddings")
        bucket = F.abs(F.hash("vec_id")) % 5
        base, delta = emb.filter(bucket != 0), emb.filter(bucket == 0)
        indexed, ctrs = build_ivf_index(base, n_lists=8)
        hostile = spark.createDataFrame(
            [(None, [1.0] * 64, 0), (9001, None, 0), (9002, [0.0] * 64, 0)],
            "vec_id long, embedding array<double>, label int",
        )
        merged = update_ivf_index(
            indexed, delta.unionByName(hostile), ctrs
        )
        one_shot = assign_ivf_lists(emb, ctrs)
        assert sorted(
            (r.neighbor_id, r.list_id) for r in merged.collect()
        ) == sorted((r.neighbor_id, r.list_id) for r in one_shot.collect())

        queries = emb.filter(F.col("vec_id") < 10)
        probe_merged = sorted(
            (r.query_id, r.rank, r.neighbor_id)
            for r in ivf_probe_topk(merged, ctrs, queries, k=3, n_probe=2).collect()
        )
        probe_one_shot = sorted(
            (r.query_id, r.rank, r.neighbor_id)
            for r in ivf_probe_topk(one_shot, ctrs, queries, k=3, n_probe=2).collect()
        )
        assert probe_merged == probe_one_shot and probe_merged

    def test_l2_argmin_expr_equals_column_path(self, spark):
        """_l2_argmin_structs_expr (single-parse, the production path
        since r12) must be row-identical to the Column builder — the
        fold order is oracle-matched by the IVF recall audits."""
        from ctcityscraper_spark.operators.similarity import (
            _as_double,
            _l2_argmin_structs,
            _l2_argmin_structs_expr,
            hash_pick_centroids,
            valid_vectors,
        )

        emb = load_table(spark, SF, "embeddings")
        ctrs = hash_pick_centroids(emb, n_lists=4)
        v = valid_vectors(emb).select(
            "vec_id", _as_double(F.col("embedding")).alias("_v")
        )
        col_path = {
            r.vec_id: [(s.d, s.list_id) for s in r.a]
            for r in v.select(
                "vec_id", _l2_argmin_structs(F.col("_v"), ctrs).alias("a")
            ).collect()
        }
        expr_path = {
            r.vec_id: [(s.d, s.list_id) for s in r.a]
            for r in v.select(
                "vec_id", _l2_argmin_structs_expr("_v", ctrs).alias("a")
            ).collect()
        }
        assert col_path and col_path == expr_path

    def test_assign_refuses_bad_shapes(self, spark):
        import pytest as _pytest

        from ctcityscraper_spark.operators.similarity import assign_ivf_lists

        emb = load_table(spark, SF, "embeddings")
        with _pytest.raises(ValueError, match="n_lists"):
            assign_ivf_lists(emb, [1.0, 2.0])
        with _pytest.raises(Exception, match="length"):
            assign_ivf_lists(emb, [[1.0] * 32] * 4).collect()


class TestIvfImbalance:
    """ivf_list_stats / ivf_imbalance_report — the operator form of
    update_ivf_index's drift caveat (monitor list sizes, retrain on
    degradation)."""

    def _indexed(self, spark, rows):
        from pyspark.sql import Row

        return spark.createDataFrame(
            [Row(neighbor_id=i, list_id=lid) for i, lid in enumerate(rows)]
        )

    def test_full_grid_with_empty_lists(self, spark):
        from ctcityscraper_spark.operators.similarity import ivf_list_stats

        # 4 lists, list 2 empty: 2 + 1 + 0 + 1 rows
        idx = self._indexed(spark, [0, 0, 1, 3])
        got = {r.list_id: r for r in ivf_list_stats(idx, 4).collect()}
        assert set(got) == {0, 1, 2, 3}
        assert [got[i].n for i in range(4)] == [2, 1, 0, 1]
        assert got[2].share == 0.0
        assert got[0].share == 0.5
        # imbalance = max * n_lists / total = 2*4/4 = 2.0, same every row
        assert all(got[i].imbalance == 2.0 for i in range(4))

    def test_empty_index_is_loud_not_divide_by_zero(self, spark):
        from ctcityscraper_spark.operators.similarity import ivf_list_stats

        # an empty frame with the index schema
        from pyspark.sql import Row

        idx = spark.createDataFrame(
            [Row(neighbor_id=1, list_id=0)]
        ).filter(F.lit(False))
        got = ivf_list_stats(idx, 3).collect()
        assert len(got) == 3
        assert all(r.n == 0 and r.share is None and r.imbalance is None for r in got)

    def test_n_lists_validated(self, spark):
        from ctcityscraper_spark.operators.similarity import ivf_list_stats

        with pytest.raises(ValueError, match="n_lists"):
            ivf_list_stats(self._indexed(spark, [0]), 0)

    def test_report_drift_and_total_grid(self, spark):
        from ctcityscraper_spark.operators.similarity import (
            ivf_imbalance_report,
        )

        a = self._indexed(spark, [0, 0, 1, 1])  # balanced over 2 of 2
        b = self._indexed(spark, [0, 0, 0, 1])  # drifted toward list 0
        got = {r.list_id: r for r in ivf_imbalance_report(a, b, 2).collect()}
        assert set(got) == {0, 1}
        assert got[0].share_a == 0.5 and got[0].share_b == 0.75
        assert got[0].share_drift == 0.25 and got[1].share_drift == -0.25
        assert got[0].imbalance_a == 1.0  # perfectly balanced epoch
        assert got[0].imbalance_b == 1.5  # 3*2/4
        # an epoch that emptied a list still yields its row
        c = self._indexed(spark, [0, 0, 0, 0])
        got = {r.list_id: r for r in ivf_imbalance_report(a, c, 2).collect()}
        assert got[1].n_b == 0 and got[1].share_drift == -0.5
        assert got[1].imbalance_b == 2.0

    def test_flat_assignment_matches_numpy_assignment(self, spark):
        """ivf_list_assignment (expression-only, the oracle path) must
        agree with assign_ivf_lists (numpy, the production path) on the
        same centroids — same argmin, same lowest-list tie rule."""
        from ctcityscraper_spark.operators.similarity import (
            assign_ivf_lists,
            hash_pick_centroids,
            ivf_list_assignment,
        )

        emb = load_table(spark, SF, "embeddings")
        ctrs = hash_pick_centroids(emb, n_lists=4)
        flat = {
            r.vec_id: r.list_id
            for r in ivf_list_assignment(emb, ctrs).collect()
        }
        prod = {
            r.neighbor_id: r.list_id
            for r in assign_ivf_lists(emb, ctrs).collect()
        }
        assert flat and flat == prod


class TestAsofJoin:
    def test_matches_most_recent_prior(self, spark):
        from ctcityscraper_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, 100, "a"), (1, 200, "b"), (1, 50, "c"), (2, 100, "d")],
            "k long, t long, tag string",
        )
        right = spark.createDataFrame(
            [(1, 90, 9.0), (1, 150, 15.0), (3, 10, 1.0)], "k long, t long, v double"
        )
        got = {r.tag: (r.v_asof, r.t_asof) for r in
               asof_join(left, right, on="k", ts="t").collect()}
        assert got == {
            "a": (9.0, 90),     # latest right at t<=100 is t=90
            "b": (15.0, 150),   # t=150
            "c": (None, None),  # nothing before t=50
            "d": (None, None),  # no right rows for k=2
        }

    def test_suffix_collision_raises(self, spark):
        import pytest

        from ctcityscraper_spark.operators.asof import asof_join

        left = spark.createDataFrame([(1, 100, 0.0)], "k long, t long, v_asof double")
        right = spark.createDataFrame([(1, 90, 9.0)], "k long, t long, v double")
        with pytest.raises(ValueError, match="collide"):
            asof_join(left, right, on="k", ts="t")
        # a different suffix resolves it
        row = asof_join(left, right, on="k", ts="t", suffix="_prev").first()
        assert row.v_prev == 9.0 and row.v_asof == 0.0

    def test_right_ties_resolve_to_last_row(self, spark):
        from ctcityscraper_spark.operators.asof import asof_join

        left = spark.createDataFrame([(1, 100)], "k long, t long")
        # two right rows at the SAME (key, ts): the later one in frame order wins
        right = spark.createDataFrame(
            [(1, 90, 1.0), (1, 90, 2.0)], "k long, t long, v double"
        ).coalesce(1)
        for _ in range(3):  # deterministic across repeated runs
            row = asof_join(left, right, on="k", ts="t").first()
            assert row.v_asof == 2.0

    def test_same_timestamp_right_visible(self, spark):
        from ctcityscraper_spark.operators.asof import asof_join

        left = spark.createDataFrame([(1, 100)], "k long, t long")
        right = spark.createDataFrame([(1, 100, 7.0)], "k long, t long, v double")
        row = asof_join(left, right, on="k", ts="t").first()
        assert row.v_asof == 7.0  # right row at the same ts matches

    def test_as_of_point_in_time(self, spark, tmp_store):
        import datetime as dt

        from ctcityscraper_spark.operators.scd2 import as_of

        df1 = spark.createDataFrame([("u1", 1.0), ("u2", 5.0)], "uuid string, v double")
        df2 = spark.createDataFrame([("u1", 2.0), ("u3", 9.0)], "uuid string, v double")
        tmp_store.write_batch("t", df1, scraped_at=dt.datetime(2024, 1, 1))
        tmp_store.write_batch("t", df2, scraped_at=dt.datetime(2024, 1, 3))
        snap = as_of(tmp_store.scan("t"), dt.datetime(2024, 1, 2))
        got = {r.uuid: r.v for r in snap.collect()}
        assert got == {"u1": 1.0, "u2": 5.0}  # u3 didn't exist yet; u1 still v1


class TestConnectedComponents:
    def test_chain_merges_into_one_group(self, spark):
        from ctcityscraper_spark.operators.graph import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
            "doc_a long, doc_b long",
        )
        got = {r.node: r.component for r in connected_components(edges).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    def test_long_chain_converges(self, spark):
        from ctcityscraper_spark.operators.graph import connected_components

        n = 40
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
        )
        got = {r.node: r.component for r in connected_components(edges).collect()}
        assert set(got.values()) == {0}
        assert len(got) == n + 1

    def test_all_three_paths_match(self, spark):
        # default hits the driver union-find; driver_max_edges=0 forces the
        # distributed broadcast rounds; both thresholds 0 force the
        # big-graph shuffle-join rounds. Labels must be identical.
        from ctcityscraper_spark.operators.graph import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6), (8, 9), (9, 1)], "doc_a long, doc_b long"
        )
        driver = {
            r.node: r.component for r in connected_components(edges).collect()
        }
        bcast = {
            r.node: r.component
            for r in connected_components(edges, driver_max_edges=0).collect()
        }
        shuffle = {
            r.node: r.component
            for r in connected_components(
                edges, driver_max_edges=0, broadcast_max_edges=0
            ).collect()
        }
        assert driver == bcast == shuffle == {
            1: 1, 2: 1, 3: 1, 8: 1, 9: 1, 5: 5, 6: 5,
        }

    def test_distributed_path_long_chain(self, spark):
        # the O(log d) pointer-jumping convergence claim is about the
        # distributed rounds — keep exercising them now that small inputs
        # short-circuit to the driver
        from ctcityscraper_spark.operators.graph import connected_components

        n = 40
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
        )
        got = {
            r.node: r.component
            for r in connected_components(edges, driver_max_edges=0).collect()
        }
        assert set(got.values()) == {0}
        assert len(got) == n + 1

    def test_jumps_values_agree_on_chain_and_random_graph(self, spark):
        """Chained pointer jumping (jumps > 1) trades intra-round label
        joins for fewer inter-round barriers; the labels must be
        IDENTICAL for any jumps value on both distributed paths (every
        composition is monotone non-increasing). jumps=1 is the r10
        behavior; jumps=3 is the new default."""
        import random

        import pytest as _pytest

        from ctcityscraper_spark.operators.graph import connected_components

        rng = random.Random(7)
        rand_edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(25)]
        for rows in ([(i, i + 1) for i in range(40)], rand_edges):
            edges = spark.createDataFrame(rows, "doc_a long, doc_b long")
            base = None
            for jumps in (1, 2, 3):
                got = {
                    r.node: r.component
                    for r in connected_components(
                        edges, driver_max_edges=0, jumps=jumps
                    ).collect()
                }
                base = got if base is None else base
                assert got == base
            shuffle = {
                r.node: r.component
                for r in connected_components(
                    edges, driver_max_edges=0, broadcast_max_edges=0, jumps=3
                ).collect()
            }
            assert shuffle == base
        with _pytest.raises(ValueError, match="jumps"):
            connected_components(edges, jumps=0)


class TestConnectedComponentsNullEdges:
    def test_null_endpoints_drop_identically_on_all_paths(self, spark):
        """Edges with a NULL endpoint must vanish on every size-adaptive
        path: the distributed rounds lose them in equi-joins anyway, and
        the driver union-find would otherwise invent a None node — the
        paths must agree row-for-row."""
        from ctcityscraper_spark.operators.graph import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (None, 3), (4, None), (5, 6)], "doc_a long, doc_b long"
        )
        expected = [(1, 1), (2, 1), (5, 5), (6, 5)]
        driver = sorted(map(tuple, connected_components(edges).collect()))
        dist = sorted(
            map(
                tuple,
                connected_components(
                    edges, driver_max_edges=0, broadcast_max_edges=0
                ).collect(),
            )
        )
        assert driver == dist == expected


class TestIncrementalComponents:
    """incremental_components: stored-assignment maintenance under delta
    edges must equal a fresh connected_components run over the union
    graph — the CC member of the incremental == fresh family."""

    def _cc(self, spark, rows):
        from ctcityscraper_spark.operators.graph import connected_components

        return connected_components(
            spark.createDataFrame(rows, "doc_a long, doc_b long")
        )

    def test_bridge_edge_merges_two_stored_components(self, spark):
        from ctcityscraper_spark.operators.graph import (
            incremental_components,
        )

        assignments = self._cc(spark, [(1, 2), (2, 3), (10, 11)])
        delta = spark.createDataFrame([(3, 10)], "doc_a long, doc_b long")
        got = {
            r.node: r.component
            for r in incremental_components(assignments, delta).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 10: 1, 11: 1}
        changed = sorted(
            map(
                tuple,
                incremental_components(
                    assignments, delta, changed_only=True
                ).collect(),
            )
        )
        # exactly the relabeled component's rows — nothing corpus-sized
        assert changed == [(10, 1), (11, 1)]

    def test_new_node_with_smaller_id_becomes_root(self, spark):
        from ctcityscraper_spark.operators.graph import (
            incremental_components,
        )

        assignments = self._cc(spark, [(5, 6)])
        delta = spark.createDataFrame([(2, 6)], "doc_a long, doc_b long")
        got = {
            r.node: r.component
            for r in incremental_components(assignments, delta).collect()
        }
        assert got == {2: 2, 5: 2, 6: 2}

    def test_intra_component_delta_is_noop(self, spark):
        from ctcityscraper_spark.operators.graph import (
            incremental_components,
        )

        assignments = self._cc(spark, [(1, 2), (2, 3)])
        delta = spark.createDataFrame([(1, 3)], "doc_a long, doc_b long")
        full = sorted(
            map(tuple, incremental_components(assignments, delta).collect())
        )
        assert full == [(1, 1), (2, 1), (3, 1)]
        assert (
            incremental_components(
                assignments, delta, changed_only=True
            ).count()
            == 0
        )

    def test_none_assignments_equals_fresh(self, spark):
        from ctcityscraper_spark.operators.graph import (
            incremental_components,
        )

        delta = spark.createDataFrame(
            [(1, 2), (4, 5)], "doc_a long, doc_b long"
        )
        got = sorted(
            map(tuple, incremental_components(None, delta).collect())
        )
        assert got == [(1, 1), (2, 1), (4, 4), (5, 4)]

    def test_null_delta_endpoints_drop(self, spark):
        from ctcityscraper_spark.operators.graph import (
            incremental_components,
        )

        assignments = self._cc(spark, [(1, 2)])
        delta = spark.createDataFrame(
            [(None, 1), (2, None), (1, 7)], "doc_a long, doc_b long"
        )
        got = sorted(
            map(tuple, incremental_components(assignments, delta).collect())
        )
        assert got == [(1, 1), (2, 1), (7, 1)]

    def test_incremental_equals_fresh_on_random_graphs(self, spark):
        """The load-bearing equivalence: CC(base) maintained under the
        delta slice equals fresh CC over all edges — random graphs,
        random splits, including deltas that chain MULTIPLE old
        components through a path of new nodes."""
        import random

        from ctcityscraper_spark.operators.graph import (
            connected_components,
            incremental_components,
        )

        for seed in (3, 11, 42):
            rng = random.Random(seed)
            all_edges = [
                (rng.randrange(60), rng.randrange(60)) for _ in range(50)
            ]
            cut = rng.randrange(10, 40)
            base, delta = all_edges[:cut], all_edges[cut:]
            fresh = sorted(
                map(
                    tuple,
                    connected_components(
                        spark.createDataFrame(
                            all_edges, "doc_a long, doc_b long"
                        )
                    ).collect(),
                )
            )
            assignments = connected_components(
                spark.createDataFrame(base, "doc_a long, doc_b long")
            )
            inc = sorted(
                map(
                    tuple,
                    incremental_components(
                        assignments,
                        spark.createDataFrame(
                            delta, "doc_a long, doc_b long"
                        ),
                    ).collect(),
                )
            )
            assert inc == fresh, seed


class TestSkewHelpers:
    def test_salted_agg_matches_plain(self, spark):
        from ctcityscraper_spark.operators.skew import salted_agg

        ev = load_table(spark, SF, "events")
        plain = {
            r.user_id: (r.n, round(r.v, 6))
            for r in ev.groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum(F.col("value").cast("decimal(18,2)")).alias("v"))
            .collect()
        }
        salted = {
            r.user_id: (r.n, round(float(r.v), 6))
            for r in salted_agg(
                ev,
                ["user_id"],
                [F.count("*").alias("n"), F.sum(F.col("value").cast("decimal(18,2)")).alias("v")],
                [F.sum("n").alias("n"), F.sum("v").alias("v")],
                buckets=8,
            ).collect()
        }
        assert plain == {k: (n, round(float(v), 6)) for k, (n, v) in plain.items()} or True
        assert salted == {k: (n, round(float(v), 6)) for k, (n, v) in plain.items()}

    def test_salted_join_matches_plain(self, spark):
        from ctcityscraper_spark.operators.skew import salted_join

        orders = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
        cust = load_table(spark, SF, "customer").select("c_custkey", "c_mktsegment")
        cust = cust.withColumnRenamed("c_custkey", "o_custkey")
        plain = sorted(
            (r.o_orderkey, r.c_mktsegment)
            for r in orders.join(cust, "o_custkey").collect()
        )
        salted = sorted(
            (r.o_orderkey, r.c_mktsegment)
            for r in salted_join(orders, cust, "o_custkey", buckets=4).collect()
        )
        assert plain == salted


class TestSrpMultiprobe:
    def test_recall_strictly_above_single_bucket(self, spark):
        from ctcityscraper_spark.operators.similarity import (
            srp_lsh_topk,
            srp_multiprobe_topk,
        )

        emb = load_table(spark, SF, "embeddings")
        queries = emb.filter(F.col("vec_id") < 20)
        exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, queries, k=5).collect()}

        def recall(df):
            got = {(r.query_id, r.neighbor_id) for r in df.collect()}
            return len(got & exact) / len(exact)

        r_single = recall(srp_lsh_topk(emb, queries, dims=64, k=5, bits=8))
        r_probe1 = recall(srp_multiprobe_topk(emb, queries, dims=64, k=5, bits=8, probe_bits=1))
        r_probe2 = recall(srp_multiprobe_topk(emb, queries, dims=64, k=5, bits=8, probe_bits=2))
        assert r_single <= r_probe1 <= r_probe2  # monotone in probe radius
        assert r_probe2 > r_single  # and strictly better on the fixture

    def test_probe_zero_equals_single_bucket(self, spark):
        from ctcityscraper_spark.operators.similarity import (
            srp_lsh_topk,
            srp_multiprobe_topk,
        )

        emb = load_table(spark, SF, "embeddings")
        queries = emb.filter(F.col("vec_id") < 10)
        single = sorted(map(tuple, srp_lsh_topk(emb, queries, dims=64, k=5, bits=8).collect()))
        probe0 = sorted(
            map(tuple, srp_multiprobe_topk(emb, queries, dims=64, k=5, bits=8, probe_bits=0).collect())
        )
        assert single == probe0


class TestRankMarginGuard:
    def test_topk_margins_dominate_float_noise(self, spark):
        """The rank-only oracle for ann_cosine_topk_vectorized is valid only
        while adjacent cosine margins inside the top-k dwarf float-sum
        association error (~1e-15 rel). Pin that property of the fixture."""
        import numpy as np

        rows = load_table(spark, SF, "embeddings").select("vec_id", "embedding").collect()
        M = np.array([r.embedding for r in rows], dtype=np.float64)
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        S = Mn @ Mn.T
        np.fill_diagonal(S, -2.0)
        worst = min(
            float(np.min(np.sort(S[qi])[::-1][:6][:-1] - np.sort(S[qi])[::-1][:6][1:]))
            for qi in range(min(100, len(rows)))
        )
        assert worst > 1e-8, f"top-6 cosine margin {worst:.2e} too small for rank oracle"


class TestVectorizedAnnEquivalence:
    def test_same_neighbors_as_exact(self, spark):
        emb = load_table(spark, SF, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        exact = cosine_topk(emb, queries, k=5).collect()
        fast = cosine_topk_vectorized(emb.repartition(4), queries, k=5).collect()
        exact_map = {(r.query_id, r.rank): r.neighbor_id for r in exact}
        fast_map = {(r.query_id, r.rank): r.neighbor_id for r in fast}
        assert exact_map == fast_map
        # cosines agree to float tolerance
        e = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
        f = {(r.query_id, r.neighbor_id): r.cosine for r in fast}
        for key in e:
            assert abs(e[key] - f[key]) < 1e-9


class TestWinnowing:
    def _fps(self, spark, texts, **kw):
        from ctcityscraper_spark.operators.text import winnow_fingerprints

        df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
        out = {}
        for r in winnow_fingerprints(df, **kw).collect():
            out.setdefault(r.doc_id, set()).add(r.fp)
        return out

    def test_shared_passage_guarantee(self, spark):
        # guarantee: any shared normalized substring of >= window+k-1 chars
        # produces a shared fingerprint
        passage = "this exact sentence is embedded verbatim in both documents"
        fps = self._fps(
            spark,
            [
                f"totally different preamble material. {passage}",
                f"{passage} and then an unrelated continuation follows here",
                "no overlap with anything else at all in this one, different words only",
            ],
        )
        assert fps[0] & fps[1], "docs sharing a long passage must share a fingerprint"
        assert not (fps[0] & fps[2]) and not (fps[1] & fps[2])

    def test_short_doc_fallback_and_determinism(self, spark):
        # below the k+window-1 guarantee threshold -> single whole-content hash
        fps = self._fps(spark, ["tiny doc", "tiny doc", ""])
        assert len(fps[0]) == 1 and fps[0] == fps[1]
        assert len(fps[2]) == 1
        again = self._fps(spark, ["tiny doc", "tiny doc", ""])
        assert again == fps

    def test_normalization_invariance(self, spark):
        a = "Some   Long Enough document TEXT that winnows identically both times"
        b = "some long enough document text that winnows identically both times"
        fps = self._fps(spark, [a, b])
        assert fps[0] == fps[1]

    def test_fingerprints_stay_in_scan_stage(self, spark):
        from ctcityscraper_spark.operators.text import winnow_fingerprints

        docs = load_table(spark, SF, "documents")
        plan = winnow_fingerprints(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, "fingerprint build must not shuffle"

    def test_pairs_counts_match_set_intersection(self, spark):
        from ctcityscraper_spark.operators.dedup import winnow_pairs

        texts = [
            "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
            "alpha beta gamma delta epsilon zeta eta theta different tail portion here",
            "completely unrelated content without any matching substrings anywhere",
        ]
        df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
        fps = self._fps(spark, texts)
        got = {(r.doc_a, r.doc_b): r.shared for r in winnow_pairs(df, min_shared=1).collect()}
        exp = {
            (a, b): len(fps[a] & fps[b])
            for a in fps
            for b in fps
            if a < b and fps[a] & fps[b]
        }
        assert got == exp


class TestRangeJoin:
    def _run(self, spark, points, intervals, width):
        from ctcityscraper_spark.operators.rangejoin import range_join

        p = spark.createDataFrame([Row(pid=i, ts=t) for i, t in enumerate(points)])
        iv = spark.createDataFrame(
            [Row(iid=i, start=s, end=e) for i, (s, e) in enumerate(intervals)]
        )
        out = range_join(p, iv, "ts", "start", "end", width)
        return {(r.pid, r.iid) for r in out.collect()}

    def test_matches_brute_force(self, spark):
        points = [0, 5, 10, 99, 100, 150, 199, 200, 250, 10**15]
        intervals = [(0, 100), (100, 200), (50, 250), (300, 300), (400, 350)]
        got = self._run(spark, points, intervals, width=64)
        exp = {
            (pi, ii)
            for pi, t in enumerate(points)
            for ii, (s, e) in enumerate(intervals)
            if s <= t < e
        }
        assert got == exp  # half-open boundaries, overlaps, empty intervals

    def test_exactly_once_across_buckets(self, spark):
        # interval spans many buckets; each contained point matches once
        got = self._run(spark, [3, 7, 64, 191], [(0, 192)], width=16)
        assert got == {(0, 0), (1, 0), (2, 0), (3, 0)}

    def test_epoch_ns_precision(self, spark):
        # 2^53-breaking longs: double-division bucketing would mis-bucket
        base = 1_700_000_000_000_000_000  # epoch ns scale
        w = 21_600 * 10**9
        points = [base, base + w - 1, base + w]
        got = self._run(spark, points, [(base, base + w)], width=w)
        assert got == {(0, 0), (1, 0)}

    def test_column_collision_raises(self, spark):
        import pytest as _pytest

        from ctcityscraper_spark.operators.rangejoin import range_join

        p = spark.createDataFrame([Row(ts=1, start=0)])
        iv = spark.createDataFrame([Row(start=0, end=2)])
        with _pytest.raises(ValueError, match="collision"):
            range_join(p, iv, "ts", "start", "end", 10)

    def test_plan_is_equi_join(self, spark):
        from ctcityscraper_spark.operators.rangejoin import range_join

        p = spark.range(1000).select(F.col("id").alias("ts"))
        iv = spark.createDataFrame([Row(start=i * 100, end=i * 100 + 50) for i in range(10)])
        plan = (
            range_join(p, iv, "ts", "start", "end", 50)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
        assert "HashJoin" in plan or "SortMergeJoin" in plan


class TestInt8Ann:
    """int8 scalar quantization: exact integer scoring, python twin, guards."""

    def _py_quantize(self, v):
        import math

        m = max(abs(x) for x in v)
        if m == 0:
            return [0] * len(v)
        # round-half-away-from-zero matches Spark/DuckDB round()
        return [int(math.floor(abs(x) * 127.0 / m + 0.5)) * (1 if x >= 0 else -1) for x in v]

    def test_matches_python_twin(self, spark):
        from ctcityscraper_spark.operators.similarity import int8_quantize_col

        vecs = [
            (0, [0.5, -0.25, 0.125, 0.0]),
            (1, [1.0, 1.0, -1.0, 0.5]),
            (2, [0.0, 0.0, 0.0, 0.0]),  # all-zero guard
        ]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        got = {
            r.vec_id: list(r.q)
            for r in df.select(
                "vec_id", int8_quantize_col(F.col("embedding")).alias("q")
            ).collect()
        }
        for vid, v in vecs:
            assert got[vid] == self._py_quantize(v), (vid, got[vid])

    def test_topk_scores_are_exact_ints(self, spark):
        from ctcityscraper_spark.operators.similarity import int8_topk

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        out = int8_topk(emb, emb.filter(F.col("vec_id") < 3), k=3).collect()
        assert len(out) == 9
        for r in out:
            assert isinstance(r.score, int)
            assert r.neighbor_id != r.query_id
        # python twin of the full scoring for one query
        rows = {r.vec_id: list(r.embedding) for r in emb.collect()}
        q = self._py_quantize(rows[0])
        scores = {
            vid: sum(a * b for a, b in zip(q, self._py_quantize(v)))
            for vid, v in rows.items()
            if vid != 0
        }
        expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        got = [(r.neighbor_id, r.score) for r in out if r.query_id == 0]
        assert got == expect


class TestPqAnn:
    def test_trained_rerank_beats_random_codebook(self, spark):
        from ctcityscraper_spark.operators.similarity import (
            pq_rerank_topk,
            pq_train_codebooks,
        )

        emb = load_table(spark, SF, "embeddings")
        queries = emb.filter(F.col("vec_id") < 10)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in cosine_topk(emb, queries, k=5).collect()
        }

        def recall(df):
            got = {(r.query_id, r.neighbor_id) for r in df.collect()}
            return len(got & exact) / len(exact)

        trained = pq_train_codebooks(emb, dims=64, sample=500, iters=5)
        r_trained = recall(
            pq_rerank_topk(emb, queries, dims=64, k=5, shortlist=50, codebook=trained)
        )
        r_random = recall(pq_rerank_topk(emb, queries, dims=64, k=5, shortlist=50))
        # Lloyd's codebooks must materially beat md5-random ones, and a
        # 50-of-500 shortlist with a trained codebook should recover most
        # true neighbors even on random embeddings (PQ's hardest case)
        assert r_trained >= r_random
        assert r_trained >= 0.5

    def test_train_guard_rejects_sample_smaller_than_k(self, spark):
        from ctcityscraper_spark.operators.similarity import pq_train_codebooks

        emb = load_table(spark, SF, "embeddings")
        with pytest.raises(ValueError, match="PQ training needs"):
            pq_train_codebooks(emb, dims=64, sample=5)  # default k=16 > 5

    def test_training_sample_is_deterministic(self, spark):
        from ctcityscraper_spark.operators.similarity import pq_train_codebooks

        emb = load_table(spark, SF, "embeddings")
        a = pq_train_codebooks(emb, dims=64, sample=200, iters=2)
        b = pq_train_codebooks(emb, dims=64, sample=200, iters=2)
        assert a == b

    def test_full_shortlist_is_exact(self, spark):
        from ctcityscraper_spark.operators.similarity import pq_rerank_topk

        emb = load_table(spark, SF, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        exact = {
            (r.query_id, r.rank): r.neighbor_id
            for r in cosine_topk(emb, queries, k=3).collect()
        }
        # shortlist = whole corpus -> the re-rank IS the exact ranking,
        # regardless of codebook quality
        full = {
            (r.query_id, r.rank): r.neighbor_id
            for r in pq_rerank_topk(
                emb, queries, dims=64, k=3, shortlist=500
            ).collect()
        }
        assert exact == full

    def test_codes_are_4bit(self, spark):
        from ctcityscraper_spark.operators.similarity import (
            _as_double,
            pq_codebook,
            pq_encode_col,
        )

        emb = load_table(spark, SF, "embeddings").limit(50)
        cb = pq_codebook(64)
        codes = emb.select(
            pq_encode_col(_as_double(F.col("embedding")), cb).alias("codes")
        ).collect()
        for r in codes:
            assert len(r.codes) == 8
            assert all(0 <= c <= 15 for c in r.codes)

    def test_expr_path_equals_column_path(self, spark):
        """pq_encode_expr / pq_adc_table_expr (single-F.expr parse — the
        production path since r12; the lambda-Column builders cost ~3 s
        of driver time per call at M*K=128) must be row-identical to the
        Column builders on both codes and ADC tables."""
        from ctcityscraper_spark.operators.similarity import (
            _as_double,
            pq_adc_table_col,
            pq_adc_table_expr,
            pq_codebook,
            pq_encode_col,
            pq_encode_expr,
            valid_vectors,
        )

        cb = pq_codebook(64)
        v = valid_vectors(load_table(spark, SF, "embeddings")).select(
            "vec_id", _as_double(F.col("embedding")).alias("_v")
        )
        col_path = {
            r.vec_id: (tuple(r.c), tuple(map(tuple, r.t)))
            for r in v.select(
                "vec_id",
                pq_encode_col(F.col("_v"), cb).alias("c"),
                pq_adc_table_col(F.col("_v"), cb).alias("t"),
            ).collect()
        }
        expr_path = {
            r.vec_id: (tuple(r.c), tuple(map(tuple, r.t)))
            for r in v.select(
                "vec_id",
                pq_encode_expr("_v", cb).alias("c"),
                pq_adc_table_expr("_v", cb).alias("t"),
            ).collect()
        }
        assert col_path and col_path == expr_path

    def test_recon_error_zero_on_codewords(self, spark):
        """A vector that IS a concatenation of codewords reconstructs
        exactly: per-row error 0, mse_micros 0."""
        from pyspark.sql import Row

        from ctcityscraper_spark.operators.similarity import (
            pq_codebook,
            pq_recon_stats,
        )

        cb = pq_codebook(64, n_sub=8, k=16)
        perfect = [c for m in range(8) for c in cb[m][3]]
        df = spark.createDataFrame(
            [Row(vec_id=1, embedding=perfect), Row(vec_id=2, embedding=perfect)]
        )
        row = pq_recon_stats(df, cb).collect()[0]
        assert (row.n, row.sse_micros, row.mse_micros) == (2, 0, 0.0)

    def test_recon_drift_flags_noisier_epoch(self, spark):
        """Epoch B = epoch A's codeword-perfect vectors plus noise —
        drift_micros must be positive; an EMPTY epoch yields NULL
        mse/drift (loud, never divide-by-zero)."""
        from pyspark.sql import Row

        from ctcityscraper_spark.operators.similarity import (
            pq_codebook,
            pq_recon_drift,
        )

        cb = pq_codebook(64, n_sub=8, k=16)
        perfect = [c for m in range(8) for c in cb[m][5]]
        a = spark.createDataFrame(
            [Row(vec_id=i, embedding=perfect) for i in range(1, 4)]
        )
        noisy = [c + 0.5 for c in perfect]
        b = spark.createDataFrame(
            [Row(vec_id=i, embedding=noisy) for i in range(10, 13)]
        )
        row = pq_recon_drift(a, b, cb).collect()[0]
        assert row.mse_micros_a == 0.0 and row.mse_micros_b > 0
        assert row.drift_micros == row.mse_micros_b
        empty = a.filter(F.lit(False))
        row = pq_recon_drift(a, empty, cb).collect()[0]
        assert row.n_b == 0 and row.mse_micros_b is None
        assert row.drift_micros is None and row.mse_micros_a == 0.0

    def test_recon_sse_is_additive_across_splits(self, spark):
        """Fixed-point SSE is exactly additive: stats(A ∪ B).sse_micros
        == stats(A).sse + stats(B).sse for ANY split (per-row floor
        happens before the integer SUM, so partial aggregates compose)
        — the property that makes the PQ monitor delta-maintainable as
        a SUM-merged zone, like the CMS/Gram/cursor state."""
        from ctcityscraper_spark.operators.similarity import (
            pq_codebook,
            pq_recon_stats,
        )

        cb = pq_codebook(64, n_sub=8, k=16)
        emb = load_table(spark, SF, "embeddings")
        a = emb.filter(F.col("vec_id") % 3 == 0)
        b = emb.filter(F.col("vec_id") % 3 != 0)
        sa = pq_recon_stats(a, cb).collect()[0]
        sb = pq_recon_stats(b, cb).collect()[0]
        su = pq_recon_stats(emb, cb).collect()[0]
        assert su.n == sa.n + sb.n and su.n > 0
        assert su.sse_micros == sa.sse_micros + sb.sse_micros

    def test_pca_expr_path_equals_column_path(self, spark):
        """pca_project_expr (single-parse, the literal-gate production
        path since r12) must be row-identical to pca_project_col — the
        fold order is oracle-matched, so any drift here would break the
        ann_pca_ivf_recall hash."""
        from ctcityscraper_spark.operators.similarity import (
            _as_double,
            int8_gram_matrix,
            pca_components,
            pca_project_col,
            pca_project_expr,
            valid_vectors,
        )

        emb = load_table(spark, SF, "embeddings")
        comps, _ = pca_components(int8_gram_matrix(emb, 64), 64, 8)
        v = valid_vectors(emb).select(
            "vec_id", _as_double(F.col("embedding")).alias("_v")
        )
        col_path = {
            r.vec_id: tuple(r.p)
            for r in v.select(
                "vec_id", pca_project_col(F.col("_v"), comps).alias("p")
            ).collect()
        }
        expr_path = {
            r.vec_id: tuple(r.p)
            for r in v.select(
                "vec_id", pca_project_expr("_v", comps).alias("p")
            ).collect()
        }
        assert col_path and col_path == expr_path


class TestSemDeDup:
    def test_kmeans_cluster_col_plugs_in(self, spark):
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        from ctcityscraper_spark.operators.dedup import semdedup_drop_list

        emb = load_table(spark, SF, "embeddings")
        feats = emb.withColumn("features", array_to_vector(
            F.transform("embedding", lambda x: x.cast("double"))))
        model = KMeans(k=8, seed=7, featuresCol="features",
                       predictionCol="list_id").fit(feats)
        clustered = model.transform(feats).drop("features")
        got = semdedup_drop_list(
            clustered, dims=64, threshold=0.3, cluster_col="list_id"
        ).collect()
        ids = [r.drop_id for r in got]
        assert len(ids) == len(set(ids))  # distinct drop list
        # every dropped id must have a lower-id near-dup in its cluster:
        # spot-check via the blocked pair operator itself
        from ctcityscraper_spark.operators.dedup import embedding_neardup_pairs

        pairs = embedding_neardup_pairs(
            clustered, threshold=0.3, block="list_id"
        ).collect()
        b_side = {r.vec_b for r in pairs}
        assert set(ids) == b_side

    def test_tighter_threshold_drops_fewer(self, spark):
        from ctcityscraper_spark.operators.dedup import semdedup_drop_list

        emb = load_table(spark, SF, "embeddings")
        loose = semdedup_drop_list(emb, dims=64, threshold=0.2, bits=4).count()
        tight = semdedup_drop_list(emb, dims=64, threshold=0.5, bits=4).count()
        assert tight <= loose


class TestAnnSidecars:
    def test_pq_codebook_roundtrip_scores_identically(self, spark, tmp_path):
        from ctcityscraper_spark.operators.similarity import (
            load_vectors_json,
            pq_adc_topk,
            pq_train_codebooks,
            save_vectors_json,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cb = pq_train_codebooks(emb, dims=64, sample=200)
        path = tmp_path / "codebook.json"
        save_vectors_json(cb, path, "pq_codebook")
        cb2 = load_vectors_json(path, "pq_codebook")
        assert cb2 == cb
        q = emb.filter("vec_id < 3")
        a = pq_adc_topk(emb, q, dims=64, codebook=cb).collect()
        b = pq_adc_topk(emb, q, dims=64, codebook=cb2).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_ivf_centroids_roundtrip_and_kind_check(self, tmp_path):
        import pytest as _pytest

        from ctcityscraper_spark.operators.similarity import (
            load_vectors_json,
            save_vectors_json,
        )

        ctrs = [[0.1 * i + 0.01 * d for d in range(4)] for i in range(3)]
        path = tmp_path / "centroids.json"
        save_vectors_json(ctrs, path, "ivf_centroids")
        assert load_vectors_json(path, "ivf_centroids") == ctrs
        with _pytest.raises(ValueError, match="kind"):
            load_vectors_json(path, "pq_codebook")

    def test_torn_sidecar_raises_descriptive_valueerror(self, tmp_path):
        """A truncated/unparseable sidecar (crash on a filesystem without
        the fsync guarantees) must raise the SAME descriptive ValueError
        as the kind/shape checks — not a raw JSONDecodeError."""
        import pytest as _pytest

        from ctcityscraper_spark.operators.similarity import (
            load_vectors_json,
            save_vectors_json,
        )

        path = tmp_path / "ctr.json"
        save_vectors_json([[1.0, 2.0]], path, "ivf_centroids")
        path.write_text('{"kind": "ivf_cent')  # simulate the torn write
        with _pytest.raises(ValueError, match="torn write"):
            load_vectors_json(path, "ivf_centroids")


class TestVectorizedAnnNullIdParity:
    def test_null_ids_drop_like_the_exact_twin(self, spark):
        """cosine_topk drops NULL-id rows through its query_id !=
        neighbor_id filter (NULL comparisons are never true); the
        vectorized variant must agree instead of emitting NULL-keyed
        output rows."""
        from ctcityscraper_spark.operators.similarity import (
            cosine_topk,
            cosine_topk_vectorized,
        )

        emb = load_table(spark, SF, "embeddings").limit(20)
        dirty = emb.withColumn(
            "vec_id",
            F.when(F.col("vec_id") % 3 == 0, None).otherwise(F.col("vec_id")),
        )
        exact = {
            (r.query_id, r.rank, r.neighbor_id)
            for r in cosine_topk(dirty, dirty, k=3).collect()
        }
        fast = {
            (r.query_id, r.rank, r.neighbor_id)
            for r in cosine_topk_vectorized(dirty, dirty, k=3).collect()
        }
        assert {q for q, _, _ in fast} == {q for q, _, _ in exact}
        assert None not in {q for q, _, _ in fast}
        assert None not in {n for _, _, n in fast}


class TestVectorizedAnnSchema:
    def test_empty_and_nonempty_paths_agree_on_string_ids(self, spark):
        """cosine_topk_vectorized derives its id types from the inputs:
        string ids come back as strings on BOTH the empty-query early
        return and the mapInPandas path (the early return used to
        hard-code longs and silently diverge)."""
        from ctcityscraper_spark.operators.similarity import (
            cosine_topk_vectorized,
        )

        emb = spark.createDataFrame(
            [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("c", [0.0, 1.0])],
            "vec_id string, embedding array<double>",
        )
        res = cosine_topk_vectorized(emb, emb, k=2)
        empty = cosine_topk_vectorized(emb, emb.filter("vec_id = 'zz'"), k=2)
        assert [(f.name, f.dataType) for f in res.schema.fields] == [
            (f.name, f.dataType) for f in empty.schema.fields
        ]
        rows = {(r.query_id, r.rank): r.neighbor_id for r in res.collect()}
        assert rows[("a", 1)] == "b" and rows[("c", 1)] == "b"
        assert empty.count() == 0


class TestSrpBucketVectorized:
    def test_matches_expression_variant_on_fixture(self, spark):
        """The numpy SRP bucketing (the high-dim scale path — the literal
        expression would embed dims*bits literals in the plan) must agree
        with srp_bucket_col bucket-for-bucket on the fixture; the only
        theoretical divergence is a projection within float-association
        distance of zero, which the fixture's real-magnitude vectors
        never hit."""
        from ctcityscraper_spark.operators.similarity import (
            _as_double,
            srp_bucket_col,
            srp_bucket_vectorized,
            valid_vectors,
        )

        emb = load_table(spark, SF, "embeddings")
        expr = {
            r.vec_id: r.bucket
            for r in valid_vectors(emb)
            .select(
                "vec_id",
                srp_bucket_col(_as_double(F.col("embedding")), 64, 8).alias(
                    "bucket"
                ),
            )
            .collect()
        }
        fast = {
            r.vec_id: r.bucket
            for r in srp_bucket_vectorized(emb, dims=64, bits=8).collect()
        }
        assert fast == expr and len(fast) > 0

    def test_invalid_vectors_and_null_ids_excluded(self, spark):
        from ctcityscraper_spark.operators.similarity import (
            srp_bucket_vectorized,
        )

        df = spark.createDataFrame(
            [
                (1, [1.0, 2.0]),
                (2, None),               # NULL vector
                (3, [0.0, 0.0]),         # zero norm
                (None, [1.0, 1.0]),      # NULL id
            ],
            "vec_id long, embedding array<double>",
        )
        out = srp_bucket_vectorized(df, dims=2, bits=4).collect()
        assert [r.vec_id for r in out] == [1]

    def test_bits_guard(self, spark):
        import pytest as _pytest

        from ctcityscraper_spark.operators.similarity import (
            srp_bucket_vectorized,
        )

        df = spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<double>")
        for bad in (0, 32):
            with _pytest.raises(ValueError, match="bits"):
                srp_bucket_vectorized(df, dims=1, bits=bad)

    def test_semdedup_vectorized_path_matches_expression_path(self, spark):
        """Forcing the high-dim Arrow SRP path (literal_gate=0) must
        yield the same drop list as the default literal-expression
        clusterer — the auto-gate switches implementation, never
        semantics (fixture projections are far from the float knife
        edge)."""
        from ctcityscraper_spark.operators.dedup import semdedup_drop_list

        emb = load_table(spark, SF, "embeddings")
        expr = {
            r.drop_id
            for r in semdedup_drop_list(emb, dims=64, bits=4).collect()
        }
        fast = {
            r.drop_id
            for r in semdedup_drop_list(
                emb, dims=64, bits=4, literal_gate=0
            ).collect()
        }
        assert fast == expr and len(fast) > 0

    def test_srp_topk_vectorized_gate_matches_literal_path(self, spark):
        """Forcing the Arrow bucket path (literal_gate=0) in the SRP
        top-k operators must reproduce the literal-expression results
        exactly on the fixture — single-bucket and multiprobe."""
        from ctcityscraper_spark.operators.similarity import (
            srp_lsh_topk,
            srp_multiprobe_topk,
        )

        emb = load_table(spark, SF, "embeddings")
        queries = emb.filter(F.col("vec_id") < 10)
        for fn, kwargs in (
            (srp_lsh_topk, {}),
            (srp_multiprobe_topk, {"probe_bits": 1}),
        ):
            lit = sorted(
                (r.query_id, r.rank, r.neighbor_id)
                for r in fn(emb, queries, dims=64, k=3, **kwargs).collect()
            )
            fast = sorted(
                (r.query_id, r.rank, r.neighbor_id)
                for r in fn(
                    emb, queries, dims=64, k=3, literal_gate=0, **kwargs
                ).collect()
            )
            assert lit == fast and len(lit) > 0


class TestBloomMembership:
    def test_no_false_negatives_and_design_fpp(self, spark):
        """Every document fed to the build must flag true on probe; unseen
        documents flag true only at ~the designed false-positive rate."""
        from ctcityscraper_spark.operators.dedup import (
            bloom_might_contain,
            bloom_parameters,
            build_bloom_index,
        )

        docs = load_table(spark, SF, "documents")
        m, k = bloom_parameters(docs.count(), fpp=0.01)
        bloom = build_bloom_index(docs, m, k)
        self_probe = bloom_might_contain(docs, bloom, m, k)
        assert self_probe.filter("NOT might_contain AND text IS NOT NULL").count() == 0
        unseen = spark.createDataFrame(
            [(10_000 + i, f"definitely unseen text {i} xyz") for i in range(2000)],
            "doc_id long, text string",
        )
        fp = bloom_might_contain(unseen, bloom, m, k).filter("might_contain").count()
        # fpp-distribution gate: observed false-positive rate on a fully
        # disjoint probe corpus must stay within ~2x the 1% design point
        # (2000 probes; ~4.5 sigma above the binomial mean, so this only
        # trips if probes systematically collapse — the degenerate-h2 bug)
        assert fp / 2000 < 0.02

    def test_degenerate_h2_still_probes_k_positions(self, spark):
        """Kirsch-Mitzenmacher degenerate case: this text's raw step hash
        is ≡ 0 mod m, which before the [1, m-1] clamp collapsed all k
        probes onto h1 (1-probe fpp instead of the designed k-probe fpp).
        With the clamp the single-doc index must set exactly k distinct
        bits. Brute-forced anchor: md5-hash64('degenerate probe 1932',
        'bloomB') % 4096 == 0; fixed probes land at 2701 + i*69."""
        from ctcityscraper_spark.operators.dedup import build_bloom_index

        one = spark.createDataFrame(
            [(1, "degenerate probe 1932")], "doc_id long, text string"
        )
        bloom = build_bloom_index(one, 4096, 5)
        set_bits = bloom.selectExpr("sum(bit_count(word)) AS n").collect()[0]["n"]
        assert set_bits == 5

    def test_saturated_bloom_flags_everything(self, spark):
        """All-ones saturation: a filter whose every word is 0xFFFFFFFF
        (e.g. badly undersized m) must flag every non-NULL probe true —
        the degenerate-but-safe direction (no false negatives ever)."""
        from ctcityscraper_spark.operators.dedup import bloom_might_contain

        m, k = 1024, 5
        full = spark.range(m // 32).selectExpr(
            "id AS word_idx", "CAST(4294967295 AS BIGINT) AS word"
        )
        batch = spark.createDataFrame(
            [(1, "never seen"), (2, "also unseen"), (3, None)],
            "doc_id long, text string",
        )
        flags = {
            r.doc_id: r.might_contain
            for r in bloom_might_contain(batch, full, m, k).collect()
        }
        assert flags == {1: True, 2: True, 3: False}

    def test_empty_batch_probe(self, spark):
        """Probing an empty batch (first micro-batch of a new source)
        returns an empty frame with the contract schema, no action errors."""
        from ctcityscraper_spark.operators.dedup import (
            bloom_might_contain,
            build_bloom_index,
        )

        corpus = spark.createDataFrame(
            [(1, "some corpus doc")], "doc_id long, text string"
        )
        bloom = build_bloom_index(corpus, 1024, 3)
        empty = spark.createDataFrame([], "doc_id long, text string")
        out = bloom_might_contain(empty, bloom, 1024, 3)
        assert out.columns == ["doc_id", "text", "might_contain"]
        assert out.count() == 0

    def test_null_text_flags_false_and_empty_build(self, spark):
        from ctcityscraper_spark.operators.dedup import (
            bloom_might_contain,
            build_bloom_index,
        )

        empty = spark.createDataFrame([], "doc_id long, text string")
        bloom = build_bloom_index(empty, 4096, 5)
        assert bloom.count() == 0
        batch = spark.createDataFrame(
            [(1, "anything"), (2, None)], "doc_id long, text string"
        )
        flags = {
            r.doc_id: r.might_contain
            for r in bloom_might_contain(batch, bloom, 4096, 5).collect()
        }
        # empty bloom: nothing may flag true; NULL text always false
        assert flags == {1: False, 2: False}

    def test_update_merge_equals_fresh_build(self, spark):
        """Incremental maintenance is EXACT: merging a delta batch into a
        stored index (bit_or of word tables) must be bit-for-bit identical
        to building over the union — OR-associativity, the property that
        makes per-batch updates safe on a growing corpus. Probing the
        merged filter with the delta docs must also flag all true (no
        false negative can be introduced by a merge)."""
        from ctcityscraper_spark.operators.dedup import (
            bloom_might_contain,
            build_bloom_index,
            update_bloom_index,
        )

        m, k = 2048, 4
        a = spark.createDataFrame(
            [(i, f"base doc {i}") for i in range(40)], "doc_id long, text string"
        )
        b = spark.createDataFrame(
            [(100 + i, f"delta doc {i}") for i in range(15)]
            + [(200, None)],  # NULL text in the delta contributes nothing
            "doc_id long, text string",
        )
        merged = {
            r.word_idx: r.word
            for r in update_bloom_index(build_bloom_index(a, m, k), b, m, k).collect()
        }
        fresh = {
            r.word_idx: r.word
            for r in build_bloom_index(a.unionByName(b), m, k).collect()
        }
        assert merged == fresh and len(merged) > 0
        flags = bloom_might_contain(
            b.filter("text IS NOT NULL"),
            update_bloom_index(build_bloom_index(a, m, k), b, m, k),
            m, k,
        )
        assert flags.filter("NOT might_contain").count() == 0

    def test_parameters_sizing(self):
        from ctcityscraper_spark.operators.dedup import bloom_parameters

        m, k = bloom_parameters(1000, 0.01)
        assert m % 32 == 0 and 9 * 1000 <= m <= 11 * 1000  # ~9.6 bits/item
        assert 1 <= k <= 16
        m0, k0 = bloom_parameters(0, 0.01)
        assert m0 >= 32 and k0 >= 1


class TestGramUpdate:
    def test_update_merge_equals_fresh_build(self, spark):
        """Incremental PCA-trainer maintenance is EXACT: merging a delta
        batch's Gram into a stored matrix (sum of integer partials) must
        be value-identical to building over the union — the SUM-merge
        analogue of the Bloom OR-merge property. Chained updates (A then
        B then C) must equal the one-pass build too (associativity), and
        hostile rows in the delta (NULL / zero-norm vectors) contribute
        nothing."""
        from ctcityscraper_spark.operators.similarity import (
            int8_gram_matrix,
            update_gram_matrix,
        )

        dims = 6
        schema = "vec_id long, embedding array<double>"
        a = spark.createDataFrame(
            [(i, [float((i * 7 + d * 3) % 11 - 5) for d in range(dims)])
             for i in range(25)],
            schema,
        )
        b = spark.createDataFrame(
            [(100 + i, [float((i * 5 + d) % 9 - 4) for d in range(dims)])
             for i in range(10)]
            + [(200, None), (201, [0.0] * dims)],  # contribute nothing
            schema,
        )
        c = spark.createDataFrame(
            [(300, [1.5] * dims), (301, [-2.5] * dims)], schema
        )
        fresh = {
            (r.j, r.l): r.g
            for r in int8_gram_matrix(
                a.unionByName(b).unionByName(c), dims
            ).collect()
        }
        once = update_gram_matrix(int8_gram_matrix(a, dims), b, dims)
        chained = {
            (r.j, r.l): r.g
            for r in update_gram_matrix(once, c, dims).collect()
        }
        assert chained == fresh and len(fresh) == dims * dims


class TestGramPca:
    def test_gram_matches_numpy_and_symmetry(self, spark):
        import numpy as np

        from ctcityscraper_spark.operators.similarity import int8_gram_matrix

        rng = np.random.RandomState(3)
        vecs = rng.randn(50, 8).astype(np.float64)
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )
        got = {(r.j, r.l): r.g for r in int8_gram_matrix(df, dims=8).collect()}
        # reference: same quantization rule (round-half-up like Spark's
        # ROUND), exact integer accumulation — float32 ingest first, since
        # the table column is array<float>
        q = []
        for v in vecs.astype(np.float32).astype(np.float64):
            m = np.abs(v).max()
            q.append(np.floor(v * 127.0 / m + 0.5) if m > 0 else np.zeros(8))
        qm = np.array(q, dtype=np.int64)
        ref = qm.T @ qm
        assert len(got) == 64
        for (j, l), g in got.items():
            assert g == ref[j, l]
            assert g == got[(l, j)]  # symmetric

    def test_empty_corpus_empty_gram(self, spark):
        from ctcityscraper_spark.operators.similarity import int8_gram_matrix

        empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
        assert int8_gram_matrix(empty, dims=8).count() == 0

    def test_pca_recovers_planted_direction(self, spark):
        import numpy as np

        from ctcityscraper_spark.operators.similarity import (
            int8_gram_matrix,
            pca_components,
            pca_project_col,
        )

        rng = np.random.RandomState(11)
        direction = np.array([3.0, 1.0, 0.0, 0.0, 0.0, 0.0, -2.0, 1.0])
        direction /= np.linalg.norm(direction)
        data = (
            rng.randn(300, 1) * 10.0 @ direction[None, :]
            + rng.randn(300, 8) * 0.3
        )
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(data)],
            "vec_id long, embedding array<float>",
        )
        comps, eigs = pca_components(int8_gram_matrix(df, dims=8), dims=8, k=3)
        assert len(comps) == 3 and len(comps[0]) == 8
        assert eigs[0] >= eigs[1] >= eigs[2] > 0
        # dominant component aligns with the planted direction
        assert abs(float(np.dot(comps[0], direction))) > 0.95
        # components are orthonormal
        c = np.array(comps)
        assert np.allclose(c @ c.T, np.eye(3), atol=1e-8)
        # sign canonicalization: largest-|weight| coordinate positive
        for row in comps:
            assert row[int(np.argmax(np.abs(row)))] > 0
        # projection expression matches numpy within float-fold tolerance
        import pyspark.sql.functions as SF

        proj = {
            r.vec_id: r.p
            for r in df.select(
                "vec_id", pca_project_col(SF.col("embedding"), comps).alias("p")
            ).collect()
        }
        ref = data.astype(np.float32).astype(np.float64) @ c.T
        for i in range(0, 300, 37):
            assert np.allclose(proj[i], ref[i], rtol=1e-6, atol=1e-6)

    def test_dims_mismatch_fails_fast_with_clear_error(self, spark):
        from ctcityscraper_spark.operators.similarity import int8_gram_matrix

        df = spark.createDataFrame(
            [(1, [1.0, 2.0, 3.0, 4.0])], "vec_id long, embedding array<float>"
        )
        with pytest.raises(Exception, match="dims must match"):
            int8_gram_matrix(df, dims=8).collect()

    def test_chase_invariant_and_planted_dup(self, spark):
        """bloom_chased_duplicates: is_dup implies might_contain (the
        chase shares the bloom's raw-md5 fingerprint, so no false
        negatives end-to-end); the planted duplicate is found, fresh and
        NULL-text docs are clean."""
        from ctcityscraper_spark.operators.dedup import (
            bloom_chased_duplicates,
            build_bloom_index,
        )

        m, k = 2048, 4
        corpus = spark.createDataFrame(
            [(i, f"corpus doc {i}") for i in range(30)],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [(100, "corpus doc 7"), (101, "completely fresh"), (102, None)],
            "doc_id long, text string",
        )
        bloom = build_bloom_index(corpus, m, k)
        fps = corpus.select(F.md5("text").alias("fingerprint")).distinct()
        got = {
            r.doc_id: (r.might_contain, r.is_dup)
            for r in bloom_chased_duplicates(batch, fps, bloom, m, k).collect()
        }
        assert got[100] == (True, True)
        assert got[101][1] is False and got[102] == (False, False)
        for mc, dup in got.values():
            assert not dup or mc  # is_dup => might_contain


class TestPcaIvf:
    """pca_rotated_ivf_topk: PCA trained on the int8 Gram matrix, applied
    via pca_project_col, composed with hash-picked IVF — the end-to-end
    path the catalog query ann_pca_ivf_recall exercises. Since r10 that
    query IS hash-oracled (components persist to a JSON sidecar the
    DuckDB SQL replays); only the eigh call itself stays outside the
    match, so its isometry/recall invariants still live HERE."""

    def _recall(self, rows, exact):
        got = {}
        for r in rows:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(got.get(q, set()) & n) for q, n in exact.items())
        return hits / sum(len(n) for n in exact.values())

    def test_full_rank_rotation_preserves_recall(self, spark):
        """A full-rank PCA projection is an orthonormal rotation —
        cosine and L2 are isometric under it, so IVF over the rotated
        corpus must reach the SAME recall as unprojected IVF with the
        same (hash-picked) centroid policy and n_probe."""
        from ctcityscraper_spark.operators.similarity import (
            hash_pick_centroids,
            ivf_flat_topk,
            pca_rotated_ivf_topk,
        )

        emb = load_table(spark, SF, "embeddings")
        queries = emb.filter(F.col("vec_id") < 20)
        exact: dict = {}
        for r in cosine_topk(emb, queries, k=5).collect():
            exact.setdefault(r.query_id, set()).add(r.neighbor_id)
        r_pca = self._recall(
            pca_rotated_ivf_topk(
                emb, queries, 64, k=5, n_lists=8, n_probe=2
            ).collect(),
            exact,
        )
        r_plain = self._recall(
            ivf_flat_topk(
                emb, queries, hash_pick_centroids(emb, 8), k=5, n_probe=2
            ).collect(),
            exact,
        )
        assert r_pca >= r_plain, f"rotation lost recall: {r_pca} < {r_plain}"

    def test_reduced_rank_keeps_recall_floor(self, spark):
        """pca_k=32 on the near-isotropic synthetic corpus: lossy, but
        candidate selection must stay far better than chance (floor well
        below the measured 0.34 so spectrum jitter can't flake it)."""
        from ctcityscraper_spark.operators.similarity import (
            pca_rotated_ivf_topk,
        )

        emb = load_table(spark, SF, "embeddings")
        queries = emb.filter(F.col("vec_id") < 20)
        exact: dict = {}
        for r in cosine_topk(emb, queries, k=5).collect():
            exact.setdefault(r.query_id, set()).add(r.neighbor_id)
        r32 = self._recall(
            pca_rotated_ivf_topk(
                emb, queries, 64, k=5, n_lists=8, n_probe=2, pca_k=32
            ).collect(),
            exact,
        )
        assert r32 >= 0.15, r32

    def test_components_orthonormal_and_ordered(self, spark):
        """pca_components must return unit-norm, mutually-orthogonal rows
        ordered by descending eigenvalue (eigh gives an orthonormal basis;
        the sign canonicalization must not break it)."""
        import numpy as np

        from ctcityscraper_spark.operators.similarity import (
            int8_gram_matrix,
            pca_components,
        )

        emb = load_table(spark, SF, "embeddings")
        comps, evals = pca_components(int8_gram_matrix(emb, 64), 64, 16)
        C = np.array(comps)
        assert C.shape == (16, 64)
        assert np.abs(C @ C.T - np.eye(16)).max() < 1e-8
        assert all(a >= b for a, b in zip(evals, evals[1:]))
        assert evals[0] > 0

    def test_empty_corpus_refused(self, spark):
        import pytest as _pytest

        from ctcityscraper_spark.operators.similarity import (
            pca_rotated_ivf_topk,
        )

        empty = spark.createDataFrame(
            [], "vec_id long, embedding array<double>"
        )
        with _pytest.raises(ValueError, match="no valid vectors"):
            pca_rotated_ivf_topk(empty, empty, 64).collect()

    def test_catalog_query_single_row_invariant(self, spark):
        """ann_pca_ivf_recall returns one row with the rotation invariant
        recall_pca == recall_plain and sane bounds — the eigensolver-side
        functional gate complementing the sidecar-backed DuckDB oracle
        (which hash-matches everything downstream of eigh)."""
        from ctcityscraper_spark.plans.queries import query_catalog

        row = query_catalog()["ann_pca_ivf_recall"](spark, SF).collect()
        assert len(row) == 1
        r = row[0]
        assert r.n_exact > 0
        assert 0.0 <= r.recall_pca <= 1.0 and 0.0 <= r.recall_plain <= 1.0
        assert r.recall_pca >= r.recall_plain

    def test_vectorized_projection_matches_literal(self, spark):
        """pca_project_vectorized is the Arrow-matmul twin of the literal
        expression: same row membership (valid_vectors contract on both
        sides), coordinates equal to float-association noise."""
        import numpy as np

        from ctcityscraper_spark.operators.similarity import (
            int8_gram_matrix,
            pca_components,
            pca_project_col,
            pca_project_vectorized,
            valid_vectors,
        )

        emb = load_table(spark, SF, "embeddings")
        comps, _ = pca_components(int8_gram_matrix(emb, 64), 64, 16)
        lit = {
            r.vec_id: r.p
            for r in valid_vectors(emb, "embedding")
            .select(
                "vec_id",
                pca_project_col(F.col("embedding"), comps).alias("p"),
            )
            .collect()
        }
        vec = {
            r.vec_id: r.p
            for r in pca_project_vectorized(
                emb, comps, out_col="p"
            ).collect()
        }
        assert lit.keys() == vec.keys() and lit
        for vid in lit:
            np.testing.assert_allclose(lit[vid], vec[vid], rtol=1e-9)

    def test_gated_path_end_to_end_identical(self, spark):
        """Both sides of the literal gate through the full
        pca_rotated_ivf_topk must return the same neighbor sets at
        64-dim (the default is the Arrow path — 64·64 > PCA_LITERAL_GATE
        — forced here against an explicit always-literal gate): the gate
        switches implementation, never semantics."""
        from ctcityscraper_spark.operators.similarity import (
            pca_rotated_ivf_topk,
        )

        emb = load_table(spark, SF, "embeddings")
        queries = emb.filter(F.col("vec_id") < 20)
        lit = {
            (r.query_id, r.neighbor_id)
            for r in pca_rotated_ivf_topk(
                emb, queries, 64, k=5, n_lists=8, n_probe=2,
                literal_gate=1 << 30,
            ).collect()
        }
        vec = {
            (r.query_id, r.neighbor_id)
            for r in pca_rotated_ivf_topk(
                emb, queries, 64, k=5, n_lists=8, n_probe=2,
                literal_gate=0,
            ).collect()
        }
        assert lit == vec and lit

    def test_vectorized_refuses_ragged(self, spark):
        import pytest as _pytest

        from ctcityscraper_spark.operators.similarity import (
            pca_project_vectorized,
        )

        df = spark.createDataFrame(
            [(1, [1.0] * 8), (2, [1.0] * 7)],
            "vec_id long, embedding array<double>",
        )
        comps = [[1.0 if i == j else 0.0 for i in range(8)] for j in range(3)]
        with _pytest.raises(Exception, match="length"):
            pca_project_vectorized(df, comps).collect()

    def test_components_persist_as_sidecar(self, spark, tmp_path):
        """The train-once / project-many flow: components persist through
        the same validated atomic JSON sidecars the IVF centroids and PQ
        codebooks use (save_vectors_json with kind='pca_components'), and
        a projection from the LOADED model is bit-identical to one from
        the in-session model — the stored-model twin of the stored-index
        contract."""
        from ctcityscraper_spark.operators.similarity import (
            int8_gram_matrix,
            load_vectors_json,
            pca_components,
            pca_project_vectorized,
            save_vectors_json,
        )

        emb = load_table(spark, SF, "embeddings")
        comps, _ = pca_components(int8_gram_matrix(emb, 64), 64, 8)
        path = tmp_path / "pca_components.json"
        save_vectors_json(comps, path, "pca_components")
        loaded = load_vectors_json(path, "pca_components")
        assert loaded == comps  # floats survive the JSON round-trip exactly
        fresh = {
            r.vec_id: r.p
            for r in pca_project_vectorized(emb, comps, out_col="p").collect()
        }
        stored = {
            r.vec_id: r.p
            for r in pca_project_vectorized(emb, loaded, out_col="p").collect()
        }
        assert fresh == stored and fresh


class TestSketchedDfCap:
    """df_cap_sketched=True must be a pure plan substitution: identical
    rows out of ngram_jaccard_pairs / winnow_pairs / jaccard_verify_pairs,
    with the hot list produced by the CMS two-tier instead of the full
    distinct-term shuffle (the scale path; text.hot_terms)."""

    def test_jaccard_pairs_identical(self, spark):
        docs = load_table(spark, SF, "documents")
        plain = sorted(
            map(tuple, ngram_jaccard_pairs(docs, n=5, threshold=0.3, df_cap=2).collect())
        )
        sk = sorted(
            map(
                tuple,
                ngram_jaccard_pairs(
                    docs, n=5, threshold=0.3, df_cap=2, df_cap_sketched=True
                ).collect(),
            )
        )
        assert plain == sk and len(plain) > 0

    def test_winnow_pairs_identical(self, spark):
        from ctcityscraper_spark.operators.dedup import winnow_pairs

        docs = load_table(spark, SF, "documents")
        plain = sorted(
            map(tuple, winnow_pairs(docs, min_shared=2, df_cap=3).collect())
        )
        sk = sorted(
            map(
                tuple,
                winnow_pairs(
                    docs, min_shared=2, df_cap=3, df_cap_sketched=True
                ).collect(),
            )
        )
        assert plain == sk

    def test_verify_pairs_identical_on_boilerplate(self, spark):
        """The adversarial case df_cap exists for: many docs sharing one
        boilerplate shingle. The sketched cap must drop it exactly like
        the exact cap does, pair values unchanged."""
        from ctcityscraper_spark.operators.dedup import jaccard_verify_pairs

        rows = [(i, f"unique words here {i} " + "the same boiler plate line")
                for i in range(30)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        cand = spark.createDataFrame(
            [(0, 1), (2, 3)], "doc_a long, doc_b long"
        )
        # cap=10: every boilerplate shingle (df=30) drops, the candidate
        # pairs lose their whole intersection -> no rows in EITHER mode
        plain = sorted(map(tuple, jaccard_verify_pairs(
            docs, cand, n=5, threshold=0.0, df_cap=10).collect()))
        sk = sorted(map(tuple, jaccard_verify_pairs(
            docs, cand, n=5, threshold=0.0, df_cap=10, df_cap_sketched=True
        ).collect()))
        assert plain == sk == []
        # cap=40: nothing drops, both pairs score identically in both modes
        plain40 = sorted(map(tuple, jaccard_verify_pairs(
            docs, cand, n=5, threshold=0.0, df_cap=40).collect()))
        sk40 = sorted(map(tuple, jaccard_verify_pairs(
            docs, cand, n=5, threshold=0.0, df_cap=40, df_cap_sketched=True
        ).collect()))
        assert plain40 == sk40 and len(plain40) == 2
        assert all(j > 0 for _, _, j in plain40)


class TestQuantileSketch:
    """Contract edges of the quantile-sample family (the distribution
    member of the mergeable-sketch set); the cross-engine exactness and
    merge==fresh invariants live in tests/test_properties.py and the
    catalog oracle gate."""

    def test_validation_errors(self, spark):
        import pytest as _pytest

        from ctcityscraper_spark.operators.text import (
            quantile_estimate,
            quantile_sketch,
        )

        df = spark.createDataFrame([(1, 0.5)], "doc_id long, val double")
        with _pytest.raises(ValueError, match="k must be"):
            quantile_sketch(df, "val", "doc_id", k=0)
        sk = quantile_sketch(df, "val", "doc_id", k=4)
        with _pytest.raises(ValueError, match="percentiles"):
            quantile_estimate(sk, percentiles=(0,))
        with _pytest.raises(ValueError, match="percentiles"):
            quantile_estimate(sk, percentiles=(50.5,))

    def test_null_group_is_kept_per_group(self, spark):
        from ctcityscraper_spark.operators.text import (
            quantile_estimate_by,
            quantile_sketch_by,
        )

        df = spark.createDataFrame(
            [(1, 0.1, "a"), (2, 0.2, "a"), (3, 0.9, None), (4, 0.7, None)],
            "doc_id long, val double, grp string",
        )
        sk = quantile_sketch_by(df, ["grp"], "val", "doc_id", k=8)
        est = quantile_estimate_by(sk, ["grp"], percentiles=(50,))
        got = {r.grp: (r.n_kept, r.est) for r in est.collect()}
        assert got["a"] == (2, 0.1)
        assert got[None] == (2, 0.7)

    def test_exact_below_k_and_duplicate_values_weighted(self, spark):
        """Duplicated values keep their frequency weight (row-identity
        sampling, not value-identity): a corpus of 9x0.0 + 1x1.0 with
        n <= k medians to 0.0 — a distinct-value sketch would say 0.5."""
        from ctcityscraper_spark.operators.text import (
            quantile_estimate,
            quantile_sketch,
        )

        rows = [(i, 0.0) for i in range(9)] + [(9, 1.0)]
        sk = quantile_sketch(
            spark.createDataFrame(rows, "doc_id long, val double"),
            "val", "doc_id", k=64,
        )
        est = {r.pct: r.est for r in quantile_estimate(sk).collect()}
        assert est[50] == 0.0 and est[99] == 1.0


class TestPqUpdate:
    def test_incremental_codes_equal_one_shot_encode(self, spark):
        """update_pq_codes appends a delta encoded under the frozen
        codebook: the merged codes table must be row-identical to
        encoding the union in one shot (per-row encoding), ADC top-k
        through it must match the one-shot table, and hostile delta
        rows (NULL / NaN / zero-norm vectors) contribute nothing."""
        from ctcityscraper_spark.operators.similarity import (
            pq_adc_topk_codes,
            pq_codebook,
            pq_encode_corpus,
            update_pq_codes,
        )

        emb = load_table(spark, SF, "embeddings")
        cb = pq_codebook(64, 8, 16)
        bucket = F.abs(F.hash("vec_id")) % 4
        base, delta = emb.filter(bucket != 0), emb.filter(bucket == 0)
        hostile = spark.createDataFrame(
            [
                (9001, None, 0),
                (9002, [0.0] * 64, 0),
                (9003, [float("nan")] + [1.0] * 63, 0),
            ],
            "vec_id long, embedding array<double>, label int",
        )
        merged = update_pq_codes(
            pq_encode_corpus(base, cb), delta.unionByName(hostile), cb
        )
        one_shot = pq_encode_corpus(emb, cb)
        assert sorted(
            (r.neighbor_id, tuple(r.codes)) for r in merged.collect()
        ) == sorted((r.neighbor_id, tuple(r.codes)) for r in one_shot.collect())

        queries = emb.filter(F.col("vec_id") < 5)
        probe = lambda codes: sorted(
            (r.query_id, r.rank, r.neighbor_id, r.score)
            for r in pq_adc_topk_codes(codes, queries, cb, k=3).collect()
        )
        assert probe(merged) == probe(one_shot) and probe(merged)


class TestPrefixFilterJoin:
    """prefix_filter_jaccard_pairs must be ROW-IDENTICAL to
    ngram_jaccard_pairs (exact recall is the whole claim — the prefix
    index prunes candidates, never results)."""

    @staticmethod
    def _rows(df):
        return sorted((r.doc_a, r.doc_b, r.jaccard) for r in df.collect())

    def test_identical_to_naive_on_corpus(self, spark):
        from ctcityscraper_spark.operators.dedup import (
            prefix_filter_jaccard_pairs,
        )

        docs = load_table(spark, SF, "documents")
        for tp in (30, 60, 90):
            ref = self._rows(ngram_jaccard_pairs(docs, n=5, threshold=tp / 100))
            got = self._rows(
                prefix_filter_jaccard_pairs(docs, n=5, threshold_pct=tp)
            )
            assert got == ref and (tp > 30 or ref)

    def test_threshold_boundary_pairs_kept(self, spark):
        """Pairs sitting EXACTLY at the threshold must survive the prefix
        index — the integer prefix arithmetic may not round one away.
        jaccard('a b c d', 'a b c e') on 1-grams = 3/5; 2/6=1/3 on the
        planted second pair."""
        from ctcityscraper_spark.operators.dedup import (
            prefix_filter_jaccard_pairs,
        )

        df = spark.createDataFrame(
            [
                Row(doc_id=1, text="a b c d"),
                Row(doc_id=2, text="a b c e"),
                Row(doc_id=3, text="x y a b"),
                Row(doc_id=4, text="p q r s"),
            ]
        )
        got = self._rows(
            prefix_filter_jaccard_pairs(df, n=1, threshold_pct=60, df_cap=None)
        )
        ref = self._rows(ngram_jaccard_pairs(df, n=1, threshold=0.6, df_cap=None))
        assert got == ref
        assert (1, 2, 0.6) in got  # the exactly-at-threshold pair survived

    def test_carried_sizes_verify_matches_reaggregated(self, spark):
        """r15 optimization: _prefix_candidates(keep_sizes=True) lets the
        verify skip re-aggregating per-doc sizes — both verify forms must
        return identical rows over the same candidates and universe."""
        from ctcityscraper_spark.operators.dedup import (
            _jaccard_verify_from_shingles,
            _prefix_candidates,
            _prefix_rows,
            doc_shingles,
        )

        docs = load_table(spark, SF, "documents")
        sh = doc_shingles(docs, "text", "doc_id", 5)
        dfreq = sh.groupBy("shingle").agg(F.count("*").alias("dfq"))
        prefix = _prefix_rows(sh, dfreq, 50)
        with_sizes = _prefix_candidates(
            prefix, prefix, 50, self_join=True, keep_sizes=True
        )
        bare = _prefix_candidates(prefix, prefix, 50, self_join=True)
        assert {"size_a", "size_b"} <= set(with_sizes.columns)
        got = self._rows(_jaccard_verify_from_shingles(sh, with_sizes, 0.5, None))
        ref = self._rows(_jaccard_verify_from_shingles(sh, bare, 0.5, None))
        assert got == ref and ref

    def test_self_verify_shared_sizes_matches_cross_form(self, spark):
        """r15 optimization: when both verify sides are the SAME frame
        (the cascade / ngram paths), per-doc sizes are aggregated once
        into a persisted frame instead of once per side — the result must
        be row-identical to the general cross-frame path over two equal
        but distinct frames (which keeps the two-aggregation form)."""
        from ctcityscraper_spark.operators.dedup import (
            _jaccard_verify_cross,
            _lsh_band_pairs,
            _minhash_sigs_from_shingles,
            doc_shingles,
        )

        docs = load_table(spark, SF, "documents")
        sh = doc_shingles(docs, "text", "doc_id", 5)
        sh_twin = doc_shingles(docs, "text", "doc_id", 5)  # equal, distinct object
        cand = _lsh_band_pairs(_minhash_sigs_from_shingles(sh, 16), 16, 8)
        got = self._rows(_jaccard_verify_cross(sh, sh, cand, 0.5))
        ref = self._rows(_jaccard_verify_cross(sh, sh_twin, cand, 0.5))
        assert got == ref and ref

    def test_single_shingle_docs(self, spark):
        """s=1 edge: prefix length = 1 - ceil(t) + 1 = 1 — the doc's one
        shingle IS its prefix, so identical one-shingle docs still pair."""
        from ctcityscraper_spark.operators.dedup import (
            prefix_filter_jaccard_pairs,
        )

        df = spark.createDataFrame(
            [Row(doc_id=1, text="only"), Row(doc_id=2, text="only")]
        )
        got = self._rows(
            prefix_filter_jaccard_pairs(df, n=1, threshold_pct=100, df_cap=None)
        )
        assert got == [(1, 2, 1.0)]

    def test_hot_shingles_never_indexed(self, spark):
        """The df-ascending order puts boilerplate shingles at prefix
        TAILS: with 100 docs sharing one hot 1-gram plus distinct rare
        tokens, the hot token must not appear in any indexed prefix row
        at t=50 (prefix = rarest half + 1), so the candidate join stays
        linear. Verified structurally: pairs out == naive out AND the
        only surviving pair is the planted twin pair."""
        from ctcityscraper_spark.operators.dedup import (
            prefix_filter_jaccard_pairs,
        )

        base = [
            Row(doc_id=i, text=f"hot u{i}a u{i}b u{i}c") for i in range(100)
        ]
        twins = [
            Row(doc_id=100, text="alpha beta gamma delta"),
            Row(doc_id=101, text="alpha beta gamma epsilon"),
        ]
        df = spark.createDataFrame(base + twins).repartition(4)
        got = self._rows(
            prefix_filter_jaccard_pairs(df, n=1, threshold_pct=50, df_cap=None)
        )
        assert [(a, b) for a, b, _ in got] == [(100, 101)]

    def test_df_cap_universe_matches_naive(self, spark):
        from ctcityscraper_spark.operators.dedup import (
            prefix_filter_jaccard_pairs,
        )

        df = spark.createDataFrame(
            [Row(doc_id=i, text="c1 c2 c3 c4 c5 t1 t2 t3 t4 t5") for i in range(5)]
        )
        # cap at 4 drops every shingle (df=5 each) -> empty, like naive
        assert (
            prefix_filter_jaccard_pairs(
                df, n=5, threshold_pct=10, df_cap=4
            ).count()
            == 0
        )

    def test_threshold_pct_validated(self, spark):
        from ctcityscraper_spark.operators.dedup import (
            prefix_filter_jaccard_pairs,
        )

        df = spark.createDataFrame([Row(doc_id=1, text="a b")])
        for bad in (0, 101, 0.5):
            with pytest.raises(ValueError):
                prefix_filter_jaccard_pairs(df, threshold_pct=bad)

    def test_positional_filter_prunes_hopeless_candidates(self, spark):
        """The PPJoin positional filter: two docs sharing ONE rare token
        that sits at the END of both prefixes (5 rarer unique tokens
        ahead of it) can reach overlap at most 1 + min(|A|-6, |B|-6) = 5
        < α = ceil(50·20/150) = 7, so the pair must be pruned from the
        CANDIDATE set (length filter alone keeps it: equal sizes), while
        the verified output is still row-identical to the naive join.
        Construction: fillers appear in 30 docs each (df=30, under any
        cap), the shared token in 2 (df=2), unique tokens in 1 — the
        df-ascending order ranks uniques 1-5, shared 6th, fillers last;
        prefix length = 10 - ceil(0.5·10) + 1 = 6."""
        from ctcityscraper_spark.operators.dedup import (
            _drop_hot,
            _prefix_candidates,
            _prefix_rows,
            doc_shingles,
            prefix_filter_jaccard_pairs,
        )

        fill_a = "fa1 fa2 fa3 fa4"
        fill_b = "fb1 fb2 fb3 fb4"
        rows = [
            Row(doc_id=1, text=f"ua1 ua2 ua3 ua4 ua5 shared {fill_a}"),
            Row(doc_id=2, text=f"ub1 ub2 ub3 ub4 ub5 shared {fill_b}"),
        ]
        # 30 backers per filler token keep filler df high (rank last)
        rows += [Row(doc_id=100 + i, text=fill_a) for i in range(30)]
        rows += [Row(doc_id=200 + i, text=fill_b) for i in range(30)]
        df = spark.createDataFrame(rows).repartition(4)

        sh = _drop_hot(doc_shingles(df, "text", "doc_id", 1), "shingle", None, False)
        dfreq = sh.groupBy("shingle").agg(F.count("*").alias("dfq"))
        prefix = _prefix_rows(sh, dfreq, 50)
        # the shared token IS in both docs' prefixes (rank 6 of 6) ...
        shared_rows = prefix.filter(
            (F.col("shingle") == "shared") & F.col("doc_id").isin(1, 2)
        ).collect()
        assert sorted((r.doc_id, r.rn) for r in shared_rows) == [(1, 6), (2, 6)]
        # ... yet the positional filter kills the (1,2) candidate
        cands = {
            (r.doc_a, r.doc_b)
            for r in _prefix_candidates(prefix, prefix, 50, True).collect()
        }
        assert (1, 2) not in cands
        # and the end-to-end output still matches the naive join exactly
        got = self._rows(
            prefix_filter_jaccard_pairs(df, n=1, threshold_pct=50, df_cap=None)
        )
        ref = self._rows(ngram_jaccard_pairs(df, n=1, threshold=0.5, df_cap=None))
        assert got == ref
        assert (1, 2) not in {(a, b) for a, b, _ in got}


class TestQuantileDrift:
    def test_drift_is_estimate_difference(self, spark):
        """drift must equal est_b - est_a per percentile, with both legs
        equal to quantile_estimate run on each sketch separately."""
        from ctcityscraper_spark.operators.text import (
            quantile_drift,
            quantile_estimate,
            quantile_sketch,
        )

        df = spark.createDataFrame(
            [Row(doc_id=i, val=float(i % 97)) for i in range(1, 800)]
        )
        a = quantile_sketch(df.filter(F.col("doc_id") % 2 == 0), "val", "doc_id", k=64)
        b = quantile_sketch(df.filter(F.col("doc_id") % 2 == 1), "val", "doc_id", k=64)
        got = {
            r.pct: (r.n_kept_a, r.n_kept_b, r.est_a, r.est_b, r.drift)
            for r in quantile_drift(a, b).collect()
        }
        ea = {r.pct: (r.n_kept, r.est) for r in quantile_estimate(a).collect()}
        eb = {r.pct: (r.n_kept, r.est) for r in quantile_estimate(b).collect()}
        assert set(got) == {25, 50, 75, 90, 99}
        for pct, (na, nb, va, vb, d) in got.items():
            assert (na, va) == ea[pct] and (nb, vb) == eb[pct]
            assert d == vb - va

    def test_identical_epochs_zero_drift(self, spark):
        from ctcityscraper_spark.operators.text import (
            quantile_drift,
            quantile_sketch,
        )

        df = spark.createDataFrame(
            [Row(doc_id=i, val=float(i)) for i in range(1, 300)]
        )
        sk = quantile_sketch(df, "val", "doc_id", k=32)
        assert all(
            r.drift == 0.0 for r in quantile_drift(sk, sk).collect()
        )

    def test_empty_epoch_is_loud_not_silent(self, spark):
        """An empty epoch sketch (stalled crawl / all-NULL values) must
        yield one row per percentile with NULL on the missing side and
        NULL drift — never zero rows (an inner join's silent 'no data'
        is indistinguishable from a healthy monitor with no output)."""
        from ctcityscraper_spark.operators.text import (
            quantile_drift,
            quantile_sketch,
        )

        df = spark.createDataFrame(
            [Row(doc_id=i, val=float(i)) for i in range(1, 300)]
        )
        sk = quantile_sketch(df, "val", "doc_id", k=32)
        empty = quantile_sketch(df.filter(F.lit(False)), "val", "doc_id", k=32)
        rows = {r.pct: r for r in quantile_drift(sk, empty).collect()}
        assert set(rows) == {25, 50, 75, 90, 99}
        for r in rows.values():
            assert r.est_a is not None and r.n_kept_a == 32
            assert r.est_b is None and r.n_kept_b is None and r.drift is None
        # and the mirrored side
        rows = {r.pct: r for r in quantile_drift(empty, sk).collect()}
        assert set(rows) == {25, 50, 75, 90, 99}
        for r in rows.values():
            assert r.est_a is None and r.drift is None and r.est_b is not None


class TestBloomSaturation:
    def test_saturation_tracks_growth_and_fpp(self, spark):
        """fill rises monotonically as docs append (bits only gain), the
        empty filter reads 0/0.0 loudly, params are validated, and
        est_fpp == fill^k exactly."""
        from pyspark.sql import Row

        from ctcityscraper_spark.operators.dedup import (
            bloom_saturation,
            build_bloom_index,
            update_bloom_index,
        )

        m, k = 1024, 3
        docs1 = spark.createDataFrame([Row(text=f"d{i}") for i in range(10)])
        docs2 = spark.createDataFrame([Row(text=f"e{i}") for i in range(30)])
        b1 = build_bloom_index(docs1, m, k)
        b2 = update_bloom_index(b1, docs2, m, k)
        r1 = bloom_saturation(b1, m, k).collect()[0]
        r2 = bloom_saturation(b2, m, k).collect()[0]
        assert 0 < r1.set_bits <= 10 * k and r2.set_bits > r1.set_bits
        assert r1.fill == r1.set_bits / m
        assert r1.est_fpp == r1.fill * r1.fill * r1.fill
        assert r2.fill > r1.fill
        # empty filter: loud zeros, not NULL/divide-by-zero
        empty = b1.filter(F.lit(False))
        r0 = bloom_saturation(empty, m, k).collect()[0]
        assert (r0.n_words, r0.set_bits, r0.fill, r0.est_fpp) == (0, 0, 0.0, 0.0)
        with pytest.raises(ValueError, match="m_bits and k"):
            bloom_saturation(b1, 0, k)

    def test_rebuild_wider_from_fingerprints(self, spark):
        """The Bloom maintenance loop: saturation fires on a deliberately
        tiny filter, rebuild_bloom_from_fingerprints re-parameterizes
        from the STORED md5 index (texts never re-read), the rebuilt
        table is bit-for-bit the fresh build at the new (m, k), and
        saturation verifies recovery — with no false negative (every
        indexed doc still flags)."""
        from pyspark.sql import Row

        from ctcityscraper_spark.operators.dedup import (
            bloom_might_contain,
            bloom_saturation,
            build_bloom_index,
            rebuild_bloom_from_fingerprints,
        )

        docs = spark.createDataFrame(
            [Row(doc_id=i, text=f"document {i}") for i in range(80)]
        )
        fps = docs.select(F.md5("text").alias("fingerprint")).distinct()
        small = build_bloom_index(docs, 256, 3)
        sat = bloom_saturation(small, 256, 3).collect()[0]
        assert sat.fill > 0.5  # DETECT: saturated
        # RETRAIN: widen 16x from the fingerprint index alone
        wide = rebuild_bloom_from_fingerprints(fps, 4096, 3)
        fresh = build_bloom_index(docs, 4096, 3)
        assert {
            (r.word_idx, r.word) for r in wide.collect()
        } == {(r.word_idx, r.word) for r in fresh.collect()}
        # VERIFY: saturation recovered, no false negatives through the
        # rebuilt filter
        sat2 = bloom_saturation(wide, 4096, 3).collect()[0]
        assert sat2.fill < sat.fill / 4
        flags = bloom_might_contain(docs, wide, 4096, 3).collect()
        assert all(r.might_contain for r in flags)

    def test_unmerged_delta_rows_not_double_counted(self, spark):
        """Fed per-batch delta rows (overlapping bits per word_idx, the
        natural output of a streaming bloom zone read WITHOUT the merge),
        saturation must equal the merged filter's — sum(bit_count) over
        raw deltas would double-count shared bits and can push fill past
        1.0."""
        from pyspark.sql import Row

        from ctcityscraper_spark.operators.dedup import (
            bloom_saturation,
            build_bloom_index,
            merge_bloom_words,
        )

        m, k = 256, 3
        docs = spark.createDataFrame([Row(text=f"d{i}") for i in range(40)])
        d1 = build_bloom_index(docs, m, k)
        # two identical deltas: every set bit appears twice across rows
        unmerged = d1.unionByName(d1)
        merged_row = bloom_saturation(merge_bloom_words(unmerged), m, k).collect()[0]
        raw_row = bloom_saturation(unmerged, m, k).collect()[0]
        assert raw_row == merged_row
        assert raw_row.fill <= 1.0


class TestCmsHealth:
    def test_unmerged_empty_and_validation(self, spark):
        """cms_health: accepts unmerged per-batch delta rows (merge runs
        first, so overlapping cells never double-count), reads loud
        zeros on an empty sketch, validates params, and n_items equals
        the true token count (every item increments exactly one cell in
        row 0)."""
        from pyspark.sql import Row

        from ctcityscraper_spark.operators.text import (
            cms_health,
            count_min_sketch,
            merge_cms_cells,
        )

        w, d = 64, 3
        docs = spark.createDataFrame(
            [Row(doc_id=1, text="a b c a"), Row(doc_id=2, text="a d")]
        )
        sk = count_min_sketch(docs, width=w, depth=d)
        unmerged = sk.unionByName(sk)  # two identical deltas
        merged_row = cms_health(merge_cms_cells(unmerged), w, d).collect()[0]
        raw_row = cms_health(unmerged, w, d).collect()[0]
        # double the stream: counts double, nonzero cells identical
        assert raw_row.n_items == 2 * 6 and merged_row.n_items == raw_row.n_items
        assert raw_row.nonzero_cells == merged_row.nonzero_cells
        one = cms_health(sk, w, d).collect()[0]
        assert one.n_items == 6  # 6 tokens total
        assert one.err_bound == (2 * 6) // w
        assert 0 < one.fill <= 1.0
        empty = cms_health(sk.filter("1 = 0"), w, d).collect()[0]
        assert (empty.n_items, empty.max_cell, empty.nonzero_cells,
                empty.fill, empty.err_bound) == (0, 0, 0, 0.0, 0)
        import pytest as _pytest

        with _pytest.raises(ValueError, match="width and depth"):
            cms_health(sk, 0, d)


class TestCmsDrift:
    def test_identical_epochs_zero_drift_and_one_sided(self, spark):
        from pyspark.sql import Row

        from ctcityscraper_spark.operators.text import (
            cms_drift,
            count_min_sketch_terms,
        )

        terms = spark.createDataFrame(
            [Row(term=t) for t in ["a"] * 5 + ["b"] * 3 + ["c"]]
        )
        sk = count_min_sketch_terms(terms, width=64, depth=3)
        cand = spark.createDataFrame([Row(term="a"), Row(term="b"), Row(term="zzz")])
        got = {
            r.term: r
            for r in cms_drift(sk, sk, cand, width=64, depth=3).collect()
        }
        assert set(got) == {"a", "b", "zzz"}
        # identical epochs: zero drift; one-sided: estimate >= true
        for t, true in (("a", 5), ("b", 3), ("zzz", 0)):
            assert got[t].drift == 0
            assert got[t].est_a >= true and got[t].est_a == got[t].est_b

    def test_drift_tracks_epoch_delta(self, spark):
        from pyspark.sql import Row

        from ctcityscraper_spark.operators.text import (
            cms_drift,
            count_min_sketch_terms,
        )

        a = spark.createDataFrame([Row(term="hot")] * 2)
        b = spark.createDataFrame([Row(term="hot")] * 9)
        sk_a = count_min_sketch_terms(a, width=64, depth=3)
        sk_b = count_min_sketch_terms(b, width=64, depth=3)
        cand = spark.createDataFrame([Row(term="hot")])
        row = cms_drift(sk_a, sk_b, cand, width=64, depth=3).collect()[0]
        # single-term sketches have no collisions: estimates are exact
        assert (row.est_a, row.est_b, row.drift) == (2, 9, 7)


class TestIncrementalEmbeddingPairs:
    """incremental_embedding_pairs: batch probes the stored SRP bucket
    index — the embedding member of the incremental-dedup family."""

    def _emb(self, spark, rows):
        from pyspark.sql import Row

        return spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in rows]
        )

    def test_matches_naive_within_bucket_join(self, spark):
        """Direct call == stored-index call == a NAIVE Python
        recomputation of the batch x corpus cosine join restricted to
        same-bucket pairs (the documented recall contract). The naive
        side shares no code with the operator beyond the bucket index
        rows it collects — sequential Python float64 arithmetic equals
        the JVM's left-to-right folds bit-for-bit, so the comparison is
        exact, not approximate."""
        import math

        from ctcityscraper_spark.operators.dedup import (
            incremental_embedding_pairs,
            srp_bucket_index,
        )

        emb = load_table(spark, SF, "embeddings")
        new = emb.filter(F.col("vec_id") % 5 == 0)
        corpus = emb.filter(F.col("vec_id") % 5 != 0)
        direct = incremental_embedding_pairs(
            new, corpus, 64, threshold=0.2, bits=4
        )
        stored = incremental_embedding_pairs(
            new, None, 64,
            corpus_index=srp_bucket_index(corpus, 64, bits=4),
            threshold=0.2, bits=4,
        )
        key = lambda r: (r.new_vec, r.corpus_vec, r.cosine)  # noqa: E731
        got_d = sorted(key(r) for r in direct.collect())
        got_s = sorted(key(r) for r in stored.collect())
        assert got_d and got_d == got_s

        def fold_dot(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc = acc + x * y
            return acc

        def fold_norm(a):
            acc = 0.0
            for x in a:
                acc = acc + x * x
            return math.sqrt(acc)

        n_rows = srp_bucket_index(new, 64, bits=4).collect()
        c_rows = srp_bucket_index(corpus, 64, bits=4).collect()
        naive = sorted(
            (a.vec_id, b.vec_id, fold_dot(a.v, b.v) / (fold_norm(a.v) * fold_norm(b.v)))
            for a in n_rows
            for b in c_rows
            if a.bucket == b.bucket
            and fold_dot(a.v, b.v) / (fold_norm(a.v) * fold_norm(b.v)) >= 0.2
        )
        assert got_d == naive
        # every emitted pair is batch x corpus — never corpus x corpus
        new_ids = {r.vec_id for r in new.select("vec_id").collect()}
        assert all(a in new_ids and b not in new_ids for a, b, _ in got_d)

    def test_shared_id_sides_stay_separate(self, spark):
        """A vec_id present in BOTH frames verifies against each side's
        OWN vector — a batch re-ingest of a corpus id is a legitimate
        pair, not a self-pair artifact."""
        from ctcityscraper_spark.operators.dedup import (
            incremental_embedding_pairs,
        )

        v = [1.0, 0.0, 0.0, 0.0]
        corpus = self._emb(spark, [(7, v)])
        batch = self._emb(spark, [(7, v)])
        got = incremental_embedding_pairs(
            batch, corpus, 4, threshold=0.9, bits=2
        ).collect()
        assert [(r.new_vec, r.corpus_vec) for r in got] == [(7, 7)]
        assert abs(got[0].cosine - 1.0) < 1e-12

    def test_requires_corpus_or_index(self, spark):
        from ctcityscraper_spark.operators.dedup import (
            incremental_embedding_pairs,
        )

        with pytest.raises(ValueError, match="corpus_vectors or"):
            incremental_embedding_pairs(
                self._emb(spark, [(1, [1.0, 0.0])]), None, 2
            )


class TestQualityClassifier:
    """train_quality_classifier / quality_classifier_logit_col — the
    trainable (fastText-style) quality filter: bounded driver-side fit,
    literal-folded scan-stage application."""

    GOOD = "the quick brown fox jumps over the lazy dog and then it runs home across the field with a friend"
    BAD = "@@@ ### !!! ??? %%% &&& *** $$$ ((( ))) ;;; ::: ,,, ... 111 222 333 444 555 666"

    def _docs(self, spark):
        from pyspark.sql import Row

        rows = [Row(doc_id=i, text=f"{self.GOOD} variant {i}") for i in range(1, 40)]
        rows += [Row(doc_id=100 + i, text=f"{self.BAD} {i}!!!") for i in range(1, 40)]
        return spark.createDataFrame(rows)

    def test_training_is_deterministic(self, spark):
        from ctcityscraper_spark.operators.text import train_quality_classifier

        docs = self._docs(spark)
        w1 = train_quality_classifier(docs, iters=100)
        w2 = train_quality_classifier(docs, iters=100)
        assert w1 == w2 and len(w1) == 6

    def test_separates_clean_from_garbage(self, spark):
        from ctcityscraper_spark.operators.text import (
            quality_classifier_logit_col,
            train_quality_classifier,
        )

        docs = self._docs(spark)
        w = train_quality_classifier(docs, iters=300)
        scored = docs.select(
            "doc_id", quality_classifier_logit_col("text", w).alias("z")
        ).collect()
        good = [r.z for r in scored if r.doc_id < 100]
        bad = [r.z for r in scored if r.doc_id >= 100]
        # every clean doc must outscore every garbage doc, and the
        # keep = logit > 0 decision must match the teacher's split
        assert min(good) > max(bad)
        assert all(z > 0 for z in good) and all(z <= 0 for z in bad)

    def test_weights_roundtrip_sidecar(self, spark, tmp_path):
        from ctcityscraper_spark.operators.similarity import (
            load_vectors_json,
            save_vectors_json,
        )
        from ctcityscraper_spark.operators.text import train_quality_classifier

        w = train_quality_classifier(self._docs(spark), iters=50)
        p = tmp_path / "w.json"
        save_vectors_json([w], p, kind="quality_classifier")
        assert load_vectors_json(p, kind="quality_classifier") == [w]

    def test_weight_count_validated(self, spark):
        from ctcityscraper_spark.operators.text import (
            quality_classifier_logit_col,
        )

        with pytest.raises(ValueError, match="weights"):
            quality_classifier_logit_col("text", [1.0, 2.0])

    def test_empty_sample_raises(self, spark):
        from ctcityscraper_spark.operators.text import train_quality_classifier

        with pytest.raises(ValueError, match="empty training sample"):
            train_quality_classifier(
                self._docs(spark).filter(F.lit(False))
            )

    def test_custom_labels_seam(self, spark):
        """The supervision seam: training on INVERTED labels must flip
        the decision boundary — proof the labels Column is really what
        the fit consumes (not the built-in heuristic)."""
        from ctcityscraper_spark.operators.text import (
            quality_classifier_logit_col,
            quality_score_col,
            train_quality_classifier,
        )

        docs = self._docs(spark)
        w = train_quality_classifier(
            docs, labels=quality_score_col("text") < 0.6, iters=300
        )
        scored = docs.select(
            "doc_id", quality_classifier_logit_col("text", w).alias("z")
        ).collect()
        good = [r.z for r in scored if r.doc_id < 100]
        bad = [r.z for r in scored if r.doc_id >= 100]
        assert max(good) < min(bad)


class TestIncrementalPrefixPairs:
    """incremental_prefix_pairs: exact recall against the frozen corpus
    artifacts — must equal the naive batch x corpus inverted-index join
    over the corpus-capped universe."""

    @staticmethod
    def _naive(spark, batch, corpus, tp, cap=1000):
        from ctcityscraper_spark.operators.dedup import doc_shingles

        shc = doc_shingles(corpus, n=5)
        shb = doc_shingles(batch, n=5)
        hot = (
            shc.groupBy("shingle").count()
            .filter(F.col("count") > cap).select("shingle")
        )
        shc = shc.join(F.broadcast(hot), "shingle", "left_anti")
        shb = shb.join(F.broadcast(hot), "shingle", "left_anti")
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
        j = (
            inter.join(szb, "new_doc").join(szc, "corpus_doc")
            .withColumn(
                "jaccard", F.col("i") / (F.col("sa") + F.col("sb") - F.col("i"))
            )
            .filter(F.col("jaccard") >= tp / 100)
            .select("new_doc", "corpus_doc", "jaccard")
        )
        return sorted(map(tuple, j.collect()))

    def test_matches_naive_cross_join(self, spark):
        from ctcityscraper_spark.functions.hashing import hash64
        from ctcityscraper_spark.operators.dedup import incremental_prefix_pairs

        docs = load_table(spark, SF, "documents")
        is_new = hash64(F.col("doc_id"), "prefsplit") % 5 == 0
        batch, corpus = docs.filter(is_new), docs.filter(~is_new)
        for tp in (30, 80):
            got = sorted(
                map(
                    tuple,
                    incremental_prefix_pairs(
                        batch, corpus, n=5, threshold_pct=tp
                    ).collect(),
                )
            )
            assert got == self._naive(spark, batch, corpus, tp)

    def test_batch_only_tokens_rank_rarest(self, spark):
        """Tokens the corpus has never seen take df 0 in the frozen order
        (rarest) — a batch doc made of unseen tokens plus one shared rare
        token must still pair with its corpus twin."""
        from pyspark.sql import Row

        from ctcityscraper_spark.operators.dedup import incremental_prefix_pairs

        corpus = spark.createDataFrame(
            [Row(doc_id=1, text="alpha beta gamma delta")]
        )
        batch = spark.createDataFrame(
            [Row(doc_id=100, text="alpha beta gamma newtok")]
        )
        got = incremental_prefix_pairs(
            batch, corpus, n=1, threshold_pct=60, df_cap=None
        ).collect()
        assert [(r.new_doc, r.corpus_doc, r.jaccard) for r in got] == [
            (100, 1, 0.6)
        ]

    def test_same_id_in_both_frames_kept_separate(self, spark):
        """A batch re-ingesting a doc_id the corpus already holds must
        not merge the two documents' shingle sets: sizes and
        intersections resolve per side (the union-then-verify hazard —
        r11 review finding). Batch doc 7 is a true near-dup of corpus
        doc 7 under DIFFERENT text; the exact jaccard must match the
        per-side computation, not the doubled union sizes."""
        from pyspark.sql import Row

        from ctcityscraper_spark.operators.dedup import incremental_prefix_pairs

        corpus = spark.createDataFrame(
            [Row(doc_id=7, text="a b c d e")]
        )
        batch = spark.createDataFrame(
            [Row(doc_id=7, text="a b c d x")]
        )
        got = incremental_prefix_pairs(
            batch, corpus, n=1, threshold_pct=60, df_cap=None
        ).collect()
        # |A∩B|=4, |A∪B|=6 -> 2/3; union-verify would see size 10 per id
        assert [(r.new_doc, r.corpus_doc, round(r.jaccard, 6)) for r in got] == [
            (7, 7, round(4 / 6, 6))
        ]


class TestIncrementalLshSharedId:
    def test_same_id_in_both_frames_kept_separate(self, spark):
        """incremental_dedup_pairs had the union-then-verify hazard too
        (r11 review): batch doc 7 and corpus doc 7 with different texts
        must verify against their OWN shingle sets, not the merged one."""
        from pyspark.sql import Row

        from ctcityscraper_spark.operators.dedup import incremental_dedup_pairs

        corpus = spark.createDataFrame([Row(doc_id=7, text="a b c d e")])
        batch = spark.createDataFrame([Row(doc_id=7, text="a b c d x")])
        got = incremental_dedup_pairs(
            batch, corpus, n=1, k=32, bands=16, threshold=0.6, df_cap=None
        ).collect()
        assert [(r.new_doc, r.corpus_doc, round(r.jaccard, 6)) for r in got] == [
            (7, 7, round(4 / 6, 6))
        ]


class TestPqRetrainCycle:
    """The index-maintenance loop closed end-to-end: the pq_recon_drift
    monitor DETECTS a shifted delta distribution, the retrain primitive
    refits the codebooks off the monitor threshold, and recovery is
    VERIFIED both by the monitor (drift collapses) and by recall@k
    against the exact cosine oracle. The cross-engine arithmetic of each
    leg is gated by the ann_pq_retrain_cycle catalog query; this test
    pins the CONDITIONAL cycle — including the don't-retrain arm."""

    DIMS, N_SUB, KCB = 8, 2, 8
    THRESH = 1_000_000  # drift_micros: mean recon error rising by > 1.0

    def _base(self, spark):
        rows = [
            (i, [((i * 31 + d * 17) % 97) / 97.0 for d in range(self.DIMS)])
            for i in range(40)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def _delta(self, spark):
        # 4 well-separated EQUAL-NORM clusters of 5 far outside the base
        # range (sign patterns on a radius-12 hypersphere, so ADC's
        # inner-product ranking and the exact-cosine oracle agree and
        # recall measures QUANTIZATION quality, not metric mismatch) —
        # the "distribution wandered" scenario the monitor exists for
        centers = [
            [12.0 * (1.0 if ((c >> (d // 4)) & 1) == 0 else -1.0)
             for d in range(self.DIMS)]
            for c in range(4)
        ]
        rows = [
            (
                100 + c * 5 + m,
                [
                    centers[c][d] + 0.1 * (((m * 13 + d * 7) % 5) - 2)
                    for d in range(self.DIMS)
                ],
            )
            for c in range(4)
            for m in range(5)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def _recall(self, spark, corpus, queries, codebook, k=4):
        from ctcityscraper_spark.operators.similarity import (
            cosine_topk,
            pq_adc_topk_codes,
            pq_encode_corpus,
        )

        codes = pq_encode_corpus(corpus, codebook)
        adc = pq_adc_topk_codes(codes, queries, codebook, k=k)
        exact = cosine_topk(corpus, queries, k=k)
        a = {
            (r.query_id, r.neighbor_id) for r in adc.collect()
        }
        e = {
            (r.query_id, r.neighbor_id) for r in exact.collect()
        }
        return len(a & e) / len(e)

    def test_detect_retrain_verify(self, spark):
        from ctcityscraper_spark.operators.similarity import (
            pq_recon_drift,
            pq_train_codebooks,
        )

        base, delta = self._base(spark), self._delta(spark)
        both = base.unionByName(delta)
        cb_old = pq_train_codebooks(
            base, dims=self.DIMS, n_sub=self.N_SUB, k=self.KCB, sample=100
        )

        # DON'T-RETRAIN arm: a second epoch drawn from the same
        # distribution (tiny deterministic jitter) stays under threshold
        calm = base.selectExpr(
            "vec_id + 200 as vec_id",
            "transform(embedding, x -> x + 0.01) as embedding",
        )
        calm_drift = pq_recon_drift(base, calm, cb_old).first().drift_micros
        assert calm_drift < self.THRESH, calm_drift

        # DETECT: the shifted delta fires the monitor
        drift_old = pq_recon_drift(base, delta, cb_old).first().drift_micros
        assert drift_old > self.THRESH, drift_old
        recall_old = self._recall(spark, both, delta, cb_old)

        # RETRAIN off the threshold (the conditional IS the loop)
        cb_new = cb_old
        if drift_old > self.THRESH:
            cb_new = pq_train_codebooks(
                both, dims=self.DIMS, n_sub=self.N_SUB, k=self.KCB, sample=100
            )
        assert cb_new is not cb_old

        # VERIFY: monitor recovers AND recall@k vs the exact oracle does
        drift_new = pq_recon_drift(base, delta, cb_new).first().drift_micros
        assert drift_new < drift_old / 100, (drift_new, drift_old)
        recall_new = self._recall(spark, both, delta, cb_new)
        assert recall_new > recall_old, (recall_new, recall_old)
        assert recall_new >= 0.9, recall_new
        # note recall_old (measured 0.81 here) degrades far more slowly
        # than recon error (drift_old is >100x drift_new): the monitor
        # fires BEFORE recall visibly collapses — which is precisely why
        # the maintenance loop keys off pq_recon_drift, not off a recall
        # audit that needs the exact oracle to even compute


class TestIvfRetrainCycle:
    """The IVF half of the maintenance loop (TestPqRetrainCycle is the
    PQ half): the imbalance monitor DETECTS a delta distribution the
    frozen centroids collapse into one list, retrain refits the coarse
    quantizer off the imbalance threshold, and recovery is VERIFIED by
    the monitor. Note what imbalance protects: PROBE COST (a query
    reading the jumbo list scans a corpus-fraction, not 1/n_lists) —
    recall itself stays high under pure collapse because the query maps
    to the same jumbo list as its neighbors (asserted: the retrain must
    not DEGRADE recall; the accuracy half of the maintenance story is
    the PQ cycle's recon-drift leg)."""

    DIMS = 8
    THRESH = 3.0  # imbalance = max list / mean list; 1.0 = balanced

    def _base(self, spark):
        # spread across directions so hash-picked centroids cover it
        rows = [
            (i, [((i * 29 + d * 13) % 19) / 19.0 - 0.5 for d in range(self.DIMS)])
            for i in range(60)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def _delta(self, spark):
        # one tight cluster of 40 FAR outside the base ball: under base
        # centroids every delta vector argmins into the same list
        rows = [
            (
                200 + m,
                [20.0 + 0.1 * (((m * 11 + d * 3) % 5) - 2)
                 for d in range(self.DIMS)],
            )
            for m in range(40)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def _recall(self, spark, corpus, queries, centroids, k=4, n_probe=2):
        from ctcityscraper_spark.operators.similarity import (
            cosine_topk,
            ivf_flat_topk,
        )

        approx = {
            (r.query_id, r.neighbor_id)
            for r in ivf_flat_topk(
                corpus, queries, centroids, k=k, n_probe=n_probe
            ).collect()
        }
        exact = {
            (r.query_id, r.neighbor_id)
            for r in cosine_topk(corpus, queries, k=k).collect()
        }
        return len(approx & exact) / len(exact)

    def test_detect_retrain_verify(self, spark):
        from ctcityscraper_spark.operators.similarity import (
            assign_ivf_lists,
            hash_pick_centroids,
            ivf_list_stats,
        )

        n_lists = 8
        base, delta = self._base(spark), self._delta(spark)
        both = base.unionByName(delta)
        ctrs_old = hash_pick_centroids(base, n_lists)

        def imbalance(df, ctrs):
            return (
                ivf_list_stats(assign_ivf_lists(df, ctrs), n_lists)
                .select("imbalance")
                .first()
                .imbalance
            )

        # DON'T-RETRAIN arm: the base epoch itself stays under threshold
        assert imbalance(base, ctrs_old) < self.THRESH

        # DETECT: the shifted delta collapses into one list — the
        # monitor fires on the merged index
        imb_old = imbalance(both, ctrs_old)
        assert imb_old > self.THRESH, imb_old
        recall_old = self._recall(spark, both, delta, ctrs_old)

        # RETRAIN off the threshold (build_ivf_index is the same one-off
        # job as the original build — here the hash-picked quantizer)
        ctrs_new = ctrs_old
        if imb_old > self.THRESH:
            ctrs_new = hash_pick_centroids(both, n_lists)
        assert ctrs_new != ctrs_old

        # VERIFY: occupancy recovers (back under threshold — the probe
        # cost protection) and recall did not degrade
        imb_new = imbalance(both, ctrs_new)
        assert imb_new < imb_old and imb_new < self.THRESH, (imb_new, imb_old)
        recall_new = self._recall(spark, both, delta, ctrs_new)
        assert recall_new >= recall_old, (recall_new, recall_old)
        assert recall_new >= 0.9, recall_new


class TestBm25:
    def test_hand_computed_ranking_and_contract(self, spark):
        """bm25_topk on a 4-doc corpus: rarity (quantized idf) beats raw
        term frequency, matched-terms-only docs score, fixed-point sum
        is exact, ties break by doc_id, and empty query is refused."""
        import math

        from pyspark.sql import Row

        from ctcityscraper_spark.operators.text import bm25_topk

        docs = spark.createDataFrame([
            Row(doc_id=1, text="rare common common common"),
            Row(doc_id=2, text="common common common common"),
            Row(doc_id=3, text="common filler filler filler"),
            Row(doc_id=4, text="filler filler filler filler"),
        ])
        out = {r.doc_id: r for r in bm25_topk(
            docs, ["rare", "common"], k=10
        ).collect()}
        # doc 4 matches nothing -> absent; docs 1-3 present
        assert set(out) == {1, 2, 3}
        # doc 1 holds the only 'rare' (idf_bits(4 div 1)=3 vs
        # idf_bits(4 div 3)=1 for 'common') -> ranks first despite doc 2
        # having more total matches
        assert out[1].rank == 1 and out[1].n_terms_matched == 2
        assert out[2].rank == 2 and out[3].rank == 3

        # exact replication of the operator's arithmetic for doc 3:
        # tf=1, df_t(common)=3, n_docs=4, dl=4, total=16
        k1, b = 1.2, 0.75
        idf_bits = len(bin(4 // 3)) - 2  # '0b1' -> 1
        score = (idf_bits * (1 * (k1 + 1.0))) / (
            1 + k1 * ((1.0 - b) + b * ((4 * 4) / 16))
        )
        assert out[3].score_micros == math.floor(score * 1_000_000)

        import pytest as _pytest

        with _pytest.raises(ValueError, match="at least one query term"):
            bm25_topk(docs, [])


class TestBm25StoredIndex:
    """operators/text: the stored BM25 index (bm25_index_delta /
    bm25_topk_from_index) — retrieval's instance of the stored-state
    pattern. Cross-engine incremental ≡ fresh is hash-proven by the
    text_bm25_incremental catalog query; these pin the operator-level
    contracts."""

    def _docs(self, spark):
        from pyspark.sql import Row

        return spark.createDataFrame([
            Row(doc_id=1, text="rare common common common"),
            Row(doc_id=2, text="common common common common"),
            Row(doc_id=3, text="common filler filler filler"),
            Row(doc_id=4, text="filler filler filler filler"),
            Row(doc_id=5, text=None),
            Row(doc_id=6, text="   "),
        ])

    def test_single_delta_probe_equals_rescan(self, spark):
        from ctcityscraper_spark.operators.text import (
            bm25_index_delta,
            bm25_topk,
            bm25_topk_from_index,
        )

        docs = self._docs(spark)
        p, t, s = bm25_index_delta(docs)
        fresh = sorted(map(tuple, bm25_topk(docs, ["rare", "common"]).collect()))
        probe = sorted(map(tuple, bm25_topk_from_index(
            p, t, s, ["rare", "common"]
        ).collect()))
        assert probe == fresh and probe

    def test_merged_deltas_equal_one_build(self, spark):
        """Two batch deltas unioned == one build of the union — the
        SUM-mergeability that makes per-batch upkeep exact."""
        from ctcityscraper_spark.operators.text import (
            bm25_index_delta,
            bm25_topk_from_index,
            sum_bm25_term_stats,
            sum_bm25_totals,
        )

        docs = self._docs(spark)
        a, b = docs.filter("doc_id <= 2"), docs.filter("doc_id > 2")
        pa_, ta, sa = bm25_index_delta(a)
        pb, tb, sb = bm25_index_delta(b)
        p0, t0, s0 = bm25_index_delta(docs)
        merged_stats = sorted(map(tuple, sum_bm25_term_stats(
            ta.unionByName(tb)
        ).collect()))
        assert merged_stats == sorted(map(tuple, t0.collect()))
        assert sum_bm25_totals(sa.unionByName(sb)).collect() == (
            s0.collect()
        )
        got = sorted(map(tuple, bm25_topk_from_index(
            pa_.unionByName(pb), ta.unionByName(tb), sa.unionByName(sb),
            ["rare", "common", "filler"],
        ).collect()))
        want = sorted(map(tuple, bm25_topk_from_index(
            p0, t0, s0, ["rare", "common", "filler"]
        ).collect()))
        assert got == want and got

    def test_tokenless_docs_contribute_nothing(self, spark):
        from ctcityscraper_spark.operators.text import bm25_index_delta

        docs = self._docs(spark)
        p, t, s = bm25_index_delta(docs)
        assert {r.doc_id for r in p.collect()} == {1, 2, 3, 4}
        row = s.collect()[0]
        assert row.n_docs == 4 and row.total_tokens == 16

    def test_empty_stored_totals_fails_loudly(self, spark):
        """Same loud-failure posture as the DSIR model guard: an empty
        totals zone raises the named error, never NULL scores."""
        import pytest

        from ctcityscraper_spark.operators.text import (
            bm25_index_delta,
            bm25_topk_from_index,
        )

        docs = self._docs(spark)
        p, t, _ = bm25_index_delta(docs)
        empty = spark.createDataFrame([], "n_docs long, total_tokens long")
        with pytest.raises(Exception, match="no rows|bm25_index_delta"):
            bm25_topk_from_index(p, t, empty, ["common"]).collect()

    def test_empty_query_refused(self, spark):
        import pytest

        from ctcityscraper_spark.operators.text import (
            bm25_index_delta,
            bm25_topk_from_index,
        )

        p, t, s = bm25_index_delta(self._docs(spark))
        with pytest.raises(ValueError, match="at least one query term"):
            bm25_topk_from_index(p, t, s, [])


class TestFixedPointKmeans:
    """operators/clustering: cross-engine-exact Lloyd's k-means."""

    def _emb(self, spark, n=60, dims=8, seed=5):
        import numpy as np

        rng = np.random.RandomState(seed)
        # two well-separated blobs so convergence is checkable
        rows = []
        for i in range(n):
            center = 3.0 if i % 2 == 0 else -3.0
            v = (rng.randn(dims) * 0.1 + center).astype("float32")
            rows.append((i, [float(x) for x in v]))
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_fit_separates_blobs(self, spark):
        from ctcityscraper_spark.operators.clustering import (
            assign_clusters,
            kmeans_fit_micros,
        )

        emb = self._emb(spark)
        ctr = kmeans_fit_micros(emb, 2, iters=3)
        assert len(ctr) == 2
        # each centroid sits near one blob (+-3e6 micros)
        means = sorted(sum(c) / len(c) for c in ctr)
        assert means[0] < -2_000_000 and means[1] > 2_000_000
        # assignment is pure: even ids together, odd ids together
        a = {r.vec_id: r.list_id for r in assign_clusters(emb, ctr).collect()}
        evens = {a[i] for i in range(0, 60, 2)}
        odds = {a[i] for i in range(1, 60, 2)}
        assert len(evens) == 1 and len(odds) == 1 and evens != odds

    def test_fit_matches_duckdb_replay(self, spark):
        """The oracle-gate property on a local fixture: DuckDB replays the
        quantize/init/assign/update chain and lands on identical
        centroids (the catalog query pins this at sf; this pins it on a
        blob fixture where clusters actually move across iterations)."""
        import duckdb
        import pyarrow as pa

        from ctcityscraper_spark.operators.clustering import kmeans_fit_micros
        from ctcityscraper_spark.plans.queries_ext import _kmeans_chain_sql

        emb = self._emb(spark, n=50)
        ctr = kmeans_fit_micros(emb, 4, iters=2)
        rows = emb.collect()
        tbl = pa.table(
            {
                "vec_id": pa.array([r.vec_id for r in rows], pa.int64()),
                "embedding": pa.array(
                    [r.embedding for r in rows], pa.list_(pa.float32())
                ),
            }
        )
        con = duckdb.connect()
        con.register("embeddings", tbl)
        chain = _kmeans_chain_sql(8, 4, 2)
        duck = con.execute(
            f"WITH {chain} SELECT list_id, c FROM cf ORDER BY list_id"
        ).fetchall()
        con.close()
        assert [[int(x) for x in c] for _, c in duck] == [
            [int(x) for x in c] for c in ctr
        ]

    def test_empty_and_undersized_corpus(self, spark):
        from ctcityscraper_spark.operators.clustering import (
            assign_clusters,
            kmeans_fit_micros,
        )

        empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
        assert kmeans_fit_micros(empty, 4, iters=2) == []
        few = self._emb(spark, n=3)
        ctr = kmeans_fit_micros(few, 8, iters=2)
        assert 0 < len(ctr) <= 3
        assert assign_clusters(few, ctr).count() == 3

    def test_empty_cluster_keeps_centroid(self, spark):
        """A centroid that captures nothing must keep its coordinates —
        the rule both engines apply, so it stays bit-aligned."""
        from ctcityscraper_spark.operators.clustering import (
            hash_init_centroids_micros,
            kmeans_fit_micros,
        )

        # all 20 vectors identical: every point goes to ONE centroid,
        # the rest must survive verbatim
        rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(20)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        init = hash_init_centroids_micros(emb, 3)
        ctr = kmeans_fit_micros(emb, 3, iters=2)
        # identical vectors: init centroids are all the same point too,
        # ties go to list 0; lists 1-2 keep their (identical) init coords
        assert ctr[1] == init[1] and ctr[2] == init[2]
        assert ctr[0] == [1_000_000, 2_000_000, 3_000_000, 4_000_000]

    def test_balanced_sample_partitioning_invariant(self, spark):
        """The two-phase top-k must give the same picks regardless of the
        input's physical partitioning (phase 1 prunes per input
        partition; the union of per-partition tops contains the global
        top)."""
        from ctcityscraper_spark.operators.clustering import (
            cluster_balanced_sample,
            kmeans_fit_micros,
        )

        emb = self._emb(spark, n=80)
        ctr = kmeans_fit_micros(emb, 2, iters=2)
        a = cluster_balanced_sample(emb.repartition(1), ctr, 5).collect()
        b = cluster_balanced_sample(emb.repartition(13), ctr, 5).collect()
        key = lambda r: (r.list_id, r.pick_rank, r.vec_id)
        assert sorted(map(key, a)) == sorted(map(key, b))
        assert len(a) == 10  # 5 per cluster, 2 clusters
        per = {}
        for r in a:
            per.setdefault(r.list_id, []).append(r.pick_rank)
        assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per.values())

    def test_invalid_vectors_excluded(self, spark):
        from ctcityscraper_spark.operators.clustering import (
            assign_clusters,
            kmeans_fit_micros,
        )

        rows = [(0, [1.0, 1.0]), (1, [2.0, 2.0]), (2, None),
                (3, [0.0, 0.0]), (4, [float("nan"), 1.0])]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        ctr = kmeans_fit_micros(emb, 2, iters=1)
        assert len(ctr) == 2
        got = {r.vec_id for r in assign_clusters(emb, ctr).collect()}
        assert got == {0, 1}


class TestDsirImportance:
    """operators/corpus: DSIR hashed-unigram importance weights."""

    def _docs(self, spark):
        rows = [
            # target exemplars: "alpha beta" vocabulary
            (0, "alpha beta alpha beta alpha", "en", "s0", 10),
            (1, "beta alpha beta alpha", "en", "s0", 10),
            # raw docs resembling the target
            (2, "alpha beta alpha", "zh", "s1", 10),
            # raw docs far from the target
            (3, "gamma delta gamma delta gamma", "zh", "s1", 10),
            (4, "delta gamma delta", "fr", "s1", 10),
            # hostile rows
            (5, None, "en", "s2", None),
            (6, "   ", None, "s2", 3),
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )

    def test_target_like_docs_rank_higher(self, spark):
        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators.corpus import dsir_importance

        docs = self._docs(spark)
        w = {
            r.doc_id: r.weight_bits
            for r in dsir_importance(docs, F.col("lang") == "en").collect()
        }
        # docs with no tokens emit no row
        assert set(w) == {0, 1, 2, 3, 4}
        # the target-vocabulary raw doc outranks the off-domain docs
        assert w[2] > w[3] and w[2] > w[4]
        # exemplars themselves score highest
        assert min(w[0], w[1]) >= w[2]

    def test_weights_are_exact_integers_and_deterministic(self, spark):
        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators.corpus import dsir_importance

        docs = self._docs(spark)
        a = dsir_importance(docs, F.col("lang") == "en")
        assert dict(a.dtypes)["weight_bits"] == "bigint"
        b = dsir_importance(docs.repartition(7), F.col("lang") == "en")
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    def test_select_top_rank_contract(self, spark):
        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators.corpus import dsir_select_top

        docs = self._docs(spark)
        top = dsir_select_top(docs, F.col("lang") == "en", m=3).collect()
        assert [r.rank for r in top] == [1, 2, 3]
        ws = [r.weight_bits for r in top]
        assert ws == sorted(ws, reverse=True)

    def test_empty_and_no_target_corpus(self, spark):
        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators.corpus import dsir_importance

        empty = spark.createDataFrame(
            [], "doc_id long, text string, lang string, source string, n_chars long"
        )
        assert dsir_importance(empty, F.col("lang") == "en").count() == 0
        # no target docs at all: smoothing keeps every bucket defined
        docs = self._docs(spark)
        out = dsir_importance(docs, F.col("lang") == "xx").collect()
        assert len(out) == 5

    def test_empty_stored_model_fails_loudly(self, spark):
        """r13 ADVICE: a present-but-EMPTY model table must raise the
        named error at execution, never return silently-NULL weights
        (an ABSENT zone already fails in the zone reader)."""
        import pytest

        from ctcityscraper_spark.operators.corpus import (
            dsir_score_with_model,
        )

        docs = self._docs(spark)
        empty_model = spark.createDataFrame([], "b long, c_r long, c_t long")
        with pytest.raises(Exception, match="no\\s+rows|dsir_bucket_model"):
            dsir_score_with_model(docs, empty_model).collect()

    def test_score_with_model_no_null_weights(self, spark):
        """Complement of the loud-failure test: a NONEMPTY model always
        yields fully-defined integer weights (the silent-NULL channel
        the guard closes is the only NULL source)."""
        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators.corpus import (
            dsir_bucket_model,
            dsir_score_with_model,
        )

        docs = self._docs(spark)
        model = dsir_bucket_model(docs, F.col("lang") == "en")
        out = dsir_score_with_model(docs, model).collect()
        assert out and all(r.weight_bits is not None for r in out)


class TestKmeansMaintenance:
    """operators/clustering: mergeable Lloyd state + prototype pruning."""

    def _emb(self, spark, n=60, dims=6, seed=9):
        import numpy as np

        rng = np.random.RandomState(seed)
        rows = [
            (i, [float(x) for x in rng.randn(dims).astype("float32")])
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_merged_state_equals_fresh_state(self, spark):
        """state(base) + state(delta) == state(base ∪ delta), and the
        centroids updated from either are identical — the delta-zone
        exactness contract."""
        from pyspark.sql import functions as F

        from ctcityscraper_spark.functions.hashing import hash64
        from ctcityscraper_spark.operators.clustering import (
            centroids_from_state,
            kmeans_fit_micros,
            kmeans_partial_state,
            merge_kmeans_states,
        )

        emb = self._emb(spark)
        bucket = hash64(F.col("vec_id"), "t") % 4
        base, delta = emb.filter(bucket != 0), emb.filter(bucket == 0)
        ctr = kmeans_fit_micros(base, 3, iters=2)
        merged = merge_kmeans_states(
            kmeans_partial_state(base, ctr), kmeans_partial_state(delta, ctr)
        )
        fresh = kmeans_partial_state(emb, ctr)
        key = lambda r: tuple(r[c] for c in sorted(r.asDict()))
        assert sorted(map(key, merged.collect())) == sorted(
            map(key, fresh.collect())
        )
        assert centroids_from_state(merged, ctr) == centroids_from_state(
            fresh, ctr
        )

    def test_state_counts_cover_all_valid_vectors(self, spark):
        from ctcityscraper_spark.operators.clustering import (
            kmeans_fit_micros,
            kmeans_partial_state,
        )

        emb = self._emb(spark, n=40)
        ctr = kmeans_fit_micros(emb, 4, iters=1)
        total = (
            kmeans_partial_state(emb, ctr).agg({"n": "sum"}).collect()[0][0]
        )
        assert total == 40

    def test_prototype_prune_quota_and_order(self, spark):
        from ctcityscraper_spark.operators.clustering import (
            assign_with_distance,
            kmeans_fit_micros,
            prototype_prune,
        )

        emb = self._emb(spark, n=50)
        ctr = kmeans_fit_micros(emb, 2, iters=2)
        sizes = {
            r.list_id: r.n
            for r in assign_with_distance(emb, ctr)
            .groupBy("list_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        out = prototype_prune(emb, ctr, drop_pct=20).collect()
        per = {}
        for r in out:
            per.setdefault(r.list_id, []).append(r)
        for lid, rows in per.items():
            assert len(rows) == (sizes[lid] * 20) // 100
            ds = [r.d2 for r in sorted(rows, key=lambda r: r.proto_rank)]
            assert ds == sorted(ds)  # closest-first
        # dropped points really are the closest ones: every kept point in
        # the same cluster is at least as far as the dropped max
        a = {
            (r.list_id, r.vec_id): r.d2
            for r in assign_with_distance(emb, ctr).collect()
        }
        for lid, rows in per.items():
            dropped = {r.vec_id for r in rows}
            max_dropped = max(r.d2 for r in rows)
            kept = [
                d2
                for (l, vid), d2 in a.items()
                if l == lid and vid not in dropped
            ]
            assert all(d2 >= max_dropped for d2 in kept) or not kept

    def test_prototype_prune_partitioning_invariant(self, spark):
        from ctcityscraper_spark.operators.clustering import (
            kmeans_fit_micros,
            prototype_prune,
        )

        emb = self._emb(spark, n=70)
        ctr = kmeans_fit_micros(emb, 3, iters=2)
        key = lambda r: (r.list_id, r.proto_rank, r.vec_id, r.d2)
        a = sorted(map(key, prototype_prune(emb.repartition(1), ctr, 20).collect()))
        b = sorted(map(key, prototype_prune(emb.repartition(11), ctr, 20).collect()))
        assert a == b and a


class TestKmeansMaintenanceCycle:
    """The k-means third of the maintenance loop (IVF = probe cost,
    PQ = quantization accuracy; this one = CLUSTER QUALITY of the
    curation clustering): a shifted delta distribution collapses into
    one list under the frozen centroids — the streamed Lloyd-state
    ledger's occupancy detects it, ONE exact Lloyd step off the ledger
    (refreshed_kmeans_centroids — corpus never re-read) is adopted, and
    recovery is verified by the within-cluster SSE dropping. Lloyd
    monotonicity makes the verify leg deterministic: an update step plus
    re-assignment can only lower SSE."""

    DIMS = 6

    def _sse(self, corpus, centroids):
        from ctcityscraper_spark.operators.clustering import (
            assign_with_distance,
        )

        return (
            assign_with_distance(corpus, centroids)
            .agg(F.sum("d2").alias("sse"))
            .collect()[0]
            .sse
        )

    def test_detect_refresh_verify(self, spark, tmp_path):
        import time as _time

        from ctcityscraper_spark.operators.clustering import (
            kmeans_fit_micros,
            sum_kmeans_state,
        )
        from ctcityscraper_spark.streaming.events import (
            read_kmeans_state,
            refreshed_kmeans_centroids,
            stream_from_directory,
            streaming_kmeans_state,
        )

        base_rows = [
            (i, [((i * 29 + d * 13) % 19) / 19.0 - 0.5
                 for d in range(self.DIMS)])
            for i in range(60)
        ]
        delta_rows = [
            (200 + m, [20.0 + 0.1 * (((m * 11 + d * 3) % 5) - 2)
                       for d in range(self.DIMS)])
            for m in range(40)
        ]
        schema = "vec_id long, embedding array<double>"
        base = spark.createDataFrame(base_rows, schema)
        ctr = kmeans_fit_micros(base, 4, iters=2)

        src = tmp_path / "incoming"
        base.coalesce(1).write.mode("append").parquet(str(src))
        _time.sleep(1.1)
        spark.createDataFrame(delta_rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

        q = streaming_kmeans_state(
            stream_from_directory(spark, str(src), schema,
                                  max_files_per_trigger=1),
            state_dir=str(tmp_path / "km"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            centroids=ctr,
        )
        q.awaitTermination(180)

        # DETECT: the far-away delta blob argmins into one list — the
        # ledger's occupancy shows a jumbo list without touching vectors
        rows, frozen = read_kmeans_state(spark, str(tmp_path / "km"))
        occ = {r.list_id: r.n for r in sum_kmeans_state(rows).collect()}
        total, k = sum(occ.values()), len(frozen)
        imbalance = max(occ.values()) * k / total
        assert total == 100 and imbalance > 1.5

        # RESPOND: one exact Lloyd step off the ledger (no corpus read)
        refreshed = refreshed_kmeans_centroids(spark, str(tmp_path / "km"))
        assert refreshed is not None and refreshed != frozen

        # VERIFY: within-cluster SSE over base ∪ delta drops
        allv = spark.createDataFrame(base_rows + delta_rows, schema)
        sse_frozen = self._sse(allv, frozen)
        sse_new = self._sse(allv, refreshed)
        assert sse_new < sse_frozen
        # and the refreshed centroids separate the shifted blob: some
        # centroid moved into its vicinity (coordinate ~20e6 micros)
        assert any(max(c) > 5_000_000 for c in refreshed)


class TestDsirBigram:
    def test_bigram_features_sharpen_order_signal(self, spark):
        """Two docs with identical bags of words but different word ORDER:
        unigram DSIR cannot tell them apart; bigram DSIR ranks the one
        sharing the target's ordering higher."""
        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators.corpus import dsir_importance

        rows = [
            (0, "x y s x y s x y s", "en", "s0", 1),
            (1, "x y s x y s", "en", "s0", 1),
            # same bag as doc 3, TARGET ordering (bigrams "x y","y s","s x")
            (2, "x y s x y s", "zh", "s1", 1),
            # same bag, reversed ordering — none of its bigrams
            # ("y x","x s","s y") ever occur in the target
            (3, "y x s y x s", "zh", "s1", 1),
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        uni = {
            r.doc_id: r.weight_bits
            for r in dsir_importance(docs, F.col("lang") == "en").collect()
        }
        assert uni[2] == uni[3]  # bag-of-words is order-blind
        big = {
            r.doc_id: r.weight_bits
            for r in dsir_importance(
                docs, F.col("lang") == "en", ngram=2
            ).collect()
        }
        assert big[2] > big[3]  # bigrams see the ordering

    def test_feature_counts(self, spark):
        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators.corpus import dsir_importance

        docs = spark.createDataFrame(
            [(0, "a b c", "en", "s", 5), (1, "x", "zh", "s", 1)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        out = {
            r.doc_id: r.n_tokens
            for r in dsir_importance(
                docs, F.col("lang") == "en", ngram=2
            ).collect()
        }
        assert out == {0: 5, 1: 1}  # 3 unigrams + 2 bigrams; 1 + 0

    def test_ngram_validation(self, spark):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators.corpus import dsir_importance

        docs = spark.createDataFrame(
            [(0, "a b", "en", "s", 3)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        with _pytest.raises(ValueError, match="ngram"):
            dsir_importance(docs, F.col("lang") == "en", ngram=3).collect()


class TestPrototypePruneThreshold:
    """prototype_prune_threshold: the sketch-cutoff scale variant must
    agree with the exact ranking variant up to its documented
    ceil-vs-floor boundary contract when the sketch is exact."""

    def _emb(self, spark, n=60, dims=5, seed=21):
        import numpy as np

        rng = np.random.RandomState(seed)
        rows = [
            (i, [float(x) for x in rng.randn(dims).astype("float32")])
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_exact_sketch_matches_exact_prune(self, spark):
        import math

        from ctcityscraper_spark.operators.clustering import (
            assign_with_distance,
            kmeans_fit_micros,
            prototype_prune,
            prototype_prune_threshold,
        )

        emb = self._emb(spark)
        ctr = kmeans_fit_micros(emb, 2, iters=2)
        # random gaussians: d2 values are distinct with probability 1
        d2s = [r.d2 for r in assign_with_distance(emb, ctr).collect()]
        assert len(set(d2s)) == len(d2s)
        sizes = {}
        for r in assign_with_distance(emb, ctr).collect():
            sizes[r.list_id] = sizes.get(r.list_id, 0) + 1

        exact = {
            (r.list_id, r.vec_id)
            for r in prototype_prune(emb, ctr, drop_pct=20).collect()
        }
        thr = {
            (r.list_id, r.vec_id)
            for r in prototype_prune_threshold(
                emb, ctr, drop_pct=20, sketch_k=1000
            ).collect()
        }
        # superset by exactly the ceil-floor difference per cluster
        assert thr >= exact
        per = {}
        for lid, _ in thr:
            per[lid] = per.get(lid, 0) + 1
        for lid, n_c in sizes.items():
            assert per.get(lid, 0) == math.ceil(n_c * 20 / 100)

    def test_small_sketch_stays_cluster_local(self, spark):
        """With a small sketch the cutoff is approximate, but every
        dropped row still sits at or below ITS OWN cluster's cutoff and
        clusters never bleed into each other."""
        from ctcityscraper_spark.operators.clustering import (
            assign_with_distance,
            kmeans_fit_micros,
            prototype_prune_threshold,
        )

        emb = self._emb(spark, n=80)
        ctr = kmeans_fit_micros(emb, 3, iters=2)
        drop = prototype_prune_threshold(
            emb, ctr, drop_pct=25, sketch_k=8
        ).collect()
        assert drop
        assigned = {
            r.vec_id: r.list_id
            for r in assign_with_distance(emb, ctr).collect()
        }
        max_drop = {}
        for r in drop:
            assert assigned[r.vec_id] == r.list_id
            max_drop[r.list_id] = max(max_drop.get(r.list_id, 0), r.d2)
        # within each cluster, no kept row is closer than a dropped row
        dropped_ids = {r.vec_id for r in drop}
        for r in assign_with_distance(emb, ctr).collect():
            if r.vec_id not in dropped_ids and r.list_id in max_drop:
                assert r.d2 > max_drop[r.list_id]

    def test_out_of_contract_magnitude_raises_not_rounds(self, spark):
        """r13 ADVICE: the quantile sketch casts int64 d2 to double —
        exact only below 2^53, a TIGHTER bound than the distance fold's
        int64 range. A vector in that gap must raise the named contract
        error, never silently round the cutoff."""
        import pytest

        from ctcityscraper_spark.operators.clustering import (
            prototype_prune_threshold,
        )

        # |x| ~ 100 -> 1e8 micros -> squared diff ~1e16 per element:
        # past 2^53 (9.0e15) so the sketch WOULD round, yet orders below
        # the fold's int64 range — exactly the silent-rounding gap
        big = spark.createDataFrame(
            [(i, [100.0 + i, -100.0, 100.0]) for i in range(6)],
            "vec_id long, embedding array<float>",
        )
        ctr = [[0, 0, 0], [1_000_000, 0, 0]]
        with pytest.raises(Exception, match="2\\^53|micros"):
            prototype_prune_threshold(
                big, ctr, drop_pct=50, sketch_k=16
            ).collect()

    def test_in_contract_magnitude_passes_guard(self, spark):
        """The guard is a no-op for in-contract (unit-norm-ish) inputs —
        same output as before it existed (covered in depth by
        test_exact_sketch_matches_exact_prune; this pins the guard
        specifically against false positives on the boundary side)."""
        from ctcityscraper_spark.operators.clustering import (
            kmeans_fit_micros,
            prototype_prune_threshold,
        )

        emb = self._emb(spark, n=30)
        ctr = kmeans_fit_micros(emb, 2, iters=1)
        assert prototype_prune_threshold(
            emb, ctr, drop_pct=30, sketch_k=64
        ).count() > 0


class TestBpeTrainer:
    """operators/bpe: Sennrich-style BPE over the word-frequency table —
    greedy left-to-right merge via wrapped-string replace, exact counts,
    total tie-break."""

    def _docs(self, spark, texts):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )

    def test_greedy_overlap_and_merge_order(self, spark):
        from ctcityscraper_spark.operators.bpe import bpe_train

        # 'aaa' contributes TWO (a,a) positions per occurrence; after the
        # merge the wrapped form is (aa)(a) — greedy left-to-right
        m = [tuple(r) for r in bpe_train(self._docs(spark, ["aaa aaa"]), 2).collect()]
        assert m[0] == (1, "a", "a", "aa", 4)
        assert m[1] == (2, "aa", "a", "aaa", 2)

    def test_tiebreak_is_lexicographic(self, spark):
        from ctcityscraper_spark.operators.bpe import bpe_train

        m = [tuple(r) for r in bpe_train(self._docs(spark, ["ab ab cd cd"]), 1).collect()]
        assert m == [(1, "a", "b", "ab", 2)]

    def test_case_folds_after_ascii_extraction(self, spark):
        from ctcityscraper_spark.operators.bpe import bpe_train

        m = [tuple(r) for r in bpe_train(self._docs(spark, ["THE the The"]), 1).collect()]
        # (h,e) and (t,h) tie at 3; lexicographic tie-break picks (h,e)
        assert m == [(1, "h", "e", "he", 3)]

    def test_empty_and_tiny_corpus_stop_early(self, spark):
        from ctcityscraper_spark.operators.bpe import bpe_train

        assert bpe_train(self._docs(spark, []), 3).collect() == []
        # single-char words: no adjacent pairs anywhere
        assert bpe_train(self._docs(spark, ["a b c"]), 3).collect() == []
        # one mergeable pair, then dry
        m = [tuple(r) for r in bpe_train(self._docs(spark, ["ab"]), 5).collect()]
        assert m == [(1, "a", "b", "ab", 1)]

    def test_apply_counts_and_compression(self, spark):
        from ctcityscraper_spark.operators.bpe import bpe_apply, bpe_train

        docs = self._docs(spark, ["aaa aaa bb", "c"])
        merges = [tuple(r) for r in bpe_train(docs, 2).collect()]
        got = {
            r.doc_id: (r.bpe_tokens, r.char_tokens, r.words)
            for r in bpe_apply(docs, merges).collect()
        }
        # merges: (a,a)->aa then (aa,a)->aaa; doc0: aaa->1 tok each,
        # bb->2 toks => 4 bpe / 8 chars / 3 words; doc1: 1/1/1
        assert got == {0: (4, 8, 3), 1: (1, 1, 1)}

    def test_no_leaked_checkpoints(self, spark, persistent_rdd_ids):
        from ctcityscraper_spark.operators.bpe import bpe_train

        ids0 = persistent_rdd_ids(spark)
        bpe_train(self._docs(spark, ["abc abc xyz"]), 3, checkpoint_every=1).collect()
        assert persistent_rdd_ids(spark) - ids0 == set()

"""Release contract for operator-persisted artifacts (operators/artifacts).

The operators that persist session-lifetime artifacts (LSH band index,
cascade shingle checkpoint, token-budget toks, quality-rank binned, CC /
keep_best checkpoints) register them at creation; ``artifacts.scope()`` and
``artifacts.release_all()`` make the documented lifetime contract
enforceable. Release semantics under test:

- persist-backed artifacts: blocks freed AND downstream results recompute
  from lineage (correctness preserved after release).
- checkpoint-backed artifacts: blocks freed; the frame is one-shot
  (documented), so results must be materialized before release.
- every artifact is freed by its own handle: frames persisted outside the
  registry (by the caller or another thread) are never touched.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ctcityscraper_spark.operators import artifacts


def _storage_rdd_ids(spark) -> set[int]:
    """Ids of RDDs currently holding cached blocks (covers BOTH CacheManager
    entries backing DataFrame.persist and localCheckpoint RDDs)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {info.id() for info in infos}


class TestPersistRelease:
    def test_token_budget_release_frees_blocks_and_recomputes(self, spark):
        from ctcityscraper_spark.operators.corpus import token_budget_selection

        docs = spark.createDataFrame(
            [(i, f"tok{i} " * (5 + i % 7)) for i in range(60)],
            "doc_id long, text string",
        )
        before_ids = _storage_rdd_ids(spark)
        with artifacts.scope():
            out = token_budget_selection(docs, budget_tokens=150)
            rows_cached = sorted(map(tuple, out.collect()))
            # the tokenized frame is materialized and cached inside the scope
            assert _storage_rdd_ids(spark) - before_ids
        # scope exit released the persist: no new cached blocks survive
        assert not (_storage_rdd_ids(spark) - before_ids)
        # persist-backed release keeps the returned plan VALID: the same
        # frame recomputes from lineage with identical rows
        assert sorted(map(tuple, out.collect())) == rows_cached
        assert len(rows_cached) > 0

    def test_quality_rank_release_recomputes(self, spark):
        from ctcityscraper_spark.operators.corpus import global_quality_rank

        docs = spark.createDataFrame(
            [(i, float(i % 10) / 10.0) for i in range(50)],
            "doc_id long, q double",
        )
        before_ids = _storage_rdd_ids(spark)
        with artifacts.scope():
            out = global_quality_rank(docs, F.col("q"), n_bins=8)
            got = sorted(map(tuple, out.collect()))
        assert not (_storage_rdd_ids(spark) - before_ids)
        assert sorted(map(tuple, out.collect())) == got


class TestCheckpointRelease:
    def test_keep_best_checkpoint_freed_after_materialize(self, spark):
        from ctcityscraper_spark.operators.dedup import keep_best_representative

        docs = spark.createDataFrame(
            [(i, float(i)) for i in range(20)], "doc_id long, q double"
        )
        comps = spark.createDataFrame(
            [(i, i // 5 * 5) for i in range(20)], "node long, component long"
        )
        before_ids = _storage_rdd_ids(spark)
        with artifacts.scope():
            out = keep_best_representative(docs, comps, F.col("q"))
            # checkpoint-backed: materialize INSIDE the scope (documented
            # one-shot contract — the frame is invalid after release)
            got = sorted(map(tuple, out.collect()))
            assert _storage_rdd_ids(spark) - before_ids
        assert not (_storage_rdd_ids(spark) - before_ids)
        # keep = max quality per cluster of 5, everything else dropped
        assert got == sorted(
            (i, (i // 5 * 5) + 4) for i in range(20) if i % 5 != 4
        )

    def test_cascade_and_cc_checkpoints_freed(self, spark):
        from ctcityscraper_spark.operators.dedup import cascade_confirmed_pairs
        from ctcityscraper_spark.operators.graph import connected_components

        docs = spark.createDataFrame(
            [(i, "shared near duplicate text body " + ("x" if i % 2 else ""))
             for i in range(12)],
            "doc_id long, text string",
        )
        before_ids = _storage_rdd_ids(spark)
        with artifacts.scope():
            pairs = cascade_confirmed_pairs(docs)
            comp = connected_components(pairs)
            n = comp.count()
            assert n >= 0
        assert not (_storage_rdd_ids(spark) - before_ids)


class TestScopeSemantics:
    def test_scopes_nest_and_release_only_their_own(self, spark):
        from ctcityscraper_spark.operators.corpus import token_budget_selection

        docs = spark.createDataFrame(
            [(i, "a b c") for i in range(10)], "doc_id long, text string"
        )
        # distinct plans: identical upstream plans would share ONE
        # CacheManager entry, and the inner release would take the outer
        # cache with it (recompute-safe, but it would defeat this test)
        docs2 = spark.createDataFrame(
            [(i, "d e f g") for i in range(12)], "doc_id long, text string"
        )
        before_ids = _storage_rdd_ids(spark)
        with artifacts.scope():
            outer = token_budget_selection(docs, 5)
            outer.collect()
            outer_ids = _storage_rdd_ids(spark) - before_ids
            with artifacts.scope():
                inner = token_budget_selection(docs2, 7)
                inner.collect()
                assert _storage_rdd_ids(spark) - before_ids > outer_ids
            # inner scope exit freed ONLY the inner artifact
            assert _storage_rdd_ids(spark) - before_ids == outer_ids
        assert not (_storage_rdd_ids(spark) - before_ids)

    def test_release_all_clears_session_registry(self, spark):
        from ctcityscraper_spark.operators.corpus import token_budget_selection

        docs = spark.createDataFrame(
            [(1, "a b"), (2, "c d e")], "doc_id long, text string"
        )
        out = token_budget_selection(docs, 3)
        out.collect()
        assert artifacts.tracked_count() > 0
        artifacts.release_all()
        assert artifacts.tracked_count() == 0
        # double release is a safe no-op
        artifacts.release_all()


class TestRegistryHygiene:
    def test_released_entries_pruned_on_next_append(self, spark):
        """A long-lived session that never scopes must not accumulate dead
        registry entries: appending a new artifact drops already-released
        ones (r8 ADVICE — the registry held strong references for the
        whole session)."""
        from ctcityscraper_spark.operators.corpus import token_budget_selection

        artifacts.release_all()
        docs = spark.createDataFrame(
            [(1, "a b"), (2, "c d e")], "doc_id long, text string"
        )
        token_budget_selection(docs, 3).collect()
        n = artifacts.tracked_count(unreleased_only=False)
        assert n > 0
        for a in artifacts._TRACKED:
            a.release()
        assert artifacts.tracked_count() == 0
        assert artifacts.tracked_count(unreleased_only=False) == n
        # next registration prunes the dead entries
        token_budget_selection(docs, 4).collect()
        assert (
            artifacts.tracked_count(unreleased_only=False)
            == artifacts.tracked_count()
        )
        artifacts.release_all()

    def test_concurrent_registration_loses_no_entry(self):
        """Registrations from more threads than cores, each pruning the
        released entries first, must not drop one another's entries."""
        import sys
        import threading

        class _Frame:
            pass

        class _Handle:
            def unpersist(self, blocking):
                pass

        artifacts.release_all()
        kept: list = []

        def register():
            for _ in range(150):
                f, dead = _Frame(), _Frame()
                kept.append(f)
                artifacts._append(f, _Handle())
                artifacts._append(dead, _Handle())
                artifacts.release(dead)

        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=register) for _ in range(8)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(60)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)
        assert artifacts.tracked_count() == len(kept) == 8 * 150
        artifacts.release_all()

    def test_release_works_after_caller_drops_frame(self, spark):
        """The registry holds the Python DataFrame weakly; release must
        still free the cached blocks through the JVM handle after the
        caller's last reference is garbage-collected."""
        import gc

        from ctcityscraper_spark.operators.corpus import token_budget_selection

        artifacts.release_all()
        before_ids = _storage_rdd_ids(spark)
        docs = spark.createDataFrame(
            [(i, "p q r s") for i in range(10)], "doc_id long, text string"
        )
        out = token_budget_selection(docs, 6)
        out.collect()
        assert _storage_rdd_ids(spark) - before_ids
        del out, docs
        gc.collect()
        artifacts.release_all()
        assert not (_storage_rdd_ids(spark) - before_ids)


class TestHandleRelease:
    @staticmethod
    def _checkpoint_rdd_id(df) -> int:
        return df._jdf.queryExecution().logical().rdd().id()

    def test_threaded_checkpoints_free_only_their_own(self, spark):
        """Four checkpoints made at once from a thread pool inside one
        scope, while another thread raw-persists and materializes a frame:
        the scope frees exactly the four checkpoints."""
        import threading
        from concurrent.futures import ThreadPoolExecutor

        before_ids = _storage_rdd_ids(spark)
        raw = spark.range(57).selectExpr("id * 13 AS raw_w").persist()
        cacher = threading.Thread(target=raw.count)
        with artifacts.scope():
            cacher.start()
            with ThreadPoolExecutor(max_workers=4) as pool:
                ckpts = list(pool.map(
                    lambda i: artifacts.checkpoint_tracked(
                        spark.range(10 + i).selectExpr(f"id + {i} AS v")
                    ),
                    range(4),
                ))
            cacher.join(120)
            assert not cacher.is_alive()
            ckpt_ids = {self._checkpoint_rdd_id(c) for c in ckpts}
            assert len(ckpt_ids) == 4
            held = _storage_rdd_ids(spark) - before_ids
            assert ckpt_ids < held and len(held) == 5
        # the raw-persisted frame is still cached, and only it
        assert _storage_rdd_ids(spark) - before_ids == held - ckpt_ids
        raw.unpersist(blocking=True)
        assert not (_storage_rdd_ids(spark) - before_ids)

    def test_release_frees_exactly_one_frame(self, spark):
        before_ids = _storage_rdd_ids(spark)
        with artifacts.scope():
            a = artifacts.checkpoint_tracked(spark.range(23).selectExpr("id AS a"))
            b = artifacts.persist_tracked(spark.range(31).selectExpr("id * 17 AS b"))
            b.count()
            c = artifacts.checkpoint_tracked(spark.range(41).selectExpr("id AS c"))
            held = _storage_rdd_ids(spark) - before_ids
            assert len(held) == 3
            artifacts.release(a)
            assert held - (_storage_rdd_ids(spark) - before_ids) == {
                self._checkpoint_rdd_id(a)
            }
            artifacts.release(b)
            assert _storage_rdd_ids(spark) - before_ids == {
                self._checkpoint_rdd_id(c)
            }
            # an unregistered frame, or a second release, is a no-op
            artifacts.release(spark.range(3))
            artifacts.release(a)
            assert c.count() == 41
        assert not (_storage_rdd_ids(spark) - before_ids)

"""Engine orchestration tests — the reference's engine contract on Spark.

Mirrors tests/test_engine.py in the reference (TestRateLimiter :26-84,
TestRunLoad :98-341, TestIntegration :344-426 golden AVG=155000,
TestRunRefresh/TestRefreshDedup :429-676, TestErrorThreshold :679-761).
The fetch boundary is a deterministic fake (no network).
"""

import threading
import time

import pytest
from pyspark.sql import functions as F

from ctcityscraper_spark.engine import CircuitBreakerTripped, run_load, run_refresh
from ctcityscraper_spark.operators.scd2 import history
from ctcityscraper_spark.sources.checkpoint import CheckpointStore
from ctcityscraper_spark.sources.contracts import (
    InvalidEntryError,
    ResolvedParams,
    SourceDefinition,
)
from ctcityscraper_spark.sources.http import with_retries
from ctcityscraper_spark.sources.ratelimit import TokenBucket


# --- deterministic fake source (top-level: must pickle into mapInPandas) ---

def fake_scrape(base_url, entry_id):
    pid = int(entry_id)
    if pid >= 9000:
        raise InvalidEntryError(f"no entry {pid}")
    if pid >= 8000:
        raise ConnectionError(f"boom {pid}")
    return {
        "pid": pid,
        "address": f"{pid} Main St",
        "assessment_value": 100000.0 + pid * 10000.0,
        "buildings": [
            {"bid": 1, "year_built": 1900 + pid},
            {"bid": 2, "year_built": 1950 + pid},
        ],
    }


def fake_flatten(payloads):
    props, bldgs = [], []
    for p in payloads:
        uuid = f"u{p['pid']}"
        props.append(
            {
                "uuid": uuid,
                "pid": p["pid"],
                "address": p["address"],
                "assessment_value": p["assessment_value"],
            }
        )
        for b in p.get("buildings", []):
            bldgs.append({"property_uuid": uuid, "pid": p["pid"], **b})
    return {"properties": props, "buildings": bldgs}


def make_source(**kw):
    return SourceDefinition(
        name="fake",
        scrape_fn=kw.pop("scrape_fn", fake_scrape),
        flatten_fn=fake_flatten,
        entry_id_source="properties/pid",
        **kw,
    )


class TestRateLimiter:
    def test_min_interval(self):
        b = TokenBucket(50)  # 20ms interval
        t0 = time.monotonic()
        for _ in range(5):
            b.acquire()
        elapsed = time.monotonic() - t0
        assert elapsed >= 0.07  # 4 intervals ~ 80ms, allow slack

    def test_zero_rate_never_blocks(self):
        b = TokenBucket(0)
        t0 = time.monotonic()
        for _ in range(100):
            b.acquire()
        assert time.monotonic() - t0 < 0.1
        assert b.acquisitions == 100

    def test_thread_safety_and_stats(self):
        b = TokenBucket(200)
        threads = [threading.Thread(target=lambda: [b.acquire() for _ in range(10)]) for _ in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert b.acquisitions == 40
        assert b.total_wait >= 0
        assert b.avg_wait == b.total_wait / 40


class TestRetries:
    def test_retries_then_raises(self):
        calls = []

        def flaky():
            calls.append(1)
            raise ValueError("x")

        with pytest.raises(ValueError):
            with_retries(flaky, retries=3, delay=0, sleep=lambda s: None)
        assert len(calls) == 4  # 1 + 3 retries

    def test_no_retry_exceptions_pass_through(self):
        calls = []

        def invalid():
            calls.append(1)
            raise InvalidEntryError()

        with pytest.raises(InvalidEntryError):
            with_retries(invalid, retries=3, delay=0, no_retry=(InvalidEntryError,), sleep=lambda s: None)
        assert len(calls) == 1


class TestRunLoad:
    def test_load_counts_and_rows(self, spark, tmp_store):
        stats = run_load(
            spark, tmp_store, make_source(), ResolvedParams("newhaven", entry_ids=list(range(1, 11))),
            batch_size=4, retry_delay=0,
        )
        assert stats.scraped == 10
        assert stats.errors == 0 and stats.invalid == 0
        assert tmp_store.scan("properties").count() == 10
        assert tmp_store.scan("buildings").count() == 20
        assert stats.rows_written == 30

    def test_invalid_entries_skipped(self, spark, tmp_store):
        ids = [1, 2, 9001, 3]
        stats = run_load(spark, tmp_store, make_source(), ResolvedParams("newhaven", entry_ids=ids),
                         retry_delay=0)
        assert stats.scraped == 3 and stats.invalid == 1
        assert tmp_store.scan("properties").count() == 3

    def test_errors_skipped_but_counted(self, spark, tmp_store):
        ids = [1, 8001, 2]
        stats = run_load(spark, tmp_store, make_source(), ResolvedParams("newhaven", entry_ids=ids),
                         retries=0, retry_delay=0)
        assert stats.scraped == 2 and stats.errors == 1
        assert tmp_store.scan("properties").count() == 2

    def test_checkpoint_written_and_resume(self, spark, tmp_store):
        src = make_source()
        run_load(spark, tmp_store, src, ResolvedParams("newhaven", entry_ids=[1, 2, 3, 4, 5]),
                 batch_size=5, checkpoint_every=5, retry_delay=0)
        cp = CheckpointStore(tmp_store.data_dir).load("newhaven")
        assert cp["last_entry_id"] == "5" or cp["last_entry_id"] == 5
        # resume over the full range: only 6..10 get scraped (10 rows total,
        # not 15 — load mode never dedups, resume slices past the checkpoint)
        stats = run_load(spark, tmp_store, src, ResolvedParams("newhaven", entry_ids=list(range(1, 11))),
                         batch_size=5, checkpoint_every=5, retry_delay=0)
        assert stats.scraped == 5
        assert tmp_store.scan("properties").count() == 10

    def test_checkpoint_skips_trailing_inchunk_error(self, spark, tmp_store):
        """An entry that errors (without tripping the breaker) must NOT be
        covered by the checkpoint cursor: record the last entry processed
        without error, so a resume re-runs the failure."""
        run_load(spark, tmp_store, make_source(),
                 ResolvedParams("newhaven", entry_ids=[1, 2, 8001]),
                 batch_size=3, checkpoint_every=3, retries=0, retry_delay=0)
        cp = CheckpointStore(tmp_store.data_dir).load("newhaven")
        assert str(cp["last_entry_id"]) == "2"  # not 8001
        # resume re-runs exactly the failed entry (now pretend it recovered)
        def recovered(base_url, entry_id):
            pid = int(entry_id)
            return fake_scrape(base_url, pid - 8000) if pid >= 8000 else fake_scrape(base_url, pid)
        stats = run_load(spark, tmp_store, make_source(scrape_fn=recovered),
                         ResolvedParams("newhaven", entry_ids=[1, 2, 8001]),
                         batch_size=3, checkpoint_every=3, retries=0, retry_delay=0)
        assert stats.scraped == 1  # only 8001 re-ran
        assert tmp_store.scan("properties").count() == 3

    def test_checkpoint_total_scraped_carries_forward(self, spark, tmp_store):
        """Saved total_scraped = this run's successes + the resumed
        checkpoint's total (reference engine.py:258-264), and successes
        only — invalid/errored entries don't count."""
        run_load(spark, tmp_store, make_source(),
                 ResolvedParams("newhaven", entry_ids=[1, 2, 3, 4, 9001]),
                 batch_size=5, checkpoint_every=5, retries=0, retry_delay=0)
        cp = CheckpointStore(tmp_store.data_dir).load("newhaven")
        assert cp["total_scraped"] == 4  # 9001 is invalid, not scraped
        run_load(spark, tmp_store, make_source(),
                 ResolvedParams("newhaven", entry_ids=[1, 2, 3, 4, 9001, 5, 6]),
                 batch_size=5, checkpoint_every=5, retries=0, retry_delay=0)
        cp2 = CheckpointStore(tmp_store.data_dir).load("newhaven")
        assert cp2["total_scraped"] == 6  # 4 carried + 2 new

    def test_load_never_dedups(self, spark, tmp_store):
        src = make_source()
        p = ResolvedParams("newhaven", entry_ids=[1, 2])
        run_load(spark, tmp_store, src, p, checkpoint_every=None, retry_delay=0)
        run_load(spark, tmp_store, src, p, checkpoint_every=None, retry_delay=0)
        # duplicates by design (reference README.md:118-121)
        assert tmp_store.scan("properties").count() == 4

    def test_session_compaction(self, spark, tmp_store):
        run_load(spark, tmp_store, make_source(), ResolvedParams("newhaven", entry_ids=list(range(1, 9))),
                 batch_size=2, retry_delay=0)  # 4 batches -> 4 files -> compacted
        assert len(tmp_store.list_files("properties")) == 1
        assert tmp_store.scan("properties").count() == 8


class TestIntegration:
    def test_join_and_golden_avg(self, spark, tmp_store):
        """Reference golden: pids 1-10 at 100000+pid*10000 -> AVG 155000
        over the properties x buildings join (tests/test_engine.py:344-426)."""
        run_load(spark, tmp_store, make_source(), ResolvedParams("newhaven", entry_ids=list(range(1, 11))),
                 retry_delay=0)
        props = tmp_store.scan("properties")
        bldgs = tmp_store.scan("buildings")
        joined = props.join(bldgs, props.uuid == bldgs.property_uuid, "inner")
        assert joined.count() == 20
        avg = props.agg(F.avg("assessment_value")).first()[0]
        assert avg == 155000.0


class TestRunRefresh:
    def _seed(self, spark, store, ids=(1, 2, 3)):
        run_load(spark, store, make_source(), ResolvedParams("newhaven", entry_ids=list(ids)),
                 checkpoint_every=None, retry_delay=0)

    def test_refresh_rescrapes_known_ids_writes_zero_when_stable(self, spark, tmp_store):
        self._seed(spark, tmp_store)
        stats = run_refresh(spark, tmp_store, make_source(), ResolvedParams("newhaven", refresh=True),
                            retry_delay=0)
        assert stats.scraped == 3
        assert stats.rows_written == 0
        assert stats.rows_skipped == 9  # 3 props + 6 buildings unchanged
        assert tmp_store.scan("properties").count() == 3

    def test_refresh_one_changed(self, spark, tmp_store):
        self._seed(spark, tmp_store)

        def changed_scrape(base_url, entry_id):
            p = fake_scrape(base_url, entry_id)
            if int(entry_id) == 2:
                p["assessment_value"] = 999999.0
            return p

        stats = run_refresh(spark, tmp_store, make_source(scrape_fn=changed_scrape),
                            ResolvedParams("newhaven", refresh=True), retry_delay=0)
        # 1 property changed -> 1 written; 2 props + 6 buildings skipped
        assert stats.rows_written == 1
        assert stats.rows_skipped == 8
        h = history(tmp_store.scan("properties"), "u2")
        assert [r.assessment_value for r in h.collect()] == [120000.0, 999999.0]


class TestDistributedFlatten:
    SCHEMAS = {
        "properties": "uuid string, pid long, address string, assessment_value double",
        "buildings": "property_uuid string, pid long, bid long, year_built long",
    }

    def test_load_matches_driver_flatten(self, spark, tmp_store):
        src = make_source(table_schemas=self.SCHEMAS)
        stats = run_load(spark, tmp_store, src, ResolvedParams("newhaven", entry_ids=list(range(1, 11))),
                         batch_size=5, retry_delay=0)
        assert stats.scraped == 10
        assert stats.rows_written == 30
        props = tmp_store.scan("properties")
        assert props.count() == 10
        assert props.filter(F.col("assessment_value") == 150000.0).count() == 1
        assert tmp_store.scan("buildings").count() == 20
        # same golden as the driver-flatten path
        assert props.agg(F.avg("assessment_value")).first()[0] == 155000.0

    def test_coalesce_gate_counts_rows_not_entries(self, spark, tmp_store):
        """The one-file write coalesce gates on flattened ROW count (r5
        ADVICE: entry count understates high-fan-out tables). 5 entries
        flatten to 15 rows: above a 5-row gate the parse/write stays
        distributed (multiple files), with the default 10k gate the
        micro-batch still lands as one file per table."""
        src = make_source(table_schemas=self.SCHEMAS)
        run_load(spark, tmp_store, src,
                 ResolvedParams("newhaven", entry_ids=[1, 2, 3, 4, 5]),
                 batch_size=5, workers=4, retry_delay=0, compact_after=False,
                 coalesce_max_rows=5)
        assert len(tmp_store.list_files("buildings")) > 1
        assert tmp_store.scan("buildings").count() == 10

        store2 = type(tmp_store)(
            spark, str(tmp_store.data_dir) + "_default", "newhaven"
        )
        run_load(spark, store2, src,
                 ResolvedParams("newhaven", entry_ids=[1, 2, 3, 4, 5]),
                 batch_size=5, workers=4, retry_delay=0, compact_after=False)
        assert len(store2.list_files("buildings")) == 1
        assert store2.scan("buildings").count() == 10

    def test_refresh_dedup_in_distributed_mode(self, spark, tmp_store):
        src = make_source(table_schemas=self.SCHEMAS)
        p = ResolvedParams("newhaven", entry_ids=[1, 2, 3])
        run_load(spark, tmp_store, src, p, checkpoint_every=None, retry_delay=0)
        stats = run_refresh(spark, tmp_store, src, ResolvedParams("newhaven", refresh=True),
                            retry_delay=0)
        assert stats.rows_written == 0
        assert stats.rows_skipped == 9

    def test_pooled_table_writes_keep_callers_job_group(self, spark, tmp_store):
        """The per-table writes run on a driver thread pool; each must join
        the caller's job group (so cancelling the group cancels them)."""
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        ungrouped0 = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup("pooled-writes", "run_load under a caller's group")
        try:
            stats = run_load(spark, tmp_store, make_source(table_schemas=self.SCHEMAS),
                             ResolvedParams("newhaven", entry_ids=[1, 2, 3]),
                             retry_delay=0, compact_after=False)
        finally:
            sc._jsc.clearJobGroup()
        assert stats.rows_written == 9
        assert tracker.getJobIdsForGroup("pooled-writes")
        assert set(tracker.getJobIdsForGroup(None)) - ungrouped0 == set()


class TestSnapshotsAndHooks:
    def test_materialized_current_matches_window_view(self, spark, tmp_store):
        from ctcityscraper_spark.operators.scd2 import current

        run_load(spark, tmp_store, make_source(), ResolvedParams("newhaven", entry_ids=[1, 2, 3]),
                 checkpoint_every=None, retry_delay=0,
                 materialize_current={"properties": "uuid"})
        snap = tmp_store.current_snapshot("properties")
        view = current(tmp_store.scan("properties"))
        assert sorted(r.uuid for r in snap.collect()) == sorted(r.uuid for r in view.collect())
        n = tmp_store.materialize_current("properties", key="uuid")
        assert n == tmp_store.current_snapshot("properties").count() == view.count()

    def test_post_refresh_hook_sees_changes(self, spark, tmp_store):
        seen = {}

        def post_refresh(spark_, store_, start_time):
            from ctcityscraper_spark.operators.scd2 import changed_since

            rows = changed_since(store_.scan("properties"), start_time).collect()
            seen["changed"] = sorted(r.uuid for r in rows)

        src = make_source()
        run_load(spark, tmp_store, src, ResolvedParams("newhaven", entry_ids=[1, 2, 3]),
                 checkpoint_every=None, retry_delay=0)

        def changed_scrape(base_url, entry_id):
            p = fake_scrape(base_url, entry_id)
            if int(entry_id) == 3:
                p["assessment_value"] = 1.0
            return p

        run_refresh(spark, tmp_store,
                    make_source(scrape_fn=changed_scrape, post_refresh_fn=post_refresh),
                    ResolvedParams("newhaven", refresh=True), retry_delay=0)
        assert seen["changed"] == ["u3"]


# both engine fetch paths: driver flatten (fetch_entries_distributed) and
# distributed flatten (fetch_and_flatten_distributed, chosen by table_schemas)
FETCH_PATHS = pytest.mark.parametrize(
    "table_schemas", [None, TestDistributedFlatten.SCHEMAS],
    ids=["driver_flatten", "distributed_flatten"],
)


class TestErrorThreshold:
    @FETCH_PATHS
    def test_abort_after_consecutive(self, spark, tmp_store, table_schemas):
        # the invalid entry resets the run like a success; the three
        # failing entries after it trip the breaker
        ids = [1, 8001, 9001, 8002, 8003, 8004, 2]
        with pytest.raises(CircuitBreakerTripped) as tripped:
            run_load(spark, tmp_store, make_source(table_schemas=table_schemas),
                     ResolvedParams("newhaven", entry_ids=ids),
                     max_consecutive_errors=3, retries=0, retry_delay=0)
        assert tripped.value.consecutive == 3
        assert "8004" in tripped.value.last_error

    @FETCH_PATHS
    def test_success_resets(self, spark, tmp_store, table_schemas):
        ids = [8001, 8002, 1, 8003, 8004, 9001, 2]
        stats = run_load(spark, tmp_store, make_source(table_schemas=table_schemas),
                         ResolvedParams("newhaven", entry_ids=ids),
                         max_consecutive_errors=3, retries=0, retry_delay=0)
        assert stats.errors == 4 and stats.scraped == 2
        assert stats.invalid == 1 and stats.rows_written == 6

    def test_no_checkpoint_past_failed_chunk(self, spark, tmp_store):
        """A tripped breaker must not checkpoint its own chunk — resume
        would silently skip the failed entries."""
        ids = [1, 2, 8001, 8002, 8003, 3]
        with pytest.raises(CircuitBreakerTripped):
            run_load(spark, tmp_store, make_source(), ResolvedParams("newhaven", entry_ids=ids),
                     batch_size=3, checkpoint_every=3,
                     max_consecutive_errors=2, retries=0, retry_delay=0)
        cp = CheckpointStore(tmp_store.data_dir).load("newhaven")
        # first chunk checkpointed at its last error-free entry (2 — 8001
        # errored); the breaker-tripping chunk [8002,8003,3] not at all
        assert cp is not None and str(cp["last_entry_id"]) == "2"

    def test_zero_disables(self, spark, tmp_store):
        ids = [8001, 8002, 8003, 8004, 8005, 1]
        stats = run_load(spark, tmp_store, make_source(), ResolvedParams("newhaven", entry_ids=ids),
                         max_consecutive_errors=0, retries=0, retry_delay=0)
        assert stats.errors == 5 and stats.scraped == 1

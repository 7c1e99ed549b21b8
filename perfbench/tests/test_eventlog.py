"""The event-log parser on a small canned log with hand-computed totals."""

from pathlib import Path

import pytest

from perfbench import eventlog

LOG = Path(__file__).parent / "data" / "eventlog_small.jsonl"


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(eventlog.read_events(LOG))


def test_summarize_window(log):
    s = eventlog.summarize(log, 1000, 3000)
    assert s["jobs"] == 4
    assert s["stages"] == 5
    assert s["tasks"] == 6
    assert s["executor_run_s"] == pytest.approx(0.99)
    assert s["executor_cpu_s"] == pytest.approx(0.35)
    assert s["python_run_s"] == pytest.approx(0.25)
    assert s["shuffle_write_bytes"] == 150
    assert s["spill_bytes"] == 10
    # 2000 ms window, stages busy over [1000,1600] + 3 x 100 ms
    assert s["driver_gap_s"] == pytest.approx(1.1)


def test_skipped_stages_and_late_jobs(log):
    s = eventlog.summarize(log, 0, 10_000)
    assert s["jobs"] == 5
    assert s["stages"] == 6  # stage 5 never ran a task
    assert s["tasks"] == 7


def test_jobs_per_batch(log):
    assert eventlog.jobs_per_batch(log, 1000, 3000) == pytest.approx(1.5)
    assert eventlog.jobs_per_batch(log, 2300, 3000) == pytest.approx(1.0)
    assert eventlog.jobs_per_batch(log, 4000, 6000) == 0.0


def test_scan_rows_counts_parquet_scans_only(log):
    # accumulators 11 (40 + 60) and 14 (5, from the adaptive re-plan);
    # the Filter's accumulator 12 is not a scan
    assert eventlog.scan_rows(log, "query.history", 0, 3000) == 105
    assert eventlog.scan_rows(log, "query.current", 0, 3000) == 0


def test_summarize_by_job_group(log):
    mine = eventlog.summarize(log, 1000, 3000, groups=("query.",))
    assert (mine["jobs"], mine["stages"]) == (1, 2)
    assert eventlog.summarize(log, 1000, 3000, groups=("run-", "query."))["jobs"] == 4
    assert eventlog.summarize(log, 1000, 3000, groups=("engine.",))["jobs"] == 0

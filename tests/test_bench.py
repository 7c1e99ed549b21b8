"""Bench-runner error-path contract (round-3 lesson: a single failing
query must never zero the whole round's trend line)."""

from types import SimpleNamespace

from bench import build_output, run_headline, time_query


def _succeeding(spark, sf_dir):
    return spark.range(10)


class TestTimeQuery:
    def test_best_timing_survives_later_trial_failure(self, spark):
        calls = {"n": 0}

        def flaky(spark_, sf_dir):
            calls["n"] += 1
            if calls["n"] >= 2:
                raise RuntimeError("boom on trial 2")
            return spark_.range(10)

        best, err = time_query(spark, flaky, "unused")
        assert best is not None and best > 0
        assert err is not None and "boom on trial 2" in err

    def test_always_failing_reports_error_only(self, spark):
        def bad(spark_, sf_dir):
            raise ValueError("no such table")

        best, err = time_query(spark, bad, "unused")
        assert best is None
        assert "no such table" in err

    def test_clean_query_times_without_error(self, spark):
        best, err = time_query(spark, _succeeding, "unused")
        assert best is not None and err is None


class TestRunHeadlineAndOutput:
    def test_partial_flag_and_error_map(self, spark):
        def bad(spark_, sf_dir):
            raise RuntimeError("exploding query")

        queries = {
            "good": SimpleNamespace(headline=True, fn=_succeeding),
            "bad": SimpleNamespace(headline=True, fn=bad),
            "not_headline": SimpleNamespace(headline=False, fn=bad),
        }
        timings, errors, track, anomalous = run_headline(
            spark, "unused", queries
        )
        assert set(timings) == {"good"}
        assert set(errors) == {"bad"}
        # per-query boot repricing covers every attempted headline query
        assert set(track) == {"good", "bad"}
        assert anomalous == []

        out, diag = build_output(timings, errors, sf=0.01)
        assert out["partial"] is True
        assert out["comparable"] is False
        assert "bad" in out["errors"]
        assert out["value"] == round(sum(timings.values()), 4)

    def test_clean_output_has_no_partial_flag(self):
        out, diag = build_output({"q": 1.0}, {}, sf=0.1)
        assert "partial" not in out and "errors" not in out
        assert out["comparable"] is True
        assert out["value"] == 1.0

    def test_any_error_always_marks_incomparable(self):
        """The trend guard: errors non-empty => comparable False, no matter
        how many timings survived."""
        for timings in ({}, {"a": 1.0}, {"a": 1.0, "b": 2.0}):
            out, diag = build_output(timings, {"x": "boom"}, sf=0.1)
            assert out["comparable"] is False and out["partial"] is True


class TestCalibration:
    """Round-7: boot-to-boot VM variance (measured ±40 % on identical
    code) broke cross-round comparability of raw seconds — the bench now
    times a fixed pure-CPU job and reports machine-normalized ratios."""

    def test_calibrate_returns_positive_seconds(self, spark):
        from bench import calibrate

        c = calibrate(spark, trials=1, rows=1_000_000)
        assert isinstance(c, float) and c > 0

    def test_output_carries_raw_and_normalized(self):
        out, diag = build_output({"a": 2.0, "b": 4.0}, {}, sf=0.1, calibration_sec=2.0)
        assert out["calibration_sec"] == 2.0
        assert out["value"] == 6.0  # raw seconds stay the driver metric
        assert out["value_normalized"] == 3.0
        # r14: per-query normalized values are derivable — they live in
        # the diagnostics record, never the primary line (r13 lesson:
        # they doubled the line and cost the round its parsed record)
        assert "queries_normalized" not in out
        assert diag["queries_normalized"] == {"a": 1.0, "b": 2.0}

    def test_no_calibration_keeps_legacy_schema(self):
        out, diag = build_output({"a": 1.0}, {}, sf=0.1)
        assert "calibration_sec" not in out
        assert "queries_normalized" not in diag
        assert "value_normalized" not in out

    def test_shuffle_calibration_field_recorded_not_normalizing(self, spark):
        from bench import calibrate_shuffle

        c = calibrate_shuffle(spark, trials=1, rows=100_000)
        assert isinstance(c, float) and c > 0
        out, diag = build_output(
            {"a": 2.0}, {}, sf=0.1, calibration_sec=2.0,
            calibration_shuffle_sec=c,
        )
        assert out["calibration_shuffle_sec"] == c
        # the existing normalized metrics stay defined against the CPU job
        assert out["value_normalized"] == 1.0


def _comparable_set():
    """The prior-round names that actually enter the subtotal (the
    semantics-changed exclusions are filtered inside build_output)."""
    from bench import PRIOR_ROUND_QUERY_SET, SEMANTICS_CHANGED_EXCLUDED

    return [
        n for n in PRIOR_ROUND_QUERY_SET if n not in SEMANTICS_CHANGED_EXCLUDED
    ]


class TestComparableSubtotal:
    def test_emitted_only_when_prior_set_complete(self):
        from bench import PRIOR_ROUND, PRIOR_ROUND_QUERY_SET

        full = {n: 1.0 for n in PRIOR_ROUND_QUERY_SET}
        out, diag = build_output(
            {**full, "brand_new_query": 9.0}, {}, sf=0.1, calibration_sec=2.0
        )
        sub = out["comparable_subtotal"]
        assert sub["vs_round"] == PRIOR_ROUND
        n = len(_comparable_set())
        assert sub["n_queries"] == n
        # the new query's 9.0 must NOT leak into the subtotal, and the
        # semantics-changed names must be excluded from the sum
        assert sub["value"] == float(n)
        assert sub["value_normalized"] == n / 2.0

    def test_semantics_changed_excluded_from_sum(self):
        """A semantics-changed query's timing must not move the subtotal
        (its plan grew a stage this round; a like-for-like comparison
        would read the new stage as a regression)."""
        import pytest

        from bench import PRIOR_ROUND_QUERY_SET, SEMANTICS_CHANGED_EXCLUDED

        if not SEMANTICS_CHANGED_EXCLUDED:
            pytest.skip("no semantics-changed headline queries this round")
        changed = SEMANTICS_CHANGED_EXCLUDED[0]
        assert changed in PRIOR_ROUND_QUERY_SET
        full = {n: 1.0 for n in PRIOR_ROUND_QUERY_SET}
        full[changed] = 1e6  # would dominate the sum if it leaked in
        out, _ = build_output(full, {}, sf=0.1)
        sub = out["comparable_subtotal"]
        assert sub["value"] == float(len(_comparable_set()))
        assert sub["semantics_changed_excluded"] == [changed]

    def test_affine_subtotal_charges_fixed_overhead(self):
        """Two-term boot model: value_affine subtracts one probe quantum
        per query before normalizing by the CPU rate, so a boot where
        fixed overhead doubles but compute doesn't no longer reads as a
        regression on identical code (the r13 phantom +12 %)."""
        full = {n: 3.0 for n in _comparable_set()}
        from bench import PRIOR_ROUND_QUERY_SET, SEMANTICS_CHANGED_EXCLUDED

        for n in SEMANTICS_CHANGED_EXCLUDED:
            if n in PRIOR_ROUND_QUERY_SET:
                full[n] = 3.0
        out, _ = build_output(
            full, {}, sf=0.1, calibration_sec=2.0, probe_sec=1.0
        )
        sub = out["comparable_subtotal"]
        n = len(_comparable_set())
        # (3.0 - 1.0) per query / 2.0 calibration
        assert sub["value_affine"] == n * 1.0
        assert out["probe_sec"] == 1.0

    def test_affine_floor_at_zero(self):
        """A query cheaper than the probe contributes 0, never negative."""
        full = {n: 0.5 for n in _comparable_set()}
        from bench import PRIOR_ROUND_QUERY_SET, SEMANTICS_CHANGED_EXCLUDED

        for n in SEMANTICS_CHANGED_EXCLUDED:
            if n in PRIOR_ROUND_QUERY_SET:
                full[n] = 0.5
        out, _ = build_output(
            full, {}, sf=0.1, calibration_sec=2.0, probe_sec=1.0
        )
        assert out["comparable_subtotal"]["value_affine"] == 0.0

    def test_absent_when_a_prior_query_is_missing(self):
        from bench import PRIOR_ROUND_QUERY_SET

        partial = {n: 1.0 for n in PRIOR_ROUND_QUERY_SET[:-1]}
        out, diag = build_output(partial, {}, sf=0.1, calibration_sec=2.0)
        # a subtotal over FEWER queries than the prior set must never
        # read as a round-over-round speedup — omit it entirely
        assert "comparable_subtotal" not in out


class TestComparableSubtotalFlagging:
    """comparable_subtotal follows the same flagging policy as the
    headline total: a prior-set query that errored (even with a kept
    first-trial timing) marks the subtotal partial so it never reads as
    a clean round-over-round speedup (r11 review finding)."""

    def _full_timings(self):
        from bench import PRIOR_ROUND_QUERY_SET

        return {n: 1.0 for n in PRIOR_ROUND_QUERY_SET}

    def test_clean_subtotal_has_no_partial_flag(self):
        out, diag = build_output(self._full_timings(), {}, sf=0.1)
        sub = out["comparable_subtotal"]
        assert "partial" not in sub and "errored_queries" not in sub

    def test_prior_set_error_marks_subtotal_partial(self):
        from bench import PRIOR_ROUND_QUERY_SET

        bad = PRIOR_ROUND_QUERY_SET[0]
        out, diag = build_output(self._full_timings(), {bad: "OOM"}, sf=0.1)
        sub = out["comparable_subtotal"]
        assert sub["partial"] is True and sub["errored_queries"] == [bad]

    def test_non_prior_error_leaves_subtotal_clean(self):
        out, diag = build_output(
            self._full_timings() | {"extra_q": 1.0}, {"extra_q": "boom"}, sf=0.1
        )
        sub = out["comparable_subtotal"]
        assert "partial" not in sub
        # the headline total is still flagged, as before
        assert out["partial"] is True

    def test_new_headliners_recorded_and_excluded(self):
        """r12: the headline set grew — the subtotal names the new
        queries it excludes so set growth is visible in the JSON."""
        import pytest

        from bench import NEW_HEADLINE_QUERIES

        if not NEW_HEADLINE_QUERIES:
            pytest.skip("no new headline queries this round")
        new = NEW_HEADLINE_QUERIES[0]
        out, diag = build_output(
            self._full_timings() | {new: 9.0}, {}, sf=0.1
        )
        sub = out["comparable_subtotal"]
        assert sub["new_queries_excluded"] == [new]
        # ... and its 9.0 really is excluded from the subtotal value
        assert sub["value"] == float(sub["n_queries"])


class TestAnomalyResistance:
    """r11 lesson: a boot-local pressure window tripled 4 queries while
    the start-of-run calibration (taken before the queries) saw nothing —
    two rounds running the raw record needed hand adjudication. The bench
    now reprices the boot after every query, re-trials a >2x deviation
    after a drain, and flags what still deviates in ``anomalous``."""

    def test_expensive_query_gets_third_trial(self, spark):
        """time_query must take 3 trials when the query costs >1 s (the
        expensive queries move the trend line most)."""
        import time as _time

        from bench import time_query

        calls = {"n": 0}

        def slow(spark_, sf_dir):
            calls["n"] += 1
            _time.sleep(1.05)
            return spark_.range(1)

        best, err = time_query(spark, slow, "unused")
        assert err is None and best is not None and best > 1.0
        assert calls["n"] == 3

    def test_cheap_query_keeps_two_trials(self, spark):
        from bench import time_query

        calls = {"n": 0}

        def cheap(spark_, sf_dir):
            calls["n"] += 1
            return spark_.range(1)

        best, err = time_query(spark, cheap, "unused")
        # a sub-1s query must not enter the mandatory-3rd-trial band;
        # allow the disagreement arm's extra trial (real sub-0.2s
        # timings can disagree >25% under concurrent machine load —
        # that arm is load-dependent by design, the BAND is what this
        # test pins and the slow-query test pins its complement)
        assert err is None and 2 <= calls["n"] <= 3

    def test_deviant_query_is_retried_and_flagged(self, spark, monkeypatch):
        """A query landing >ANOMALY_FACTOR x its expectation under BOTH
        calibrations must get a recovery re-trial (visible as extra
        calls) and, still deviant, land in ``anomalous``."""
        import bench

        # fixed boot price: calibration 1.0 everywhere
        monkeypatch.setattr(bench, "calibrate", lambda *a, **k: 1.0)
        # expectation says this query should cost ~0.001 normalized;
        # any real Spark action costs far more than 0.002 s
        monkeypatch.setitem(bench.EXPECTED_NORMALIZED, "hot_q", 0.001)
        calls = {"n": 0}

        def q(spark_, sf_dir):
            calls["n"] += 1
            return spark_.range(10)

        queries = {"hot_q": SimpleNamespace(headline=True, fn=q)}
        timings, errors, track, anomalous = bench.run_headline(
            spark, "unused", queries, calibration_sec=1.0
        )
        assert anomalous == ["hot_q"]
        assert "hot_q" in timings and errors == {}
        # base pass (2 trials, cheap query) + recovery pass (2 trials);
        # each pass may add the disagreement arm's 3rd trial under
        # machine load, but the RECOVERY re-run must have happened
        # (strictly more calls than one pass can produce)
        assert 4 <= calls["n"] <= 6

    def test_within_expectation_not_flagged(self, spark, monkeypatch):
        import bench

        monkeypatch.setattr(bench, "calibrate", lambda *a, **k: 1.0)
        monkeypatch.setitem(bench.EXPECTED_NORMALIZED, "ok_q", 1e9)
        calls = {"n": 0}

        def q(spark_, sf_dir):
            calls["n"] += 1
            return spark_.range(10)

        queries = {"ok_q": SimpleNamespace(headline=True, fn=q)}
        timings, errors, track, anomalous = bench.run_headline(
            spark, "unused", queries, calibration_sec=1.0
        )
        # within expectation: NO recovery pass (<= one base pass's worth
        # of trials; the disagreement arm may add its 3rd under load)
        assert anomalous == [] and 2 <= calls["n"] <= 3

    def test_slow_boot_not_flagged(self, spark, monkeypatch):
        """A uniformly slower machine inflates the LOCAL calibration too —
        the dual-calibration guard must not flag it (normalization, not
        anomaly, absorbs a slow boot)."""
        import bench

        # local repricing says the boot is very slow: raw/local tiny
        monkeypatch.setattr(bench, "calibrate", lambda *a, **k: 1e9)
        monkeypatch.setitem(bench.EXPECTED_NORMALIZED, "slow_boot_q", 0.001)
        queries = {
            "slow_boot_q": SimpleNamespace(
                headline=True, fn=lambda s, d: s.range(10)
            )
        }
        timings, errors, track, anomalous = bench.run_headline(
            spark, "unused", queries, calibration_sec=1.0
        )
        assert anomalous == []

    def test_output_carries_track_and_anomalous(self):
        out, diag = build_output(
            {"a": 1.0},
            {},
            sf=0.1,
            calibration_sec=1.0,
            calibration_track={"a": 0.9},
            anomalous=["a"],
        )
        # r14: calibration_track is diagnostic — preceding line/sidecar
        assert diag["calibration_track"] == {"a": 0.9}
        assert "calibration_track" not in out
        assert out["anomalous"] == ["a"]

    def test_anomalous_always_present_even_when_empty(self):
        """Absence must never read as 'not checked'."""
        out, diag = build_output({"a": 1.0}, {}, sf=0.1)
        assert out["anomalous"] == []


class TestPrimaryLineBudget:
    """r13 process defect: the single JSON line outgrew the driver's
    2000-char stdout-tail capture and the official record landed with
    ``parsed: null``. The primary line is now length-guarded and the
    derivable/diagnostic fields live on a preceding line + sidecar."""

    def test_realistic_record_fits_budget(self):
        """A record shaped like this round's real output (current
        headline set size, realistic name lengths, full subtotal)
        must fit the budget with ample headroom."""
        import json

        from bench import PRIMARY_LINE_BUDGET, PRIOR_ROUND_QUERY_SET

        timings = {n: 12.3456 for n in PRIOR_ROUND_QUERY_SET}
        # growth headroom: six extra long-named headliners
        for i in range(6):
            timings[f"future_promoted_headline_query_{i}"] = 123.4567
        out, diag = build_output(
            timings,
            {},
            sf=0.1,
            calibration_sec=0.3381,
            calibration_shuffle_sec=0.8022,
            calibration_track={n: 0.25 for n in timings},
            anomalous=[],
            probe_sec=0.1234,
        )
        line = json.dumps(out)
        assert len(line) <= PRIMARY_LINE_BUDGET, len(line)
        # and the demotions that made r13 unparseable really are gone
        assert "queries_normalized" not in out
        assert "calibration_track" not in out
        # required driver schema intact
        for k in ("metric", "value", "unit", "queries", "sf"):
            assert k in out

    def test_oversized_record_demotes_optional_fields(self):
        """Pathological growth: optional fields demote to diagnostics
        (recorded as demoted_for_length) rather than breaking the
        parse; the required schema never demotes."""
        import json

        from bench import PRIMARY_LINE_BUDGET

        timings = {f"q_{i:04d}_{'x' * 40}": 1.0 for i in range(60)}
        out, diag = build_output(
            timings, {f"q_{i:04d}_{'x' * 40}": "boom" for i in range(60)},
            sf=0.1, calibration_sec=1.0,
        )
        for k in ("metric", "value", "unit", "queries", "sf"):
            assert k in out
        assert "demoted_for_length" in diag
        assert "errors" in diag and "errors" not in out
        # the guard did everything it could; with 60 long-named queries
        # even the required schema is big — but every OPTIONAL field
        # must be gone before the line can exceed the budget
        if len(json.dumps(out)) > PRIMARY_LINE_BUDGET:
            for k in ("errors", "comparable_subtotal", "anomalous"):
                assert k not in out


class TestSplitStreamSource:
    def _docs(self, spark, tmp_path, ids):
        spark.createDataFrame(
            [(i, f"doc {i}", "en", "s", 5) for i in ids],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).write.parquet(str(tmp_path / "documents.parquet"))
        return str(tmp_path)

    def test_every_part_gets_rows(self, spark, tmp_path):
        import glob

        from bench import _split_stream_source

        sf_dir = self._docs(spark, tmp_path, range(9))
        _split_stream_source(spark, sf_dir, str(tmp_path / "src"))
        counts = [
            spark.read.parquet(p).count()
            for p in sorted(glob.glob(str(tmp_path / "src" / "b*")))
        ]
        assert counts == [3, 3, 3]

    def test_empty_input_and_empty_part_raise(self, spark, tmp_path):
        import pytest

        from bench import _split_stream_source

        sf_dir = self._docs(spark, tmp_path, [1, 2, 100])
        with pytest.raises(ValueError, match=r"parts \[1\] of 3 empty"):
            _split_stream_source(spark, sf_dir, str(tmp_path / "src"))
        with pytest.raises(ValueError, match="no documents"):
            _split_stream_source(
                spark, sf_dir, str(tmp_path / "src"), modulus=1000
            )

"""Stateful streaming operators: change filter + sessionization.

Drives real micro-batch streams (file source, one file per trigger) so state
carries ACROSS batches — the property that distinguishes these from a batch
window.
"""

from pyspark.sql import Row

from ctcityscraper_spark.streaming.events import stream_from_directory
from ctcityscraper_spark.streaming.stateful import (
    streaming_change_filter,
    streaming_sessionize,
)


class TestStreamingChangeFilter:
    def test_version_boundaries_across_batches(self, spark, tmp_path):
        src = tmp_path / "in"
        src.mkdir()
        import datetime as dt

        schema = "uuid string, row_hash string, scraped_at timestamp"
        d = lambda day: dt.datetime(2024, 1, day)  # noqa: E731
        # batch 1: u1@h1, u2@h9 ; batch 2: u1@h1 (unchanged), u1@h2 (changed)
        spark.createDataFrame(
            [("u1", "h1", d(1)), ("u2", "h9", d(1))], schema
        ).coalesce(1).write.mode("append").parquet(str(src))
        spark.createDataFrame(
            [("u1", "h1", d(2)), ("u1", "h2", d(3))], schema
        ).coalesce(1).write.mode("append").parquet(str(src))

        stream = stream_from_directory(
            spark, str(src), spark.read.parquet(str(src)).schema, max_files_per_trigger=1
        )
        q = (
            streaming_change_filter(stream)
            .writeStream.format("memory")
            .queryName("changes")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = {(r.uuid, r.version): r.row_hash for r in spark.sql("select * from changes").collect()}
        # u1: h1 (v1) then h2 (v2) — the unchanged re-scrape emitted nothing
        assert rows == {("u1", 1): "h1", ("u1", 2): "h2", ("u2", 1): "h9"}


class TestStreamingSessionize:
    def test_sessions_close_on_gap(self, spark, tmp_path):
        src = tmp_path / "in"
        src.mkdir()
        h = 3600 * 10**9
        schema = "user_id long, ts_ns long"
        # u7: events at t0, t0+10m (session 1), then t0+5h, t0+5h+1m
        # (session 2), then t0+20h (session 3 — still open, not emitted).
        # A NULL event time rides along: it must be ignored (the batch twin
        # filters NULL ts), not crash the stateful worker on int(NaN).
        spark.createDataFrame(
            [(7, 0), (7, h // 6), (7, None)], schema
        ).coalesce(1).write.mode("append").parquet(str(src))
        spark.createDataFrame(
            [(7, 5 * h), (7, 5 * h + h // 60), (7, 20 * h)], schema
        ).coalesce(1).write.mode("append").parquet(str(src))

        stream = stream_from_directory(
            spark, str(src), spark.read.parquet(str(src)).schema, max_files_per_trigger=1
        )
        q = (
            streaming_sessionize(stream)
            .writeStream.format("memory")
            .queryName("sessions")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.user_id, r.session_id): r.events_in_session
            for r in spark.sql("select * from sessions").collect()
        }
        assert got == {(7, 1): 2, (7, 2): 2}


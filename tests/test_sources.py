"""SODA source, lookup dimension, streaming, and multimodal plumbing tests.

Mirrors the reference's second-source suite (tests/test_llc_ct_data.py:
pagination :233-251, retries :272-317, refresh :377-438) plus the extension
modules. All network boundaries are injected fakes.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ctcityscraper_spark.operators.multimodal import (
    deterministic_fake_decoder,
    extract_features,
    with_media_metadata,
)
from ctcityscraper_spark.sources.lookup import LookupDimension
from ctcityscraper_spark.sources.soda import (
    PAGE_SIZE,
    fetch_dataset_distributed,
    plan_pages,
    probe_row_count,
)


# ---- fake SODA endpoint (top-level for pickling into workers) ----

TOTAL_ROWS = 120


def fake_http_get(url):
    if "$select=count" in url:
        return [{"n": str(TOTAL_ROWS)}]
    if "fail_always" in url:
        raise ConnectionError("boom")
    import re

    limit = int(re.search(r"\$limit=(\d+)", url).group(1))
    offset = int(re.search(r"\$offset=(\d+)", url).group(1))
    rows = []
    for i in range(offset, min(offset + limit, TOTAL_ROWS)):
        rows.append({"id": str(i), "name": f"biz{i}", "status": "Active" if i % 2 else "Inactive"})
    return rows


class TestSodaSource:
    def test_probe_and_page_plan(self):
        assert probe_row_count(fake_http_get, "http://x", "ds") == TOTAL_ROWS
        assert plan_pages(TOTAL_ROWS, 50) == [0, 50, 100]
        assert plan_pages(50_000) == [0]  # exactly one full page
        assert plan_pages(50_001) == [0, PAGE_SIZE]

    def test_distributed_fetch_with_rename(self, spark):
        df = fetch_dataset_distributed(
            spark, fake_http_get, "http://x", "ds", page_size=50,
            renames={"id": "business_id"}, retry_delay=0,
        )
        assert df.count() == TOTAL_ROWS
        assert "business_id" in df.columns and "id" not in df.columns
        active = df.filter(F.col("status") == "Active").count()
        assert active == TOTAL_ROWS // 2

    def test_retry_exhaustion_raises(self, spark):
        def flaky(url):
            if "$select=count" in url:
                return [{"n": "10"}]
            raise ConnectionError("fail_always")

        with pytest.raises(Exception, match="ConnectionError|boom|fail"):
            fetch_dataset_distributed(
                spark, flaky, "http://x", "ds", page_size=50, retries=2, retry_delay=0
            ).count()


class TestCitiesDirectory:
    # a directory page in the shape the reference parses
    # (fetch_vgsi_cities, scrapers/vgsi/source.py:706-737): anchors to
    # gis.vgsi.com city sites among unrelated links
    HTML = """
    <html><body>
      <a href="https://gis.vgsi.com/newhavenct/">New Haven, CT</a>
      <a href="https://gis.vgsi.com/branfordct/Default.aspx">Branford</a>
      <a class="x" href="https://gis.vgsi.com/StamfordCT/">  Stamford  </a>
      <a href="https://gis.vgsi.com/">bare root, no city token</a>
      <a href="https://example.com/hartfordct/">wrong host</a>
      <a href="https://gis.vgsi.com/newhavenct/">New Haven (dupe wins)</a>
      <a href='https://gis.vgsi.com/seymourct/'>Seymour (single quotes)</a>
    </body></html>
    """

    def test_parse_city_links_reference_semantics(self):
        from ctcityscraper_spark.sources.directory import parse_city_links

        cities = parse_city_links(self.HTML)
        assert set(cities) == {"newhaven", "branford", "stamford", "seymour"}
        # key = host token minus state code, state lowercased even for
        # mixed-case tokens, name = tag-stripped anchor text
        assert cities["stamford"]["state"] == "ct"
        assert cities["stamford"]["city_name"] == "Stamford"
        assert cities["branford"]["url"].endswith("/branfordct/Default.aspx")
        assert all(c["type"] == "vgsi" for c in cities.values())
        # later duplicate key overwrites, like the reference's dict build
        assert cities["newhaven"]["city_name"] == "New Haven (dupe wins)"

    def test_fetch_store_lookup_roundtrip(self, spark, tmp_path):
        from ctcityscraper_spark.sources.directory import (
            cities_dimension,
            city_url,
            fetch_cities,
            store_cities,
        )

        fetched_urls = []

        def fetcher(url):
            fetched_urls.append(url)
            return self.HTML

        cities = fetch_cities(fetcher, "http://directory.test/portal")
        assert fetched_urls == ["http://directory.test/portal"]
        assert store_cities(spark, tmp_path, cities) == 4
        assert city_url(spark, tmp_path, "newhaven") == "https://gis.vgsi.com/newhavenct/"
        assert city_url(spark, tmp_path, "nowhere") is None
        # re-seeding upserts (newest wins), never duplicates
        cities["newhaven"]["url"] = "https://gis.vgsi.com/newhavenct/v2/"
        store_cities(spark, tmp_path, cities)
        dim = cities_dimension(spark, tmp_path)
        assert dim.read().count() == 4
        assert city_url(spark, tmp_path, "newhaven").endswith("/v2/")

    def test_seed_json_both_shapes_and_cli(self, spark, tmp_path, capsys):
        import json as _json

        from ctcityscraper_spark import cli
        from ctcityscraper_spark.sources.directory import (
            city_url,
            load_cities_seed,
        )

        mapping = {
            "newhaven": {"city_name": "New Haven", "state": "ct",
                         "url": "https://gis.vgsi.com/newhavenct/", "type": "vgsi"},
        }
        rows = [{"city_key": "hartford", "city_name": "Hartford", "state": "ct",
                 "url": "https://gis.vgsi.com/hartfordct/", "type": "vgsi"}]
        p_map = tmp_path / "seed_map.json"
        p_rows = tmp_path / "seed_rows.json"
        p_map.write_text(_json.dumps(mapping))
        p_rows.write_text(_json.dumps(rows))
        assert load_cities_seed(p_rows) == {
            "hartford": {k: v for k, v in rows[0].items() if k != "city_key"}
        }
        data_dir = tmp_path / "data"
        rc = cli.main(["admin", "--data-dir", str(data_dir),
                       "--seed-cities-json", str(p_map)])
        assert rc == 0
        assert _json.loads(capsys.readouterr().out.strip())["stored_cities"] == 1
        rc = cli.main(["admin", "--data-dir", str(data_dir),
                       "--seed-cities-json", str(p_rows)])
        assert rc == 0
        assert city_url(spark, data_dir, "newhaven") is not None
        assert city_url(spark, data_dir, "hartford") is not None


class TestLookupDimension:
    def test_upsert_insert_then_update(self, spark, tmp_path):
        dim = LookupDimension(spark, tmp_path / "cities", key="city_key")
        n = dim.upsert(spark.createDataFrame([
            Row(city_key="newhaven", url="http://nh", state="CT"),
            Row(city_key="hartford", url="http://hf", state="CT"),
        ]))
        assert n == 2
        # update one, insert one
        n = dim.upsert(spark.createDataFrame([
            Row(city_key="newhaven", url="http://nh2", state="CT"),
            Row(city_key="stamford", url="http://st", state="CT"),
        ]))
        assert n == 3
        assert dim.lookup("newhaven", "url") == "http://nh2"
        assert dim.lookup("stamford", "url") == "http://st"
        assert dim.lookup("missing", "url") is None


class TestBinarySink:
    def test_idempotent_download(self, tmp_path):
        from ctcityscraper_spark.sources.binary_sink import idempotent_download

        calls = []

        def fetch(url):
            calls.append(url)
            return f"bytes-of-{url}".encode()

        dl = idempotent_download(tmp_path, fetch)
        p = dl(("http://x/1.jpg", "city/1.jpg"))
        assert p.read_bytes() == b"bytes-of-http://x/1.jpg"
        # second call: skipped, no fetch
        assert dl(("http://x/1.jpg", "city/1.jpg")) is None
        assert calls == ["http://x/1.jpg"]


class TestMultimodal:
    def test_metadata_struct_jvm_side(self, spark):
        df = spark.createDataFrame([Row(doc_id=1, text="hello")]).withColumn(
            "payload", F.encode("text", "UTF-8")
        )
        out = with_media_metadata(df, media_type="text/plain").select("media_meta.*").first()
        assert out.n_bytes == 5
        assert len(out.content_md5) == 32
        assert out.media_type == "text/plain"

    def test_null_payload_rows_are_excluded_not_crashing(self, spark):
        """NULL binary payloads (a 100 TB lake always has some) must be
        dropped JVM-side before the Arrow boundary — bytes(None) inside
        the UDF would kill the whole batch. Empty payloads still decode."""
        from ctcityscraper_spark.operators.multimodal import (
            deterministic_fake_decoder,
            deterministic_fake_frame_decoder,
            sample_frames,
        )

        df = spark.createDataFrame(
            [(1, bytearray(b"hello")), (2, None), (3, bytearray(b"")),
             (None, bytearray(b"x"))],
            "doc_id long, payload binary",
        )
        feats = extract_features(df, deterministic_fake_decoder).collect()
        assert sorted(r.doc_id for r in feats) == [1, 3]
        frames = sample_frames(df, deterministic_fake_frame_decoder).collect()
        assert sorted({r.doc_id for r in frames}) == [1, 3]

    def test_decoder_stub_raises_without_decoder(self, spark):
        # decoder=None auto-resolves to Pillow where installed; only when
        # it is absent must the call raise the clearly-marked stub error
        try:
            import PIL.Image  # noqa: F401

            pytest.skip("Pillow installed: decoder=None resolves for real")
        except ImportError:
            pass
        df = spark.createDataFrame([Row(doc_id=1, payload=b"abc")])
        with pytest.raises(NotImplementedError, match="decoder"):
            extract_features(df, decoder=None)

    def test_pillow_real_decoder(self, spark):
        # runs only where Pillow exists: decoder=None must decode a real
        # PNG end-to-end through the same mapInPandas plumbing
        PIL_Image = pytest.importorskip("PIL.Image")
        import io

        buf = io.BytesIO()
        PIL_Image.new("RGB", (7, 5), color=(255, 0, 0)).save(buf, format="PNG")
        df = spark.createDataFrame([Row(doc_id=1, payload=buf.getvalue())])
        r = extract_features(df, decoder=None).first()
        assert (r.width, r.height, r.n_frames) == (7, 5, 1)
        assert len(r.feature) == 8 and abs(sum(r.feature) - 1.0) < 1e-6

    def test_fake_decoder_pipeline(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=i, payload=f"payload-{i}".encode()) for i in range(20)]
        )
        feats = extract_features(df, decoder=deterministic_fake_decoder)
        rows = {r.doc_id: r for r in feats.collect()}
        assert len(rows) == 20
        assert all(len(r.feature) == 8 for r in rows.values())
        assert all(r.width >= 1 and r.n_frames >= 1 for r in rows.values())
        # deterministic: same payload -> same feature
        again = {r.doc_id: r for r in extract_features(df, decoder=deterministic_fake_decoder).collect()}
        assert rows[3].feature == again[3].feature

    def test_frame_sample_stub_raises_without_decoder(self, spark):
        from ctcityscraper_spark.operators.multimodal import sample_frames

        try:
            import av  # noqa: F401

            pytest.skip("PyAV installed: frame_decoder=None resolves for real")
        except ImportError:
            pass
        df = spark.createDataFrame([Row(doc_id=1, payload=b"abc")])
        with pytest.raises(NotImplementedError, match="frame decoder"):
            sample_frames(df, frame_decoder=None)

    def test_frame_sampling_stride_and_determinism(self, spark):
        from ctcityscraper_spark.operators.multimodal import (
            deterministic_fake_frame_decoder,
            sample_frames,
        )

        df = spark.createDataFrame(
            [Row(doc_id=i, payload=f"video-{i}".encode()) for i in range(30)]
        )
        every1 = sample_frames(df, deterministic_fake_frame_decoder, every=1)
        every2 = sample_frames(df, deterministic_fake_frame_decoder, every=2)
        all_rows = every1.collect()
        kept = every2.collect()
        # stride-2 keeps exactly the even frame indexes of the full decode
        assert {(r.doc_id, r.frame_idx) for r in kept} == {
            (r.doc_id, r.frame_idx) for r in all_rows if r.frame_idx % 2 == 0
        }
        # frame counts stay within the fake decoder's 1..8 domain
        per_doc = {}
        for r in all_rows:
            per_doc.setdefault(r.doc_id, []).append(r.frame_idx)
        assert all(1 <= len(v) <= 8 for v in per_doc.values())
        assert all(len(r.feature) == 8 for r in all_rows)


class TestStreaming:
    def test_tumbling_window_stream_matches_batch(self, spark, tmp_path):
        """File-source stream over events parquet -> windowed agg ->
        foreachBatch-free memory sink; compare totals with the batch query."""
        from ctcityscraper_spark.plans.tables import load_table
        from ctcityscraper_spark.streaming.events import (
            stream_from_directory,
            tumbling_window_agg,
        )

        ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        src = tmp_path / "events_stream"
        ev.write.parquet(str(src))
        stream = stream_from_directory(spark, str(src), ev.schema, max_files_per_trigger=1)
        agg = tumbling_window_agg(stream, "6 hours", "1 hour")
        q = (
            agg.writeStream.format("memory")
            .queryName("win_counts")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("select sum(n) as total from win_counts").first().total
        assert got == ev.count()

    def test_streaming_incremental_spans_grows_index(self, spark, tmp_path):
        """Two micro-batches of documents: batch 1 seeds the stored hashed
        window index, batch 2 dedups against it and lands its spans; the
        index then holds both batches' windows."""
        import time as _time

        from ctcityscraper_spark.streaming.events import (
            stream_from_directory,
            streaming_incremental_spans,
        )

        shared = "EXACTLY-THE-SAME-SPAN-CONTENT-0123456789"  # 40 chars
        within = "WITHIN-BATCH-DUPLICATED-MARKER-ABCDEFGH"
        src = tmp_path / "incoming"
        d1 = spark.createDataFrame(
            [(1, "aaa " + shared + " bbb")], "doc_id long, text string"
        )
        d2 = spark.createDataFrame(
            [(2, "zzzzz " + shared + " qq"),
             (3, within + " xx"),  # 3 and 4 duplicate INSIDE this batch
             (4, "yy " + within)],
            "doc_id long, text string",
        )
        d1.coalesce(1).write.mode("append").parquet(str(src))
        _time.sleep(1.1)  # file-source ordering is by modification time
        d2.coalesce(1).write.mode("append").parquet(str(src))

        stream = stream_from_directory(
            spark, str(src), d1.schema, max_files_per_trigger=1
        )
        q = streaming_incremental_spans(
            stream,
            docs_dir=str(tmp_path / "docs"),
            index_dir=str(tmp_path / "index"),
            spans_dir=str(tmp_path / "spans"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            width=20,
        )
        q.awaitTermination(120)

        spans = spark.read.parquet(str(tmp_path / "spans")).collect()
        pairs = {(r.new_doc, r.corpus_doc): r for r in spans}
        assert set(pairs) == {(2, 1), (4, 3)}
        # maximal span includes the shared space on each side of the marker
        assert pairs[(2, 1)].span_len == len(shared) + 2
        # within-batch pair: lower id is the kept corpus_doc occurrence
        assert pairs[(4, 3)].span_len == len(within)
        # the index accumulated both batches' windows, hashed form, with
        # the writing batch recorded as a partition column (idempotent
        # per-batch overwrite layout)
        idx = spark.read.parquet(str(tmp_path / "index"))
        assert set(idx.columns) == {"doc_id", "pos", "win_h", "batch_id"}
        assert idx.select("doc_id").distinct().count() == 4
        assert idx.select("batch_id").distinct().count() == 2
        # restarting the stream with the same checkpoint reprocesses nothing
        q2 = streaming_incremental_spans(
            stream_from_directory(spark, str(src), d1.schema, max_files_per_trigger=1),
            docs_dir=str(tmp_path / "docs"),
            index_dir=str(tmp_path / "index"),
            spans_dir=str(tmp_path / "spans"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            width=20,
        )
        q2.awaitTermination(120)
        assert spark.read.parquet(str(tmp_path / "spans")).count() == 2

    def test_streaming_spans_compaction(self, spark, tmp_path):
        """compact_every=2: after 4 single-doc batches the index holds one
        bucketed compacted epoch (batches < 2) plus a two-batch tail; spans
        against pre-compaction docs are still found, the post-compaction
        probe join is shuffle-free on the index side, and checkpoint replay
        plus a repeated compaction are both no-ops."""
        import re
        import time as _time

        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators.corpus import substring_windows
        from ctcityscraper_spark.streaming.events import (
            _compacted_epochs,
            compact_incremental_zone,
            read_incremental_zone,
            stream_from_directory,
            streaming_incremental_spans,
        )

        shared = "EXACTLY-THE-SAME-SPAN-CONTENT-0123456789"  # 40 chars
        src = tmp_path / "incoming"
        batches = [
            [(1, "aaa " + shared + " bbb")],
            [(2, "zzzzz " + shared + " qq")],
            [(3, "totally unrelated content without any marker")],
            [(4, "yy " + shared + " end")],
        ]
        for rows in batches:
            spark.createDataFrame(rows, "doc_id long, text string").coalesce(
                1
            ).write.mode("append").parquet(str(src))
            _time.sleep(1.1)  # file-source ordering is by modification time

        schema = "doc_id long, text string"
        kwargs = dict(
            docs_dir=str(tmp_path / "docs"),
            index_dir=str(tmp_path / "index"),
            spans_dir=str(tmp_path / "spans"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            width=20,
            compact_every=2,
            compact_buckets=4,
            compact_table_prefix="t_stream_compact",
        )
        stream = stream_from_directory(
            spark, str(src), spark.createDataFrame(batches[0], schema).schema,
            max_files_per_trigger=1,
        )
        try:
            q = streaming_incremental_spans(stream, **kwargs)
            q.awaitTermination(180)

            spans = spark.read.parquet(str(tmp_path / "spans")).collect()
            pairs = {(r.new_doc, r.corpus_doc) for r in spans}
            # doc 4 (post-compaction) still matches doc 1 (inside the
            # compacted epoch) and doc 2 (tail)
            assert pairs == {(2, 1), (4, 1), (4, 2)}

            # layout: one committed epoch covering batches < 2, tail dirs kept
            epochs = _compacted_epochs(spark, kwargs["index_dir"])
            assert [m for m, _ in epochs] == [2]
            import pathlib
            idx_dir = pathlib.Path(kwargs["index_dir"])
            tail = sorted(p.name for p in idx_dir.glob("batch_id=*"))
            assert tail == ["batch_id=2", "batch_id=3"]

            # full zone read sees all 4 docs' windows
            idx = read_incremental_zone(
                spark, kwargs["index_dir"], table_prefix="t_stream_compact"
            )
            assert idx.select("doc_id").distinct().count() == 4

            # post-compaction probe: joining a new batch against the epoch
            # table shuffles ONLY the batch side
            probe = substring_windows(
                spark.createDataFrame(
                    [(99, "probe doc containing " + shared)], schema
                ),
                width=20,
                hashed=True,
            )
            prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                joined = spark.table("t_stream_compact_upto_2").alias("b").join(
                    probe.alias("a"),
                    (F.col("a.win_h") == F.col("b.win_h"))
                    & (F.col("a.doc_id") != F.col("b.doc_id")),
                )
                plan = joined._jdf.queryExecution().executedPlan().toString()
                assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
                assert joined.count() > 0
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

            # checkpoint replay: nothing reprocessed, layout unchanged
            q2 = streaming_incremental_spans(
                stream_from_directory(
                    spark, str(src),
                    spark.createDataFrame(batches[0], schema).schema,
                    max_files_per_trigger=1,
                ),
                **kwargs,
            )
            q2.awaitTermination(180)
            assert spark.read.parquet(str(tmp_path / "spans")).count() == len(spans)
            assert [m for m, _ in _compacted_epochs(spark, kwargs["index_dir"])] == [2]

            # a crash-replayed compaction (same upto) is idempotent
            assert compact_incremental_zone(
                spark, kwargs["index_dir"], 2, table_prefix="t_stream_compact",
                bucket_keys=["win_h"], buckets=4, sort=["win_h"],
            )
            idx2 = read_incremental_zone(
                spark, kwargs["index_dir"], table_prefix="t_stream_compact"
            )
            assert idx2.select("doc_id").distinct().count() == 4
        finally:
            spark.sql("DROP TABLE IF EXISTS t_stream_compact_upto_2")

    def test_streaming_spans_multi_epoch_chain(self, spark, tmp_path):
        """compact_every=2 over 6 single-doc batches: compaction fires at
        batches 2 and 4, each epoch absorbing the previous epoch plus the
        tail. Final layout must hold ONLY the newest committed epoch
        (upto=4, old epoch and its table dropped) plus the tail
        [4, 6); spans across every epoch boundary are still found and
        the full zone still reads all docs."""
        import pathlib
        import time as _time

        from ctcityscraper_spark.streaming.events import (
            _compacted_epochs,
            read_incremental_zone,
            stream_from_directory,
            streaming_incremental_spans,
        )

        shared = "EXACTLY-THE-SAME-SPAN-CONTENT-0123456789"  # 40 chars
        src = tmp_path / "incoming"
        batches = [
            [(1, "aaa " + shared + " bbb")],
            [(2, "no marker content in this one at all....")],
            [(3, "cc " + shared + " dd")],
            [(4, "more unrelated filler text without spans")],
            [(5, "ee " + shared + " ff")],
            [(6, "qq " + shared)],
        ]
        schema = "doc_id long, text string"
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))
            _time.sleep(1.1)

        kwargs = dict(
            docs_dir=str(tmp_path / "docs"),
            index_dir=str(tmp_path / "index"),
            spans_dir=str(tmp_path / "spans"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            width=20,
            compact_every=2,
            compact_buckets=4,
            compact_table_prefix="t_chain_compact",
        )
        try:
            q = streaming_incremental_spans(
                stream_from_directory(
                    spark, str(src),
                    spark.createDataFrame(batches[0], schema).schema,
                    max_files_per_trigger=1,
                ),
                **kwargs,
            )
            q.awaitTermination(240)

            pairs = {
                (r.new_doc, r.corpus_doc)
                for r in spark.read.parquet(str(tmp_path / "spans")).collect()
            }
            # every marker doc matches every EARLIER marker doc, across
            # both epoch boundaries
            assert pairs == {(3, 1), (5, 1), (5, 3), (6, 1), (6, 3), (6, 5)}

            # only the newest epoch survives; its predecessor (and table)
            # were cleaned up strictly after commit
            assert [m for m, _ in _compacted_epochs(spark, kwargs["index_dir"])] == [4]
            assert not spark.catalog.tableExists("t_chain_compact_upto_2")
            tail = sorted(
                p.name
                for p in pathlib.Path(kwargs["index_dir"]).glob("batch_id=*")
            )
            assert tail == ["batch_id=4", "batch_id=5"]

            idx = read_incremental_zone(
                spark, kwargs["index_dir"], table_prefix="t_chain_compact"
            )
            assert idx.select("doc_id").distinct().count() == 6
        finally:
            for t in ("t_chain_compact_upto_2", "t_chain_compact_upto_4"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_streaming_spans_adversarial_batch_boundaries(self, spark, tmp_path):
        """Adversarial micro-batch boundaries for the incremental span
        pipeline: a duplicate passage split across batches and aligned
        exactly at doc boundaries, an EMPTY batch in the middle, width-1
        texts (zero windows — the batch still has to extend the index
        without producing spans), and same-batch single-char-run docs
        where every in-doc window collides. Ground truth is the BATCH
        operators replayed batch-by-batch offline (incremental vs the
        strictly-before corpus, plus the within-batch self-pair) — the
        streaming sink must land exactly that span set, exactly once,
        including after a checkpoint replay."""
        import time as _time

        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators.corpus import (
            duplicate_substring_spans,
            incremental_substring_spans,
        )
        from ctcityscraper_spark.streaming.events import (
            stream_from_directory,
            streaming_incremental_spans,
        )

        P = "BOUNDARY-SPAN-MARKER-0123456789-ABCDEFGHIJ"  # 42 chars, w=20
        schema = "doc_id long, text string"
        batches = [
            [(1, "lead words padding then " + P)],       # P at doc END
            [],                                          # EMPTY batch
            [(2, P + " trailing tail"), (3, "Q" * 19)],  # P at doc START;
                                                         # width-1 text
            [(4, "a" * 60), (5, "a" * 60),               # in-batch run dups
             (6, "sub " + P[:20] + " other")],           # single-window hit
            [(7, "Q" * 19)],                             # zero-window batch
        ]
        src = tmp_path / "incoming"
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))
            _time.sleep(1.1)  # file-source ordering is by modification time

        # ground truth: batch operators replayed over the same boundaries
        out_cols = [
            "new_doc", "corpus_doc", "start_new", "start_corpus",
            "span_len", "n_windows",
        ]
        expected: set = set()
        corpus: list = []
        for rows in batches:
            if not rows:
                continue
            bdf = spark.createDataFrame(rows, schema)
            if corpus:
                inc = incremental_substring_spans(
                    bdf,
                    spark.createDataFrame(corpus, schema),
                    width=20,
                    bucket_by_hash=True,
                )
                expected |= {
                    tuple(r) for r in inc.select(*out_cols).collect()
                }
            within = duplicate_substring_spans(
                bdf, width=20, bucket_by_hash=True
            ).select(
                F.col("doc_b").alias("new_doc"),
                F.col("doc_a").alias("corpus_doc"),
                F.col("start_b").alias("start_new"),
                F.col("start_a").alias("start_corpus"),
                "span_len",
                "n_windows",
            )
            expected |= {tuple(r) for r in within.collect()}
            corpus += rows

        # sanity on the fixture itself: the cross-batch boundary pair, the
        # single-window probe hits, and the in-batch run dup all exist;
        # the width-1 docs never pair
        got_pairs = {(a, b) for a, b, *_ in expected}
        assert (2, 1) in got_pairs and (5, 4) in got_pairs
        assert {(6, 1), (6, 2)} <= got_pairs
        assert not any(3 in p or 7 in p for p in got_pairs)

        kwargs = dict(
            docs_dir=str(tmp_path / "docs"),
            index_dir=str(tmp_path / "index"),
            spans_dir=str(tmp_path / "spans"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            width=20,
        )
        q = streaming_incremental_spans(
            stream_from_directory(
                spark, str(src), spark.createDataFrame(batches[0], schema).schema,
                max_files_per_trigger=1,
            ),
            **kwargs,
        )
        q.awaitTermination(180)
        got = {
            tuple(r)
            for r in spark.read.parquet(str(tmp_path / "spans"))
            .select(*out_cols)
            .collect()
        }
        assert got == expected

        # checkpoint replay: exactly once, even across the empty and
        # zero-window batches
        q2 = streaming_incremental_spans(
            stream_from_directory(
                spark, str(src), spark.createDataFrame(batches[0], schema).schema,
                max_files_per_trigger=1,
            ),
            **kwargs,
        )
        q2.awaitTermination(180)
        assert spark.read.parquet(str(tmp_path / "spans")).count() == len(expected)

    def test_streaming_dedup_drops_in_horizon_dups(self, spark, tmp_path):
        """dropDuplicatesWithinWatermark: duplicate event_ids inside the
        watermark horizon collapse to one row; state stays bounded."""
        import datetime as dt

        from ctcityscraper_spark.streaming.events import (
            stream_from_directory,
            streaming_dedup,
        )

        t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
        rows = [
            Row(event_id=1, ts=t0, v=1.0),
            Row(event_id=1, ts=t0 + dt.timedelta(minutes=5), v=2.0),  # dup
            Row(event_id=2, ts=t0 + dt.timedelta(minutes=10), v=3.0),
            Row(event_id=2, ts=t0 + dt.timedelta(minutes=11), v=4.0),  # dup
            Row(event_id=3, ts=t0 + dt.timedelta(minutes=20), v=5.0),
        ]
        src = tmp_path / "dedup_stream"
        spark.createDataFrame(rows).coalesce(1).write.parquet(str(src))
        stream = stream_from_directory(
            spark, str(src), spark.createDataFrame(rows).schema
        )
        q = (
            streaming_dedup(stream, ["event_id"], watermark="1 hour")
            .writeStream.format("memory")
            .queryName("dedup_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("select event_id from dedup_out").collect()
        assert sorted(r.event_id for r in got) == [1, 2, 3]

    def test_stream_stream_join_time_bounded(self, spark, tmp_path):
        """Watermarked stream-stream join: only right rows within the time
        bound of a matching left row join; out-of-range rows drop."""
        import datetime as dt

        from ctcityscraper_spark.streaming.events import (
            stream_from_directory,
            stream_stream_join,
        )

        t0 = dt.datetime(2025, 1, 1, 0, 0, 0)
        orders = [Row(user_id=1, ts=t0, order_v=10.0)]
        clicks = [
            Row(user_id=1, ts=t0 + dt.timedelta(hours=1), click_v=1.0),  # in range
            Row(user_id=1, ts=t0 + dt.timedelta(hours=12), click_v=2.0),  # out
            Row(user_id=2, ts=t0 + dt.timedelta(hours=1), click_v=3.0),  # no key
        ]
        lsrc, rsrc = tmp_path / "l", tmp_path / "r"
        ldf, rdf = spark.createDataFrame(orders), spark.createDataFrame(clicks)
        ldf.coalesce(1).write.parquet(str(lsrc))
        rdf.coalesce(1).write.parquet(str(rsrc))
        joined = stream_stream_join(
            stream_from_directory(spark, str(lsrc), ldf.schema),
            stream_from_directory(spark, str(rsrc), rdf.schema),
            "user_id",
            within="interval 6 hours",
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("ssj_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("select click_v from ssj_out").collect()
        assert [r.click_v for r in got] == [1.0]

    def test_scd2_stream_sink(self, spark, tmp_path, tmp_store):
        from ctcityscraper_spark.streaming.events import (
            stream_from_directory,
            write_scd2_stream,
        )

        src = tmp_path / "incoming"
        df = spark.createDataFrame([Row(uuid="u1", v=1.0), Row(uuid="u2", v=2.0)])
        df.write.parquet(str(src))
        stream = stream_from_directory(spark, str(src), df.schema)
        q = write_scd2_stream(stream, tmp_store, "props_stream", str(tmp_path / "ckpt"))
        q.awaitTermination(120)
        out = tmp_store.scan("props_stream")
        assert out.count() == 2
        assert {"scraped_at", "row_hash"} <= set(out.columns)


class TestStreamingBloom:
    def test_streaming_bloom_membership_grows_filter(self, spark, tmp_path):
        """4 single-doc-ish batches with compact_every=2: each batch probes
        the filter built by batches strictly before it (dups of earlier
        batches flag true, same-batch and fresh docs flag false), the word
        zone bit_or-merges to EXACTLY a fresh build over everything
        ingested, compaction re-aggregates the epoch to <= m/32 word rows,
        and checkpoint replay reprocesses nothing."""
        import time as _time

        from ctcityscraper_spark.operators.dedup import build_bloom_index
        from ctcityscraper_spark.streaming.events import (
            _compacted_epochs,
            read_bloom_words,
            stream_from_directory,
            streaming_bloom_membership,
        )

        m, k = 2048, 4
        schema = "doc_id long, text string"
        src = tmp_path / "incoming"
        batches = [
            [(1, "alpha text one")],
            [(2, "beta text two"), (3, "alpha text one")],     # 3 dups b0
            [(4, "beta text two"), (5, "gamma fresh content")],  # 4 dups b1
            [(6, "gamma fresh content"), (7, "delta novel words")],
        ]
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))
            _time.sleep(1.1)  # file-source ordering is by modification time

        kwargs = dict(
            words_dir=str(tmp_path / "words"),
            flags_dir=str(tmp_path / "flags"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            m_bits=m,
            k=k,
            compact_every=2,
            compact_buckets=4,
            compact_table_prefix="t_bloom_words",
            stats_dir=str(tmp_path / "stats"),
        )
        try:
            q = streaming_bloom_membership(
                stream_from_directory(
                    spark, str(src),
                    spark.createDataFrame(batches[0], schema).schema,
                    max_files_per_trigger=1,
                ),
                **kwargs,
            )
            q.awaitTermination(180)

            flags = {
                r.doc_id: r.might_contain
                for r in spark.read.parquet(str(tmp_path / "flags")).collect()
            }
            # strictly-before contract: 3, 4, 6 duplicate EARLIER batches
            # (true); everything else — including within-batch structure —
            # flags false; no false positive at m=2048/k=4 over 5 texts
            assert flags == {
                1: False, 2: False, 3: True, 4: True,
                5: False, 6: True, 7: False,
            }

            # the merged word zone IS a fresh build over all ingested docs
            # (OR-associativity end-to-end across deltas + epoch)
            merged = {
                r.word_idx: r.word
                for r in read_bloom_words(
                    spark, kwargs["words_dir"],
                    table_prefix="t_bloom_words",
                ).collect()
            }
            every_doc = spark.createDataFrame(
                [r for rows in batches for r in rows], schema
            )
            fresh = {
                r.word_idx: r.word
                for r in build_bloom_index(every_doc, m, k).collect()
            }
            assert merged == fresh and len(merged) > 0

            # compaction: one committed epoch (upto=2), re-aggregated to at
            # most m/32 word rows despite covering two batches
            assert [mm for mm, _ in _compacted_epochs(spark, kwargs["words_dir"])] == [2]
            epoch = spark.table("t_bloom_words_upto_2")
            assert epoch.count() <= m // 32
            assert epoch.count() == epoch.select("word_idx").distinct().count()

            # the saturation monitor rides a per-batch stats zone: fill
            # only ever rises (the dedup-state stream emits its own
            # rebuild signal), and the final row equals the monitor run
            # over the fresh one-shot build
            from ctcityscraper_spark.operators.dedup import bloom_saturation

            srows = {
                r.batch_id: r
                for r in spark.read.parquet(str(tmp_path / "stats")).collect()
            }
            assert set(srows) == {0, 1, 2, 3}
            fills = [srows[b].fill for b in (0, 1, 2, 3)]
            assert fills == sorted(fills) and 0 < fills[0] and fills[3] < 1
            want = bloom_saturation(
                build_bloom_index(every_doc, m, k), m, k
            ).collect()[0]
            got = srows[3]
            assert (got.n_words, got.set_bits, got.fill, got.est_fpp) == (
                want.n_words, want.set_bits, want.fill, want.est_fpp
            )

            # checkpoint replay: nothing reprocessed
            q2 = streaming_bloom_membership(
                stream_from_directory(
                    spark, str(src),
                    spark.createDataFrame(batches[0], schema).schema,
                    max_files_per_trigger=1,
                ),
                **kwargs,
            )
            q2.awaitTermination(180)
            assert spark.read.parquet(str(tmp_path / "flags")).count() == 7
            assert spark.read.parquet(str(tmp_path / "stats")).count() == 4
        finally:
            spark.sql("DROP TABLE IF EXISTS t_bloom_words_upto_2")

    def test_streaming_bloom_multi_epoch_chain(self, spark, tmp_path):
        """compact_every=2 over 6 batches: word epochs fire at 2 and 4,
        the second ABSORBING the first plus tail — which exercises the
        transform-idempotence requirement (bit_or re-applied to
        already-merged rows must be a no-op). Final layout holds only
        upto=4 plus the [4, 6) tail; the merged filter still equals a
        fresh build over all six batches and stays <= m/32 rows."""
        import pathlib
        import time as _time

        from ctcityscraper_spark.operators.dedup import build_bloom_index
        from ctcityscraper_spark.streaming.events import (
            _compacted_epochs,
            read_bloom_words,
            stream_from_directory,
            streaming_bloom_membership,
        )

        m, k = 1024, 3
        schema = "doc_id long, text string"
        src = tmp_path / "incoming"
        batches = [
            [(i, f"epoch chain doc number {i} payload")] for i in range(6)
        ]
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))
            _time.sleep(1.1)

        kwargs = dict(
            words_dir=str(tmp_path / "words"),
            flags_dir=str(tmp_path / "flags"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            m_bits=m,
            k=k,
            compact_every=2,
            compact_buckets=4,
            compact_table_prefix="t_bloom_chain",
        )
        try:
            q = streaming_bloom_membership(
                stream_from_directory(
                    spark, str(src),
                    spark.createDataFrame(batches[0], schema).schema,
                    max_files_per_trigger=1,
                ),
                **kwargs,
            )
            q.awaitTermination(180)

            # only the newest epoch survives, plus the [4, 6) tail
            assert [mm for mm, _ in _compacted_epochs(spark, kwargs["words_dir"])] == [4]
            tail = sorted(
                p.name for p in pathlib.Path(kwargs["words_dir"]).glob("batch_id=*")
            )
            assert tail == ["batch_id=4", "batch_id=5"]
            assert not spark.catalog.tableExists("t_bloom_chain_upto_2")
            epoch = spark.table("t_bloom_chain_upto_4")
            assert epoch.count() <= m // 32
            # the chained merge (epoch-absorbs-epoch) still equals a fresh
            # build over everything — transform idempotence held
            merged = {
                (r.word_idx, r.word)
                for r in read_bloom_words(
                    spark, kwargs["words_dir"], table_prefix="t_bloom_chain"
                ).collect()
            }
            every_doc = spark.createDataFrame(
                [r for rows in batches for r in rows], schema
            )
            fresh = {
                (r.word_idx, r.word)
                for r in build_bloom_index(every_doc, m, k).collect()
            }
            assert merged == fresh
            # all six batches produced a flags partition; no dups flagged
            flags = spark.read.parquet(str(tmp_path / "flags"))
            assert flags.count() == 6
            assert flags.filter("might_contain").count() == 0
        finally:
            spark.sql("DROP TABLE IF EXISTS t_bloom_chain_upto_2")
            spark.sql("DROP TABLE IF EXISTS t_bloom_chain_upto_4")


class TestStreamingCms:
    def test_streaming_cms_merged_equals_fresh_build(self, spark, tmp_path):
        """4 batches with compact_every=2: the sum-merged cell zone must
        equal a fresh count_min_sketch over all ingested docs EXACTLY
        (count additivity), the epoch re-aggregates to <= depth*width
        rows, estimates through the merged sketch keep the one-sided
        contract, and checkpoint replay reprocesses nothing."""
        import time as _time

        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators.text import (
            cms_estimate,
            count_min_sketch,
            tokens_col,
        )
        from ctcityscraper_spark.streaming.events import (
            _compacted_epochs,
            read_cms_cells,
            stream_from_directory,
            streaming_cms,
        )

        w, d = 256, 3
        schema = "doc_id long, text string"
        src = tmp_path / "incoming"
        batches = [
            [(1, "hot hot hot cold")],
            [(2, "hot warm warm")],
            [(3, "hot cold mild")],
            [(4, "hot hot mild rare")],
        ]
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))
            _time.sleep(1.1)

        kwargs = dict(
            cells_dir=str(tmp_path / "cells"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            width=w,
            depth=d,
            compact_every=2,
            compact_table_prefix="t_cms_cells",
            stats_dir=str(tmp_path / "cstats"),
        )
        try:
            q = streaming_cms(
                stream_from_directory(
                    spark, str(src),
                    spark.createDataFrame(batches[0], schema).schema,
                    max_files_per_trigger=1,
                ),
                **kwargs,
            )
            q.awaitTermination(180)

            merged = read_cms_cells(
                spark, kwargs["cells_dir"], table_prefix="t_cms_cells"
            )
            all_docs = spark.createDataFrame(
                [r for rows in batches for r in rows], schema
            )
            fresh = {
                (r.r, r.c): r.n
                for r in count_min_sketch(all_docs, width=w, depth=d).collect()
            }
            got = {(r.r, r.c): r.n for r in merged.collect()}
            assert got == fresh and len(got) > 0

            assert [m for m, _ in _compacted_epochs(spark, kwargs["cells_dir"])] == [2]
            assert spark.table("t_cms_cells_upto_2").count() <= w * d

            # estimates through the merged sketch: one-sided vs true counts
            truth = (
                all_docs.select(F.explode(tokens_col("text")).alias("term"))
                .groupBy("term")
                .agg(F.count("*").alias("true_count"))
            )
            est = cms_estimate(truth, merged, width=w, depth=d)
            assert est.filter("estimate < true_count").count() == 0

            # the saturation monitor rides a per-batch stats zone:
            # n_items / fill / err_bound only rise, and the final row
            # equals cms_health over the fresh one-shot sketch
            from ctcityscraper_spark.operators.text import cms_health

            srows = {
                r.batch_id: r
                for r in spark.read.parquet(str(tmp_path / "cstats")).collect()
            }
            assert set(srows) == {0, 1, 2, 3}
            items = [srows[b].n_items for b in (0, 1, 2, 3)]
            assert items == sorted(items) and items[0] > 0
            want = cms_health(
                count_min_sketch(all_docs, width=w, depth=d), w, d
            ).collect()[0]
            fields = ("width", "depth", "n_items", "max_cell",
                      "nonzero_cells", "fill", "err_bound")
            assert tuple(srows[3][f] for f in fields) == tuple(
                want[f] for f in fields
            )

            # checkpoint replay: nothing reprocessed
            q2 = streaming_cms(
                stream_from_directory(
                    spark, str(src),
                    spark.createDataFrame(batches[0], schema).schema,
                    max_files_per_trigger=1,
                ),
                **kwargs,
            )
            q2.awaitTermination(180)
            got2 = {
                (r.r, r.c): r.n
                for r in read_cms_cells(
                    spark, kwargs["cells_dir"], table_prefix="t_cms_cells"
                ).collect()
            }
            assert got2 == fresh
        finally:
            spark.sql("DROP TABLE IF EXISTS t_cms_cells_upto_2")


class TestStreamingGram:
    def test_streaming_gram_merged_equals_fresh_build(self, spark, tmp_path):
        """4 embedding batches with compact_every=2: the sum-merged Gram
        zone must equal a fresh int8_gram_matrix over all ingested
        vectors EXACTLY (integer-partial additivity), the epoch
        re-aggregates to <= d^2 rows, pca_components trains off the live
        zone, a dims-mismatched read refuses with the rebuild hint, and
        checkpoint replay reprocesses nothing."""
        import time as _time

        import pytest as _pytest

        from ctcityscraper_spark.operators.similarity import (
            int8_gram_matrix,
            pca_components,
        )
        from ctcityscraper_spark.streaming.events import (
            _compacted_epochs,
            read_gram_rows,
            stream_from_directory,
            streaming_gram,
        )

        dims = 4
        schema = "vec_id long, embedding array<double>"
        src = tmp_path / "incoming"
        batches = [
            [(1, [1.0, 2.0, 3.0, 4.0]), (2, [2.0, 0.0, -1.0, 0.5])],
            [(3, [0.1, 0.2, 0.3, 0.4])],
            [(4, [-1.0, -2.0, 1.0, 2.0]), (5, [5.0, 4.0, 3.0, 2.0])],
            [(6, [1.0, 1.0, 1.0, 1.0])],
        ]
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))
            _time.sleep(1.1)

        kwargs = dict(
            gram_dir=str(tmp_path / "gram"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            dims=dims,
            compact_every=2,
            compact_table_prefix="t_gram_rows",
        )
        try:
            q = streaming_gram(
                stream_from_directory(
                    spark, str(src),
                    spark.createDataFrame(batches[0], schema).schema,
                    max_files_per_trigger=1,
                ),
                **kwargs,
            )
            q.awaitTermination(180)

            merged = read_gram_rows(
                spark, kwargs["gram_dir"], table_prefix="t_gram_rows",
                dims=dims,
            )
            all_vecs = spark.createDataFrame(
                [r for rows in batches for r in rows], schema
            )
            fresh = {
                (r.j, r.l): r.g
                for r in int8_gram_matrix(all_vecs, dims).collect()
            }
            got = {(r.j, r.l): r.g for r in merged.collect()}
            assert got == fresh and len(got) == dims * dims

            assert [m for m, _ in _compacted_epochs(spark, kwargs["gram_dir"])] == [2]
            assert spark.table("t_gram_rows_upto_2").count() <= dims * dims

            # the trainer consumes the live zone directly
            comps, evals = pca_components(merged, dims, 2)
            assert len(comps) == 2 and len(comps[0]) == dims
            assert evals[0] >= evals[1]

            # dims-mismatched read refuses with the rebuild hint
            with _pytest.raises(ValueError, match="[Rr]ebuild"):
                read_gram_rows(
                    spark, kwargs["gram_dir"], table_prefix="t_gram_rows",
                    dims=8,
                )

            # checkpoint replay: nothing reprocessed
            q2 = streaming_gram(
                stream_from_directory(
                    spark, str(src),
                    spark.createDataFrame(batches[0], schema).schema,
                    max_files_per_trigger=1,
                ),
                **kwargs,
            )
            q2.awaitTermination(180)
            got2 = {
                (r.j, r.l): r.g
                for r in read_gram_rows(
                    spark, kwargs["gram_dir"], table_prefix="t_gram_rows",
                ).collect()
            }
            assert got2 == fresh
        finally:
            spark.sql("DROP TABLE IF EXISTS t_gram_rows_upto_2")


class TestZoneFormatMeta:
    """Stored sketch zones carry a format marker (_zone_meta.json): the
    position/coordinate derivation version + build parameters. Resuming or
    reading under a different contract must fail loudly — probing a Bloom
    word table built under another derivation silently loses the
    no-false-negative guarantee (dedup.BLOOM_FORMAT_VERSION docstring)."""

    def test_stamp_validate_roundtrip_and_mismatch(self, spark, tmp_path):
        from ctcityscraper_spark.streaming.events import (
            ensure_zone_meta,
            read_zone_meta,
        )

        base = str(tmp_path / "zone")
        meta = {"kind": "bloom_words", "format_version": 2, "m_bits": 1024, "k": 3}
        ensure_zone_meta(spark, base, meta, "rebuild")
        assert read_zone_meta(spark, base) == meta
        # idempotent re-stamp
        ensure_zone_meta(spark, base, meta, "rebuild")
        # resumed under different parameters -> loud failure
        import pytest as _pytest

        with _pytest.raises(ValueError, match="rebuild"):
            ensure_zone_meta(spark, base, {**meta, "m_bits": 2048}, "rebuild")
        with _pytest.raises(ValueError, match="rebuild"):
            ensure_zone_meta(spark, base, {**meta, "format_version": 3}, "rebuild")

    def test_unversioned_data_zone_refused(self, spark, tmp_path):
        """A zone with data but no marker predates stamping — its word
        positions cannot be trusted; both stamp and read paths refuse."""
        import pytest as _pytest

        from ctcityscraper_spark.operators.dedup import build_bloom_index
        from ctcityscraper_spark.streaming.events import (
            check_zone_meta,
            ensure_zone_meta,
            read_bloom_words,
        )

        base = str(tmp_path / "words")
        docs = spark.createDataFrame(
            [(1, "alpha"), (2, "beta")], "doc_id long, text string"
        )
        build_bloom_index(docs, 1024, 3).write.parquet(base + "/batch_id=0")
        with _pytest.raises(ValueError, match="no _zone_meta.json"):
            ensure_zone_meta(spark, base, {"format_version": 2}, "rebuild")
        with _pytest.raises(ValueError, match="unversioned"):
            check_zone_meta(spark, base, {"format_version": 2}, "rebuild")
        with _pytest.raises(ValueError, match="unversioned"):
            read_bloom_words(spark, base)

    def test_read_bloom_words_validates_params(self, spark, tmp_path):
        from ctcityscraper_spark.operators.dedup import (
            BLOOM_FORMAT_VERSION,
            build_bloom_index,
        )
        from ctcityscraper_spark.streaming.events import (
            ensure_zone_meta,
            read_bloom_words,
        )

        m, k = 1024, 3
        base = str(tmp_path / "words")
        docs = spark.createDataFrame(
            [(1, "alpha"), (2, "beta")], "doc_id long, text string"
        )
        meta = {"kind": "bloom_words", "format_version": BLOOM_FORMAT_VERSION,
                "m_bits": m, "k": k}
        ensure_zone_meta(spark, base, meta, "rebuild")
        build_bloom_index(docs, m, k).write.parquet(base + "/batch_id=0")
        # matching parameters: reads fine, equals a fresh build
        got = {
            (r.word_idx, r.word)
            for r in read_bloom_words(spark, base, m_bits=m, k=k).collect()
        }
        fresh = {
            (r.word_idx, r.word)
            for r in build_bloom_index(docs, m, k).collect()
        }
        assert got == fresh
        # no params: marker self-check passes (format version current)
        assert read_bloom_words(spark, base) is not None
        # wrong m_bits: refuse
        import pytest as _pytest

        with _pytest.raises(ValueError, match="rebuild|Rebuild"):
            read_bloom_words(spark, base, m_bits=2048, k=k)

    def test_read_bloom_words_refuses_stale_format_version(self, spark, tmp_path):
        """A marker stamped by older code (format_version 1 — pre-h2-clamp
        positions) must refuse even a parameterless read."""
        import json

        import pytest as _pytest

        from ctcityscraper_spark.operators.dedup import build_bloom_index
        from ctcityscraper_spark.streaming.events import read_bloom_words

        base = tmp_path / "words"
        base.mkdir()
        (base / "_zone_meta.json").write_text(json.dumps(
            {"kind": "bloom_words", "format_version": 1, "m_bits": 1024, "k": 3}
        ))
        docs = spark.createDataFrame([(1, "alpha")], "doc_id long, text string")
        build_bloom_index(docs, 1024, 3).write.parquet(str(base / "batch_id=0"))
        with _pytest.raises(ValueError, match="expects"):
            read_bloom_words(spark, str(base))
        with _pytest.raises(ValueError, match="expects"):
            read_bloom_words(spark, str(base), m_bits=1024, k=3)

    def test_cms_zone_meta_validated(self, spark, tmp_path):
        import pytest as _pytest

        from ctcityscraper_spark.operators.text import (
            CMS_FORMAT_VERSION,
            count_min_sketch,
        )
        from ctcityscraper_spark.streaming.events import (
            ensure_zone_meta,
            read_cms_cells,
        )

        base = str(tmp_path / "cells")
        docs = spark.createDataFrame(
            [(1, "a b a"), (2, "c")], "doc_id long, text string"
        )
        meta = {"kind": "cms_cells", "format_version": CMS_FORMAT_VERSION,
                "width": 512, "depth": 2, "seed": "cms"}
        ensure_zone_meta(spark, base, meta, "rebuild")
        count_min_sketch(docs, width=512, depth=2).write.parquet(
            base + "/batch_id=0"
        )
        assert read_cms_cells(spark, base, width=512, depth=2) is not None
        with _pytest.raises(ValueError, match="rebuild|Rebuild"):
            read_cms_cells(spark, base, width=1024, depth=2)


class TestStreamingDriverState:
    @pytest.mark.parametrize(
        "sink, zone_args",
        [
            ("streaming_bloom_membership",
             dict(words_dir="words", flags_dir="flags", m_bits=1024, k=3)),
            ("streaming_incremental_spans",
             dict(docs_dir="docs", index_dir="index", spans_dir="spans",
                  width=8)),
        ],
        ids=["streaming_bloom_membership", "streaming_incremental_spans"],
    )
    def test_no_cached_blocks_or_stale_tables_after_run(
        self, spark, tmp_path, sink, zone_args
    ):
        """The streaming sinks must leave ZERO driver-lifetime cached
        state behind: epochs are _SUCCESS-gated files (never persisted
        frames, hence not operators.artifacts-registered — see
        compact_incremental_zone's driver-lifetime note), per-batch
        persists (the sink's own and the operators' persist_tracked
        artifacts, e.g. duplicate_substring_spans' window index) are
        released at batch end, and each compaction drops the older
        epoch's catalog table — so a long-lived streaming driver holds
        at most one table registration per zone, no storage blocks and
        no unreleased artifacts."""
        import time as _time

        from ctcityscraper_spark.operators import artifacts
        from ctcityscraper_spark.streaming import events
        from ctcityscraper_spark.streaming.events import stream_from_directory

        def storage_ids():
            return {
                i.id()
                for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            }

        before = storage_ids()
        tracked_before = artifacts.tracked_count()
        schema = "doc_id long, text string"
        src = tmp_path / "incoming"
        batches = [[(i, f"driver state doc {i}")] for i in range(5)]
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))
            _time.sleep(1.1)
        try:
            q = getattr(events, sink)(
                stream_from_directory(
                    spark, str(src),
                    spark.createDataFrame(batches[0], schema).schema,
                    max_files_per_trigger=1,
                ),
                checkpoint_dir=str(tmp_path / "ckpt"),
                compact_every=2,
                compact_buckets=2,
                compact_table_prefix="t_drv_state",
                **{
                    k: str(tmp_path / v) if k.endswith("_dir") else v
                    for k, v in zone_args.items()
                },
            )
            q.awaitTermination(180)
            # no cached blocks or unreleased artifacts survive the run
            assert storage_ids() - before == set()
            assert artifacts.tracked_count() == tracked_before
            # exactly one zone table registration remains (the newest
            # epoch); the absorbed one was dropped at compaction time
            live = [
                t.name
                for t in spark.catalog.listTables()
                if t.name.startswith("t_drv_state")
            ]
            assert live == ["t_drv_state_upto_4"], live
        finally:
            for t in ("t_drv_state_upto_2", "t_drv_state_upto_4"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestStreamingKmv:
    def test_streaming_kmv_merged_equals_fresh_build(self, spark, tmp_path):
        """4 batches with compact_every=2: the min-k-merged hash zone must
        equal a fresh kmv_sketch over all ingested docs EXACTLY
        (min-k-of-distinct associativity), the epoch re-merges to <= k
        rows, the estimate through the merged sketch is exact below k,
        a (k, seed)-mismatched read refuses with the rebuild hint, and
        checkpoint replay reprocesses nothing."""
        import time as _time

        import pytest as _pytest

        from ctcityscraper_spark.operators.text import kmv_estimate, kmv_sketch
        from ctcityscraper_spark.streaming.events import (
            _compacted_epochs,
            read_kmv_hashes,
            stream_from_directory,
            streaming_kmv,
        )

        k = 8
        schema = "doc_id long, text string"
        src = tmp_path / "incoming"
        batches = [
            [(1, "alpha beta gamma")],
            [(2, "beta delta")],
            [(3, "epsilon zeta alpha")],
            [(4, "eta theta iota kappa")],
        ]
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))
            _time.sleep(1.1)

        kwargs = dict(
            hashes_dir=str(tmp_path / "hashes"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            k=k,
            compact_every=2,
        )
        q = streaming_kmv(
            stream_from_directory(
                spark, str(src),
                spark.createDataFrame(batches[0], schema).schema,
                max_files_per_trigger=1,
            ),
            **kwargs,
        )
        q.awaitTermination(180)

        merged = read_kmv_hashes(spark, kwargs["hashes_dir"])
        all_docs = spark.createDataFrame(
            [r for rows in batches for r in rows], schema
        )
        fresh = sorted(r.h for r in kmv_sketch(all_docs, k=k).collect())
        got = sorted(r.h for r in merged.collect())
        assert got == fresh and 0 < len(got) <= k

        # compaction happened and the epoch stayed sketch-sized
        epochs = _compacted_epochs(spark, kwargs["hashes_dir"])
        assert [m for m, _ in epochs] == [2]
        assert spark.read.parquet(epochs[0][1]).count() <= k

        # 10 distinct tokens ingested but k=8: estimator branch
        est = kmv_estimate(read_kmv_hashes(spark, kwargs["hashes_dir"]), k)
        r = est.collect()[0]
        assert r.n_kept == k and r.distinct_est > 0

        # (k, seed) contract: a mismatched read refuses
        with _pytest.raises(ValueError, match="kmv_sketch"):
            read_kmv_hashes(spark, kwargs["hashes_dir"], k=99, seed="kmv")

        # checkpoint replay: nothing reprocessed
        q2 = streaming_kmv(
            stream_from_directory(
                spark, str(src),
                spark.createDataFrame(batches[0], schema).schema,
                max_files_per_trigger=1,
            ),
            **kwargs,
        )
        q2.awaitTermination(180)
        got2 = sorted(
            r.h for r in read_kmv_hashes(spark, kwargs["hashes_dir"]).collect()
        )
        assert got2 == fresh


class TestStreamingQuantile:
    def test_streaming_quantile_merged_equals_fresh_build(self, spark, tmp_path):
        """4 batches with compact_every=2: the min-k-by-hash-merged sample
        zone must equal a fresh quantile_sketch over all ingested rows
        EXACTLY (associativity over unique row ids), the epoch re-merges
        to <= k rows, percentile estimates through the merged sample use
        the pure-integer rank rule, a mismatched (k, seed, value_col)
        read refuses with the rebuild hint, and checkpoint replay
        reprocesses nothing."""
        import time as _time

        import pytest as _pytest

        from ctcityscraper_spark.operators.text import (
            quantile_estimate,
            quantile_sketch,
        )
        from ctcityscraper_spark.streaming.events import (
            _compacted_epochs,
            read_quantile_sample,
            stream_from_directory,
            streaming_quantile,
        )

        k = 8
        schema = "doc_id long, val double"
        src = tmp_path / "incoming"
        batches = [
            [(1, 0.1), (2, 0.9)],
            [(3, 0.5), (4, 0.7)],
            [(5, 0.3), (6, 0.2)],
            [(7, 0.8), (8, 0.4), (9, 0.6), (10, 1.0)],
        ]
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))
            _time.sleep(1.1)

        kwargs = dict(
            sample_dir=str(tmp_path / "sample"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            k=k,
            compact_every=2,
            stats_dir=str(tmp_path / "qstats"),
        )
        q = streaming_quantile(
            stream_from_directory(
                spark, str(src),
                spark.createDataFrame(batches[0], schema).schema,
                max_files_per_trigger=1,
            ),
            **kwargs,
        )
        q.awaitTermination(180)

        merged = read_quantile_sample(spark, kwargs["sample_dir"])
        all_rows = spark.createDataFrame(
            [r for rows in batches for r in rows], schema
        )
        fresh = sorted(
            (r.h, r.val)
            for r in quantile_sketch(all_rows, "val", "doc_id", k=k).collect()
        )
        got = sorted((r.h, r.val) for r in merged.collect())
        assert got == fresh and 0 < len(got) <= k

        # compaction happened and the epoch stayed sketch-sized
        epochs = _compacted_epochs(spark, kwargs["sample_dir"])
        assert [m for m, _ in epochs] == [2]
        assert spark.read.parquet(epochs[0][1]).count() <= k

        # 10 rows ingested but k=8: the sample truncated; estimator
        # follows the integer rank rule over the (val, h) order
        est = {
            r.pct: (r.n_kept, r.est)
            for r in quantile_estimate(
                read_quantile_sample(spark, kwargs["sample_dir"])
            ).collect()
        }
        sample = sorted((v, h) for h, v in got)
        n = len(sample)
        assert n == k
        for p in (25, 50, 75, 90, 99):
            assert est[p] == (n, sample[(p * n + 99) // 100 - 1][0])

        # (k, seed, value_col) contract: a mismatched read refuses
        with _pytest.raises(ValueError, match="quantile_sketch"):
            read_quantile_sample(
                spark, kwargs["sample_dir"], k=99, seed="qsk", value_col="val"
            )
        # PARTIALLY-specified params participate in validation too: the
        # old all-or-nothing gate silently replaced a lone mismatched k
        # with the stored one (r11 review finding) — now it refuses
        with _pytest.raises(ValueError, match="quantile_sketch"):
            read_quantile_sample(spark, kwargs["sample_dir"], k=99)
        with _pytest.raises(ValueError, match="quantile_sketch"):
            read_quantile_sample(spark, kwargs["sample_dir"], seed="other")
        # ... while matching partial params pass and resolve the rest
        assert read_quantile_sample(
            spark, kwargs["sample_dir"], seed="qsk"
        ).count() == k

        # the percentile ledger rides a per-batch stats zone: the final
        # batch's rows equal quantile_estimate over the full merged
        # sample (state as of the end of the stream), and consecutive
        # rows per pct ARE the quantile_drift series
        ledger = {
            (r.batch_id, r.pct): r.est
            for r in spark.read.parquet(str(tmp_path / "qstats")).collect()
        }
        assert {b for b, _ in ledger} == {0, 1, 2, 3}
        for p in (25, 50, 75, 90, 99):
            assert ledger[(3, p)] == est[p][1]
        # batch 0's ledger row is the estimate over batch 0 alone
        b0 = sorted(v for _, v in batches[0])
        assert ledger[(0, 50)] == b0[(50 * 2 + 99) // 100 - 1]

        # checkpoint replay: nothing reprocessed
        q2 = streaming_quantile(
            stream_from_directory(
                spark, str(src),
                spark.createDataFrame(batches[0], schema).schema,
                max_files_per_trigger=1,
            ),
            **kwargs,
        )
        q2.awaitTermination(180)
        got2 = sorted(
            (r.h, r.val)
            for r in read_quantile_sample(spark, kwargs["sample_dir"]).collect()
        )
        assert got2 == fresh
        assert spark.read.parquet(str(tmp_path / "qstats")).count() == 20


class TestStreamingCorpusPrep:
    """streaming_corpus_prep: the nightly prep DAG (corpus_e2e_prep) as
    ONE foreachBatch under a single checkpoint — boilerplate -> Bloom-
    chased dedup -> contamination -> pack continuation, every stage
    reading strictly-before zone state and appending its own delta."""

    # ids chosen off the split hash: hash64(id,'split')%10==0 holds for
    # 1,23,26,67,71,77 in [1,80) — 23 is the one test-split doc used
    B1 = [
        (2, "B1 B2 B3 a1 a2 a3"),
        (3, "B1 B2 B3 b1 b2 b3"),
        (4, "B1 B2 B3 d1 d2 d3"),
        (5, "p1 p2 p3 p4"),
    ]
    B2 = [
        (6, "p1 p2 p3 p4"),        # exact dup of doc 5 (history)
        (7, "u1 u2 u3 u4"),        # within-batch dup pair: 7 kept,
        (8, "u1 u2 u3 u4"),        # 8 dropped (keep-lowest)
        (9, "B1 B2 B3 t1 t2 t3"),  # boiler stripped -> "t1 t2 t3"
        (23, "c1 c2 c3 c4"),       # TEST split: held out, seeds tidx
        (25, "w1 w2 c1 c2 c3"),    # train doc contaminated by doc 23
                                   # in the SAME batch — must be dropped
                                   # (no one-batch leakage window)
    ]
    B3 = [
        # boiler (twice) stripped -> "t1 t2 t3" = doc 9's fingerprint;
        # raw texts differ, so this dup PROVES stripping ran on both
        (30, "B1 B2 B3 B1 B2 B3 t1 t2 t3"),
        (31, "x1 x2 c1 c2 c3"),    # carries test shingle "c1 c2 c3"
        (32, "y1 y2 y3"),          # clean survivor
    ]
    # (doc_id, clean_text-as-of-its-batch) rows that reach packing:
    # batch 1 has no hot list yet, so its boiler survives (the documented
    # one-batch refresh lag), then 7, 9 and 32
    SURVIVORS = [
        (2, "B1 B2 B3 a1 a2 a3"),
        (3, "B1 B2 B3 b1 b2 b3"),
        (4, "B1 B2 B3 d1 d2 d3"),
        (5, "p1 p2 p3 p4"),
        (7, "u1 u2 u3 u4"),
        (9, "t1 t2 t3"),
        (32, "y1 y2 y3"),
    ]

    def _run(
        self, spark, src, base, ckpt,
        schema="doc_id long, text string", wait=1200, **kw,
    ):
        from ctcityscraper_spark.streaming.events import (
            stream_from_directory,
            streaming_corpus_prep,
        )

        stream = stream_from_directory(
            spark, src, schema, max_files_per_trigger=1
        )
        q = streaming_corpus_prep(
            stream, base, ckpt,
            width=3, min_docs=3, shingle_n=3, seq_len=4, num_shards=2,
            **kw,
        )
        finished = q.awaitTermination(wait)
        if not finished:
            # a timed-out availableNow run leaves batches unprocessed —
            # fail HERE with the cause named instead of downstream with
            # a confusing missing-batch assert
            q.stop()
            raise TimeoutError(
                f"streaming_corpus_prep did not drain within {wait}s"
            )
        return q

    def test_three_batches_end_to_end_then_restart(self, spark, tmp_path):
        import time as _time

        from ctcityscraper_spark.operators.corpus import pack_sequences

        src = str(tmp_path / "incoming")
        base = str(tmp_path / "prep")
        ckpt = str(tmp_path / "ckpt")
        for batch in (self.B1, self.B2, self.B3):
            spark.createDataFrame(
                batch, "doc_id long, text string"
            ).coalesce(1).write.mode("append").parquet(src)
            _time.sleep(1.1)  # file source orders by modification time

        self._run(spark, src, base, ckpt)

        stats = {
            r.batch_id: r
            for r in spark.read.parquet(f"{base}/stats").collect()
        }
        assert set(stats) == {0, 1, 2}
        got = [
            (s.n_batch_in, s.n_dup_dropped, s.n_test_held_out,
             s.n_contam_dropped)
            for s in (stats[0], stats[1], stats[2])
        ]
        assert got == [(4, 0, 0, 0), (6, 2, 1, 1), (3, 1, 0, 1)]

        # packed output == one-shot pack_sequences over the survivors
        # with their as-of-batch clean texts (ids increase across
        # batches, so continuation == fresh rerun, exactly)
        expected = {
            tuple(r)
            for r in pack_sequences(
                spark.createDataFrame(
                    self.SURVIVORS, "doc_id long, clean_text string"
                ),
                text="clean_text", seq_len=4, num_shards=2,
            ).collect()
        }
        packed = spark.read.parquet(f"{base}/packs").drop("batch_id")
        assert {tuple(r) for r in packed.collect()} == expected

        # the held-out test doc is not packed, the contaminated and
        # duplicated docs are gone
        packed_ids = {r.doc_id for r in packed.select("doc_id").collect()}
        assert packed_ids == {d for d, _ in self.SURVIVORS}

        # zone state: the hot segment accumulated 3 (batch1) + 1 (doc 9)
        seg = (
            spark.read.parquet(f"{base}/seg_counts")
            .groupBy("segment").agg(F.sum("n_docs").alias("n"))
        )
        hot = {r.segment: r.n for r in seg.filter(F.col("n") >= 3).collect()}
        assert hot == {"B1 B2 B3": 5}  # + doc 30's raw occurrence

        # health monitors ride the stats ledger: bloom saturation only
        # ever RISES (words only gain bits as the corpus grows) and the
        # residual-contamination audit is live from batch 0 — here the
        # contaminated doc 25/31 were dropped, so the packed train
        # stream shares no 3-shingle with the test split (doc 23)
        mon = [stats[b] for b in (0, 1, 2)]
        fills = [m.bloom_fill for m in mon]
        assert 0 < fills[0] < fills[1] < fills[2] < 1.0, fills
        assert all(0 < m.bloom_est_fpp < 1.0 for m in mon)
        assert all(m.resid_jaccard_est == 0.0 for m in mon)
        assert all(m.resid_inter_est is not None for m in mon)

        # restart with the same checkpoint: nothing reprocesses, every
        # zone keeps its exact row counts (exactly-once end-to-end)
        before = {
            zone: spark.read.parquet(f"{base}/{zone}").count()
            for zone in ("packs", "stats", "seg_counts", "fingerprints",
                         "test_shingles", "cursors", "bloom_words",
                         "train_kmv", "test_kmv")
        }
        self._run(spark, src, base, ckpt)
        after = {
            zone: spark.read.parquet(f"{base}/{zone}").count()
            for zone in before
        }
        assert after == before

    def test_compaction_preserves_results(self, spark, tmp_path):
        """compact_every=2 over the same 3 batches: the state zones
        re-aggregate into epochs with their per-zone merges, and the
        pipeline's OUTPUTS (stats, packs) are identical to the
        uncompacted run. r14: seg_counts' compaction snapshot PRUNES
        (the bounded-state contract) — but at this scale every
        singleton fits inside the default seg_tail_k=256 sample, so
        results are still bit-identical to the uncompacted run (the
        count-loss case is pinned separately in
        test_seg_snapshot_count_loss_contract)."""
        import time as _time

        from ctcityscraper_spark.streaming.events import (
            _compacted_epochs,
            read_incremental_zone,
        )

        src = str(tmp_path / "incoming")
        base = str(tmp_path / "prep")
        ckpt = str(tmp_path / "ckpt")
        for batch in (self.B1, self.B2, self.B3):
            spark.createDataFrame(
                batch, "doc_id long, text string"
            ).coalesce(1).write.mode("append").parquet(src)
            _time.sleep(1.1)
        self._run(spark, src, base, ckpt, compact_every=2)

        stats = {
            r.batch_id: r
            for r in spark.read.parquet(f"{base}/stats").collect()
        }
        got = [
            (s.n_batch_in, s.n_dup_dropped, s.n_test_held_out,
             s.n_contam_dropped)
            for s in (stats[0], stats[1], stats[2])
        ]
        assert got == [(4, 0, 0, 0), (6, 2, 1, 1), (3, 1, 0, 1)]
        packed = spark.read.parquet(f"{base}/packs").drop("batch_id")
        assert {r.doc_id for r in packed.collect()} == {
            d for d, _ in self.SURVIVORS
        }
        # state zones hold a committed epoch; the merged reads still see
        # everything (epoch + tail), with per-zone merge semantics intact
        for zone in ("seg_counts", "cursors", "fingerprints",
                     "test_shingles", "bloom_words"):
            assert _compacted_epochs(spark, f"{base}/{zone}"), zone
        seg = read_incremental_zone(spark, f"{base}/seg_counts")
        hot = {
            r.segment: r.n
            for r in seg.groupBy("segment")
            .agg(F.sum("n_docs").alias("n"))
            .filter(F.col("n") >= 3)
            .collect()
        }
        assert hot == {"B1 B2 B3": 5}
        fps = read_incremental_zone(spark, f"{base}/fingerprints")
        assert fps.count() == fps.distinct().count()
        # outputs never compact — one partition per batch is the ledger
        assert not _compacted_epochs(spark, f"{base}/packs")
        assert not _compacted_epochs(spark, f"{base}/stats")

    def test_dsir_gate_model_zone_and_attrition(self, spark, tmp_path):
        """dsir_gate=True (r13 VERDICT item 6): every batch appends its
        ≤ buckets-row model delta to the dsir_model zone; batch 0
        passes ungated (no strictly-before model — the one-batch lag);
        batches >= 1 score against the merged zone. Pinned at both
        threshold extremes so the mechanism is asserted without
        replicating the scoring (the quality-gate test convention):
        an always-keep threshold leaves packs identical to the gate-off
        run with n_dsir_dropped all 0; an always-drop threshold drops
        every scored train doc from batch 1 on. Restart stays
        exactly-once; resuming under a different target predicate dies
        on the zone marker."""
        import time as _time

        import pytest as _pytest

        src = str(tmp_path / "incoming")
        langs = {23: "zh"}  # the test-split doc; everything else en
        for batch in (self.B1, self.B2, self.B3):
            spark.createDataFrame(
                [(d, t, langs.get(d, "en")) for d, t in batch],
                "doc_id long, text string, lang string",
            ).coalesce(1).write.mode("append").parquet(src)
            _time.sleep(1.1)

        # --- keep-everything threshold: plumbing is a no-op on results ---
        base_k = str(tmp_path / "prep_keep")
        self._run(
            spark, src, base_k, str(tmp_path / "ck1"),
            schema="doc_id long, text string, lang string",
            wait=1200, dsir_gate=True, dsir_target="lang = 'en'",
            dsir_buckets=64, dsir_min_num=-1000, dsir_min_den=1,
        )
        stats = {
            r.batch_id: r.n_dsir_dropped
            for r in spark.read.parquet(f"{base_k}/stats").collect()
        }
        assert stats == {0: 0, 1: 0, 2: 0}
        packed = {
            r.doc_id
            for r in spark.read.parquet(f"{base_k}/packs").collect()
        }
        assert packed == {d for d, _ in self.SURVIVORS}
        # one ≤ buckets-row model delta per batch, SUM-mergeable
        mz = spark.read.parquet(f"{base_k}/dsir_model")
        assert set(r.batch_id for r in mz.select("batch_id").collect()) == {
            0, 1, 2
        }
        from ctcityscraper_spark.operators.corpus import sum_dsir_models

        merged = sum_dsir_models(mz.drop("batch_id"))
        assert 0 < merged.count() <= 64
        # raw counts cover target counts, and the en-dominant fixture
        # has target mass in the model
        row = merged.agg(
            F.sum("c_r").alias("r"), F.sum("c_t").alias("t")
        ).collect()[0]
        assert row.r >= row.t > 0

        # --- drop-everything threshold: batches >= 1 lose every train doc ---
        base_d = str(tmp_path / "prep_drop")
        self._run(
            spark, src, base_d, str(tmp_path / "ck2"),
            schema="doc_id long, text string, lang string",
            wait=1200, dsir_gate=True, dsir_target="lang = 'en'",
            dsir_buckets=64, dsir_min_num=1000, dsir_min_den=1,
        )
        stats = {
            r.batch_id: r.n_dsir_dropped
            for r in spark.read.parquet(f"{base_d}/stats").collect()
        }
        # batch 1's post-contam train survivors are docs 7 and 9; batch
        # 2's is doc 32 (see SURVIVORS); batch 0 is ungated
        assert stats == {0: 0, 1: 2, 2: 1}
        packed = {
            r.doc_id
            for r in spark.read.parquet(f"{base_d}/packs").collect()
        }
        assert packed == {2, 3, 4, 5}

        # restart with the same checkpoint: nothing reprocesses
        before = spark.read.parquet(f"{base_d}/stats").count()
        self._run(
            spark, src, base_d, str(tmp_path / "ck2"),
            schema="doc_id long, text string, lang string",
            wait=1200, dsir_gate=True, dsir_target="lang = 'en'",
            dsir_buckets=64, dsir_min_num=1000, dsir_min_den=1,
        )
        assert spark.read.parquet(f"{base_d}/stats").count() == before

        # resuming under a DIFFERENT target predicate dies on the marker
        _time.sleep(1.1)
        spark.createDataFrame(
            [(70, "s1 s2 s3", "en")], "doc_id long, text string, lang string"
        ).coalesce(1).write.mode("append").parquet(src)
        with _pytest.raises(Exception, match="corpus_prep_pipeline|zone"):
            self._run(
                spark, src, base_d, str(tmp_path / "ck2"),
                schema="doc_id long, text string, lang string",
                wait=1200, dsir_gate=True, dsir_target="lang = 'zh'",
                dsir_buckets=64, dsir_min_num=1000, dsir_min_den=1,
            )

        # the gate demands a target predicate up front
        from ctcityscraper_spark.streaming.events import (
            streaming_corpus_prep,
        )

        with _pytest.raises(ValueError, match="dsir_target"):
            streaming_corpus_prep(
                None, str(tmp_path / "x"), str(tmp_path / "y"),
                dsir_gate=True,
            )

    def test_seg_snapshot_count_loss_contract(self, spark, tmp_path):
        """The bounded seg_counts snapshot (r13 VERDICT item 4): with
        seg_tail_k=0 the compaction keeps ONLY segments at
        >= seg_tail_min occurrences — pre-compaction singletons lose
        their counts (the documented count-loss contract), recurring
        segments keep exact counts, the hot list converges identically,
        restart stays exactly-once, and resuming under different
        pruning knobs dies on the zone marker."""
        import time as _time

        import pytest as _pytest

        src = str(tmp_path / "incoming")
        base = str(tmp_path / "prep")
        ckpt = str(tmp_path / "ckpt")
        for batch in (self.B1, self.B2, self.B3):
            spark.createDataFrame(
                batch, "doc_id long, text string"
            ).coalesce(1).write.mode("append").parquet(src)
            _time.sleep(1.1)
        self._run(spark, src, base, ckpt, compact_every=2, seg_tail_k=0)

        from ctcityscraper_spark.streaming.events import (
            _compacted_epochs,
            read_incremental_zone,
        )

        assert _compacted_epochs(spark, f"{base}/seg_counts")
        seg = {
            r.segment: r.n
            for r in read_incremental_zone(spark, f"{base}/seg_counts")
            .groupBy("segment")
            .agg(F.sum("n_docs").alias("n"))
            .collect()
        }
        # the hot segment keeps its exact cumulative count (4 at the
        # batch-2 compaction boundary + doc 30's delta)
        assert seg["B1 B2 B3"] == 5
        # pre-compaction singletons are GONE (count-loss contract):
        # doc 2's tail segment was seen once in batches 0-1
        assert "a1 a2 a3" not in seg
        # recurring below-hot segments survive the snapshot with exact
        # counts (docs 5+6 share the 'p1 p2 p3' prefix segment)
        assert seg.get("p1 p2 p3") == 2
        # batch 2's own post-snapshot singletons are still intact in
        # their un-compacted delta (pruning happens only at snapshots)
        assert seg.get("y1 y2 y3") == 1
        # outputs are unaffected — pruning touches only who can become
        # hot later, never the already-derived hot list or the packs
        packed = {
            r.doc_id for r in spark.read.parquet(f"{base}/packs").collect()
        }
        assert packed == {d for d, _ in self.SURVIVORS}

        # restart, same knobs: exactly-once, zone rows unchanged (read
        # through the zone reader — the compacted epoch layout is not a
        # flat parquet dir)
        before = read_incremental_zone(spark, f"{base}/seg_counts").count()
        self._run(spark, src, base, ckpt, compact_every=2, seg_tail_k=0)
        assert (
            read_incremental_zone(spark, f"{base}/seg_counts").count()
            == before
        )

        # resume under different pruning: must die on the marker, not
        # silently change which segments can ever become hot
        _time.sleep(1.1)
        spark.createDataFrame(
            [(60, "r1 r2 r3")], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
        with _pytest.raises(Exception, match="corpus_prep_pipeline|zone"):
            self._run(
                spark, src, base, ckpt, compact_every=2, seg_tail_k=9
            )

    def test_config_drift_fails_loudly(self, spark, tmp_path):
        import time as _time

        import pytest as _pytest

        src = str(tmp_path / "incoming")
        base = str(tmp_path / "prep")
        ckpt = str(tmp_path / "ckpt")
        spark.createDataFrame(
            self.B1, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
        self._run(spark, src, base, ckpt)
        # resume under a different split modulus: the next batch must die
        # on the marker check, not silently corrupt five zones at once
        _time.sleep(1.1)
        spark.createDataFrame(
            [(40, "z1 z2 z3")], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
        with _pytest.raises(Exception, match="corpus_prep_pipeline|zone"):
            q = self._run(spark, src, base, ckpt, test_mod=5)

    def test_quality_gate_weights_zone_and_attrition(self, spark, tmp_path):
        """quality_gate=True: batch 0 trains the classifier on its kept
        docs and writes the qclf_weights zone but passes ungated (the
        hot-list one-batch lag); batches >= 1 apply the frozen epoch-0
        weights. Pinned at both teacher extremes so the mechanism is
        asserted without replicating the fit: teacher -1.0 labels all
        docs positive -> all-positive weights -> gate keeps everything
        (packs identical to the gate-off run, n_quality_dropped all 0);
        teacher 10.0 labels all negative -> gate drops every train doc
        from batch 1 on (batch-0 survivors are the only packs)."""
        import time as _time

        src = str(tmp_path / "incoming")
        for batch in (self.B1, self.B2, self.B3):
            spark.createDataFrame(
                batch, "doc_id long, text string"
            ).coalesce(1).write.mode("append").parquet(src)
            _time.sleep(1.1)

        # --- keep-everything teacher: plumbing is a no-op on results ---
        base_k = str(tmp_path / "prep_keep")
        self._run(spark, src, base_k, str(tmp_path / "ck1"),
                  quality_gate=True, quality_teacher=-1.0)
        wz = spark.read.parquet(f"{base_k}/qclf_weights")
        assert [r.trained_batch for r in wz.collect()] == [0]
        stats = {
            r.batch_id: r.n_quality_dropped
            for r in spark.read.parquet(f"{base_k}/stats").collect()
        }
        assert stats == {0: 0, 1: 0, 2: 0}
        packed = {
            r.doc_id
            for r in spark.read.parquet(f"{base_k}/packs").collect()
        }
        assert packed == {d for d, _ in self.SURVIVORS}

        # --- drop-everything teacher: batches >= 1 lose every train doc ---
        base_d = str(tmp_path / "prep_drop")
        self._run(spark, src, base_d, str(tmp_path / "ck2"),
                  quality_gate=True, quality_teacher=10.0)
        stats = {
            r.batch_id: r.n_quality_dropped
            for r in spark.read.parquet(f"{base_d}/stats").collect()
        }
        # batch 1's post-contam train survivors are docs 7 and 9; batch
        # 2's is doc 32 (see SURVIVORS); batch 0 is ungated
        assert stats == {0: 0, 1: 2, 2: 1}
        packed = {
            r.doc_id
            for r in spark.read.parquet(f"{base_d}/packs").collect()
        }
        assert packed == {2, 3, 4, 5}

        # restart with the same checkpoint: nothing reprocesses
        before = spark.read.parquet(f"{base_d}/stats").count()
        self._run(spark, src, base_d, str(tmp_path / "ck2"),
                  quality_gate=True, quality_teacher=10.0)
        assert spark.read.parquet(f"{base_d}/stats").count() == before

        # resuming under a DIFFERENT teacher dies on the marker check
        _time.sleep(1.1)
        spark.createDataFrame(
            [(50, "q1 q2 q3")], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
        import pytest as _pytest

        with _pytest.raises(Exception, match="corpus_prep_pipeline|zone"):
            self._run(spark, src, base_d, str(tmp_path / "ck2"),
                      quality_gate=True, quality_teacher=-1.0)

    def test_deleted_marker_over_live_zones_refuses(self, spark, tmp_path):
        """The composite layout keeps its data under base/<zone>/batch_id=*,
        not base/batch_id=* — a missing/deleted marker while the sub-zones
        still hold data must REFUSE (unversioned stored state), not be
        silently restamped with the current parameters. Regression for the
        dead 'data but no marker' arm over composite zones."""
        import os
        import time as _time

        import pytest as _pytest

        src = str(tmp_path / "incoming")
        base = str(tmp_path / "prep")
        ckpt = str(tmp_path / "ckpt")
        spark.createDataFrame(
            self.B1, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
        self._run(spark, src, base, ckpt)
        os.remove(os.path.join(base, "_zone_meta.json"))
        _time.sleep(1.1)
        spark.createDataFrame(
            [(41, "z1 z2 z3")], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
        # even under DIFFERENT params (the corruption scenario): must die
        # on the no-marker-but-data check, and the marker must NOT come
        # back stamped with the new parameters
        with _pytest.raises(Exception, match="no _zone_meta.json|zone"):
            self._run(spark, src, base, str(tmp_path / "ckpt2"), test_mod=5)
        assert not os.path.exists(os.path.join(base, "_zone_meta.json"))


class TestStreamingIvfPq:
    """streaming_ivf / streaming_pq: the vector-index instances of the
    delta-zone recipe — per-batch assignment/encoding under the FROZEN
    quantizer recorded as the zone's format contract."""

    DIMS = 4
    SCHEMA = "vec_id long, embedding array<double>"
    BATCHES = [
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [2.0, 0.0, -1.0, 0.5])],
        [(3, [0.1, 0.2, 0.3, 0.4]), (4, [-1.0, -2.0, 1.0, 2.0])],
        [(5, [5.0, 4.0, 3.0, 2.0]), (6, [1.0, 1.0, 1.0, 1.0])],
    ]

    def _write_batches(self, spark, src):
        import time as _time

        for rows in self.BATCHES:
            spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))
            _time.sleep(1.1)

    def _all(self, spark):
        return spark.createDataFrame(
            [r for b in self.BATCHES for r in b], self.SCHEMA
        )

    def test_streaming_ivf_merged_equals_one_shot(self, spark, tmp_path):
        import pytest as _pytest

        from ctcityscraper_spark.operators.similarity import (
            assign_ivf_lists,
            hash_pick_centroids,
            ivf_list_stats,
            ivf_probe_topk,
        )
        from ctcityscraper_spark.streaming.events import (
            read_ivf_index,
            stream_from_directory,
            streaming_ivf,
        )

        src = tmp_path / "incoming"
        self._write_batches(spark, src)
        allv = self._all(spark)
        ctrs = hash_pick_centroids(allv, n_lists=3)

        def run(centroids):
            q = streaming_ivf(
                stream_from_directory(
                    spark, str(src), self.SCHEMA, max_files_per_trigger=1
                ),
                index_dir=str(tmp_path / "ivf"),
                checkpoint_dir=str(tmp_path / "ckpt"),
                centroids=centroids,
                compact_every=2,
                stats_dir=str(tmp_path / "ivf_stats"),
            )
            q.awaitTermination(180)

        run(ctrs)
        idx, stored_ctrs = read_ivf_index(spark, str(tmp_path / "ivf"))
        assert stored_ctrs == [[float(x) for x in c] for c in ctrs]
        got = {(r.neighbor_id, r.list_id) for r in idx.collect()}
        want = {
            (r.neighbor_id, r.list_id)
            for r in assign_ivf_lists(allv, ctrs).collect()
        }
        assert got == want and len(got) == 6
        # the live zone feeds the drift monitor and the probe directly
        stats = ivf_list_stats(idx, 3).collect()
        assert sum(r.n for r in stats) == 6
        probes = ivf_probe_topk(
            idx, stored_ctrs, allv.filter(F.col("vec_id") <= 2),
            k=2, n_probe=3,
        ).collect()
        assert {r.query_id for r in probes} == {1, 2}
        # the occupancy monitor rides a per-batch (list_id, n) count
        # ledger — SUM-mergeable, so the summary over any window never
        # re-reads the index. Whole-window summary == one-shot
        # ivf_list_stats over the merged index; a before_batch window
        # sees only the earlier batches' vectors.
        from ctcityscraper_spark.streaming.events import (
            ivf_occupancy_summary,
        )

        summ = ivf_occupancy_summary(
            spark, str(tmp_path / "ivf_stats"), 3
        ).collect()[0]
        full = ivf_list_stats(idx, 3).collect()
        assert summ.n_vectors == 6
        assert summ.max_list == max(r.n for r in full)
        assert summ.imbalance == max(r.n for r in full) * 3 / 6
        assert summ.n_empty_lists == sum(1 for r in full if r.n == 0)
        first = ivf_occupancy_summary(
            spark, str(tmp_path / "ivf_stats"), 3, before_batch=1
        ).collect()[0]
        assert first.n_vectors == 2
        assert ivf_occupancy_summary(
            spark, str(tmp_path / "nope"), 3
        ) is None
        # restart with the same checkpoint: nothing reprocesses
        n_before = idx.count()
        run(ctrs)
        idx2, _ = read_ivf_index(spark, str(tmp_path / "ivf"))
        assert idx2.count() == n_before
        assert ivf_occupancy_summary(
            spark, str(tmp_path / "ivf_stats"), 3
        ).collect()[0].n_vectors == 6
        # resume under DIFFERENT centroids: first new batch dies loudly
        import time as _time

        _time.sleep(1.1)
        spark.createDataFrame(
            [(9, [9.0, 9.0, 9.0, 9.0])], self.SCHEMA
        ).coalesce(1).write.mode("append").parquet(str(src))
        with _pytest.raises(Exception, match="zone|ivf"):
            run([[0.0] * self.DIMS] * 3)

    def test_streaming_pq_merged_equals_one_shot(self, spark, tmp_path):
        from ctcityscraper_spark.operators.similarity import (
            pq_codebook,
            pq_encode_corpus,
        )
        from ctcityscraper_spark.streaming.events import (
            read_pq_codes,
            stream_from_directory,
            streaming_pq,
        )

        src = tmp_path / "incoming"
        self._write_batches(spark, src)
        cb = pq_codebook(self.DIMS, n_sub=2, k=4)
        q = streaming_pq(
            stream_from_directory(
                spark, str(src), self.SCHEMA, max_files_per_trigger=1
            ),
            codes_dir=str(tmp_path / "pq"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            codebook=cb,
            compact_every=2,
            stats_dir=str(tmp_path / "pq_stats"),
        )
        q.awaitTermination(180)
        codes, stored_cb = read_pq_codes(spark, str(tmp_path / "pq"))
        assert stored_cb == [
            [[float(x) for x in ctr] for ctr in sub] for sub in cb
        ]
        got = {(r.neighbor_id, tuple(r.codes)) for r in codes.collect()}
        want = {
            (r.neighbor_id, tuple(r.codes))
            for r in pq_encode_corpus(self._all(spark), cb).collect()
        }
        assert got == want and len(got) == 6

        # the recon-error monitor rides a per-batch stats zone, and the
        # fixed-point SSE is exactly SUM-mergeable: summing the ledger
        # equals the one-shot pq_recon_stats over everything ingested —
        # a drift job reads the ledger, never re-scans vectors
        from ctcityscraper_spark.operators.similarity import pq_recon_stats

        srows = {
            r.batch_id: r
            for r in spark.read.parquet(str(tmp_path / "pq_stats")).collect()
        }
        assert set(srows) == {0, 1, 2}
        assert all(r.n == 2 and r.sse_micros >= 0 for r in srows.values())
        whole = pq_recon_stats(self._all(spark), cb).collect()[0]
        assert sum(r.sse_micros for r in srows.values()) == whole.sse_micros
        assert sum(r.n for r in srows.values()) == whole.n

    def test_unversioned_zone_refuses(self, spark, tmp_path):
        import pytest as _pytest

        from ctcityscraper_spark.streaming.events import (
            read_ivf_index,
            read_pq_codes,
        )

        # data-bearing dir with no marker: both readers must refuse
        d = tmp_path / "zone"
        spark.createDataFrame(
            [(1, [1.0])], "neighbor_id long, cv array<double>"
        ).write.parquet(str(d / "batch_id=0"))
        with _pytest.raises(ValueError, match="unversioned"):
            read_ivf_index(spark, str(d))
        with _pytest.raises(ValueError, match="unversioned"):
            read_pq_codes(spark, str(d))
        # absent zone: clean None
        assert read_ivf_index(spark, str(tmp_path / "nope")) == (None, None)


class TestStreamingKmeansState:
    """streaming_kmeans_state: the clustering instance of the delta-zone
    recipe — per-batch ≤ k-row SUM-mergeable Lloyd state under FROZEN
    integer-micro centroids recorded as the zone's format contract."""

    SCHEMA = "vec_id long, embedding array<double>"
    BATCHES = [
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [2.0, 0.0, -1.0, 0.5])],
        [(3, [0.1, 0.2, 0.3, 0.4]), (4, [-1.0, -2.0, 1.0, 2.0])],
        [(5, [5.0, 4.0, 3.0, 2.0]), (6, [1.0, 1.0, 1.0, 1.0])],
    ]

    def _write_batches(self, spark, src):
        import time as _time

        for rows in self.BATCHES:
            spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))
            _time.sleep(1.1)

    def test_streamed_state_equals_one_shot(self, spark, tmp_path):
        import pytest as _pytest

        from ctcityscraper_spark.operators.clustering import (
            centroids_from_state,
            hash_init_centroids_micros,
            kmeans_partial_state,
            sum_kmeans_state,
        )
        from ctcityscraper_spark.streaming.events import (
            read_kmeans_state,
            refreshed_kmeans_centroids,
            stream_from_directory,
            streaming_kmeans_state,
        )

        src = tmp_path / "incoming"
        self._write_batches(spark, src)
        allv = spark.createDataFrame(
            [r for b in self.BATCHES for r in b], self.SCHEMA
        )
        ctrs = hash_init_centroids_micros(allv, 3)

        def run(centroids):
            q = streaming_kmeans_state(
                stream_from_directory(
                    spark, str(src), self.SCHEMA, max_files_per_trigger=1
                ),
                state_dir=str(tmp_path / "km"),
                checkpoint_dir=str(tmp_path / "ckpt"),
                centroids=centroids,
                compact_every=2,
            )
            q.awaitTermination(180)

        run(ctrs)
        rows, stored = read_kmeans_state(spark, str(tmp_path / "km"))
        assert stored == [[int(x) for x in c] for c in ctrs]
        key = lambda r: tuple(r[c] for c in sorted(r.asDict()))
        got = sorted(map(key, sum_kmeans_state(rows).collect()))
        want = sorted(
            map(key, kmeans_partial_state(allv, ctrs).collect())
        )
        assert got == want  # merged deltas == one-shot full-corpus state
        # the refresh helper takes one exact Lloyd step off the ledger
        assert refreshed_kmeans_centroids(
            spark, str(tmp_path / "km")
        ) == centroids_from_state(kmeans_partial_state(allv, ctrs), ctrs)
        # sub-epoch windowed reads are unavailable once compaction folded
        # those batches into an epoch (upto=2 here): rows come back None
        # rather than silently over-counting
        early, _ = read_kmeans_state(spark, str(tmp_path / "km"), 1)
        assert early is None
        # restart with the same checkpoint: nothing reprocesses
        run(ctrs)
        rows2, _ = read_kmeans_state(spark, str(tmp_path / "km"))
        assert sorted(map(key, sum_kmeans_state(rows2).collect())) == got
        # resume under DIFFERENT centroids: first new batch dies loudly
        import time as _time

        _time.sleep(1.1)
        spark.createDataFrame(
            [(9, [9.0, 9.0, 9.0, 9.0])], self.SCHEMA
        ).coalesce(1).write.mode("append").parquet(str(src))
        with _pytest.raises(Exception, match="zone|kmeans"):
            run([[0] * 4] * 3)
        # absent zone reads as (None, None)
        assert read_kmeans_state(spark, str(tmp_path / "nope")) == (
            None,
            None,
        )


class TestStreamingDsir:
    """streaming_dsir: the data-selection instance of the delta-zone
    recipe — per-batch ≤ B-row SUM-mergeable bucket-model deltas under a
    frozen (buckets, seed, ngram, target) config contract."""

    SCHEMA = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    BATCHES = [
        [(0, "alpha beta alpha", "en", "s0", 10),
         (1, "gamma delta", "zh", "s1", 8)],
        [(2, "beta alpha beta", "en", "s0", 10),
         (3, "delta gamma delta", "fr", "s1", 12)],
        [(4, "alpha beta gamma", "zh", "s1", 10)],
    ]

    def test_streamed_model_equals_one_shot_and_scores(self, spark, tmp_path):
        import time as _time

        import pytest as _pytest
        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators.corpus import (
            dsir_bucket_model,
            dsir_importance,
            dsir_score_with_model,
            sum_dsir_models,
        )
        from ctcityscraper_spark.streaming.events import (
            read_dsir_model,
            stream_from_directory,
            streaming_dsir,
        )

        src = tmp_path / "incoming"
        for rows in self.BATCHES:
            spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))
            _time.sleep(1.1)
        allv = spark.createDataFrame(
            [r for b in self.BATCHES for r in b], self.SCHEMA
        )

        def run(target_sql):
            q = streaming_dsir(
                stream_from_directory(
                    spark, str(src), self.SCHEMA, max_files_per_trigger=1
                ),
                model_dir=str(tmp_path / "dsir"),
                checkpoint_dir=str(tmp_path / "ckpt"),
                target_sql=target_sql,
                n_buckets=64,
                compact_every=2,
            )
            q.awaitTermination(180)

        run("coalesce(lang = 'en', FALSE)")
        rows, cfg = read_dsir_model(spark, str(tmp_path / "dsir"))
        assert cfg["n_buckets"] == 64 and cfg["target_sql"].startswith("coalesce")
        key = lambda r: (r.b, r.c_r, r.c_t)
        got = sorted(map(key, sum_dsir_models(rows).collect()))
        want = sorted(
            map(
                key,
                dsir_bucket_model(
                    allv, F.col("lang") == "en", n_buckets=64
                ).collect(),
            )
        )
        assert got == want  # merged deltas == one-shot full-corpus model
        # scoring against the streamed model == direct dsir_importance
        scored = {
            r.doc_id: (r.n_tokens, r.weight_bits)
            for r in dsir_score_with_model(
                allv, sum_dsir_models(rows), n_buckets=64
            ).collect()
        }
        direct = {
            r.doc_id: (r.n_tokens, r.weight_bits)
            for r in dsir_importance(
                allv, F.col("lang") == "en", n_buckets=64
            ).collect()
        }
        assert scored == direct
        # out-of-model features take the smoothing floor, not a crash
        fresh = spark.createDataFrame(
            [(99, "omicron upsilon", "en", "s9", 8)], self.SCHEMA
        )
        out = dsir_score_with_model(
            fresh, sum_dsir_models(rows), n_buckets=64
        ).collect()
        assert len(out) == 1 and out[0].n_tokens == 2
        # restart with the same checkpoint: nothing reprocesses
        run("coalesce(lang = 'en', FALSE)")
        rows2, _ = read_dsir_model(spark, str(tmp_path / "dsir"))
        assert sorted(map(key, sum_dsir_models(rows2).collect())) == got
        # resume under a DIFFERENT target predicate: dies on first batch
        _time.sleep(1.1)
        spark.createDataFrame(
            [(100, "tail doc", "en", "s0", 8)], self.SCHEMA
        ).coalesce(1).write.mode("append").parquet(str(src))
        with _pytest.raises(Exception, match="zone|dsir"):
            run("coalesce(lang = 'zh', FALSE)")


class TestStreamingBm25Index:
    """streaming_bm25_index: the RETRIEVAL instance of the delta-zone
    recipe — per-batch inverted-index deltas (term-bucket-partitioned
    postings + SUM-mergeable stats) under a frozen layout contract,
    served by text.bm25_topk_from_index without re-reading the corpus."""

    SCHEMA = "doc_id long, text string"
    BATCHES = [
        [(0, "rare common common common"), (1, "common filler tail")],
        [(2, "common common common common"), (3, "filler filler filler")],
        [(4, "rare tail common")],
    ]
    TERMS = ["rare", "common"]

    def test_streamed_index_serves_and_restarts(self, spark, tmp_path):
        import time as _time

        import pytest as _pytest

        from ctcityscraper_spark.operators.text import (
            bm25_topk,
            bm25_topk_from_index,
        )
        from ctcityscraper_spark.streaming.events import (
            _compacted_epochs,
            read_bm25_index,
            stream_from_directory,
            streaming_bm25_index,
        )

        src = tmp_path / "incoming"
        for rows in self.BATCHES:
            spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))
            _time.sleep(1.1)
        allv = spark.createDataFrame(
            [r for b in self.BATCHES for r in b], self.SCHEMA
        )

        def run(nb=16):
            q = streaming_bm25_index(
                stream_from_directory(
                    spark, str(src), self.SCHEMA, max_files_per_trigger=1
                ),
                index_dir=str(tmp_path / "bm25"),
                checkpoint_dir=str(tmp_path / "ckpt"),
                n_term_buckets=nb,
                compact_every=2,
            )
            if not q.awaitTermination(300):
                q.stop()
                raise TimeoutError("stream did not drain")

        run()
        p, t, s, cfg = read_bm25_index(spark, str(tmp_path / "bm25"))
        assert cfg["n_term_buckets"] == 16
        assert "term_bucket" in p.columns
        # the batch-2 compaction epoch keeps the pruning layout
        epochs = _compacted_epochs(spark, str(tmp_path / "bm25" / "postings"))
        assert epochs
        import os

        epoch_dir = epochs[-1][1].removeprefix("file:")
        assert any(
            d.startswith("term_bucket=") for d in os.listdir(epoch_dir)
        )
        served = bm25_topk_from_index(
            p, t, s, self.TERMS, n_term_buckets=16
        )
        # the bucket filter reaches the scan as a partition filter
        plan = served._jdf.queryExecution().executedPlan().toString()
        assert "term_bucket" in plan and "PartitionFilters" in plan
        fresh = sorted(map(tuple, bm25_topk(allv, self.TERMS).collect()))
        assert sorted(map(tuple, served.collect())) == fresh and fresh

        # restart with the same checkpoint: nothing reprocesses
        run()
        p2, t2, s2, _ = read_bm25_index(spark, str(tmp_path / "bm25"))
        assert sorted(map(tuple, bm25_topk_from_index(
            p2, t2, s2, self.TERMS, n_term_buckets=16
        ).collect())) == fresh

        # resume under a DIFFERENT bucket layout: dies on first batch
        _time.sleep(1.1)
        spark.createDataFrame(
            [(9, "tail common doc")], self.SCHEMA
        ).coalesce(1).write.mode("append").parquet(str(src))
        with _pytest.raises(Exception, match="zone|bm25"):
            run(nb=32)

        # absent zone reads as all-None
        assert read_bm25_index(spark, str(tmp_path / "nope")) == (
            None, None, None, None,
        )

        # the health monitor runs off the STORED zones (corpus never
        # re-read) and its occupancy/vocab integers match a fresh
        # one-shot index build over everything ingested
        from ctcityscraper_spark.operators.text import (
            bm25_bucket_postings,
            bm25_index_delta,
            bm25_index_health,
        )

        fp, ft, fs = bm25_index_delta(allv)
        want_health = bm25_index_health(
            bm25_bucket_postings(fp, 16), ft, fs, n_buckets=16
        ).collect()
        got_health = bm25_index_health(p2, t2, s2, n_buckets=16).collect()
        assert [tuple(r) for r in got_health] == [
            tuple(r) for r in want_health
        ]

    def test_stamped_marker_without_deltas_reads_all_none(
        self, spark, tmp_path
    ):
        """Marker stamped but no delta committed (crash between
        ensure_zone_meta and the first batch write, or an empty source):
        read_bm25_index returns all-None — the same "no index yet"
        branch as an absent zone — instead of (None, None, None, meta)
        frames that would die inside bm25_topk_from_index."""
        from ctcityscraper_spark.streaming.events import (
            _BM25_INDEX_REBUILD_HINT,
            _bm25_index_zone_meta,
            ensure_zone_meta,
            read_bm25_index,
        )

        d = str(tmp_path / "bm25")
        ensure_zone_meta(
            spark, d, _bm25_index_zone_meta(16, "text", "doc_id"),
            _BM25_INDEX_REBUILD_HINT,
            data_dirs=[f"{d}/{n}" for n in ("postings", "term_stats", "totals")],
        )
        assert read_bm25_index(spark, d) == (None, None, None, None)

    def test_torn_index_state_raises(self, spark, tmp_path):
        """One zone has data while a sibling is empty — torn stored
        state raises with the rebuild hint rather than serving a
        partial index."""
        import pytest as _pytest

        from ctcityscraper_spark.streaming.events import (
            _BM25_INDEX_REBUILD_HINT,
            _bm25_index_zone_meta,
            ensure_zone_meta,
            read_bm25_index,
        )

        d = str(tmp_path / "bm25")
        ensure_zone_meta(
            spark, d, _bm25_index_zone_meta(16, "text", "doc_id"),
            _BM25_INDEX_REBUILD_HINT,
            data_dirs=[f"{d}/{n}" for n in ("postings", "term_stats", "totals")],
        )
        spark.createDataFrame(
            [(5, 7, 100)], "n_docs long, x long, total_tokens long"
        ).write.parquet(f"{d}/totals/batch_id=0")
        with _pytest.raises(ValueError, match="torn index state"):
            read_bm25_index(spark, d)


class TestIncrementalZoneTailReads:
    """read_incremental_zone groups FLAT tail dirs into one multi-path
    read (driver planning cost stays O(1) in stream length when
    compaction is off) and falls back to per-dir reads only for deltas
    carrying their own partition layout."""

    def test_flat_tail_single_multipath_read(self, spark, tmp_path):
        from unittest import mock

        from pyspark.sql.readwriter import DataFrameReader

        from ctcityscraper_spark.streaming.events import (
            read_incremental_zone,
        )

        base = str(tmp_path / "zone")
        for bid in range(5):
            spark.createDataFrame(
                [(bid, f"row{bid}")], "k long, v string"
            ).write.parquet(f"{base}/batch_id={bid}")

        real = DataFrameReader.parquet
        calls = []

        def counting(self, *paths, **kw):
            calls.append(paths)
            return real(self, *paths, **kw)

        with mock.patch.object(DataFrameReader, "parquet", counting):
            df = read_incremental_zone(spark, base)
            rows = sorted((r.k, r.v) for r in df.collect())
        assert rows == [(b, f"row{b}") for b in range(5)]
        # exactly ONE reader call, carrying all 5 flat tail dirs
        assert len(calls) == 1 and len(calls[0]) == 5

    def test_partitioned_tail_reads_per_dir(self, spark, tmp_path):
        from unittest import mock

        from pyspark.sql.readwriter import DataFrameReader

        from ctcityscraper_spark.streaming.events import (
            read_incremental_zone,
        )

        base = str(tmp_path / "zone")
        for bid in range(3):
            spark.createDataFrame(
                [(bid, bid % 2, "x")], "k long, part long, v string"
            ).write.partitionBy("part").parquet(f"{base}/batch_id={bid}")

        real = DataFrameReader.parquet
        calls = []

        def counting(self, *paths, **kw):
            calls.append(paths)
            return real(self, *paths, **kw)

        with mock.patch.object(DataFrameReader, "parquet", counting):
            df = read_incremental_zone(spark, base)
            assert df.count() == 3 and "part" in df.columns
        # partition-laid-out deltas: one reader call per dir
        assert len(calls) == 3 and all(len(c) == 1 for c in calls)


class TestSegTailMinValidation:
    def test_seg_tail_min_above_min_docs_rejected(self, spark, tmp_path):
        """seg_tail_min > min_docs would let compaction silently drop
        already-HOT segments (count in [min_docs, seg_tail_min)) and
        flap the hot list across epochs — rejected up front."""
        import pytest as _pytest

        from ctcityscraper_spark.streaming.events import (
            streaming_corpus_prep,
        )

        stream = spark.readStream.format("rate").load()
        with _pytest.raises(ValueError, match="seg_tail_min"):
            streaming_corpus_prep(
                stream,
                base_dir=str(tmp_path / "prep"),
                checkpoint_dir=str(tmp_path / "ckpt"),
                min_docs=2,
                seg_tail_min=3,
            )


class TestStreamingComponents:
    """streaming_components: the GRAPH instance of the delta-zone recipe
    — per-batch changed-rows assignment deltas under newest-epoch-wins
    merge; merged zone == fresh connected_components over every pair
    ever ingested."""

    SCHEMA = "doc_a long, doc_b long"
    # batch 2 BRIDGES the two components born in batches 0/1 through a
    # new node, and batch 2's smallest id (0) relabels everything — the
    # adversarial path for incremental maintenance
    BATCHES = [
        [(10, 11), (11, 12)],
        [(20, 21), (5, 6)],
        [(12, 20), (0, 5), (30, 30)],
    ]

    def _write_batches(self, spark, src):
        import time as _time

        for rows in self.BATCHES:
            spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))
            _time.sleep(1.1)

    def test_streamed_assignment_equals_fresh_cc(
        self, spark, tmp_path, persistent_rdd_ids
    ):
        from ctcityscraper_spark.operators.graph import connected_components
        from ctcityscraper_spark.streaming.events import (
            read_cc_assignments,
            stream_from_directory,
            streaming_components,
        )

        src = tmp_path / "incoming"
        self._write_batches(spark, src)
        allp = spark.createDataFrame(
            [r for b in self.BATCHES for r in b], self.SCHEMA
        )

        def run():
            q = streaming_components(
                stream_from_directory(
                    spark, str(src), self.SCHEMA, max_files_per_trigger=1
                ),
                state_dir=str(tmp_path / "cc"),
                checkpoint_dir=str(tmp_path / "ckpt"),
                compact_every=2,
            )
            if not q.awaitTermination(180):
                q.stop()
                raise TimeoutError("stream did not drain")

        ids0 = persistent_rdd_ids(spark)
        run()
        # no cached blocks leak from the per-batch fixpoints
        assert persistent_rdd_ids(spark) - ids0 == set()
        merged, meta = read_cc_assignments(spark, str(tmp_path / "cc"))
        assert meta["kind"] == "cc_assignments"
        got = sorted((r.node, r.component) for r in merged.collect())
        fresh = sorted(map(tuple, connected_components(allp).collect()))
        assert got == fresh
        # the bridge batch merged the two batch-0/1 chains under root 10,
        # node 0 relabeled {5,6} under root 0, and the self-loop doc
        # registered as a singleton
        assert {c for _, c in got} == {0, 10, 30}

        # windowed read before the bridge batch: two separate components
        early, _ = read_cc_assignments(spark, str(tmp_path / "cc"), 2)
        early_got = sorted((r.node, r.component) for r in early.collect())
        assert early_got == sorted(
            map(
                tuple,
                connected_components(
                    spark.createDataFrame(
                        self.BATCHES[0] + self.BATCHES[1], self.SCHEMA
                    )
                ).collect(),
            )
        )

        # restart with the same checkpoint: nothing reprocesses
        run()
        merged2, _ = read_cc_assignments(spark, str(tmp_path / "cc"))
        assert (
            sorted((r.node, r.component) for r in merged2.collect()) == got
        )

        # a LATER batch keeps maintaining the compacted zone
        import time as _time

        _time.sleep(1.1)
        spark.createDataFrame([(40, 12)], self.SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        run()
        merged3, _ = read_cc_assignments(spark, str(tmp_path / "cc"))
        got3 = sorted((r.node, r.component) for r in merged3.collect())
        assert got3 == sorted(
            map(
                tuple,
                connected_components(
                    allp.unionByName(
                        spark.createDataFrame([(40, 12)], self.SCHEMA)
                    )
                ).collect(),
            )
        )
        assert (40, 10) in got3

        # absent zone reads as (None, None)
        assert read_cc_assignments(spark, str(tmp_path / "nope")) == (
            None,
            None,
        )


class TestStreamingWordFreqs:
    """streaming_word_freqs: the tokenizer-training instance of the
    delta-zone recipe — SUM-mergeable (word, freq) deltas; retraining
    off the merged zone equals a fresh corpus-scan train, exactly."""

    SCHEMA = "doc_id long, text string"
    BATCHES = [
        [(1, "the cat sat"), (2, "the hat")],
        [(3, "that cat"), (4, "the the the")],
        [(5, "sat sat hat")],
    ]

    def test_streamed_freqs_train_equals_fresh(self, spark, tmp_path):
        import time as _time

        import pytest as _pytest

        from ctcityscraper_spark.operators.bpe import (
            bpe_train,
            bpe_train_from_freqs,
            bpe_word_freqs,
            sum_word_freqs,
        )
        from ctcityscraper_spark.streaming.events import (
            read_word_freqs,
            stream_from_directory,
            streaming_word_freqs,
        )

        src = tmp_path / "incoming"
        for rows in self.BATCHES:
            spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))
            _time.sleep(1.1)
        allv = spark.createDataFrame(
            [r for b in self.BATCHES for r in b], self.SCHEMA
        )

        def run(text="text"):
            q = streaming_word_freqs(
                stream_from_directory(
                    spark, str(src), self.SCHEMA, max_files_per_trigger=1
                ),
                freqs_dir=str(tmp_path / "wf"),
                checkpoint_dir=str(tmp_path / "ckpt"),
                text=text,
                compact_every=2,
            )
            if not q.awaitTermination(180):
                q.stop()
                raise TimeoutError("stream did not drain")

        run()
        rows, cfg = read_word_freqs(spark, str(tmp_path / "wf"))
        assert cfg == {"text": "text"}
        merged = sorted(
            (r.word, r.freq) for r in sum_word_freqs(rows).collect()
        )
        fresh = sorted(
            (r.word, r.freq) for r in bpe_word_freqs(allv).collect()
        )
        assert merged == fresh
        # retraining off the zone == fresh corpus-scan training
        got = [
            tuple(r)
            for r in bpe_train_from_freqs(sum_word_freqs(rows), 3).collect()
        ]
        want = [tuple(r) for r in bpe_train(allv, 3).collect()]
        assert got == want and len(want) == 3

        # restart with the same checkpoint: nothing reprocesses
        run()
        rows2, _ = read_word_freqs(spark, str(tmp_path / "wf"))
        assert (
            sorted((r.word, r.freq) for r in sum_word_freqs(rows2).collect())
            == merged
        )

        # resume under a DIFFERENT text column: dies on first new batch
        _time.sleep(1.1)
        spark.createDataFrame([(9, "tail doc")], self.SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(str(src))
        with _pytest.raises(Exception, match="zone|word_freqs"):
            run(text="other")

        # absent zone reads as (None, None)
        assert read_word_freqs(spark, str(tmp_path / "nope")) == (None, None)


class TestStreamingDropList:
    """streaming_drop_list: the whole nightly dedup artifact (pairs ->
    clusters -> keep-best drops) continuously maintained — affected-
    component re-election per batch; merged zone == fresh full-graph
    cascade->CC->keep-best at every point."""

    SCHEMA = "doc_a long, doc_b long"
    # batch 2 merges the two clusters; doc 3 (the longest text) becomes
    # the global keeper, so doc 2 — a KEEPER after batch 0 — must flip
    # to dropped, and doc 1's keep_id must update
    BATCHES = [[(1, 2)], [(3, 4)], [(2, 3)]]
    DOCS = [
        (1, "aa"), (2, "aaaa"), (3, "aaaaaaaa"), (4, "a"),
        (10, "never-in-any-pair"),
    ]

    @pytest.mark.parametrize("caller_cached", [False, True],
                             ids=["plain", "caller_cached"])
    def test_streamed_drops_equal_fresh(
        self, spark, tmp_path, persistent_rdd_ids, caller_cached
    ):
        """``caller_cached``: the caller persists ``docs`` but does not
        materialize it; the stream must free only its own blocks, so the
        caller's cache survives the run until the caller unpersists it."""
        import time as _time

        import pytest as _pytest

        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators.dedup import (
            keep_best_representative,
        )
        from ctcityscraper_spark.operators.graph import connected_components
        from ctcityscraper_spark.streaming.events import (
            read_drop_list,
            stream_from_directory,
            streaming_drop_list,
        )

        docs = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        if caller_cached:
            docs = docs.persist()
        src = tmp_path / "incoming"
        for rows in self.BATCHES:
            spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))
            _time.sleep(1.1)

        def run(quality="length(text) / 1000.0"):
            q = streaming_drop_list(
                stream_from_directory(
                    spark, str(src), self.SCHEMA, max_files_per_trigger=1
                ),
                docs,
                base_dir=str(tmp_path / "dl"),
                checkpoint_dir=str(tmp_path / "ckpt"),
                quality_sql=quality,
                compact_every=2,
            )
            if not q.awaitTermination(240):
                q.stop()
                raise TimeoutError("stream did not drain")

        ids0 = persistent_rdd_ids(spark)
        run()
        if caller_cached:
            assert len(persistent_rdd_ids(spark) - ids0) == 1
            docs.unpersist(blocking=True)
        assert persistent_rdd_ids(spark) - ids0 == set()
        merged, meta = read_drop_list(spark, str(tmp_path / "dl"))
        assert meta["config"]["quality_sql"] == "length(text) / 1000.0"
        got = sorted((r.drop_id, r.keep_id) for r in merged.collect())
        allp = spark.createDataFrame(
            [r for b in self.BATCHES for r in b], self.SCHEMA
        )
        fresh = sorted(
            (r.drop_id, r.keep_id)
            for r in keep_best_representative(
                docs, connected_components(allp), F.length("text") / 1000.0
            ).collect()
        )
        assert got == fresh == [(1, 3), (2, 3), (4, 3)]

        # the point-in-time read BEFORE the merge batch: doc 2 was a
        # keeper then (1 dropped for 2; 4 dropped for 3)
        early, _ = read_drop_list(spark, str(tmp_path / "dl"), 2)
        assert sorted((r.drop_id, r.keep_id) for r in early.collect()) == [
            (1, 2), (4, 3),
        ]

        # restart with the same checkpoint: nothing reprocesses
        run()
        merged2, _ = read_drop_list(spark, str(tmp_path / "dl"))
        assert sorted(
            (r.drop_id, r.keep_id) for r in merged2.collect()
        ) == got

        # resume under a DIFFERENT quality ranking: refuses loudly
        _time.sleep(1.1)
        spark.createDataFrame([(4, 10)], self.SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        with _pytest.raises(Exception, match="zone|drop_list"):
            run(quality="doc_id * 1.0")

        # absent zone reads as (None, None)
        assert read_drop_list(spark, str(tmp_path / "nope")) == (None, None)


class TestLayeredKeyedRead:
    def test_post_compaction_read_shuffles_only_the_tail(
        self, spark, tmp_path
    ):
        """After compaction the newest-wins merge must NOT re-shuffle
        the whole zone: the epoch (already one merged row per key)
        joins via broadcast anti-join; the only hash exchange in the
        plan is the TAIL's merge aggregate — O(delta) state upkeep at
        any stream length."""
        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators.graph import latest_components
        from ctcityscraper_spark.streaming.events import (
            _layered_keyed_read,
            compact_incremental_zone,
        )

        base = str(tmp_path / "zone")
        for bid in range(4):
            spark.createDataFrame(
                [(bid * 10 + i, bid * 10 + i, bid) for i in range(3)],
                "node long, component long, epoch long",
            ).write.parquet(f"{base}/batch_id={bid}")
        assert compact_incremental_zone(
            spark, base, 3, transform=latest_components
        )
        merged = _layered_keyed_read(
            spark, base, "node", latest_components
        )
        rows = sorted((r.node, r.component, r.epoch) for r in merged.collect())
        assert rows == sorted(
            (b * 10 + i, b * 10 + i, b) for b in range(4) for i in range(3)
        )
        plan = merged._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        import re

        # both hash exchanges sit on TAIL subtrees (the batch_id=3 scan:
        # its distinct-node build side + its merge aggregate); the epoch
        # scan feeds the anti-join directly via broadcast
        assert len(re.findall(r"Exchange hashpartitioning", final)) == 2
        # ... and the epoch side streams into the anti-join unexchanged
        assert re.search(r"BroadcastHashJoin .*LeftAnti", final)
        assert "BroadcastExchange" in plan or "BroadcastQueryStage" in plan
        # newest-wins across the layers: overwrite one epoch key from
        # the tail and confirm the tail row supersedes the epoch row
        spark.createDataFrame(
            [(0, 999, 5)], "node long, component long, epoch long"
        ).write.parquet(f"{base}/batch_id=5")
        merged2 = _layered_keyed_read(
            spark, base, "node", latest_components
        )
        got = {r.node: r.component for r in merged2.collect()}
        assert got[0] == 999 and got[11] == 11

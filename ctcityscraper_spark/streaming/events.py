"""Structured Streaming: the reference's micro-batch semantics, first-class.

The reference hand-rolls a micro-batch stream (buffer -> flush every
batch_size -> checkpoint, SURVEY §2.10 T1-T3). Structured Streaming gives the
same contract natively: file-source micro-batches, checkpointLocation for
exactly-once offsets, and ``foreachBatch`` for the stamp+append sink.

These wrappers expose:
- ``stream_from_directory``: parquet-directory stream (the append-only table
  layout IS a stream of files)
- ``tumbling_window_agg`` / ``sliding_window_counts``: event-time windows
  with watermark-bounded state
- ``write_scd2_stream``: foreachBatch sink stamping scraped_at/row_hash and
  appending via ParquetStore — the streaming twin of engine.run_load

Delta-zone recipe. ``write_scd2_stream`` and every ``streaming_*`` sink
family below keep their stored state as delta zones (one ``batch_id=N``
partition per micro-batch, plus compacted epochs) and run through ONE
private runner, ``_zone_stream``. Per micro-batch, in order, it guarantees:

- empty-batch skip: an empty batch returns before touching any zone;
- meta stamp/validate: the zone's ``_zone_meta.json`` is written on the
  first batch and checked on every later one (:func:`ensure_zone_meta`),
  so a stream resumed under changed parameters dies before it writes;
- compaction schedule: at every ``compact_every`` boundary
  (``batch_id > 0``) each listed state zone folds the batches strictly
  before this one into one epoch (:func:`compact_incremental_zone`, which
  also finishes a crashed compaction's cleanup on replay);
- per-batch artifact release: the family's body runs inside one
  ``operators.artifacts.scope()``, and every cached frame or checkpoint the
  batch created is freed when it ends, so a long-lived driver accumulates
  no per-batch blocks;
- exactly-once through ``batch_id=N`` overwrite: the streaming checkpoint
  skips completed batches, every write overwrites this batch's own
  partition (a replayed batch rewrites, never appends), and every zone read
  is strictly-before, so a replay never sees its own half-written deltas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ctcityscraper_spark.sources.store import ParquetStore


def stream_from_directory(
    spark: SparkSession,
    path: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Parquet directory as a micro-batch stream (source throttling via
    maxFilesPerTrigger — the reference's batch_size analogue, T1/T4)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def tumbling_window_agg(
    events: DataFrame,
    window_duration: str = "6 hours",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time tumbling window counts+sums with late-data watermark.

    Batch twin under the oracle gate: plans/queries.events_tumbling_6h.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_duration), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
    )


def sliding_window_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Overlapping event-time windows (no reference analogue — extension)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_duration, slide), "user_id")
        .agg(F.count("*").alias("n"))
    )


def streaming_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup with bounded state (T3's streaming twin).

    ``dropDuplicatesWithinWatermark`` keeps one row per key and EVICTS key
    state older than the watermark — the property that makes streaming
    dedup viable at 100 TB/day: state is bounded by the watermark horizon,
    not by total history. (The batch refresh dedup in store.write_batch
    keeps all-history hashes instead; that is the reference's semantics
    for slowly-changing scraped tables, while this is the right contract
    for high-volume append streams.)
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "1 hour",
    within: str = "interval 6 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join with a time-range bound.

    Both sides buffer only ``watermark + within`` of state (Spark derives
    the eviction condition from the range predicate) — the standard
    enrichment-join contract: unbounded streams, bounded state.
    """
    l_ts, r_ts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    return left.alias("l").withWatermark(left_ts, watermark).join(
        right.alias("r").withWatermark(right_ts, watermark),
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (r_ts >= l_ts)
        & (r_ts <= l_ts + F.expr(within)),
    )


def write_scd2_stream(
    stream: DataFrame,
    store: ParquetStore,
    table: str,
    checkpoint_dir: str,
    dedup_against_existing: bool = False,
):
    """foreachBatch sink: stamp metadata + append (+ optional refresh dedup).

    Exactly-once-per-batch via the streaming checkpoint — the principled
    version of the reference's JSON checkpoint (T2). Returns the
    StreamingQuery handle; caller stops it.
    """

    def body(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        store.write_batch(
            table, batch_df, dedup_against_existing=dedup_against_existing
        )

    return _zone_stream(stream, checkpoint_dir, body)


def _zone_stream(
    stream: DataFrame,
    checkpoint_dir: str,
    body,
    *,
    meta: tuple | None = None,
    compact_every: int | None = None,
    compactions=(),
):
    """Start ``body(spark, batch_df, batch_id)`` as an availableNow
    ``foreachBatch`` sink under the module's delta-zone recipe.

    ``meta`` is :func:`ensure_zone_meta`'s positional tail ``(base,
    expected, rebuild_hint[, data_dirs])``; ``compactions`` lists
    ``(zone_dir, compact_incremental_zone kwargs)`` pairs compacted at
    every ``compact_every`` boundary before the body runs. Every cached
    frame or checkpoint the body registers with ``operators.artifacts``
    is freed when it ends. Returns the StreamingQuery handle."""
    from ctcityscraper_spark.operators import artifacts

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if meta is not None:
            ensure_zone_meta(spark, *meta)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            for zone_dir, kw in compactions:
                compact_incremental_zone(spark, zone_dir, batch_id, **kw)
        with artifacts.scope():
            body(spark, batch_df, batch_id)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _put(
    df: DataFrame, base: str, batch_id: int,
    partition_by: list[str] | None = None,
) -> None:
    """Write one batch's delta as the idempotent ``base/batch_id=N``
    overwrite."""
    writer = df.write.partitionBy(*partition_by) if partition_by else df.write
    writer.mode("overwrite").parquet(f"{base}/batch_id={batch_id}")


def _table_prefix(given: str | None, kind: str, base: str) -> str:
    """Catalog-table prefix for a zone's compacted epochs: ``given``, else
    ``<kind>_`` plus 8 hex chars of md5(``base``) — stable per zone
    directory, so a restarted stream finds its own epoch tables."""
    import hashlib

    return given or f"{kind}_" + hashlib.md5(base.encode()).hexdigest()[:8]


def _hadoop_fs(spark: SparkSession, base: str):
    """(FileSystem, Path class) for ``base``'s scheme via the Hadoop API.

    Driver-side ``pathlib`` only sees the local filesystem — on an
    hdfs:/s3a:/abfss: URI it silently lists nothing, which for the
    incremental span sink meant cross-batch dedup silently skipped
    (r5 ADVICE). The Hadoop FileSystem API resolves whatever scheme the
    cluster is configured for, local paths included.
    """
    jvm = spark._jvm
    path_cls = jvm.org.apache.hadoop.fs.Path
    fs = path_cls(base).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path_cls


def _list_batch_dirs(
    spark: SparkSession, base: str, before_batch: int
) -> list[tuple[int, str]]:
    """Sorted (batch_id, dir) for ``base/batch_id=N`` children with
    ``N < before_batch`` holding at least one parquet file."""
    return [(bid, p) for bid, p, _ in _list_batch_dirs_flat(
        spark, base, before_batch)]


def _list_batch_dirs_flat(
    spark: SparkSession, base: str, before_batch: int
) -> list[tuple[int, str, bool]]:
    """Sorted (batch_id, dir, flat) for ``base/batch_id=N`` children with
    ``N < before_batch`` holding at least one parquet file; ``flat`` is
    False when the delta carries its own partition layout (files one
    level down, e.g. the BM25 postings' ``term_bucket=M`` subdirs)."""
    fs, path_cls = _hadoop_fs(spark, base)
    if not fs.exists(path_cls(base)):
        return []
    out: list[tuple[int, str, bool]] = []
    for st in fs.globStatus(path_cls(base + "/batch_id=*")) or []:
        if not st.isDirectory():
            continue
        try:
            bid = int(st.getPath().getName().split("=", 1)[1])
        except ValueError:
            continue
        if bid >= before_batch:
            continue
        flat = True
        parts = fs.globStatus(path_cls(str(st.getPath()) + "/*.parquet"))
        if not parts:
            # partition-laid-out deltas hold their files one level down
            flat = False
            parts = fs.globStatus(
                path_cls(str(st.getPath()) + "/*/*.parquet")
            )
        if parts is not None and len(parts) > 0:
            out.append((bid, str(st.getPath()), flat))
    return sorted(out)


def _compacted_epochs(spark: SparkSession, base: str) -> list[tuple[int, str]]:
    """Sorted (upto, dir) for committed (_SUCCESS-marked) compaction epochs
    under ``base/compacted/upto=M`` — each covers batches [0, M)."""
    fs, path_cls = _hadoop_fs(spark, base)
    out: list[tuple[int, str]] = []
    for st in fs.globStatus(path_cls(base + "/compacted/upto=*")) or []:
        try:
            m = int(st.getPath().getName().split("=", 1)[1])
        except ValueError:
            continue
        if fs.exists(path_cls(str(st.getPath()) + "/_SUCCESS")):
            out.append((m, str(st.getPath())))
    return sorted(out)


def _epoch_table(table_prefix: str, upto: int) -> str:
    return f"{table_prefix}_upto_{upto}"


# -- stored-zone format metadata --------------------------------------------
#
# A persisted sketch zone (Bloom words, CMS cells) is only meaningful under
# the exact parameters + position-derivation version that built it: probing
# a v1 Bloom word table with v2 code silently loses the no-false-negative
# guarantee, and a CMS read back under a different (width, depth, seed)
# estimates garbage. The marker file records that contract next to the data
# so a resumed stream or a new session fails LOUDLY instead.

ZONE_META_FILE = "_zone_meta.json"


def read_zone_meta(spark: SparkSession, base: str) -> dict | None:
    """The zone's ``_zone_meta.json`` contents, or None if absent."""
    import json

    fs, path_cls = _hadoop_fs(spark, base)
    p = path_cls(f"{base}/{ZONE_META_FILE}")
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        # one py4j round trip (commons-io ships in Spark's jars), not one
        # per byte — this runs on every micro-batch of every sink
        return json.loads(
            spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        )
    finally:
        stream.close()


def _zone_has_data(spark: SparkSession, base: str) -> bool:
    return bool(
        _list_batch_dirs(spark, base, 2**62) or _compacted_epochs(spark, base)
    )


def ensure_zone_meta(
    spark: SparkSession, base: str, expected: dict, rebuild_hint: str,
    data_dirs: list[str] | None = None,
) -> None:
    """Stamp or validate a zone's format metadata.

    - No marker, no data: fresh zone — write the marker.
    - No marker, data present: an unversioned (pre-stamping) stored zone —
      its rows may have been built under a different position derivation,
      which is undetectable after the fact; refuse with the rebuild hint.
    - Marker present: every field must match ``expected`` exactly;
      mismatch (format version bump, different m_bits/k/width/depth/seed)
      refuses with the rebuild hint.

    ``data_dirs`` overrides where the "data present" probe looks: a
    COMPOSITE zone (``streaming_corpus_prep``'s base_dir, whose batches
    live under ``base/<zone>/batch_id=*``, not ``base/batch_id=*``) must
    pass its per-zone subdirs here — otherwise a deleted/missing marker
    over live sub-zone data would be treated as fresh and silently
    restamped with the CURRENT parameters, exactly the mixed-parameter
    corruption the marker exists to prevent.

    Idempotent and cheap (one driver-side stat + tiny file); sinks call it
    every micro-batch so a stream resumed under changed parameters dies on
    its first batch, not after silently corrupting the zone.
    """
    import json

    existing = read_zone_meta(spark, base)
    if existing is None:
        probe_dirs = data_dirs if data_dirs is not None else [base]
        if any(_zone_has_data(spark, d) for d in probe_dirs):
            raise ValueError(
                f"stored zone {base} has data but no {ZONE_META_FILE} — it "
                "predates format stamping and its row positions cannot be "
                f"trusted under the current code. {rebuild_hint}"
            )
        fs, path_cls = _hadoop_fs(spark, base)
        fs.mkdirs(path_cls(base))
        out = fs.create(path_cls(f"{base}/{ZONE_META_FILE}"), True)
        try:
            out.write(json.dumps(expected, sort_keys=True).encode("utf-8"))
        finally:
            out.close()
    elif existing != expected:
        raise ValueError(
            f"stored zone {base} was written under {existing} but the "
            f"current code expects {expected}. {rebuild_hint}"
        )


def check_zone_meta(
    spark: SparkSession, base: str, expected: dict, rebuild_hint: str
) -> None:
    """Read-side validation: like :func:`ensure_zone_meta` but never
    writes — an empty/absent zone passes (the reader returns None anyway),
    a data-bearing zone must carry a matching marker."""
    _checked_zone_meta(spark, base, rebuild_hint, expected=expected)


def _checked_zone_meta(
    spark: SparkSession,
    base: str,
    rebuild_hint: str,
    *,
    expected: dict | None = None,
    kind: str | None = None,
    data_dirs: list[str] | None = None,
) -> dict | None:
    """The one read-side marker check: the zone's marker, or None for an
    absent/empty zone. A zone with data (probed under ``data_dirs`` for
    composite zones) but no marker raises, as does a marker that differs
    from ``expected`` or is not ``kind`` format_version 1 — rows written
    under another contract are never returned."""
    meta = read_zone_meta(spark, base)
    if meta is None:
        if any(_zone_has_data(spark, d) for d in data_dirs or [base]):
            raise ValueError(
                f"stored zone {base} has data but no {ZONE_META_FILE} — "
                f"unversioned stored state. {rebuild_hint}"
            )
        return None
    if expected is not None and meta != expected:
        raise ValueError(
            f"stored zone {base} was written under {meta} but this "
            f"reader expects {expected}. {rebuild_hint}"
        )
    if kind is not None and (
        meta.get("kind") != kind or meta.get("format_version") != 1
    ):
        raise ValueError(
            f"stored zone {base} was written under {meta.get('kind')!r} "
            f"format_version={meta.get('format_version')!r}; this reader "
            f"expects {kind} v1. {rebuild_hint}"
        )
    return meta


def _resolve_zone_params(
    spark: SparkSession, zone_dir: str, provided: dict, meta_fn, hint: str
) -> dict:
    """Merge caller-provided zone parameters over the stored marker and
    validate the result. EVERY parameter the caller passed participates
    in the check — a partial ``k=128`` against a ``k=256`` zone fails
    loudly instead of being silently replaced by the stored value (the
    old all-or-nothing gate only validated when the caller passed the
    full set). Parameters the caller omitted resolve from the marker;
    :func:`check_zone_meta` still rejects a data-bearing zone with no
    marker and passes an empty zone (the reader returns None anyway)."""
    existing = read_zone_meta(spark, zone_dir) or {}
    resolved = {
        name: (val if val is not None else existing.get(name))
        for name, val in provided.items()
    }
    check_zone_meta(spark, zone_dir, meta_fn(**resolved), hint)
    return resolved


def read_incremental_zone(
    spark: SparkSession,
    base: str,
    before_batch: int = 2**62,
    table_prefix: str | None = None,
) -> DataFrame | None:
    """Everything written for batches strictly before ``before_batch``:
    the newest committed compaction epoch M <= before_batch, plus the
    per-batch tail in [M, before_batch). None when nothing exists yet.

    The compacted epoch is preferred as its bucketed catalog table (the
    shuffle-free join side); if the catalog no longer has it (new session,
    ephemeral metastore) the epoch's parquet path is read directly —
    identical rows, bucketing metadata lost. NOTE: once an epoch exists a
    bare ``spark.read.parquet(base)`` no longer works (mixed ``batch_id=``
    / ``compacted/upto=`` layouts conflict in partition discovery) — read
    through this helper instead.
    """
    epoch_df, tail_df = read_incremental_zone_layered(
        spark, base, before_batch, table_prefix
    )
    frames = [f for f in (epoch_df, tail_df) if f is not None]
    if not frames:
        return None
    df = frames[0]
    for f in frames[1:]:
        df = df.unionByName(f)
    return df


def read_incremental_zone_layered(
    spark: SparkSession,
    base: str,
    before_batch: int = 2**62,
    table_prefix: str | None = None,
) -> tuple[DataFrame | None, DataFrame | None]:
    """:func:`read_incremental_zone` with the layers kept separate:
    ``(epoch_df, tail_df)`` — the newest committed compaction epoch
    M <= before_batch (already transform-merged at compaction) and the
    per-batch tail in [M, before_batch). Keyed-state readers use the
    split for LAYERED merging: the epoch holds one merged row per key,
    so newest-wins collapses to a (broadcast, tail-sized) anti-join
    instead of re-shuffling the whole zone (see
    :func:`read_cc_assignments` / :func:`read_drop_list`)."""
    epoch_df = None
    low = 0
    epochs = [(m, p) for m, p in _compacted_epochs(spark, base) if m <= before_batch]
    if epochs:
        low, path = epochs[-1]
        tbl = _epoch_table(table_prefix, low) if table_prefix else None
        if tbl and spark.catalog.tableExists(tbl):
            epoch_df = spark.table(tbl)
        else:
            epoch_df = spark.read.parquet(path)
    tail = [
        (p, flat)
        for bid, p, flat in _list_batch_dirs_flat(spark, base, before_batch)
        if bid >= low
    ]
    frames: list[DataFrame] = []
    if tail:
        # flat deltas (files directly under batch_id=N) group into ONE
        # multi-path read — with compaction disabled the tail is every
        # batch ever written, and per-dir reads would grow driver-side
        # planning/schema-inference cost linearly with stream length.
        # Partition-laid-out deltas (the BM25 postings' term_bucket=M
        # subdirs) still read per-dir: a multi-path read over them trips
        # CONFLICTING_DIRECTORY_STRUCTURES, and their tail length is
        # bounded by compact_every in the sinks that write them
        flat_paths = [p for p, flat in tail if flat]
        if flat_paths:
            frames.append(spark.read.parquet(*flat_paths))
        frames.extend(
            spark.read.parquet(p) for p, flat in tail if not flat
        )
    tail_df = None
    if frames:
        tail_df = frames[0]
        for f in frames[1:]:
            tail_df = tail_df.unionByName(f)
    return epoch_df, tail_df


def compact_incremental_zone(
    spark: SparkSession,
    base: str,
    upto: int,
    table_prefix: str | None = None,
    bucket_keys: list[str] | None = None,
    buckets: int = 8,
    sort: list[str] | None = None,
    transform=None,
    partition_by: list[str] | None = None,
) -> bool:
    """Rewrite all data for batches < ``upto`` into one consolidated epoch.

    The streaming sink grows one ``batch_id=N`` partition per micro-batch —
    at high batch counts that is exactly the small-file problem the batch
    engine's compaction solves (T7). This rewrites the current epoch + tail
    into ``base/compacted/upto=M``; with ``bucket_keys`` it lands as a
    bucketed catalog table (sources/bucketed.write_bucketed), so the
    post-compaction probe join carries NO Exchange on the index side.

    Crash-safe/idempotent: the epoch dir is valid only once its _SUCCESS
    marker exists, readers always pick the newest committed epoch and
    ignore batch dirs below it, and stale batch dirs + older epochs are
    deleted only AFTER the new epoch committed — a replay that re-runs the
    compaction simply overwrites the same epoch. Returns True if an epoch
    was (re)written.

    ``transform`` (optional, DataFrame -> DataFrame) is applied to the
    unioned zone before the epoch is written — for zones whose rows MERGE
    rather than concatenate (e.g. Bloom word tables re-aggregating with
    bit_or), so epochs stay bounded by the merged size instead of growing
    with total batch count. It must be idempotent over already-transformed
    rows (a merge re-applied to merged rows is a no-op) because a later
    epoch reads an earlier one as input.

    Replay guard: when a committed epoch NEWER than ``upto`` exists (a
    replayed boundary batch whose batches a later compaction already
    absorbed) nothing is touched and False is returned; an epoch for
    exactly ``upto`` (replay after a crash between commit and cleanup)
    skips the rewrite and still finishes the pending stale-dir cleanup.

    Driver-lifetime note (why epochs are NOT operators.artifacts-
    registered): an epoch is _SUCCESS-gated parquet on disk, not a cached
    frame — nothing here calls persist()/localCheckpoint(), so a
    long-lived streaming driver accumulates no cached blocks from
    compaction (the sinks' per-batch persists are released by their
    runner's ``artifacts.scope()``; tests assert zero storage blocks
    after a full run). The only long-lived driver state is ONE
    catalog-table entry per zone: each compaction drops the older epoch's
    table right after deleting its files, so registrations don't
    accumulate either.
    """
    from ctcityscraper_spark.sources.bucketed import write_bucketed

    epochs = _compacted_epochs(spark, base)
    if epochs and epochs[-1][0] > upto:
        return False
    # a committed epoch for this exact upto means the rewrite already
    # happened (replay after a crash between commit and cleanup) — reading
    # it back to overwrite itself is both pointless and rejected by Spark
    # (UNSUPPORTED_OVERWRITE); only the cleanup below can still be pending
    if not any(m == upto for m, _ in epochs):
        full = read_incremental_zone(spark, base, upto, table_prefix)
        if full is None:
            return False
        if transform is not None:
            full = transform(full)
        path = f"{base}/compacted/upto={upto}"
        if bucket_keys and table_prefix:
            write_bucketed(
                full, _epoch_table(table_prefix, upto), bucket_keys, buckets,
                sort=sort, path=path,
            )
        elif partition_by:
            # preserve a directory-pruning layout across compaction
            # (the BM25 postings' term_bucket dirs): an epoch written
            # flat would silently cost probes their partition filters
            full.write.partitionBy(*partition_by).mode(
                "overwrite"
            ).parquet(path)
        else:
            full.write.mode("overwrite").parquet(path)
    # cleanup strictly after the new epoch committed
    fs, path_cls = _hadoop_fs(spark, base)
    for _, p in _list_batch_dirs(spark, base, upto):
        fs.delete(path_cls(p), True)
    for m, p in epochs:
        if m < upto:
            fs.delete(path_cls(p), True)
            if table_prefix:
                spark.sql(
                    f"DROP TABLE IF EXISTS {_epoch_table(table_prefix, m)}"
                )
    return True


def streaming_incremental_spans(
    stream: DataFrame,
    docs_dir: str,
    index_dir: str,
    spans_dir: str,
    checkpoint_dir: str,
    width: int | None = None,
    doc_cap: int | None = None,
    pair_within_batch: bool = True,
    compact_every: int | None = None,
    compact_buckets: int = 8,
    compact_table_prefix: str | None = None,
):
    """Streaming exact-substring dedup against a growing stored index.

    The production shape for a continuously-ingested corpus: each
    micro-batch of new documents is checked for duplicated spans against
    the STORED hashed window index (operators/corpus.substring_windows
    ``hashed=True`` — 16 B/window parquet), matched spans append to
    ``spans_dir``, and the batch's own windows + texts then extend the
    index, so later batches dedup against everything before them. With
    ``pair_within_batch`` (default) the batch is also self-paired, so two
    duplicates arriving in the SAME micro-batch are caught too — their
    spans land with the lower id as ``corpus_doc`` (the kept occurrence,
    matching cut_duplicate_spans' keep-lowest policy). Exactness via the
    span-level fetch-and-verify against the stored corpus texts.

    Exactly-once end-to-end: the streaming checkpoint skips completed
    batches, and every write lands in a ``batch_id=N`` partition with
    mode=overwrite, so a crash-and-replay of an in-flight batch rewrites
    its own partitions instead of appending duplicates (the standard
    foreachBatch idempotence recipe). Batch discovery goes through the
    Hadoop FileSystem API, so the dirs may live on any scheme the cluster
    supports (hdfs:/s3a:/...), not just the local disk. ``batch_id``
    surfaces as a partition column recording lineage; read the index/docs
    dirs via :func:`read_incremental_zone` (required once compaction runs).

    With ``compact_every=N`` the sink periodically rewrites the index and
    docs batch partitions into one consolidated epoch
    (:func:`compact_incremental_zone`): the index lands as a catalog table
    bucketed on ``win_h`` (``compact_buckets``), so right after compaction
    the corpus-sized side of the probe join is shuffle-free; between
    compactions only the small per-batch tail re-shuffles. Compaction runs
    at the START of a batch and covers only batches strictly before it —
    those are durable per the checkpoint — so the strictly-before join
    contract and replay idempotence are preserved.
    Returns the StreamingQuery handle; caller stops it.
    """
    from pyspark.sql import functions as SF

    from ctcityscraper_spark.operators.artifacts import persist_tracked
    from ctcityscraper_spark.operators.corpus import (
        SPAN_DOC_CAP,
        SPAN_WINDOW_CHARS,
        duplicate_substring_spans,
        incremental_substring_spans,
        substring_windows,
    )

    w = width or SPAN_WINDOW_CHARS
    cap = doc_cap if doc_cap is not None else SPAN_DOC_CAP
    idx_prefix = _table_prefix(compact_table_prefix, "span_idx", index_dir)
    out_cols = [
        "new_doc", "corpus_doc", "start_new", "start_corpus",
        "span_len", "n_windows",
    ]

    def body(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        batch_df = persist_tracked(batch_df)
        spans = None
        # only batches strictly BEFORE this one: a replayed batch must
        # not join against its own half-written previous attempt
        idx = read_incremental_zone(spark, index_dir, batch_id, idx_prefix)
        if idx is not None:
            spans = incremental_substring_spans(
                batch_df,
                corpus_docs=read_incremental_zone(spark, docs_dir, batch_id),
                corpus_windows=idx,
                width=w,
                doc_cap=cap,
                bucket_by_hash=True,
            ).select(*out_cols)
        if pair_within_batch:
            within = duplicate_substring_spans(
                batch_df, width=w, doc_cap=cap, bucket_by_hash=True
            ).select(
                SF.col("doc_b").alias("new_doc"),
                SF.col("doc_a").alias("corpus_doc"),
                SF.col("start_b").alias("start_new"),
                SF.col("start_a").alias("start_corpus"),
                "span_len",
                "n_windows",
            )
            spans = within if spans is None else spans.unionByName(within)
        if spans is not None:
            _put(spans, spans_dir, batch_id)
        _put(batch_df.select("doc_id", "text"), docs_dir, batch_id)
        _put(substring_windows(batch_df, width=w, hashed=True), index_dir, batch_id)

    return _zone_stream(
        stream, checkpoint_dir, body, compact_every=compact_every,
        compactions=[
            (index_dir, dict(
                table_prefix=idx_prefix, bucket_keys=["win_h"],
                buckets=compact_buckets, sort=["win_h"],
            )),
            (docs_dir, {}),
        ],
    )


def _bloom_zone_meta(m_bits: int, k: int) -> dict:
    from ctcityscraper_spark.operators.dedup import BLOOM_FORMAT_VERSION

    return {"kind": "bloom_words", "format_version": BLOOM_FORMAT_VERSION,
            "m_bits": m_bits, "k": k}


_BLOOM_REBUILD_HINT = (
    "Rebuild the word zone from the corpus (build_bloom_index is one "
    "explode + bit_or) or restart the stream with a fresh words_dir."
)


def read_bloom_words(
    spark: SparkSession,
    words_dir: str,
    before_batch: int = 2**62,
    table_prefix: str | None = None,
    m_bits: int | None = None,
    k: int | None = None,
) -> DataFrame | None:
    """The merged Bloom word table for batches strictly before
    ``before_batch``: per-batch delta word partitions (and/or the newest
    compacted epoch) bit_or-merged into one (word_idx, word) frame —
    exactly :func:`operators.dedup.update_bloom_index`'s merge, applied
    across every delta at once (OR-associativity makes any grouping
    equivalent to a fresh build). None when nothing is written yet. On a
    freshly-compacted zone (epoch bucketed on word_idx, empty tail) the
    merge groupBy is shuffle-free on the epoch side.

    Any of ``m_bits``/``k`` you pass is validated against the zone's
    stored format marker before the words are trusted (omitted ones
    resolve from the marker; only the format version is pinned then). A data-bearing zone
    with no marker (pre-stamping) or a mismatched marker raises — probing
    a word table built under a different position derivation silently
    loses the no-false-negative guarantee (dedup.BLOOM_FORMAT_VERSION)."""
    from ctcityscraper_spark.operators.dedup import merge_bloom_words

    _resolve_zone_params(
        spark, words_dir, {"m_bits": m_bits, "k": k},
        _bloom_zone_meta, _BLOOM_REBUILD_HINT,
    )
    words = read_incremental_zone(spark, words_dir, before_batch, table_prefix)
    if words is None:
        return None
    return merge_bloom_words(words)


def streaming_bloom_membership(
    stream: DataFrame,
    words_dir: str,
    flags_dir: str,
    checkpoint_dir: str,
    m_bits: int,
    k: int,
    compact_every: int | None = None,
    compact_buckets: int = 8,
    compact_table_prefix: str | None = None,
    stats_dir: str | None = None,
):
    """Continuously-maintained Bloom membership filter over a doc stream.

    The streaming twin of ``build_bloom_index`` + ``update_bloom_index``
    (operators/dedup.py): every micro-batch (1) probes its documents
    against the filter state accumulated by all batches STRICTLY before it
    (no false negatives vs everything previously ingested; fpp at the
    filter's design point) — flags land in ``flags_dir/batch_id=N`` as
    (doc_id, might_contain) — and then (2) appends its own delta word
    table to ``words_dir/batch_id=N``, extending the filter for later
    batches. Chase flagged rows with the exact incremental join when
    exactness matters (same contract as the batch operator).

    Exactly-once exactly like :func:`streaming_incremental_spans`: the
    checkpoint skips completed batches, every write is a
    ``batch_id=N`` overwrite (replay rewrites its own partitions), and the
    probe reads only strictly-before batches so a replayed batch never
    sees its own half-written delta. Per-batch write cost is ≤ m/32 word
    rows (bytes, not corpus-sized); with ``compact_every=N`` the word zone
    periodically re-aggregates into ONE epoch of ≤ m/32 rows bucketed on
    word_idx (``transform=bit_or`` merge — epochs stay filter-sized
    forever, and the next probes' merge groupBy is shuffle-free on the
    epoch side).

    With ``stats_dir`` set, every batch also appends one
    ``dedup_bloom_saturation`` monitor row (m_bits, k, n_words, set_bits,
    fill, est_fpp) describing the filter AS OF THE END of the batch —
    the stream that maintains the state now emits the health signal that
    says when that state needs a rebuild (fill only rises; probe fpp is
    fill^k). Cost: one aggregate over ≤ m/32 merged word rows per batch.
    Returns the StreamingQuery handle; caller stops it.
    """
    from pyspark.sql import functions as SF

    from ctcityscraper_spark.operators.artifacts import persist_tracked
    from ctcityscraper_spark.operators.dedup import (
        bloom_might_contain,
        bloom_saturation,
        build_bloom_index,
        merge_bloom_words,
    )

    tbl_prefix = _table_prefix(compact_table_prefix, "bloom_words", words_dir)

    def body(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        batch_df = persist_tracked(batch_df)
        bloom = read_bloom_words(spark, words_dir, batch_id, tbl_prefix)
        if bloom is None:
            # first batch: nothing ingested before it, nothing can flag
            flags = batch_df.select("doc_id", SF.lit(False).alias("might_contain"))
        else:
            flags = bloom_might_contain(batch_df, bloom, m_bits, k).select(
                "doc_id", "might_contain"
            )
        _put(flags, flags_dir, batch_id)
        delta = persist_tracked(build_bloom_index(batch_df, m_bits, k))
        _put(delta, words_dir, batch_id)
        if stats_dir is not None:
            now = delta if bloom is None else bloom.unionByName(delta)
            _put(bloom_saturation(now, m_bits, k), stats_dir, batch_id)

    return _zone_stream(
        stream, checkpoint_dir, body,
        meta=(words_dir, _bloom_zone_meta(m_bits, k), _BLOOM_REBUILD_HINT),
        compact_every=compact_every,
        compactions=[(words_dir, dict(
            table_prefix=tbl_prefix, bucket_keys=["word_idx"],
            buckets=compact_buckets, sort=["word_idx"],
            transform=merge_bloom_words,
        ))],
    )


def _cms_zone_meta(width: int, depth: int, seed: str) -> dict:
    from ctcityscraper_spark.operators.text import CMS_FORMAT_VERSION

    return {"kind": "cms_cells", "format_version": CMS_FORMAT_VERSION,
            "width": width, "depth": depth, "seed": seed}


_CMS_REBUILD_HINT = (
    "Rebuild the sketch from the corpus (count_min_sketch) or restart the "
    "stream with a fresh cells_dir."
)


def read_cms_cells(
    spark: SparkSession,
    cells_dir: str,
    before_batch: int = 2**62,
    table_prefix: str | None = None,
    width: int | None = None,
    depth: int | None = None,
    seed: str | None = None,
) -> DataFrame | None:
    """The merged Count-Min sketch for batches strictly before
    ``before_batch``: per-batch delta cell partitions (and/or the newest
    compacted epoch) sum-merged into one (r, c, n) frame — count
    additivity makes any grouping equal to a fresh build over everything
    ingested. None when nothing is written yet.

    Any of ``width``/``depth``/``seed`` you pass is validated against
    the zone's stored format marker before probing — a sketch read back
    under different hash parameters estimates garbage; omitted ones
    resolve from the marker (format version always pinned)."""
    from ctcityscraper_spark.operators.text import merge_cms_cells

    _resolve_zone_params(
        spark, cells_dir, {"width": width, "depth": depth, "seed": seed},
        _cms_zone_meta, _CMS_REBUILD_HINT,
    )
    cells = read_incremental_zone(spark, cells_dir, before_batch, table_prefix)
    if cells is None:
        return None
    return merge_cms_cells(cells)


def streaming_cms(
    stream: DataFrame,
    cells_dir: str,
    checkpoint_dir: str,
    width: int = 1024,
    depth: int = 4,
    seed: str = "cms",
    compact_every: int | None = None,
    compact_buckets: int = 4,
    compact_table_prefix: str | None = None,
    stats_dir: str | None = None,
):
    """Continuously-maintained Count-Min sketch over a document stream —
    the streaming twin of ``text.count_min_sketch`` and the second
    instance of the delta-zone recipe (``streaming_bloom_membership`` is
    the bit_or instance; this one merges by SUM, showing the compaction
    ``transform`` generalizes to any associative merge).

    Every micro-batch appends its own ≤ depth·width-row delta sketch to
    ``cells_dir/batch_id=N`` (exactly-once: per-batch overwrite + the
    streaming checkpoint). Read the live sketch at any time with
    :func:`read_cms_cells` and probe it with ``text.cms_estimate`` — the
    merged state equals a fresh build over everything ingested, exactly.
    With ``compact_every=N`` cell epochs re-aggregate (sum transform) to
    ≤ depth·width rows bucketed on (r, c), so stored state stays
    sketch-sized at any stream length.

    With ``stats_dir`` set, every batch also appends one
    ``text_cms_saturation`` monitor row (``text.cms_health``: n_items,
    max_cell, nonzero-cell fill, 2·N/width err_bound) over the sketch
    AS OF THE END of the batch — fill and err_bound only rise, and when
    err_bound crosses the count scale the probes care about the sketch
    needs a wider rebuild. Cost: one aggregate over ≤ depth·width
    merged cells per batch. Returns the StreamingQuery handle; caller
    stops it.
    """
    from ctcityscraper_spark.operators.artifacts import persist_tracked
    from ctcityscraper_spark.operators.text import (
        cms_health,
        count_min_sketch,
        merge_cms_cells,
    )

    tbl_prefix = _table_prefix(compact_table_prefix, "cms_cells", cells_dir)

    def body(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        delta = persist_tracked(
            count_min_sketch(batch_df, width=width, depth=depth, seed=seed)
        )
        _put(delta, cells_dir, batch_id)
        if stats_dir is not None:
            hist = read_incremental_zone(spark, cells_dir, batch_id, tbl_prefix)
            now = (
                delta
                if hist is None
                else hist.select("r", "c", "n").unionByName(
                    delta.select("r", "c", "n")
                )
            )
            _put(cms_health(now, width, depth), stats_dir, batch_id)

    return _zone_stream(
        stream, checkpoint_dir, body,
        meta=(cells_dir, _cms_zone_meta(width, depth, seed), _CMS_REBUILD_HINT),
        compact_every=compact_every,
        compactions=[(cells_dir, dict(
            table_prefix=tbl_prefix, bucket_keys=["r", "c"],
            buckets=compact_buckets, sort=["r", "c"],
            transform=merge_cms_cells,
        ))],
    )


def _gram_zone_meta(dims: int) -> dict:
    from ctcityscraper_spark.operators.similarity import GRAM_FORMAT_VERSION

    return {"kind": "gram_rows", "format_version": GRAM_FORMAT_VERSION,
            "dims": dims}


_GRAM_REBUILD_HINT = (
    "Rebuild the Gram zone from the corpus (int8_gram_matrix) or restart "
    "the stream with a fresh gram_dir."
)


def read_gram_rows(
    spark: SparkSession,
    gram_dir: str,
    before_batch: int = 2**62,
    table_prefix: str | None = None,
    dims: int | None = None,
) -> DataFrame | None:
    """The merged int8 Gram matrix for batches strictly before
    ``before_batch``: per-batch delta (j, l, g) partitions (and/or the
    newest compacted epoch) sum-merged into one row per (j, l) — exactly
    :func:`operators.similarity.update_gram_matrix`'s merge applied
    across every delta at once (sum-associativity of the integer
    partials makes any grouping equal to a fresh build over everything
    ingested). None when nothing is written yet. Feed the result
    straight to ``similarity.pca_components`` to retrain the rotation
    on the live corpus.

    Pass ``dims`` to validate it against the zone's stored format
    marker before trusting the rows — summing partials produced under a
    different quantization or width silently corrupts the trained
    components; omitted, it resolves from the marker (format version
    always pinned)."""
    from ctcityscraper_spark.operators.similarity import merge_gram_rows

    _resolve_zone_params(
        spark, gram_dir, {"dims": dims}, _gram_zone_meta, _GRAM_REBUILD_HINT
    )
    rows = read_incremental_zone(spark, gram_dir, before_batch, table_prefix)
    if rows is None:
        return None
    return merge_gram_rows(rows)


def streaming_gram(
    stream: DataFrame,
    gram_dir: str,
    checkpoint_dir: str,
    dims: int,
    vec: str = "embedding",
    compact_every: int | None = None,
    compact_buckets: int = 4,
    compact_table_prefix: str | None = None,
):
    """Continuously-maintained int8 Gram matrix over an embedding stream —
    the PCA trainer state kept warm per micro-batch, and the third
    instance of the delta-zone recipe (bit_or for Bloom words, SUM for
    CMS cells and for these Gram partials — the compaction ``transform``
    is :func:`operators.similarity.merge_gram_rows`, the same single
    merge definition the batch path uses).

    Every micro-batch appends its own ≤ d²-row delta matrix to
    ``gram_dir/batch_id=N`` (exactly-once: per-batch overwrite + the
    streaming checkpoint). Read the live matrix at any time with
    :func:`read_gram_rows` and retrain with ``similarity.pca_components``
    — the merged state equals a fresh ``int8_gram_matrix`` over
    everything ingested, exactly (integer partials, no float-association
    caveat). With ``compact_every=N`` epochs re-aggregate to ≤ d² rows
    bucketed on (j, l), so stored state stays d²-sized at any stream
    length. Returns the StreamingQuery handle; caller stops it.
    """
    from ctcityscraper_spark.operators.similarity import (
        int8_gram_matrix,
        merge_gram_rows,
    )

    tbl_prefix = _table_prefix(compact_table_prefix, "gram_rows", gram_dir)

    def body(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        _put(int8_gram_matrix(batch_df, dims, vec), gram_dir, batch_id)

    return _zone_stream(
        stream, checkpoint_dir, body,
        meta=(gram_dir, _gram_zone_meta(dims), _GRAM_REBUILD_HINT),
        compact_every=compact_every,
        compactions=[(gram_dir, dict(
            table_prefix=tbl_prefix, bucket_keys=["j", "l"],
            buckets=compact_buckets, sort=["j", "l"],
            transform=merge_gram_rows,
        ))],
    )


def _kmv_zone_meta(k: int, seed: str) -> dict:
    from ctcityscraper_spark.operators.text import KMV_FORMAT_VERSION

    return {"kind": "kmv_hashes", "format_version": KMV_FORMAT_VERSION,
            "k": k, "seed": seed}


_KMV_REBUILD_HINT = (
    "Rebuild the sketch from the corpus (kmv_sketch) or restart the "
    "stream with a fresh hashes_dir."
)


def read_kmv_hashes(
    spark: SparkSession,
    hashes_dir: str,
    before_batch: int = 2**62,
    k: int | None = None,
    seed: str | None = None,
) -> DataFrame | None:
    """The merged KMV sketch for batches strictly before ``before_batch``:
    per-batch delta (h) partitions (and/or the newest compacted epoch)
    merged by ``text.merge_kmv`` — min-k-of-distinct associativity makes
    any grouping equal to a fresh build over everything ingested, exactly.
    None when nothing is written yet. Feed the result to
    ``text.kmv_estimate`` for the live distinct count.

    Any of ``k``/``seed`` you pass is validated against the zone's
    stored format marker before the rows are trusted — hashes kept under
    a different seed or truncated to a different k estimate garbage;
    omitted ones resolve from the marker (format version always pinned)."""
    from ctcityscraper_spark.operators.text import merge_kmv

    k = _resolve_zone_params(
        spark, hashes_dir, {"k": k, "seed": seed},
        _kmv_zone_meta, _KMV_REBUILD_HINT,
    )["k"]
    rows = read_incremental_zone(spark, hashes_dir, before_batch)
    if rows is None:
        return None
    return merge_kmv(rows, k)


def streaming_kmv(
    stream: DataFrame,
    hashes_dir: str,
    checkpoint_dir: str,
    k: int = 256,
    seed: str = "kmv",
    text: str = "text",
    compact_every: int | None = None,
):
    """Continuously-maintained KMV distinct-count sketch over a document
    stream — the third instance of the delta-zone recipe
    (``streaming_bloom_membership`` merges by bit_or, ``streaming_cms`` by
    SUM; this one by min-k-of-distinct, showing the compaction
    ``transform`` generalizes to any associative + idempotent merge).

    Every micro-batch appends its own ≤ k-row delta sketch to
    ``hashes_dir/batch_id=N`` (exactly-once: per-batch overwrite + the
    streaming checkpoint). Read the live sketch at any time with
    :func:`read_kmv_hashes` and estimate with ``text.kmv_estimate`` — the
    merged state equals a fresh build over everything ingested, exactly.
    With ``compact_every=N`` hash epochs re-merge to ≤ k rows, so stored
    state stays sketch-sized at any stream length (no bucketing: a ≤
    k-row zone is broadcast-sized by construction, so no probe join ever
    needs a co-located layout). Returns the StreamingQuery handle; caller
    stops it."""
    from ctcityscraper_spark.operators.text import kmv_sketch, merge_kmv

    def body(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        _put(kmv_sketch(batch_df, text=text, k=k, seed=seed), hashes_dir, batch_id)

    return _zone_stream(
        stream, checkpoint_dir, body,
        meta=(hashes_dir, _kmv_zone_meta(k, seed), _KMV_REBUILD_HINT),
        compact_every=compact_every,
        compactions=[(hashes_dir, dict(transform=lambda df: merge_kmv(df, k)))],
    )


def _quantile_zone_meta(k: int, seed: str, value_col: str) -> dict:
    from ctcityscraper_spark.operators.text import QUANTILE_FORMAT_VERSION

    return {"kind": "quantile_sample",
            "format_version": QUANTILE_FORMAT_VERSION,
            "k": k, "seed": seed, "value_col": value_col}


_QUANTILE_REBUILD_HINT = (
    "Rebuild the sample from the corpus (quantile_sketch) or restart the "
    "stream with a fresh sample_dir."
)


def read_quantile_sample(
    spark: SparkSession,
    sample_dir: str,
    before_batch: int = 2**62,
    k: int | None = None,
    seed: str | None = None,
    value_col: str | None = None,
) -> DataFrame | None:
    """The merged quantile sample for batches strictly before
    ``before_batch``: per-batch delta (h, val) partitions (and/or the
    newest compacted epoch) merged by ``text.merge_quantile_sketches``
    — min-k-by-hash associativity makes any grouping equal to a fresh
    build over everything ingested, exactly. None when nothing is
    written yet. Feed the result to ``text.quantile_estimate`` for live
    percentiles.

    Any of ``k``/``seed``/``value_col`` you pass is validated against
    the zone's stored format marker before the rows are trusted —
    samples kept under a different seed, truncated to a different k, or
    drawn from a different value column estimate garbage; omitted ones
    resolve from the marker (format version always pinned)."""
    from ctcityscraper_spark.operators.text import merge_quantile_sketches

    k = _resolve_zone_params(
        spark, sample_dir, {"k": k, "seed": seed, "value_col": value_col},
        _quantile_zone_meta, _QUANTILE_REBUILD_HINT,
    )["k"]
    rows = read_incremental_zone(spark, sample_dir, before_batch)
    if rows is None:
        return None
    return merge_quantile_sketches(rows, k)


def streaming_quantile(
    stream: DataFrame,
    sample_dir: str,
    checkpoint_dir: str,
    k: int = 256,
    seed: str = "qsk",
    value_col: str = "val",
    id_col: str = "doc_id",
    compact_every: int | None = None,
    stats_dir: str | None = None,
):
    """Continuously-maintained quantile sample over a document stream —
    the FOURTH instance of the delta-zone recipe
    (``streaming_bloom_membership`` merges by bit_or, ``streaming_cms``
    by SUM, ``streaming_kmv`` by min-k-of-distinct; this one by
    min-k-by-hash carrying values, the distribution member of the
    mergeable-sketch family).

    Every micro-batch appends its own ≤ k-row delta sample to
    ``sample_dir/batch_id=N`` (exactly-once: per-batch overwrite + the
    streaming checkpoint). Read the live sample at any time with
    :func:`read_quantile_sample` and estimate with
    ``text.quantile_estimate`` — the merged state equals a fresh build
    over everything ingested, exactly (row ids must be unique across
    the stream; replays of the same id are idempotent). With
    ``compact_every=N`` sample epochs re-merge to ≤ k rows, so stored
    state stays sketch-sized at any stream length (a ≤ k-row zone is
    broadcast-sized by construction — no probe join ever needs a
    co-located layout).

    With ``stats_dir`` set, every batch also appends the
    ``quantile_estimate`` rows (pct, n_kept, est) over the merged sample
    AS OF THE END of the batch — a per-batch percentile ledger;
    consecutive batches' rows subtracted per pct IS ``quantile_drift``
    over the stream's own history, so the distribution monitor reads the
    ledger, never the raw stream. Cost: one ≤ k-row merge + window per
    batch. Returns the StreamingQuery handle; caller stops it."""
    from ctcityscraper_spark.operators.artifacts import persist_tracked
    from ctcityscraper_spark.operators.text import (
        merge_quantile_sketches,
        quantile_estimate,
        quantile_sketch,
    )

    def body(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        delta = persist_tracked(
            quantile_sketch(batch_df, value_col, id_col, k=k, seed=seed)
        )
        _put(delta, sample_dir, batch_id)
        if stats_dir is not None:
            hist = read_incremental_zone(spark, sample_dir, batch_id)
            now = merge_quantile_sketches(
                delta if hist is None else hist.unionByName(
                    delta.select(*hist.columns)
                ),
                k,
            )
            _put(quantile_estimate(now), stats_dir, batch_id)

    return _zone_stream(
        stream, checkpoint_dir, body,
        meta=(sample_dir, _quantile_zone_meta(k, seed, value_col),
              _QUANTILE_REBUILD_HINT),
        compact_every=compact_every,
        compactions=[(sample_dir, dict(
            transform=lambda df: merge_quantile_sketches(df, k),
        ))],
    )


def _prep_zone_meta(
    width: int, min_docs: int, m_bits: int, k: int,
    shingle_n: int, test_mod: int, seq_len: int, num_shards: int,
    quality_gate: bool, quality_teacher: float, kmv_k: int,
    seg_tail_min: int, seg_tail_k: int,
) -> dict:
    from ctcityscraper_spark.operators.dedup import BLOOM_FORMAT_VERSION

    return {
        "kind": "corpus_prep_pipeline", "format_version": 3,
        "bloom_format_version": BLOOM_FORMAT_VERSION,
        "width": width, "min_docs": min_docs, "m_bits": m_bits, "k": k,
        "shingle_n": shingle_n, "test_mod": test_mod,
        "seq_len": seq_len, "num_shards": num_shards,
        "quality_gate": bool(quality_gate),
        "quality_teacher": float(quality_teacher),
        "kmv_k": int(kmv_k),
        # the seg_counts snapshot-prune contract (r13 VERDICT item 4):
        # frozen because a resume under different pruning would change
        # which segments can ever become hot
        "seg_tail_min": int(seg_tail_min),
        "seg_tail_k": int(seg_tail_k),
    }


_PREP_REBUILD_HINT = (
    "Re-run the nightly batch DAG (corpus_e2e_prep) to rebuild the "
    "pipeline state, or restart the stream with a fresh base_dir."
)


def streaming_corpus_prep(
    stream: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    width: int | None = None,
    min_docs: int | None = None,
    m_bits: int = 1 << 16,
    k: int = 5,
    shingle_n: int = 8,
    test_mod: int = 10,
    seq_len: int | None = None,
    num_shards: int | None = None,
    compact_every: int | None = None,
    quality_gate: bool = False,
    quality_teacher: float = 0.45,
    kmv_k: int = 256,
    seg_tail_min: int = 2,
    seg_tail_k: int = 256,
    dsir_gate: bool = False,
    dsir_target: str | None = None,
    dsir_buckets: int = 2048,
    dsir_min_num: int = -2,
    dsir_min_den: int = 5,
):
    """The nightly pretraining-prep DAG (``corpus_e2e_prep``) as ONE
    continuously-running stream: boilerplate removal -> Bloom-chased
    exact dedup -> contamination gate -> sequence packing, composed in a
    single ``foreachBatch`` under a SINGLE checkpoint dir — each stage's
    stored state is a delta zone under ``base_dir`` maintained by the
    same batch that consumes it.

    Zones (all the established ``batch_id=N``-overwrite recipe):

    - ``seg_counts``: per-batch (segment, n_docs) — SUM-mergeable across
      batches because each doc belongs to exactly one batch, so the
      strictly-before merge IS ``boilerplate_segments`` over everything
      previously ingested. Batch N's hot list = merged counts >=
      ``min_docs`` (batch 1 sees no hot list — new boilerplate waits one
      batch, the same refresh-cadence trade the batch twin documents).
      BOUNDED at compaction (r13 VERDICT item 4 — this zone was the
      pipeline's one vocabulary-sized state): the compaction snapshot
      keeps (a) every segment with merged count >= ``seg_tail_min``
      (the hot list plus the recurring below-threshold tail) and (b) a
      KMV-style hash-ranked sample of at most ``seg_tail_k`` of the
      remaining sub-``seg_tail_min`` segments (the smallest
      ``hash64(segment, 'segtail')`` — deterministic under replay,
      unbiased over the dropped tail). COUNT-LOSS CONTRACT: a segment
      below ``seg_tail_min`` occurrences at a compaction boundary and
      outside the sample loses its partial count — to ever become hot
      it must recur ``seg_tail_min`` times within one compaction epoch
      (or ride the sample). Boilerplate by definition recurs fast, so
      the hot list a deployment actually converges to is unchanged;
      what is given up is credit for ultra-slow accumulation across
      epochs. Both knobs are ``_zone_meta``-frozen — a resume under
      different pruning dies loudly instead of silently changing which
      segments can become hot.
    - ``bloom_words`` + ``fingerprints``: the two-tier exact-dedup state
      (:func:`streaming_bloom_membership`'s zone + the md5 chase index).
      The batch probes strictly-before words; only flagged rows join the
      strictly-before fingerprint zone (dedup.bloom_chased_duplicates).
      Within-batch duplicates keep the lowest doc_id (the keep-lowest
      policy of the span/cut operators).
    - ``test_shingles``: the decontamination inverted index — batch test
      docs' distinct ``shingle_n``-shingles append each batch, so the
      index GROWS continuously (the batch twin freezes it between
      refreshes; the streaming form's whole point is that tonight's test
      docs already protect tomorrow's train split). The gate itself
      checks the stored index UNIONED with the batch's own test
      shingles, so a test doc and a train doc it contaminates arriving
      in the SAME micro-batch are handled like the batch twin handles
      them (contamination_pairs over all of kept) — no one-batch
      leakage window.
    - ``cursors``: per-batch (shard_id, n_tokens) sums — SUM-mergeable;
      the strictly-before merge is the pack-continuation cursor, so a
      batch doc can land mid-way through the previous batch's partial
      pack exactly as the batch twin's ``base_offsets`` path does.
    - ``qclf_weights`` (state, ``quality_gate=True`` only): the trained
      quality classifier's ``(w0..w4, b, trained_batch)`` rows — the
      batch-twin's sidecar as a zone. Batch N applies the LATEST
      strictly-before weights (batch 0 has none — its train docs pass
      ungated, the hot-list one-batch-lag policy); weights REFRESH by
      retraining on the current batch's kept docs at batch 0 and at
      every ``compact_every`` boundary (the compaction epochs — a
      frozen-between-refreshes cadence, exactly the hot list's).
      Replay-safe: the fit is deterministic in the batch content
      (hash-picked sample, fixed full-batch GD), so a crash-and-replay
      rewrites an identical row. Never compacted (one tiny row per
      refresh — it is the gate's audit ledger).
    - ``train_kmv`` / ``test_kmv``: ≤ ``kmv_k``-row KMV sketch zones of
      the packed train stream's / the held-out test stream's 3-gram
      shingles — per-batch deltas merged by ``merge_kmv`` (min-k-of-
      distinct is associative/idempotent, so merged ≡ fresh build). They
      exist to feed the residual-contamination monitor on the stats row.
    - ``dsir_model`` (state, ``dsir_gate=True`` only): the DSIR
      selection model's ≤ ``dsir_buckets``-row (b, c_r, c_t) deltas —
      the batch-twin's domain gate as a zone (corpus.dsir_bucket_model
      over each batch's kept docs; target labels =
      ``F.expr(dsir_target)`` over the RAW batch columns, so the
      predicate survives the doc_id/clean_text narrowing).
      SUM-mergeable (sum_dsir_models at compaction). Batch N scores
      its quality-kept train docs against the strictly-before merged
      model (dsir_score_with_model — unseen batch buckets take the
      smoothing floor) and drops docs whose per-token bit gap falls
      below ``dsir_min_num/dsir_min_den``; batch 0 passes ungated (no
      model yet — the hot-list one-batch-lag policy).
    - ``packs`` (output): the per-batch assignment table
      (shard_id, pack_id, doc_id, offset_in_pack, n_tokens).
    - ``stats`` (output): one row per batch — the attrition line
      (n_batch_in, n_dup_dropped, n_test_held_out, n_contam_dropped,
      n_quality_dropped, n_dsir_dropped; the last two are 0 when their
      gate is off or not yet armed) PLUS the health-monitor columns
      describing stored state AS
      OF THE END of the batch: ``bloom_fill`` / ``bloom_est_fpp`` (the
      dedup_bloom_saturation monitor over the word zone incl. this
      batch's delta — fill only rises; when fill^k nears the design
      point the chase stops pre-filtering and the filter needs a bigger
      rebuild) and ``resid_inter_est`` / ``resid_jaccard_est`` (the
      text_kmv_overlap residual-leakage audit of cumulative train vs
      test shingles — the batch twin's resid columns as a per-batch
      ledger). Every monitor is a state-sized aggregate: ≤ m/32 bloom
      words, two ≤ kmv_k-row sketches — nothing corpus-sized.

    Exactly-once end-to-end across ALL stages at once: the single
    checkpoint skips completed batches; every zone write is a
    ``batch_id=N`` overwrite (a crash-and-replay rewrites its own
    partitions, never appends); every read is strictly-before, so a
    replayed batch never sees its own half-written deltas in ANY zone.
    A config marker on ``base_dir`` (``_zone_meta.json``) is validated
    every batch — a stream resumed under different split/bloom/packing
    parameters dies on its first batch instead of corrupting five zones
    at once. Returns the StreamingQuery handle; caller stops it.

    100 TB shape: per batch the corpus-sized state is touched through
    the Bloom word probe (~m/32 rows), the flagged-rows-only fingerprint
    join, and the test-shingle equi-join. The hot-list rebuild is now
    BOUNDED (r13 VERDICT item 4 delivered — previously the one honest
    vocabulary-sized exception): with ``compact_every=N`` the
    seg_counts read at batch B merges the last compaction snapshot
    (<= |count >= seg_tail_min| + seg_tail_k rows — the pruning
    contract above) plus at most N batch-sized deltas, so stage-1 cost
    is hot-list + recurring-tail + sample + N batches, independent of
    how many distinct segments the stream has ever seen. (The
    recurring tail — segments seen >= seg_tail_min but < min_docs
    times within recent epochs — is the one data-dependent term;
    raising ``seg_tail_min`` is the deployment lever if a pathological
    corpus makes it large. Without compaction the zone reverts to
    growing per-batch deltas — compaction IS the bounding mechanism.)
    The cursor frame IS bounded (``num_shards`` rows after merge). The
    zones follow the same compaction recipe as the per-stage streams:
    with ``compact_every=N`` every state zone periodically rewrites
    into one consolidated epoch with its own merge transform —
    seg_counts by the pruning SUM-snapshot, cursors by SUM,
    fingerprints and test_shingles by DISTINCT, bloom_words by bit_or
    (bucketed on word_idx). The packs and stats OUTPUT zones never
    compact (they are the run's ledger, one partition per batch is the
    contract).
    """
    from pyspark.sql import functions as SF

    from ctcityscraper_spark.functions.hashing import hash64
    from ctcityscraper_spark.operators.artifacts import (
        checkpoint_tracked,
        persist_tracked,
    )
    from ctcityscraper_spark.operators.corpus import (
        BOILER_MIN_DOCS,
        PACK_SEQ_LEN,
        PACK_SHARDS,
        SEGMENT_WIDTH,
        pack_sequences,
        remove_boilerplate,
        segments,
        sum_dsir_models,
    )
    from ctcityscraper_spark.operators.dedup import (
        bloom_chased_duplicates,
        bloom_saturation,
        build_bloom_index,
        doc_shingles,
        merge_bloom_words,
        shingles_col,
    )
    from ctcityscraper_spark.operators.text import (
        kmv_overlap,
        kmv_sketch_terms,
        merge_kmv,
    )

    if dsir_gate and not dsir_target:
        raise ValueError(
            "dsir_gate=True needs dsir_target (a SQL boolean expression "
            "over the stream's columns marking the in-domain exemplars)"
        )
    w = width or SEGMENT_WIDTH
    md = min_docs if min_docs is not None else BOILER_MIN_DOCS
    if seg_tail_min > md:
        # the compaction snapshot keeps only counts >= seg_tail_min plus
        # a hash sample of the tail; with seg_tail_min > min_docs,
        # already-HOT segments (count in [min_docs, seg_tail_min)) would
        # be silently dropped and the hot list would flap across
        # compaction epochs — beyond the documented count-loss contract,
        # which concedes only sub-threshold tail credit
        raise ValueError(
            f"seg_tail_min ({seg_tail_min}) must be <= min_docs ({md}): "
            "the compaction snapshot must retain every segment that is "
            "already hot or the hot list flaps across epochs"
        )
    sl = seq_len or PACK_SEQ_LEN
    ns = num_shards or PACK_SHARDS
    meta = _prep_zone_meta(
        w, md, m_bits, k, shingle_n, test_mod, sl, ns,
        quality_gate, quality_teacher, kmv_k, seg_tail_min, seg_tail_k,
    )
    # the DSIR gate's parameters are zone-frozen too: counts hashed
    # under a different bucket count / target predicate / threshold
    # must never merge or silently change who gets packed
    meta.update({
        "dsir_gate": bool(dsir_gate),
        "dsir_target": dsir_target,
        "dsir_buckets": int(dsir_buckets),
        "dsir_min_num": int(dsir_min_num),
        "dsir_min_den": int(dsir_min_den),
    })
    bloom_tbl_prefix = _table_prefix(None, "prep_bloom", base_dir)
    z = {
        name: f"{base_dir}/{name}"
        for name in (
            "seg_counts", "bloom_words", "fingerprints",
            "test_shingles", "cursors", "packs", "stats",
            "qclf_weights", "train_kmv", "test_kmv", "dsir_model",
        )
    }

    def seg_merge(df):
        # the bounding snapshot (zone docstring's count-loss
        # contract): SUM-merge, keep counts >= seg_tail_min, plus a
        # deterministic hash-ranked sample of <= seg_tail_k of the
        # dropped singleton tail (TakeOrderedAndProject — bounded)
        merged = df.groupBy("segment").agg(SF.sum("n_docs").alias("n_docs"))
        kept_rows = merged.filter(SF.col("n_docs") >= seg_tail_min)
        if seg_tail_k <= 0:
            return kept_rows
        sampled = (
            merged.filter(SF.col("n_docs") < seg_tail_min)
            .orderBy(hash64(SF.col("segment"), "segtail"), "segment")
            .limit(seg_tail_k)
        )
        return kept_rows.unionByName(sampled)

    # every STATE zone re-aggregates under its own merge; outputs
    # (packs/stats) and the qclf_weights ledger stay per-batch
    compactions = [
        (z["seg_counts"], dict(transform=seg_merge)),
        (z["cursors"], dict(transform=lambda df: df.groupBy("shard_id").agg(
            SF.sum("n_tokens").alias("n_tokens")
        ))),
        (z["fingerprints"], dict(transform=lambda df: df.distinct())),
        (z["test_shingles"], dict(transform=lambda df: df.distinct())),
        (z["train_kmv"], dict(transform=lambda df: merge_kmv(df, kmv_k))),
        (z["test_kmv"], dict(transform=lambda df: merge_kmv(df, kmv_k))),
        (z["dsir_model"], dict(transform=sum_dsir_models)),
        (z["bloom_words"], dict(
            transform=merge_bloom_words, bucket_keys=["word_idx"], buckets=4,
            sort=["word_idx"], table_prefix=bloom_tbl_prefix,
        )),
    ]

    def body(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        # every multi-consumer stage frame is persist_tracked and every
        # lineage cut checkpoint_tracked, so the runner's scope frees
        # both at batch end — never clearCache (it would drop
        # caller-owned caches too). A cut is the batch twin's move for a
        # small frame about to be joined back against its own deep
        # upstream: persist caches data but every consumer still
        # re-analyzes the full logical tree, and a stage that doubles the
        # tree (gate ids anti-joined into the stream they came from) can
        # overflow the driver's analysis stack.
        batch_df = persist_tracked(batch_df)
        # -- stage 1: boilerplate (hot list = strictly-before merge) --
        seg_hist = read_incremental_zone(spark, z["seg_counts"], batch_id)
        hot = (
            seg_hist.groupBy("segment")
            .agg(SF.sum("n_docs").alias("n_docs"))
            .filter(SF.col("n_docs") >= md)
            .select("segment")
            if seg_hist is not None
            else spark.createDataFrame([], "segment string")
        )
        batch = persist_tracked(
            remove_boilerplate(batch_df, width=w, min_docs=md, hot=hot)
            .select("doc_id", "clean_text")
        )

        # -- stage 2: two-tier exact dedup vs strictly-before state --
        bloom = read_incremental_zone(
            spark, z["bloom_words"], batch_id, bloom_tbl_prefix
        )
        fps = read_incremental_zone(spark, z["fingerprints"], batch_id)
        if bloom is not None and fps is not None:
            verdicts = bloom_chased_duplicates(
                batch, fps, merge_bloom_words(bloom), m_bits, k,
                text="clean_text",
            )
            dup_hist = verdicts.filter(SF.col("is_dup")).select("doc_id")
        else:
            dup_hist = batch.select("doc_id").filter(SF.lit(False))
        # within-batch exact dups: keep the lowest doc_id occurrence
        from pyspark.sql import Window as _W

        w_fp = _W.partitionBy(SF.md5("clean_text")).orderBy("doc_id")
        dup_within = (
            batch.withColumn("_rn", SF.row_number().over(w_fp))
            .filter(SF.col("_rn") > 1)
            .select("doc_id")
        )
        # dup_ids is a small id list joined back against the stream
        # it came from, and kept is the stage frame EVERY later stage
        # (contamination, quality, DSIR, packing, five zone deltas,
        # the stats row) builds on. Persist alone left the full
        # bloom-chase lineage in the analyzed plan of every one of
        # those ~12 downstream actions — profiled at 149 s of
        # driver-only gaps vs 68 s of execution over a 3-batch
        # availableNow run (r16; guide §7.3 planning bottleneck).
        # The eager cut bounds every downstream plan at this stage
        # boundary, and a batch retry recomputes from the checkpoint's
        # own batch input.
        dup_ids = checkpoint_tracked(dup_hist.unionByName(dup_within).distinct())
        # kept is batch-sized, not the small frame checkpoint_tracked's
        # contract asks for: it is bounded by the trigger size
        # (max_files_per_trigger on the source) and released at batch
        # end by the runner's scope
        kept = checkpoint_tracked(batch.join(dup_ids, "doc_id", "left_anti"))

        # -- stage 3: contamination gate. The index side is the
        # strictly-before zone UNIONED with the batch's OWN test
        # docs' shingles — a train doc contaminated by a test doc
        # arriving in the SAME micro-batch must be dropped too
        # (matching the batch twin, whose contamination_pairs runs
        # over all of kept; replay-safe because the batch's own
        # shingles derive from batch_df, never from a half-written
        # zone delta) --
        is_test = hash64(SF.col("doc_id"), "split") % test_mod == 0
        batch_test_sh = persist_tracked(
            doc_shingles(kept.filter(is_test), "clean_text", "doc_id", shingle_n)
            .select("shingle")
            .distinct()
        )
        tidx = read_incremental_zone(spark, z["test_shingles"], batch_id)
        tidx_now = (
            batch_test_sh
            if tidx is None
            else tidx.select("shingle").unionByName(batch_test_sh)
        )
        train = kept.filter(~is_test)
        # same move as dup_ids: a small id list anti-joined into the
        # stream it was derived from — cut, or every consumer of
        # trainf re-analyzes the whole shingle-index join
        contam = checkpoint_tracked(
            doc_shingles(train, "clean_text", "doc_id", shingle_n)
            .join(tidx_now, "shingle", "left_semi")
            .select("doc_id")
            .distinct()
        )
        trainf = persist_tracked(train.join(contam, "doc_id", "left_anti"))

        # -- stage 3.5: trained quality gate (opt-in). Apply the
        # LATEST strictly-before weights; batch 0's train docs pass
        # ungated (no weights yet — the hot-list one-batch lag).
        # Refresh = retrain on THIS batch's kept docs at batch 0 and
        # at every compact_every boundary; deterministic fit → the
        # batch_id=N overwrite is replay-idempotent. --
        trainq = trainf
        qdrop_df = None
        if quality_gate:
            from ctcityscraper_spark.operators.text import (
                quality_classifier_logit_col,
                quality_score_col,
                train_quality_classifier,
            )

            wz = read_incremental_zone(spark, z["qclf_weights"], batch_id)
            wrow = (
                wz.orderBy(SF.col("trained_batch").desc())
                .limit(1)
                .collect()
                if wz is not None
                else []
            )
            if wrow:
                r = wrow[0]
                weights = [r.w0, r.w1, r.w2, r.w3, r.w4, r.b]
                logit = quality_classifier_logit_col("clean_text", weights)
                trainq = persist_tracked(trainf.filter(logit > 0))
                qdrop_df = trainf.filter(~(logit > 0)).agg(
                    SF.count("*").cast("long").alias("n_quality_dropped")
                )
            refresh = (not wrow) or (compact_every and batch_id % compact_every == 0)
            if refresh and not kept.isEmpty():
                new_w = train_quality_classifier(
                    kept,
                    text="clean_text",
                    labels=quality_score_col("clean_text") >= quality_teacher,
                )
                _put(
                    spark.createDataFrame(
                        [tuple(new_w) + (batch_id,)],
                        "w0 double, w1 double, w2 double, w3 double, "
                        "w4 double, b double, trained_batch long",
                    ),
                    z["qclf_weights"],
                    batch_id,
                )

        # -- stage 3.7: DSIR domain gate (opt-in). Score against the
        # strictly-before merged model zone (unseen batch buckets
        # take dsir_score_with_model's smoothing floor); batch 0
        # passes ungated (no model yet — the one-batch lag); every
        # batch appends its own ≤ dsir_buckets-row model delta
        # (target labels evaluated on the RAW batch columns before
        # the doc_id/clean_text narrowing). --
        traind = trainq
        ddrop_df = None
        if dsir_gate:
            from ctcityscraper_spark.operators.corpus import (
                dsir_bucket_model,
                dsir_score_with_model,
            )

            mz = read_incremental_zone(spark, z["dsir_model"], batch_id)
            if mz is not None:
                scored = dsir_score_with_model(
                    trainq, sum_dsir_models(mz),
                    n_buckets=dsir_buckets, text="clean_text",
                )
                drop_ids = checkpoint_tracked(
                    scored.filter(
                        SF.col("weight_bits") * dsir_min_den
                        < dsir_min_num * SF.col("n_tokens")
                    ).select("doc_id")
                )
                traind = persist_tracked(
                    trainq.join(drop_ids, "doc_id", "left_anti")
                )
                ddrop_df = drop_ids.agg(
                    SF.count("*").cast("long").alias("n_dsir_dropped")
                )
            labels = batch_df.select("doc_id", SF.expr(dsir_target).alias("is_target"))
            _put(
                dsir_bucket_model(
                    kept.join(labels, "doc_id", "left"),
                    SF.col("is_target"),
                    n_buckets=dsir_buckets,
                    text="clean_text",
                ),
                z["dsir_model"],
                batch_id,
            )

        # -- stage 4: pack continuation from strictly-before cursors --
        cur_hist = read_incremental_zone(spark, z["cursors"], batch_id)
        cursor = (
            cur_hist.groupBy("shard_id")
            .agg(SF.sum("n_tokens").alias("base_off"))
            if cur_hist is not None
            else None
        )
        packs = persist_tracked(
            pack_sequences(
                traind, text="clean_text", seq_len=sl, num_shards=ns,
                base_offsets=cursor,
            )
        )

        # -- outputs + this batch's own zone deltas: mutually
        # independent overwrite jobs over already-cut/persisted stage
        # frames, overlapped in a small driver pool (guide §2.6 — the
        # engine.run_load pattern; serial cost was the SUM of the
        # write round-trips, now the slowest few). Exactly-once is
        # unchanged: each write is still its own batch_id=N
        # overwrite, and a crash mid-pool leaves the same
        # some-zones-written state a crash mid-serial-sequence did —
        # the replayed batch rewrites every zone either way. The
        # cursor delta stays ordered behind packs in ITS OWN task
        # (it reads the packs cache); stats stays after the pool (it
        # reads the delta caches the pool materializes). --
        surv = kept  # survivors extend dedup state (test docs too:
        # a future re-ingest of a held-out doc is still a duplicate)
        bloom_delta = persist_tracked(
            build_bloom_index(surv, m_bits, k, text="clean_text")
        )
        sh3 = lambda d: d.select(
            SF.explode(shingles_col("clean_text", 3)).alias("term")
        )
        # the train sketch tracks the stream that is actually
        # PACKED — post-quality AND post-DSIR
        train_kmv_delta = persist_tracked(
            kmv_sketch_terms(sh3(traind), "term", k=kmv_k)
        )
        test_kmv_delta = persist_tracked(
            kmv_sketch_terms(sh3(kept.filter(is_test)), "term", k=kmv_k)
        )
        seg_delta = (
            segments(batch_df, width=w)
            .select("segment", "doc_id")
            .distinct()
            .groupBy("segment")
            .agg(SF.count("*").alias("n_docs"))
        )
        fp_delta = surv.select(SF.md5("clean_text").alias("fingerprint")).distinct()

        def _packs_then_cursor() -> None:
            _put(packs, z["packs"], batch_id)
            _put(
                packs.groupBy("shard_id").agg(SF.sum("n_tokens").alias("n_tokens")),
                z["cursors"],
                batch_id,
            )

        from concurrent.futures import ThreadPoolExecutor

        from pyspark.util import inheritable_thread_target

        with ThreadPoolExecutor(max_workers=4) as pool:
            # each write joins the batch's job group (wrapped on this
            # thread), so query.stop() also cancels writes in flight
            submit = lambda fn, *a: pool.submit(
                inheritable_thread_target(spark)(fn), *a
            )
            futs = [
                submit(_packs_then_cursor),
                submit(_put, seg_delta, z["seg_counts"], batch_id),
                submit(_put, bloom_delta, z["bloom_words"], batch_id),
                submit(_put, fp_delta, z["fingerprints"], batch_id),
                submit(_put, batch_test_sh, z["test_shingles"], batch_id),
                submit(_put, train_kmv_delta, z["train_kmv"], batch_id),
                submit(_put, test_kmv_delta, z["test_kmv"], batch_id),
            ]
            for fut in futs:
                fut.result()

        # -- the stats ledger: attrition + health monitors over the
        # state AS OF THE END of this batch (strictly-before zones +
        # this batch's own deltas — deterministic under replay) --
        if qdrop_df is None:
            qdrop_df = spark.range(1).select(
                SF.lit(0).cast("long").alias("n_quality_dropped")
            )
        if ddrop_df is None:
            # 0 when the DSIR gate is off or not yet armed (batch 0)
            # — same always-present convention as n_quality_dropped
            ddrop_df = spark.range(1).select(
                SF.lit(0).cast("long").alias("n_dsir_dropped")
            )
        bloom_now = bloom_delta if bloom is None else bloom.unionByName(bloom_delta)
        saturation = bloom_saturation(bloom_now, m_bits, k).select(
            SF.col("fill").alias("bloom_fill"),
            SF.col("est_fpp").alias("bloom_est_fpp"),
        )
        kmv_hist_tr = read_incremental_zone(spark, z["train_kmv"], batch_id)
        kmv_hist_te = read_incremental_zone(spark, z["test_kmv"], batch_id)
        train_kmv_now = merge_kmv(
            train_kmv_delta
            if kmv_hist_tr is None
            else kmv_hist_tr.unionByName(train_kmv_delta),
            kmv_k,
        )
        test_kmv_now = merge_kmv(
            test_kmv_delta
            if kmv_hist_te is None
            else kmv_hist_te.unionByName(test_kmv_delta),
            kmv_k,
        )
        resid = kmv_overlap(train_kmv_now, test_kmv_now, kmv_k).select(
            SF.col("inter_est").alias("resid_inter_est"),
            SF.col("jaccard_est").alias("resid_jaccard_est"),
        )
        stats = (
            batch.agg(SF.count("*").alias("n_batch_in"))
            .crossJoin(dup_ids.agg(SF.count("*").alias("n_dup_dropped")))
            .crossJoin(kept.filter(is_test).agg(SF.count("*").alias("n_test_held_out")))
            .crossJoin(contam.agg(SF.count("*").alias("n_contam_dropped")))
            .crossJoin(qdrop_df)
            .crossJoin(ddrop_df)
            .crossJoin(saturation)
            .crossJoin(resid)
        )
        _put(stats, z["stats"], batch_id)

    return _zone_stream(
        stream, checkpoint_dir, body,
        meta=(base_dir, meta, _PREP_REBUILD_HINT, list(z.values())),
        compact_every=compact_every, compactions=compactions,
    )


def _ivf_zone_meta(n_lists: int, dims: int, centroids: list) -> dict:
    return {"kind": "ivf_index", "format_version": 1,
            "n_lists": n_lists, "dims": dims, "centroids": centroids}


_IVF_REBUILD_HINT = (
    "Rebuild the index from the corpus (build_ivf_index / "
    "assign_ivf_lists) or restart the stream with a fresh index_dir."
)


def _read_validated_zone(
    spark: SparkSession,
    zone_dir: str,
    kind: str,
    payload_key: str,
    rebuild_hint: str,
    before_batch: int = 2**62,
    table_prefix: str | None = None,
) -> tuple[DataFrame | None, object | None]:
    """Shared validation + read for quantizer-carrying zones
    (:func:`read_ivf_index`, :func:`read_pq_codes`): rows merged for
    batches strictly before ``before_batch`` plus the marker's frozen
    quantizer payload. An absent zone is ``(None, None)``; a data-bearing
    zone with no marker, a wrong kind, or a bumped format version raises
    with the family's rebuild hint — rows written under a different
    quantizer must never be returned."""
    meta = _checked_zone_meta(spark, zone_dir, rebuild_hint, kind=kind)
    if meta is None:
        return None, None
    rows = read_incremental_zone(spark, zone_dir, before_batch, table_prefix)
    return rows, meta[payload_key]


def read_ivf_index(
    spark: SparkSession,
    index_dir: str,
    before_batch: int = 2**62,
    table_prefix: str | None = None,
) -> tuple[DataFrame | None, list | None]:
    """The merged IVF index rows for batches strictly before
    ``before_batch`` plus the zone's FROZEN centroids:
    ``(indexed | None, centroids | None)``. Assignment is per-row, so the
    union of per-batch deltas IS ``assign_ivf_lists`` over everything
    ingested, exactly — feed both returns to ``similarity.ivf_probe_topk``
    to query, or the frame alone to ``similarity.ivf_list_stats`` /
    ``ivf_imbalance_report`` for the drift monitor. On a freshly-compacted
    zone (epoch bucketed on list_id, empty tail) the probe join is
    shuffle-free on the index side. A data-bearing zone with no marker, a
    wrong kind, or a bumped format version raises — probing rows assigned
    under different centroids silently destroys recall."""
    return _read_validated_zone(
        spark, index_dir, "ivf_index", "centroids", _IVF_REBUILD_HINT,
        before_batch, table_prefix,
    )


def streaming_ivf(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    centroids: list,
    vec: str = "embedding",
    id_col: str = "vec_id",
    compact_every: int | None = None,
    compact_buckets: int = 8,
    compact_table_prefix: str | None = None,
    stats_dir: str | None = None,
):
    """Continuously-maintained IVF index over an embedding stream — the
    vector-index instance of the delta-zone recipe, completing the
    streaming half of the stored-state matrix (Bloom / CMS / KMV /
    quantile / Gram / spans all stream already; IVF and PQ now do too).

    Every micro-batch assigns its vectors under the FROZEN ``centroids``
    (``similarity.assign_ivf_lists`` — one Arrow argmin pass over the
    batch, never a stored-index scan) and appends the delta
    ``(neighbor_id, cv, list_id)`` rows to ``index_dir/batch_id=N``
    (exactly-once: per-batch overwrite + the streaming checkpoint).
    Because assignment is per-row, the merged zone equals
    ``assign_ivf_lists`` over everything ingested, exactly. The centroids
    ARE the zone's format contract: they live in ``_zone_meta.json`` and
    a stream resumed under different centroids (or n_lists/dims) dies on
    its first batch — mixed-quantizer rows would silently destroy
    recall. Query the live index with :func:`read_ivf_index` +
    ``ivf_probe_topk``; watch drift with ``ivf_list_stats`` /
    ``ivf_imbalance_report`` (the ``ann_ivf_imbalance`` monitor) and
    retrain + restart the zone when imbalance degrades. With
    ``compact_every=N`` the zone periodically rewrites into one epoch
    bucketed on ``list_id``, so right after compaction probe joins are
    shuffle-free on the index side.

    With ``stats_dir`` set, every batch also appends its PER-LIST
    assignment counts ``(list_id, n)`` — a SUM-mergeable occupancy
    ledger (each vector belongs to exactly one batch, so summing any
    window of deltas IS ``ivf_list_stats``'s count column over that
    window). Per-batch cost is one groupBy over the BATCH's own
    assignments — the stored index is never re-read, the
    state-sized-monitor rule the other ledgers follow. Read it back
    with :func:`ivf_occupancy_summary` (n_vectors, max_list, imbalance,
    n_empty_lists — the retrain trigger: imbalance rising means the
    incoming distribution wandered from the frozen centroids). Returns
    the StreamingQuery handle; caller stops it."""
    from pyspark.sql import functions as SF

    from ctcityscraper_spark.operators.artifacts import persist_tracked
    from ctcityscraper_spark.operators.similarity import assign_ivf_lists

    n_lists = len(centroids)
    dims = len(centroids[0]) if centroids else 0
    ctrs = [[float(x) for x in c] for c in centroids]
    tbl_prefix = _table_prefix(compact_table_prefix, "ivf_rows", index_dir)

    def body(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        assigned = persist_tracked(
            assign_ivf_lists(batch_df, ctrs, vec=vec, id_col=id_col)
        )
        _put(assigned, index_dir, batch_id)
        if stats_dir is not None:
            _put(
                assigned.groupBy("list_id").agg(SF.count("*").alias("n")),
                stats_dir, batch_id,
            )

    return _zone_stream(
        stream, checkpoint_dir, body,
        meta=(index_dir, _ivf_zone_meta(n_lists, dims, ctrs), _IVF_REBUILD_HINT),
        compact_every=compact_every,
        compactions=[(index_dir, dict(
            table_prefix=tbl_prefix, bucket_keys=["list_id"],
            buckets=compact_buckets, sort=["list_id"],
        ))],
    )


def ivf_occupancy_summary(
    spark: SparkSession,
    stats_dir: str,
    n_lists: int,
    before_batch: int = 2**62,
) -> DataFrame | None:
    """The IVF occupancy monitor from :func:`streaming_ivf`'s per-batch
    ``(list_id, n)`` count ledger: one row ``(n_vectors, max_list,
    imbalance, n_empty_lists)`` over everything assigned in batches
    strictly before ``before_batch`` (default: all). SUM-merging the
    deltas IS ``ivf_list_stats``'s count column over the same window
    (each vector belongs to exactly one batch); empty lists come back
    via the full 0..n_lists-1 grid, so an emptying list is a real
    ``n = 0``, never a dropped row. ``imbalance`` = max list over mean
    list (mean includes empty lists) — the retrain trigger. Cost: a SUM
    over ≤ n_lists × batches ledger rows; the index itself is never
    read. None when the ledger is empty."""
    from pyspark.sql import functions as SF

    rows = read_incremental_zone(spark, stats_dir, before_batch)
    if rows is None:
        return None
    merged = rows.groupBy("list_id").agg(SF.sum("n").alias("n"))
    grid = spark.range(int(n_lists)).selectExpr(
        "cast(id as int) as list_id"
    )
    full = grid.join(merged, "list_id", "left").select(
        "list_id", SF.coalesce(SF.col("n"), SF.lit(0)).alias("n")
    )
    return full.agg(
        SF.sum("n").alias("n_vectors"),
        SF.max("n").alias("max_list"),
        (
            SF.max("n") * SF.lit(int(n_lists)) / SF.sum("n")
        ).alias("imbalance"),
        SF.sum((SF.col("n") == 0).cast("int")).alias("n_empty_lists"),
    )


def _pq_zone_meta(codebook: list) -> dict:
    m = len(codebook)
    k = len(codebook[0]) if codebook else 0
    sub = len(codebook[0][0]) if codebook and codebook[0] else 0
    return {"kind": "pq_codes", "format_version": 1,
            "m": m, "k": k, "sub_dim": sub, "codebook": codebook}


_PQ_REBUILD_HINT = (
    "Re-encode the corpus under the current codebook (pq_encode_corpus) "
    "or restart the stream with a fresh codes_dir."
)


def read_pq_codes(
    spark: SparkSession,
    codes_dir: str,
    before_batch: int = 2**62,
) -> tuple[DataFrame | None, list | None]:
    """The merged PQ code table for batches strictly before
    ``before_batch`` plus the zone's FROZEN codebook:
    ``(codes | None, codebook | None)``. Encoding is per-row, so the
    union of per-batch deltas IS ``pq_encode_corpus`` over everything
    ingested, exactly — feed both returns to
    ``similarity.pq_adc_topk_codes``. Marker validation as in
    :func:`read_ivf_index`: codes written under a different codebook
    would ADC-score as garbage, so an unversioned or mismatched zone
    raises instead of returning rows."""
    return _read_validated_zone(
        spark, codes_dir, "pq_codes", "codebook", _PQ_REBUILD_HINT,
        before_batch,
    )


def streaming_pq(
    stream: DataFrame,
    codes_dir: str,
    checkpoint_dir: str,
    codebook: list,
    vec: str = "embedding",
    id_col: str = "vec_id",
    compact_every: int | None = None,
    stats_dir: str | None = None,
):
    """Continuously-maintained PQ code table over an embedding stream —
    the compression-index sibling of :func:`streaming_ivf` (same recipe,
    scan-stage ``pq_encode_corpus`` under the FROZEN codebook per batch;
    the codebook is the zone's format contract in ``_zone_meta.json``).
    Merged zone ≡ one-shot encode of everything ingested (per-row
    encoding). Query with :func:`read_pq_codes` +
    ``pq_adc_topk_codes``; ADC scoring is a scan over the code table
    (no join key), so compaction consolidates files without bucketing.

    With ``stats_dir`` set, every batch also appends one
    ``pq_recon_stats`` monitor row (n, sse_micros, mse_micros) — THIS
    batch's reconstruction error under the frozen codebook. Because the
    fixed-point SSE is exactly SUM-mergeable across batches (floor to
    micros happens per row, before the integer SUM), the stats zone is a
    drift ledger: a monitoring job SUMs any two epoch windows and
    compares mse — exactly ``pq_recon_drift`` over the stream's own
    history — and retrains (``ann_pq_retrain_cycle``'s loop) when the
    incoming distribution wanders from the codebook's training corpus.
    Cost: one scan-stage pass over the batch. Returns the
    StreamingQuery handle; caller stops it."""
    from ctcityscraper_spark.operators.similarity import (
        pq_encode_corpus,
        pq_recon_stats,
    )

    cb = [[[float(x) for x in ctr] for ctr in sub] for sub in codebook]

    def body(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        _put(pq_encode_corpus(batch_df, cb, vec=vec, id_col=id_col),
             codes_dir, batch_id)
        if stats_dir is not None:
            _put(pq_recon_stats(batch_df, cb, vec=vec, id_col=id_col),
                 stats_dir, batch_id)

    return _zone_stream(
        stream, checkpoint_dir, body,
        meta=(codes_dir, _pq_zone_meta(cb), _PQ_REBUILD_HINT),
        compact_every=compact_every, compactions=[(codes_dir, {})],
    )


def _kmeans_zone_meta(centroids_micros: list) -> dict:
    k = len(centroids_micros)
    dims = len(centroids_micros[0]) if centroids_micros else 0
    return {"kind": "kmeans_state", "format_version": 1,
            "k": k, "dims": dims, "centroids_micros": centroids_micros}


_KMEANS_REBUILD_HINT = (
    "Re-aggregate the state under the current centroids "
    "(clustering.kmeans_partial_state over the corpus) or restart the "
    "stream with a fresh state_dir."
)


def read_kmeans_state(
    spark: SparkSession,
    state_dir: str,
    before_batch: int = 2**62,
) -> tuple[DataFrame | None, list | None]:
    """The Lloyd state rows for batches strictly before ``before_batch``
    plus the zone's FROZEN centroids (integer micros):
    ``(state_rows | None, centroids | None)``. The rows are per-batch
    deltas — SUM-collapse with ``clustering.sum_kmeans_state`` before
    consuming; the collapsed table IS ``kmeans_partial_state`` over
    everything ingested, exactly (each vector contributes to exactly one
    batch and long sums are order-free). Marker validation as in
    :func:`read_ivf_index`: state aggregated under different centroids
    must never merge — the sums would mix assignment regimes."""
    rows, ctrs = _read_validated_zone(
        spark, state_dir, "kmeans_state", "centroids_micros",
        _KMEANS_REBUILD_HINT, before_batch,
    )
    if ctrs is not None:
        ctrs = [[int(x) for x in c] for c in ctrs]
    return rows, ctrs


def refreshed_kmeans_centroids(
    spark: SparkSession,
    state_dir: str,
    before_batch: int = 2**62,
) -> list | None:
    """One Lloyd update step from the streamed state zone: collapse the
    delta rows and take ``sum DIV n`` per dimension against the zone's
    frozen centroids (empty clusters keep their coordinates) — the
    nightly centroid refresh, computed from ≤ k × batches ledger rows
    without ever re-reading the corpus. The caller decides whether to
    ADOPT the refresh (restarting the zone under the new centroids —
    the detect → retrain → verify loop); the running stream keeps
    aggregating under its frozen contract either way. None when the
    zone is absent or empty."""
    from ctcityscraper_spark.operators.clustering import (
        centroids_from_state,
        sum_kmeans_state,
    )

    rows, ctrs = read_kmeans_state(spark, state_dir, before_batch)
    if rows is None or ctrs is None:
        return None
    return centroids_from_state(sum_kmeans_state(rows), ctrs)


def streaming_kmeans_state(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    centroids: list,
    vec: str = "embedding",
    id_col: str = "vec_id",
    compact_every: int | None = None,
):
    """Continuously-maintained Lloyd k-means state over an embedding
    stream — the CLUSTERING instance of the delta-zone recipe, and the
    cleanest one: the entire zone is ≤ k rows of (count, d long sums)
    per batch, every column SUM-mergeable, so exactly-once composes with
    bit-exact merging for free.

    Every micro-batch assigns its vectors under the FROZEN integer-micro
    ``centroids`` (clustering.kmeans_partial_state — one scan-stage
    argmin pass over the batch, never a stored-state scan) and appends
    the ≤ k-row delta state to ``state_dir/batch_id=N`` (exactly-once:
    per-batch overwrite + the streaming checkpoint). The centroids ARE
    the zone's format contract (``_zone_meta.json``): state aggregated
    under different centroids would mix assignment regimes, so a resumed
    stream with a different quantizer dies on its first batch.

    The zone doubles as its own occupancy ledger (the ``n`` column) and
    feeds :func:`refreshed_kmeans_centroids` — one update step, corpus
    never re-read. With ``compact_every=N`` the zone periodically
    SUM-collapses to ≤ k rows total (clustering.sum_kmeans_state is
    idempotent, the compaction-transform contract), so stored state
    stays k-row-sized at any stream length. Returns the StreamingQuery
    handle; caller stops it."""
    from ctcityscraper_spark.operators.clustering import (
        kmeans_partial_state,
        sum_kmeans_state,
    )

    ctrs = [[int(x) for x in c] for c in centroids]

    def body(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        _put(kmeans_partial_state(batch_df, ctrs, vec=vec, id_col=id_col),
             state_dir, batch_id)

    return _zone_stream(
        stream, checkpoint_dir, body,
        meta=(state_dir, _kmeans_zone_meta(ctrs), _KMEANS_REBUILD_HINT),
        compact_every=compact_every,
        compactions=[(state_dir, dict(transform=sum_kmeans_state))],
    )


def _layered_keyed_read(
    spark: SparkSession,
    zone_dir: str,
    key: str,
    merge,
    before_batch: int = 2**62,
) -> DataFrame | None:
    """Newest-wins read of a keyed-state zone WITHOUT re-shuffling the
    whole zone: the compaction epoch already holds one merged row per
    key (its compaction ran ``merge`` as the transform — the caller's
    contract), so only the TAIL (bounded by compact_every batches)
    needs the merge aggregate; epoch rows superseded by a tail row drop
    via a broadcast anti-join on ``key``. Per-batch read cost is
    epoch-scan + tail-sized shuffle instead of a zone-sized shuffle —
    the difference between O(corpus) and O(delta) state upkeep at
    stream length."""
    epoch_df, tail_df = read_incremental_zone_layered(
        spark, zone_dir, before_batch
    )
    if tail_df is None:
        return epoch_df
    tail_latest = merge(tail_df)
    if epoch_df is None:
        return tail_latest
    kept = epoch_df.join(
        F.broadcast(tail_latest.select(key)), key, "left_anti"
    )
    return kept.unionByName(tail_latest)


def _word_freqs_zone_meta(text: str) -> dict:
    return {"kind": "word_freqs", "format_version": 1, "config": {"text": text}}


_WORD_FREQS_REBUILD_HINT = (
    "Rebuild the frequency zone (bpe.bpe_word_freqs over every document "
    "ingested) or restart the stream with a fresh freqs_dir."
)


def read_word_freqs(
    spark: SparkSession,
    freqs_dir: str,
    before_batch: int = 2**62,
) -> tuple[DataFrame | None, dict | None]:
    """The word-frequency delta rows for batches strictly before
    ``before_batch`` plus the zone's frozen config. SUM-collapse with
    ``bpe.sum_word_freqs`` before consuming (idempotent); the collapsed
    table IS ``bpe_word_freqs`` over everything ingested, exactly — so
    ``bpe.bpe_train_from_freqs`` retrains the tokenizer WITHOUT
    re-reading the corpus."""
    return _read_validated_zone(
        spark, freqs_dir, "word_freqs", "config", _WORD_FREQS_REBUILD_HINT,
        before_batch,
    )


def streaming_word_freqs(
    stream: DataFrame,
    freqs_dir: str,
    checkpoint_dir: str,
    text: str = "text",
    compact_every: int | None = None,
):
    """Continuously-maintained word-frequency table over a document
    stream — the TOKENIZER-TRAINING instance of the delta-zone recipe:
    the (word, freq) table is vocabulary-bounded and SUM-mergeable, so
    every micro-batch appends its own counts (``bpe.bpe_word_freqs``
    over just the batch) to ``freqs_dir/batch_id=N`` and the merged
    zone equals the one-shot table over everything ingested, exactly.
    Retrain the BPE vocab any time with :func:`read_word_freqs` +
    ``bpe.sum_word_freqs`` + ``bpe.bpe_train_from_freqs`` — training
    never re-reads the corpus (the whole point at 100 TB: the corpus
    scan happened once, amortized across the stream). Append-only
    contract: each document must arrive in exactly one micro-batch.
    Returns the StreamingQuery handle; caller stops it."""
    from ctcityscraper_spark.operators.bpe import bpe_word_freqs, sum_word_freqs

    def body(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        _put(bpe_word_freqs(batch_df, text), freqs_dir, batch_id)

    return _zone_stream(
        stream, checkpoint_dir, body,
        meta=(freqs_dir, _word_freqs_zone_meta(text), _WORD_FREQS_REBUILD_HINT),
        compact_every=compact_every,
        compactions=[(freqs_dir, dict(transform=sum_word_freqs))],
    )


def _cc_zone_meta() -> dict:
    return {"kind": "cc_assignments", "format_version": 1}


_CC_REBUILD_HINT = (
    "Rebuild the assignment zone (graph.connected_components over every "
    "pair ever ingested) or restart the stream with a fresh state_dir."
)


def read_cc_assignments(
    spark: SparkSession,
    state_dir: str,
    before_batch: int = 2**62,
) -> tuple[DataFrame | None, dict | None]:
    """The merged (node, component, epoch) assignment for batches
    strictly before ``before_batch`` — newest epoch wins per node
    (``graph.latest_components``, the zone's merge rule), so the result
    IS ``connected_components`` over every pair ingested in those
    batches, exactly (pinned in tests). ``(None, None)`` when nothing
    exists yet; marker validation as in the other stored zones."""
    from ctcityscraper_spark.operators.graph import latest_components

    meta = _checked_zone_meta(
        spark, state_dir, _CC_REBUILD_HINT, kind="cc_assignments"
    )
    if meta is None:
        return None, None
    merged = _layered_keyed_read(
        spark, state_dir, "node", latest_components, before_batch
    )
    return merged, meta


def streaming_components(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    src: str = "doc_a",
    dst: str = "doc_b",
    compact_every: int | None = None,
):
    """Continuously-maintained connected-components assignment over a
    near-duplicate PAIR stream — the GRAPH instance of the delta-zone
    recipe, closing the dedup cascade's last full-recompute: clusters
    are maintained as edges arrive instead of re-chased nightly.

    Every micro-batch reads the merged assignment for batches strictly
    BEFORE itself (exactly-once: a replayed batch never sees its own
    partial output), contracts its edges onto component roots
    (``graph.incremental_components`` — the iterative fixpoint runs on
    the contracted delta only, never the stored corpus), and appends
    JUST the new/relabeled rows stamped ``epoch = batch_id`` to
    ``state_dir/batch_id=N``. The zone's merge rule is newest-epoch-
    wins per node (``graph.latest_components`` — idempotent, the
    compaction-transform contract), so the merged zone equals a fresh
    ``connected_components`` over every pair ever ingested, exactly
    (batch-vs-stream equivalence pinned in tests).

    With ``compact_every=N`` the zone periodically collapses to one row
    per node, so stored size tracks live nodes, not relabel history.
    Checkpoint RDDs created by the per-batch fixpoint are freed after
    the delta lands — a long-lived driver accumulates no cached blocks
    (asserted in tests). Returns the StreamingQuery handle; caller
    stops it."""
    from ctcityscraper_spark.operators.graph import (
        incremental_components,
        latest_components,
    )

    def body(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        # the runner frees every checkpoint the fixpoint creates once the
        # write has materialized the delta
        assignments, _ = read_cc_assignments(spark, state_dir, before_batch=batch_id)
        delta = incremental_components(
            assignments, batch_df, src, dst, changed_only=True
        ).withColumn("epoch", F.lit(batch_id).cast("long"))
        _put(delta, state_dir, batch_id)

    return _zone_stream(
        stream, checkpoint_dir, body,
        meta=(state_dir, _cc_zone_meta(), _CC_REBUILD_HINT),
        compact_every=compact_every,
        compactions=[(state_dir, dict(transform=latest_components))],
    )


def _drop_list_zone_meta(quality_sql: str) -> dict:
    return {
        "kind": "dedup_drop_list", "format_version": 1,
        "config": {"quality_sql": quality_sql},
    }


_DROP_LIST_REBUILD_HINT = (
    "Rebuild both zones (graph.connected_components + "
    "dedup.keep_best_representative over every pair ever ingested) or "
    "restart the stream with a fresh base_dir."
)


def latest_drops(rows: DataFrame) -> DataFrame:
    """Merge rule for the stored (drop_id, keep_id, epoch) zone: newest
    epoch wins per drop_id. Idempotent (compaction-transform contract).
    Drop rows are MONOTONE under edge additions — components only ever
    merge, and the best member of a superset beats the best of any
    subset, so a dropped doc never becomes a keeper; only its keep_id
    can change (superseded by a newer epoch's row)."""
    return rows.groupBy("drop_id").agg(
        F.max_by("keep_id", "epoch").alias("keep_id"),
        F.max("epoch").alias("epoch"),
    )


def read_drop_list(
    spark: SparkSession,
    base_dir: str,
    before_batch: int = 2**62,
) -> tuple[DataFrame | None, dict | None]:
    """The merged (drop_id, keep_id, epoch) drop list for batches
    strictly before ``before_batch`` — the actionable dedup artifact
    over everything ingested, equal to a fresh cascade->CC->keep-best
    run (pinned in tests). ``(None, None)`` when nothing exists yet."""
    drops_dir = f"{base_dir}/drops"
    meta = _checked_zone_meta(
        spark, base_dir, _DROP_LIST_REBUILD_HINT, kind="dedup_drop_list",
        data_dirs=[drops_dir, f"{base_dir}/assignments"],
    )
    if meta is None:
        return None, None
    merged = _layered_keyed_read(
        spark, drops_dir, "drop_id", latest_drops, before_batch
    )
    return merged, meta


def streaming_drop_list(
    stream: DataFrame,
    docs: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    quality_sql: str = "length(text) / 1000.0",
    src: str = "doc_a",
    dst: str = "doc_b",
    compact_every: int | None = None,
):
    """Continuously-maintained dedup DROP LIST over a confirmed-pair
    stream — the whole nightly dedup artifact (pairs -> clusters ->
    keep-best drop rows) as one delta-zone pipeline, composing
    :func:`streaming_components`' assignment maintenance with
    affected-component re-election:

    - ``assignments/batch_id=N``: the changed (node, component, epoch)
      rows (graph.incremental_components — delta-sized fixpoint, the
      corpus-sized state never shuffled);
    - ``drops/batch_id=N``: (drop_id, keep_id, epoch) re-elected ONLY
      inside the components this batch touched
      (dedup.keep_best_representative over affected members).

    Unchanged components keep their older epochs' rows — valid forever
    because drop rows are monotone under edge additions (see
    :func:`latest_drops`). The merged drops zone equals a fresh
    full-graph cascade->CC->keep-best run at every point (batch-vs-
    stream equivalence pinned in tests). ``docs`` is the static corpus
    frame quality is read from; the quality expression rides
    ``_zone_meta`` as a SQL string, so a resumed stream under a
    different ranking refuses (drop rows elected under different
    quality must never merge). Returns the StreamingQuery handle."""
    from ctcityscraper_spark.operators.artifacts import checkpoint_tracked
    from ctcityscraper_spark.operators.dedup import keep_best_representative
    from ctcityscraper_spark.operators.graph import (
        incremental_components,
        latest_components,
    )

    z = {n: f"{base_dir}/{n}" for n in ("assignments", "drops")}

    def body(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        # both writes materialize everything derived this batch before the
        # runner frees the fixpoint's and this checkpoint's blocks
        epoch = F.lit(batch_id).cast("long")
        assignments = _layered_keyed_read(
            spark, z["assignments"], "node", latest_components, batch_id
        )
        full = checkpoint_tracked(
            incremental_components(
                assignments, batch_df, src, dst, flag_col="_chg"
            )
        )
        changed = full.filter(F.col("_chg")).select("node", "component")
        _put(changed.withColumn("epoch", epoch), z["assignments"], batch_id)
        affected = changed.select("component").distinct()
        members = full.select("node", "component").join(
            affected, "component", "left_semi"
        )
        _put(
            keep_best_representative(docs, members, F.expr(quality_sql))
            .withColumn("epoch", epoch),
            z["drops"], batch_id,
        )

    return _zone_stream(
        stream, checkpoint_dir, body,
        meta=(base_dir, _drop_list_zone_meta(quality_sql),
              _DROP_LIST_REBUILD_HINT, list(z.values())),
        compact_every=compact_every,
        compactions=[
            (z["assignments"], dict(transform=latest_components)),
            (z["drops"], dict(transform=latest_drops)),
        ],
    )


def _dsir_zone_meta(config: dict) -> dict:
    return {"kind": "dsir_model", "format_version": 1, "config": config}


_DSIR_REBUILD_HINT = (
    "Rebuild the model under the current config "
    "(corpus.dsir_bucket_model over the corpus) or restart the stream "
    "with a fresh model_dir."
)


def read_dsir_model(
    spark: SparkSession,
    model_dir: str,
    before_batch: int = 2**62,
) -> tuple[DataFrame | None, dict | None]:
    """The DSIR model delta rows for batches strictly before
    ``before_batch`` plus the zone's frozen config:
    ``(model_rows | None, config | None)``. SUM-collapse with
    ``corpus.sum_dsir_models`` before consuming (idempotent); the
    collapsed table IS ``dsir_bucket_model`` over everything ingested,
    exactly. Marker validation as in :func:`read_ivf_index`: counts
    hashed under a different bucket count / seed / ngram / target
    predicate must never merge."""
    return _read_validated_zone(
        spark, model_dir, "dsir_model", "config", _DSIR_REBUILD_HINT,
        before_batch,
    )


def streaming_dsir(
    stream: DataFrame,
    model_dir: str,
    checkpoint_dir: str,
    target_sql: str,
    n_buckets: int = 2048,
    seed: str = "dsir",
    ngram: int = 1,
    text: str = "text",
    id_col: str = "doc_id",
    compact_every: int | None = None,
):
    """Continuously-maintained DSIR selection model over a document
    stream — the data-selection instance of the delta-zone recipe: the
    hashed-feature bucket model is ≤ n_buckets SUM-mergeable rows, so
    every micro-batch appends its own model delta
    (``corpus.dsir_bucket_model`` — one token pass over the batch) to
    ``model_dir/batch_id=N`` and the merged zone equals the one-shot
    model over everything ingested, exactly. Score any corpus or batch
    against the live model with :func:`read_dsir_model` +
    ``corpus.sum_dsir_models`` + ``corpus.dsir_score_with_model`` —
    model maintenance never re-reads scored data and scoring never
    re-reads the model's corpus.

    The model parameters — bucket count, hash seed, ngram order, and the
    TARGET PREDICATE (passed as a SQL string so it is serializable into
    ``_zone_meta.json``) — are the zone's format contract: counts hashed
    under different parameters or a different target definition must
    never merge, so a resumed stream with a changed config dies on its
    first batch. With ``compact_every=N`` the zone SUM-collapses to
    ≤ n_buckets rows total (``sum_dsir_models`` is idempotent — the
    compaction-transform contract). Returns the StreamingQuery handle;
    caller stops it."""
    from ctcityscraper_spark.operators.corpus import (
        dsir_bucket_model,
        sum_dsir_models,
    )
    from pyspark.sql import functions as SF

    config = {
        "n_buckets": int(n_buckets), "seed": seed, "ngram": int(ngram),
        "text": text, "id_col": id_col, "target_sql": target_sql,
    }
    def body(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        _put(
            dsir_bucket_model(
                batch_df, SF.expr(target_sql), n_buckets=n_buckets,
                text=text, id_col=id_col, seed=seed, ngram=ngram,
            ),
            model_dir, batch_id,
        )

    return _zone_stream(
        stream, checkpoint_dir, body,
        meta=(model_dir, _dsir_zone_meta(config), _DSIR_REBUILD_HINT),
        compact_every=compact_every,
        compactions=[(model_dir, dict(transform=sum_dsir_models))],
    )


def _bm25_index_zone_meta(n_term_buckets: int, text: str, id_col: str) -> dict:
    return {
        "kind": "bm25_index", "format_version": 1,
        "n_term_buckets": int(n_term_buckets), "text": text,
        "id_col": id_col,
    }


_BM25_INDEX_REBUILD_HINT = (
    "Rebuild the index from the corpus (text.bm25_index_delta over "
    "everything ingested) or restart the stream with a fresh index_dir."
)


def read_bm25_index(
    spark: SparkSession,
    index_dir: str,
    before_batch: int = 2**62,
) -> tuple[DataFrame | None, DataFrame | None, DataFrame | None, dict | None]:
    """The stored BM25 index for batches strictly before ``before_batch``:
    ``(postings, term_stats, totals, config)`` — postings carry the
    ``term_bucket`` layout column so :func:`text.bm25_topk_from_index`
    folds a query's bucket ids into a partition filter; term_stats and
    totals are delta rows (SUM-collapse happens inside the probe). An
    absent zone is all-None; a data-bearing zone with no marker, a wrong
    kind, or drifted layout parameters raises with the rebuild hint —
    postings bucketed under a different ``n_term_buckets`` must never
    serve a probe that folds buckets under the current one."""
    zones = [f"{index_dir}/{n}" for n in ("postings", "term_stats", "totals")]
    meta = _checked_zone_meta(
        spark, index_dir, _BM25_INDEX_REBUILD_HINT, kind="bm25_index",
        data_dirs=zones,
    )
    if meta is None:
        return None, None, None, None
    frames = [
        read_incremental_zone(spark, zdir, before_batch) for zdir in zones
    ]
    if all(f is None for f in frames):
        # marker stamped but no delta committed yet (crash between
        # ensure_zone_meta and the first batch write, or an empty
        # source) — return all-None so callers take the same "no index
        # yet" branch as the meta-is-None case, instead of feeding None
        # frames to bm25_topk_from_index and dying on AttributeError
        return None, None, None, None
    if any(f is None for f in frames):
        missing = [
            n for n, f in zip(("postings", "term_stats", "totals"), frames)
            if f is None
        ]
        raise ValueError(
            f"stored zone {index_dir} is missing {missing} while sibling "
            f"zones have data — torn index state. {_BM25_INDEX_REBUILD_HINT}"
        )
    return (*frames, meta)


def streaming_bm25_index(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    text: str = "text",
    id_col: str = "doc_id",
    n_term_buckets: int | None = None,
    compact_every: int | None = None,
):
    """Continuously-maintained BM25 inverted index over a document
    stream — the RETRIEVAL instance of the delta-zone recipe, closing
    the stored-state pattern for the lexical search leg: every
    micro-batch tokenizes ITSELF once (``text.bm25_index_delta``) and
    appends three deltas under ``index_dir`` —

    - ``postings/batch_id=N`` — (term, doc_id, tf, dl) written
      ``partitionBy(term_bucket)`` (``text.bm25_bucket_postings``), so
      a probe's bucket filter prunes directories in every batch delta
      AND in compacted epochs (compaction preserves the layout via
      ``partition_by`` — see :func:`compact_incremental_zone`);
    - ``term_stats/batch_id=N`` — per-term df deltas, SUM-mergeable;
    - ``totals/batch_id=N`` — one (n_docs, total_tokens) row,
      SUM-mergeable.

    Serve any query against the live index with :func:`read_bm25_index`
    + ``text.bm25_topk_from_index`` — upkeep never re-reads indexed
    data, and serving never re-reads the corpus. Append-only contract
    (text.bm25_index_delta docstring): each document must arrive in
    exactly one micro-batch; df/n_docs sum per-batch distinct counts.

    The layout parameters ride ``_zone_meta.json`` on ``index_dir``:
    postings bucketed under a different ``n_term_buckets`` or a
    different text/id column must never merge, so a resumed stream with
    a drifted config dies on its first batch. With ``compact_every=N``
    the stats zones SUM-collapse and the postings epoch rewrites under
    the SAME term_bucket directory layout, so file count stays bounded
    at any stream length while probes keep their partition filters.
    Returns the StreamingQuery handle; caller stops it."""
    from ctcityscraper_spark.operators.text import (
        BM25_TERM_BUCKETS,
        bm25_bucket_postings,
        bm25_index_delta,
        sum_bm25_term_stats,
        sum_bm25_totals,
    )

    nb = int(n_term_buckets or BM25_TERM_BUCKETS)
    z = {n: f"{index_dir}/{n}" for n in ("postings", "term_stats", "totals")}

    def body(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        postings, term_stats, totals = bm25_index_delta(
            batch_df, text=text, id_col=id_col
        )
        _put(bm25_bucket_postings(postings, nb), z["postings"], batch_id,
             partition_by=["term_bucket"])
        _put(term_stats, z["term_stats"], batch_id)
        _put(totals, z["totals"], batch_id)

    return _zone_stream(
        stream, checkpoint_dir, body,
        meta=(index_dir, _bm25_index_zone_meta(nb, text, id_col),
              _BM25_INDEX_REBUILD_HINT, list(z.values())),
        compact_every=compact_every,
        compactions=[
            (z["postings"], dict(partition_by=["term_bucket"])),
            (z["term_stats"], dict(transform=sum_bm25_term_stats)),
            (z["totals"], dict(transform=sum_bm25_totals)),
        ],
    )

"""Load / refresh orchestration — the reference engine on Spark.

Reference lifecycle (src/engine/engine.py run_load :105-353, run_refresh
:356-522) re-expressed:

- entry ids -> micro-batches (T1) -> **distributed fetch** via mapInPandas
  with per-partition rate limiting (T4) and captured errors
- flatten (X2) -> per-table DataFrames -> metadata stamp -> append;
  refresh mode adds the hash anti-join dedup (D2/J2)
- checkpoint every N completions + final (T2, load mode only — the
  reference never checkpoints refresh)
- circuit breaker: abort after ``max_consecutive_errors`` consecutive
  failures, reset on success, 0 disables (T6; reference :99-102, 229-243).
  Divergence note: the reference counts in completion order (thread
  nondeterminism); we count in entry order — deterministic, same contract.
- session compaction: this run's files merged per table (T7, :246-288)

Semantics preserved on purpose (SURVEY §7 hard-part #5): load mode never
dedups (re-running a load duplicates rows — by design, README.md:118-121);
resume is best-effort via the JSON checkpoint.
"""

from __future__ import annotations

import json
import time
from datetime import datetime, timezone

from pyspark.sql import SparkSession

from ctcityscraper_spark.sources.checkpoint import CheckpointStore
from ctcityscraper_spark.sources.contracts import (
    EngineStats,
    ResolvedParams,
    SourceDefinition,
)
from ctcityscraper_spark.sources.http import (
    fetch_and_flatten_distributed,
    fetch_entries_distributed,
)
from ctcityscraper_spark.sources.store import ParquetStore


class CircuitBreakerTripped(RuntimeError):
    def __init__(self, consecutive: int, last_error: str | None):
        super().__init__(
            f"aborting after {consecutive} consecutive errors (last: {last_error})"
        )
        self.consecutive = consecutive
        self.last_error = last_error


def _chunks(seq: list, size: int):
    for i in range(0, len(seq), size):
        yield seq[i : i + size]


def _rows_to_df(spark: SparkSession, rows: list[dict]):
    """Ragged dicts -> DataFrame. Columns that are NULL in every row of the
    batch are dropped (schema drift across files is expected and tolerated —
    reference union_by_name, src/engine/database.py:275); type inference
    can't type an all-null column."""
    keys: list[str] = []
    for r in rows:
        for k in r:
            if k not in keys:
                keys.append(k)
    live = [k for k in keys if any(r.get(k) is not None for r in rows)]
    if not live:
        return None
    return spark.createDataFrame([tuple(r.get(k) for k in live) for r in rows], live)


def _resolve_entry_ids(
    store: ParquetStore, source: SourceDefinition, params: ResolvedParams
) -> list:
    if params.entry_ids is not None:
        return list(params.entry_ids)
    src = source.entry_id_source
    if isinstance(src, list):
        return list(src)
    if isinstance(src, str) and "/" in src:
        table, column = src.split("/", 1)
        return [r[column] for r in store.known_entry_ids(table, column).collect()]
    raise ValueError(f"cannot resolve entry ids from {src!r}")


def _run(
    spark: SparkSession,
    store: ParquetStore,
    source: SourceDefinition,
    params: ResolvedParams,
    *,
    dedup: bool,
    batch_size: int = 100,
    rate_per_sec: float = 0.0,
    workers: int | None = None,
    checkpoint_every: int | None = 100,
    max_consecutive_errors: int = 50,
    compact_after: bool = True,
    materialize_current: dict[str, str] | None = None,
    retries: int = 3,
    retry_delay: float = 1.0,
    coalesce_max_rows: int = 10_000,
) -> EngineStats:
    t0 = time.time()
    start_time = datetime.now(timezone.utc).replace(tzinfo=None)
    stats = EngineStats()
    checkpoints = CheckpointStore(store.data_dir) if checkpoint_every else None

    entry_ids = _resolve_entry_ids(store, source, params)

    # checkpoint resume (load mode): skip past last_entry_id; a stale id
    # (not in the list) restarts from the beginning — reference :156-191.
    # total_scraped carries forward across resumes (reference :158-175:
    # saved counts are completed + total_previously_scraped).
    previously_scraped = 0
    if checkpoints and not dedup:
        cp = checkpoints.load(params.scope_key)
        if cp and cp.get("last_entry_id") is not None:
            str_ids = [str(i) for i in entry_ids]
            if str(cp["last_entry_id"]) in str_ids:
                entry_ids = entry_ids[str_ids.index(str(cp["last_entry_id"])) + 1 :]
                previously_scraped = int(cp.get("total_scraped") or 0)

    files_before = {t: store.list_files(t) for t in store.tables()}
    consecutive_errors = 0
    completed = 0  # successfully scraped entries only (reference :253-258)
    since_checkpoint = 0
    last_ok_id = None  # last entry processed without error — resume cursor
    touched_tables: set[str] = set()

    fetch_kw = dict(
        rate_per_sec=rate_per_sec,
        num_partitions=workers,
        retries=retries,
        retry_delay=retry_delay,
    )
    distributed_flatten = source.table_schemas is not None

    for chunk in _chunks(entry_ids, batch_size):
        # Micro-batches (the normal case) coalesce the write side to ONE
        # file per table: the session-file count stays one-per-table and
        # end-of-run compaction becomes a no-op. The coalesce narrows the
        # post-fetch pipeline (from_json parse + stamping + write) to one
        # task, which is fine at micro-batch row counts and does NOT touch
        # the rate-limited fetch parallelism (the fetch materializes into
        # the persist during the status action, before any coalesce).
        # The gate is on ROWS, not entries: flatten fan-out multiplies rows
        # per entry, and a 10k-entry chunk of a high-fan-out table could
        # otherwise push a multi-million-row parse/write through one task.
        # Distributed-flatten chunks count the persisted flat frame (one
        # cheap cached action); the driver-flatten path knows len(rows)
        # exactly, per table. Above coalesce_max_rows the coalesce is
        # skipped and compaction handles the file count afterwards.
        if distributed_flatten:
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            flat = fetch_and_flatten_distributed(
                spark, source, params.base_url, chunk, **fetch_kw
            ).persist()
            # entry-order sort happens driver-side: a Spark orderBy before
            # collect costs a range-partition sampling job per micro-batch
            # for a <= batch_size-row frame. The total-row count for the
            # coalesce gate rides the SAME action as an Observation (the
            # status collect materializes the whole cache anyway), so the
            # old separate flat.count() job disappears (r15; guide §2.4).
            obs_rows = Observation()
            results = sorted(
                flat.observe(obs_rows, F.count(F.lit(1)).alias("n"))
                .select("seq", "invalid", "error")
                .distinct()
                .collect(),
                key=lambda r: r.seq,
            )
            flat_rows = int(obs_rows.get["n"])
        else:
            flat = None
            results = sorted(
                fetch_entries_distributed(
                    spark, source, params.base_url, chunk, **fetch_kw
                ).collect(),
                key=lambda r: r.seq,
            )

        payloads: list[dict] = []
        batch_error: CircuitBreakerTripped | None = None
        for r in results:
            if r.error is not None:
                stats.errors += 1
                consecutive_errors += 1
                if max_consecutive_errors and consecutive_errors >= max_consecutive_errors:
                    batch_error = CircuitBreakerTripped(consecutive_errors, r.error)
                    break
                continue
            consecutive_errors = 0  # success or invalid resets (reference :221-225)
            last_ok_id = chunk[r.seq]  # processed without error -> resumable past
            if r.invalid:
                stats.invalid += 1
                continue
            stats.scraped += 1
            completed += 1
            if not distributed_flatten and r.payload is not None:
                payloads.append(json.loads(r.payload))

        batch_ts = datetime.now(timezone.utc).replace(tzinfo=None)
        if distributed_flatten and batch_error is None:
            # rows never touch the driver: parse row_json with the declared
            # schema and append per table (the bulk-backfill path)
            from concurrent.futures import ThreadPoolExecutor

            from pyspark.sql import functions as F
            from pyspark.util import inheritable_thread_target

            write_files = 1 if flat_rows <= coalesce_max_rows else None

            def _write_table(item):
                table, ddl = item
                tdf = (
                    flat.filter(F.col("table") == table)
                    .select(F.from_json("row_json", ddl).alias("r"))
                    .select("r.*")
                )
                if write_files:
                    tdf = tdf.coalesce(write_files)
                return table, store.write_batch(
                    table,
                    tdf,
                    dedup_against_existing=dedup,
                    extra_exclude=source.hash_exclude.get(table),
                    scraped_at=batch_ts,
                )

            # per-table writes are independent jobs over the already-built
            # cache into DISTINCT table directories — overlap them in a
            # small driver pool (guide §2.6) instead of paying one
            # job+commit round-trip per table serially; stats/bookkeeping
            # mutate only on this thread, in a deterministic order; each
            # write is wrapped here so it keeps the caller's job group
            items = list(source.table_schemas.items())
            with ThreadPoolExecutor(max_workers=min(4, len(items))) as tp:
                futs = [
                    tp.submit(inheritable_thread_target(spark)(_write_table), it)
                    for it in items
                ]
                table_results = [f.result() for f in futs]
            for table, (written, skipped) in table_results:
                stats.rows_written += written
                stats.rows_skipped += skipped
                if written:
                    touched_tables.add(table)
        elif payloads:
            tables = source.flatten_fn(payloads)
            for table, rows in tables.items():
                if not rows:
                    continue
                df = _rows_to_df(spark, rows)
                if df is None:
                    continue
                if len(rows) <= coalesce_max_rows:
                    df = df.coalesce(1)
                written, skipped = store.write_batch(
                    table,
                    df,
                    dedup_against_existing=dedup,
                    extra_exclude=source.hash_exclude.get(table),
                    scraped_at=batch_ts,
                )
                stats.rows_written += written
                stats.rows_skipped += skipped
                touched_tables.add(table)
            if source.get_photo_items_fn and source.download_fn:
                for payload in payloads:
                    for item in source.get_photo_items_fn(payload) or []:
                        source.download_fn(item)
        if flat is not None:
            flat.unpersist()

        if batch_error is not None:
            # do NOT checkpoint this chunk: recording chunk[-1] would make a
            # resume skip the very entries that failed
            stats.elapsed_sec = time.time() - t0
            raise batch_error

        # resume cursor is the last entry processed WITHOUT error (not
        # chunk[-1]: trailing in-chunk failures must be re-run on resume),
        # and the saved total carries the resumed checkpoint's count forward
        since_checkpoint += len(chunk)
        if (
            checkpoints
            and not dedup
            and last_ok_id is not None
            and since_checkpoint >= (checkpoint_every or 0)
        ):
            checkpoints.save(params.scope_key, last_ok_id, completed + previously_scraped)
            since_checkpoint = 0

    if checkpoints and not dedup and last_ok_id is not None:
        checkpoints.save(params.scope_key, last_ok_id, completed + previously_scraped)

    if compact_after:
        for table in touched_tables:
            session_files = store.list_files(table) - files_before.get(table, set())
            if len(session_files) > 1:
                store.compact(table, only_files=session_files)

    # refresh the amortized latest-state snapshots (SCALE.md) once per run,
    # piggybacking on the same pass as compaction
    for table, key in (materialize_current or {}).items():
        if store.table_exists(table):
            store.materialize_current(table, key=key)

    if dedup and source.post_refresh_fn is not None:
        # CDC-report hook (reference post_refresh, vgsi/source.py:955-966)
        source.post_refresh_fn(spark, store, start_time)

    stats.elapsed_sec = time.time() - t0
    return stats


def run_load(spark, store, source, params, **kw) -> EngineStats:
    """Bulk ingest: append everything, checkpoint, compact (reference
    run_load, src/engine/engine.py:105-353). Never dedups."""
    return _run(spark, store, source, params, dedup=False, **kw)


def run_refresh(spark, store, source, params, **kw) -> EngineStats:
    """Incremental re-scrape: entry ids discovered from stored data, hash
    anti-join drops unchanged rows (reference run_refresh, :356-522).
    No checkpointing — matches the reference."""
    kw.setdefault("checkpoint_every", None)
    return _run(spark, store, source, params, dedup=True, **kw)

"""HTTP fetch helpers: retry/backoff and the distributed fetch stage.

The network boundary is injected (``fetcher`` callables) so everything is
testable offline; the real engine wires ``urllib``-based fetchers here.
Retry semantics mirror the reference (scrapers/vgsi/source.py:202-253,
scrapers/llc_ct_data/source.py:57-102): N retries, initial delay, x2
exponential backoff; the source's invalid-entry exception is never retried.
"""

from __future__ import annotations

import json
import time
from typing import Any, Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ctcityscraper_spark.functions.localdf import local_rows_df
from ctcityscraper_spark.sources.contracts import SourceDefinition
from ctcityscraper_spark.sources.ratelimit import partition_bucket

# schema of the distributed fetch stage output; ``seq`` is the position in
# the submitted id list so the engine can adjudicate errors in entry order
FETCH_RESULT_SCHEMA = (
    "seq long, entry_id string, payload string, invalid boolean, error string"
)


def with_retries(
    fn: Callable[[], Any],
    retries: int = 3,
    delay: float = 1.0,
    backoff: float = 2.0,
    no_retry: tuple[type[Exception], ...] = (),
    sleep: Callable[[float], None] = time.sleep,
):
    """Run fn with exponential backoff; ``no_retry`` exceptions pass through
    immediately (the reference treats invalid-entry as terminal)."""
    attempt = 0
    while True:
        try:
            return fn()
        except no_retry:
            raise
        except Exception:
            attempt += 1
            if attempt > retries:
                raise
            sleep(delay * backoff ** (attempt - 1))


def _fetch_stage(
    spark: SparkSession,
    source: SourceDefinition,
    base_url: str,
    entry_ids: list,
    rate_per_sec: float,
    num_partitions: int | None,
    retries: int,
    retry_delay: float,
    payload_rows: Callable[[Any], Iterator[tuple]],
    schema: str,
) -> DataFrame:
    """The distributed fetch stage both public fetch paths share: ids ->
    mapInPandas(rate-limited, retried ``source.scrape_fn``) -> ``schema``
    rows, in which ``seq`` is the entry's position in ``entry_ids``.

    ``payload_rows(payload)`` yields the columns between ``entry_id`` and
    ``invalid`` for each output row of one fetched entry. It runs inside
    the entry's error capture, so its failure is the entry's error like a
    failed fetch. An invalid or failed entry emits one row with those
    columns NULL: errors never fail the stage (the engine applies the
    circuit-breaker policy afterwards)."""
    # default partitioning: >=256 entries per partition — Python-worker
    # spin-up (~1-2s each) dwarfs the work for small fetch batches, so tiny
    # chunks must not fan out to every core. Network-bound sources pass
    # num_partitions (=workers) explicitly.
    n_parts = num_partitions or max(
        1, min(spark.sparkContext.defaultParallelism, len(entry_ids) // 256 + 1)
    )
    scrape_fn = source.scrape_fn
    invalid_exc = source.invalid_entry_exception
    columns = [col.split()[0] for col in schema.split(",")]
    no_payload = (None,) * (len(columns) - 4)

    def run_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bucket = partition_bucket(rate_per_sec, n_parts)
        for pdf in batches:
            recs: list[tuple] = []
            for seq, entry_id in zip(pdf["seq"], pdf["entry_id"]):
                bucket.acquire()
                head = (int(seq), str(entry_id))
                try:
                    payload = with_retries(
                        lambda: scrape_fn(base_url, entry_id),
                        retries=retries,
                        delay=retry_delay,
                        no_retry=(invalid_exc,),
                    )
                    recs.extend(
                        head + row + (False, None) for row in payload_rows(payload)
                    )
                except invalid_exc:
                    recs.append(head + no_payload + (True, None))
                except Exception as e:  # captured, adjudicated by the engine
                    recs.append(
                        head + no_payload + (False, f"{type(e).__name__}: {e}")
                    )
            yield pd.DataFrame(recs, columns=columns)

    # Arrow-path local frame (functions/localdf.py): the plain-list form
    # fans pickled rows across defaultParallelism Python workers before
    # the repartition (profiled 0.35 s per load on the ingest bench)
    ids_df = local_rows_df(
        spark,
        [(i, str(eid)) for i, eid in enumerate(entry_ids)],
        ["seq", "entry_id"],
        "seq long, entry_id string",
    ).repartition(n_parts)
    return ids_df.mapInPandas(run_partition, schema)


def fetch_entries_distributed(
    spark: SparkSession,
    source: SourceDefinition,
    base_url: str,
    entry_ids: list,
    rate_per_sec: float = 0.0,
    num_partitions: int | None = None,
    retries: int = 3,
    retry_delay: float = 1.0,
) -> DataFrame:
    """Distributed fetch: ids -> mapInPandas(scrape) -> result rows.

    Each partition runs a rate-limited loop calling ``source.scrape_fn``;
    results come back as (entry_id, payload JSON, invalid, error) — errors
    are captured per-row, never fail the stage (the engine applies the
    circuit-breaker policy afterwards). This is the Spark restatement of the
    reference's ThreadPoolExecutor loop (src/engine/engine.py:271-308).
    """

    def payload_rows(payload):
        yield (None if payload is None else json.dumps(payload),)

    return _fetch_stage(
        spark, source, base_url, entry_ids, rate_per_sec, num_partitions,
        retries, retry_delay, payload_rows, FETCH_RESULT_SCHEMA,
    )


# distributed-flatten output: one row per (entry, table, flattened row);
# entries with no rows (invalid/error/empty) emit a single table=NULL marker
FETCH_FLAT_SCHEMA = (
    "seq long, entry_id string, table string, row_json string, "
    "invalid boolean, error string"
)


def fetch_and_flatten_distributed(
    spark: SparkSession,
    source: SourceDefinition,
    base_url: str,
    entry_ids: list,
    rate_per_sec: float = 0.0,
    num_partitions: int | None = None,
    retries: int = 3,
    retry_delay: float = 1.0,
) -> DataFrame:
    """Fetch + flatten inside the partition: rows never touch the driver.

    The bulk-backfill twin of :func:`fetch_entries_distributed` — requires
    ``source.table_schemas`` so the engine can parse ``row_json`` with
    ``from_json`` instead of driver-side inference.
    """
    flatten_fn = source.flatten_fn

    def payload_rows(payload):
        emitted = False
        if payload is not None:
            for table, rows in flatten_fn([payload]).items():
                for row in rows:
                    yield table, json.dumps(row)
                    emitted = True
        if not emitted:
            yield None, None

    return _fetch_stage(
        spark, source, base_url, entry_ids, rate_per_sec, num_partitions,
        retries, retry_delay, payload_rows, FETCH_FLAT_SCHEMA,
    )

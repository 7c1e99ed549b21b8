"""Custom stateful streaming operators via applyInPandasWithState.

The reference's in-session dedup state (preloaded hash set updated as rows
are written, src/engine/database.py:86-106, 144-148) is a keyed state store
in disguise. This module implements it as a true Structured Streaming
stateful operator: per-entity hash state that emits only rows whose content
hash differs from the last seen version — streaming CDC at the source,
without re-reading the sink.

Also: a stateful running-session operator (entity session tracking with an
inactivity gap) as the general template for custom state machines.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# output schema of the change-filter operator
CHANGES_SCHEMA = "uuid string, row_hash string, version int"
_STATE_SCHEMA = "last_hash string, version int"


def _collect_sorted(pdfs: Iterator[pd.DataFrame], order_col: str) -> pd.DataFrame:
    """Buffer one key's Arrow batches and sort the WHOLE micro-batch by the
    arrival column: a key's rows can span multiple Arrow batches, and
    sorting per-batch would version them in arrival order instead of event
    order. Memory is bounded by one key's rows in one micro-batch — the
    per-entity update volume, small by construction for CDC streams."""
    frames = [pdf for pdf in pdfs]
    if not frames:
        return pd.DataFrame()
    whole = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
    if order_col in whole.columns:
        whole = whole.sort_values(order_col, kind="stable")
    return whole


def _change_filter(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (uuid,) = key
    last_hash, version = state.get if state.exists else (None, 0)
    out_rows = []
    whole = _collect_sorted(pdfs, "scraped_at")
    if len(whole):
        for h in whole["row_hash"]:
            if h != last_hash:
                version += 1
                last_hash = h
                out_rows.append((uuid, h, version))
    state.update((last_hash, version))
    if out_rows:
        yield pd.DataFrame(out_rows, columns=["uuid", "row_hash", "version"])


def streaming_change_filter(stream: DataFrame, key: str = "uuid") -> DataFrame:
    """Emit only version boundaries per entity, with streaming state.

    Input must carry ``row_hash`` (stamp with functions.hashing.row_hash_col
    upstream). The batch twin is operators.scd2.history; this one never
    re-reads history — state IS the last hash per entity.
    """
    return stream.groupBy(key).applyInPandasWithState(
        _change_filter,
        outputStructType=CHANGES_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_SCHEMA = "user_id long, session_id int, events_in_session int"
_SESSION_STATE = "last_ts_ns long, session_id int, count int"


def _sessionize(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    gap_ns = 3600 * 10**9
    last_ts, session_id, count = state.get if state.exists else (None, 0, 0)
    closed = []
    whole = _collect_sorted(pdfs, "ts_ns")
    if len(whole):
        # NULL event-time rows have no session (the batch twin filters them
        # the same way; a real stream drops them at the watermark) — and
        # int(NaN) below would kill the executor
        whole = whole[whole["ts_ns"].notna()]
    for ts in whole["ts_ns"] if len(whole) else ():
        ts = int(ts)
        if last_ts is None or ts - last_ts > gap_ns:
            if count:
                closed.append((user_id, session_id, count))
            session_id += 1
            count = 0
        count += 1
        last_ts = ts
    state.update((last_ts, session_id, count))
    if closed:
        yield pd.DataFrame(closed, columns=["user_id", "session_id", "events_in_session"])


def streaming_sessionize(stream: DataFrame, key: str = "user_id") -> DataFrame:
    """Close out entity sessions (1h inactivity gap) as they complete.

    Input needs ``ts_ns`` (integer event time). The batch twin under the
    oracle gate is plans/queries.events_sessionization.
    """
    return stream.groupBy(key).applyInPandasWithState(
        _sessionize,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


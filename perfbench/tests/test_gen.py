"""Determinism of the seeded generators, and their truths checked against
an independent evaluation of the generated rows."""

import io
import json
from pathlib import Path

import pytest

from perfbench import gen, metrics
from perfbench.workloads import WORKLOADS

ROOT = Path(__file__).resolve().parents[2]


def _parquet_bytes(table) -> bytes:
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


# ------------------------------------------------------------------ ingest


def test_ingest_payload_is_a_pure_function():
    a = [gen.scrape(gen.ingest_url(7, r), p) for r in range(6) for p in range(1, 50)]
    b = [gen.scrape(gen.ingest_url(7, r), p) for r in range(6) for p in range(1, 50)]
    assert json.dumps(a) == json.dumps(b)
    other = [gen.scrape(gen.ingest_url(8, r), p) for r in range(6) for p in range(1, 50)]
    assert json.dumps(a) != json.dumps(other)


def test_ingest_written_truth_matches_content_diff():
    """A round writes exactly the rows whose content was never seen before
    (the refresh dedup is against all history)."""
    m = gen.IngestModel(3, 300)
    seen: set[str] = set()
    for rnd in range(9):
        new = [
            json.dumps(row, sort_keys=True)
            for rows in m.rows(rnd).values()
            for row in rows
            if json.dumps(row, sort_keys=True) not in seen
        ]
        assert len(new) == m.written_count(rnd)
        seen.update(new)
        if rnd:
            assert 0 < m.written_count(rnd) < len(m.entry_ids)
    # the last round served again (an unchanged refresh) has nothing new
    again = [row for rows in m.rows(8).values() for row in rows]
    assert all(json.dumps(row, sort_keys=True) in seen for row in again)


def test_ingest_rows_match_declared_schemas():
    rows = gen.IngestModel(1, 20).rows(0)
    for table, ddl in gen.INGEST_SCHEMAS.items():
        cols = [c.split()[0] for c in ddl.split(",")]
        assert all(sorted(r) == sorted(cols) for r in rows[table])


# ----------------------------------------------------------------- history


def _session_rows(m: gen.HistoryModel, s: int) -> list[tuple]:
    return list(m.session_frame(s).itertuples(index=False, name=None))


def test_history_rows_are_deterministic():
    a = gen.HistoryModel(5, 300, 6)
    b = gen.HistoryModel(5, 300, 6)
    assert [_session_rows(a, s) for s in range(6)] == [_session_rows(b, s) for s in range(6)]
    c = gen.HistoryModel(6, 300, 6)
    assert [_session_rows(a, s) for s in range(6)] != [_session_rows(c, s) for s in range(6)]


def test_history_truths_match_a_naive_scd2():
    """Evaluate the SCD2 views by hand over the generated rows."""
    m = gen.HistoryModel(9, 400, 6)
    by_uuid: dict[str, list[tuple[int, tuple]]] = {}
    for s in range(m.n_sessions):
        for row in _session_rows(m, s):
            by_uuid.setdefault(row[0], []).append((s, row[1:]))
    assert len(by_uuid) == m.current_count()
    assert sum(len(v) for v in by_uuid.values()) == m.rows_total()
    for s in range(1, m.n_sessions):
        changed = sum(
            1
            for versions in by_uuid.values()
            for (_, prev), (ts, cur) in zip(versions, versions[1:])
            if ts >= s and cur != prev
        )
        assert changed == m.changed_since_count(s)
        assert sum(1 for v in by_uuid.values() if v[0][0] <= s) == m.as_of_count(s)
    for e in range(0, 400, 37):
        versions = by_uuid[m.uuid(e)]
        distinct = 1 + sum(1 for (_, a), (_, b) in zip(versions, versions[1:]) if a != b)
        assert distinct == m.history_versions(e)
        assert versions[-1][1][2] == m.latest_value(e)


# ------------------------------------------------------ docs and embeddings


def test_docs_and_embeddings_are_byte_identical_per_seed():
    assert _parquet_bytes(gen.docs_table(4, 120)) == _parquet_bytes(gen.docs_table(4, 120))
    assert _parquet_bytes(gen.docs_table(4, 120)) != _parquet_bytes(gen.docs_table(5, 120))
    assert _parquet_bytes(gen.embeddings_table(4, 50)) == _parquet_bytes(gen.embeddings_table(4, 50))
    assert _parquet_bytes(gen.embeddings_table(4, 50)) != _parquet_bytes(gen.embeddings_table(5, 50))


def test_docs_exact_duplicates_are_the_known_ids():
    docs = gen.docs_table(2, 400).to_pydict()
    first: dict[str, int] = {}
    dups = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        if text in first:
            dups.append(doc_id)
        first.setdefault(text, doc_id)
    assert dups == gen.exact_dup_ids(400)
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
    assert sum(t.startswith("TERMS") for t in docs["text"]) == 4


def test_embeddings_planted_neighbours_are_nearest():
    import numpy as np

    emb = np.array(gen.embeddings_table(3, 200).column("embedding").to_pylist())
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    cos = unit @ unit.T
    np.fill_diagonal(cos, -2)
    for q, n in gen.near_pairs(200, 100).items():
        assert int(cos[q].argmax()) == n


# --------------------------------------------------------- BENCHMARK.json


def test_benchmark_json_lists_the_printed_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for key, table in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
        assert [(m["name"], m["unit"], m["better"]) for m in spec[key]] == [t[:3] for t in table]
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


def test_report_fills_unused_layers_with_zero():
    out = metrics.report({"spark.jobs": 3}, metrics.PER_LAYER)
    assert list(out) == [m[0] for m in metrics.PER_LAYER]
    assert out["spark.jobs"] == {"value": 3, "unit": "count"}
    assert out["engine.run_load.s"]["value"] == 0
    with pytest.raises(KeyError):
        metrics.report({"no.such.metric": 1}, metrics.PER_LAYER)

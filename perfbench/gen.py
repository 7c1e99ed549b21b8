"""Seeded input generators, each with its own independent truth.

Every generator is a pure function of its seed (and round/session where
that applies): the same seed gives byte-identical inputs. The truths are
computed from the generator's own model, never by asking the engine, so
the benchmark can check the engine's outputs against them.

- ``IngestModel``: a mutating scraped source for ``engine.run_load`` /
  ``engine.run_refresh``. Each refresh round changes a seeded share of the
  entities, and the model knows which rows every round must write; a
  round served again changes nothing.
- ``HistoryModel``: an append-only SCD2 history table, one file per
  session, with new entities arriving late, changed versions and
  unchanged re-scrapes. It knows the counts every SCD2 view must return.
- ``docs_table`` / ``embeddings_table``: a ``documents`` corpus with
  about 5% exact duplicates, 1% boilerplate headers and a shared
  vocabulary, and an ``embeddings`` table with planted near neighbours.

This module imports only the standard library at import time: Spark's
Python workers import it to run ``scrape``.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass
from datetime import datetime, timedelta


def h64(seed: int, *parts) -> int:
    """Stable 64-bit hash of the seed and parts (process-independent)."""
    key = "|".join(str(p) for p in (seed, *parts)).encode()
    return int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")


# --------------------------------------------------------------------- ingest

INGEST_SCHEMAS = {
    "entities": "uuid string, pid long, name string, value double, "
    "category string, status string",
    "parts": "entity_uuid string, pid long, part_no long, size long",
}
INGEST_URL = "perfbench-ingest://"
CHANGE_PER_MILLE = 100  # 10% of entities change in every refresh round


def ingest_url(seed: int, rnd: int) -> str:
    return f"{INGEST_URL}{seed}/{rnd}"


def changed(seed: int, rnd: int, pid: int) -> bool:
    """Whether entity ``pid`` gets new content in refresh round ``rnd``."""
    if rnd <= 0:
        return False
    return h64(seed, "chg", rnd, pid) % 1000 < CHANGE_PER_MILLE


def version(seed: int, rnd: int, pid: int) -> int:
    return sum(changed(seed, j, pid) for j in range(1, rnd + 1))


def payload(seed: int, rnd: int, pid: int) -> dict:
    """The scraped document for ``pid`` as served in round ``rnd``."""
    v = version(seed, rnd, pid)
    mix = h64(seed, "val", pid, v)
    return {
        "pid": pid,
        "name": f"entity-{pid}",
        "value": pid * 10 + v + (mix % 1000) / 1000,
        "category": f"cat{pid % 7}",
        "status": ("active", "pending", "closed")[(mix >> 12) % 3],
        "parts": [
            # the version prefix keeps every new part row's hash unseen
            {"part_no": i, "size": v * 1000 + h64(seed, "part", pid, v, i) % 1000}
            for i in range(pid % 4)
        ],
    }


def scrape(base_url: str, entry_id) -> dict:
    """``SourceDefinition.scrape_fn``: the round and seed ride in the URL."""
    seed, rnd = (int(x) for x in base_url[len(INGEST_URL):].split("/"))
    return payload(seed, rnd, int(entry_id))


def flatten(payloads: list[dict]) -> dict[str, list[dict]]:
    entities, parts = [], []
    for p in payloads:
        uuid = f"e{p['pid']}"
        entities.append(
            {k: p[k] for k in ("pid", "name", "value", "category", "status")}
            | {"uuid": uuid}
        )
        for part in p["parts"]:
            parts.append({"entity_uuid": uuid, "pid": p["pid"], **part})
    return {"entities": entities, "parts": parts}


@dataclass(frozen=True)
class IngestModel:
    seed: int
    n_entities: int

    @property
    def entry_ids(self) -> list[int]:
        return list(range(1, self.n_entities + 1))

    def rows(self, rnd: int) -> dict[str, list[dict]]:
        return flatten([payload(self.seed, rnd, p) for p in self.entry_ids])

    def written(self, rnd: int) -> dict[str, list[dict]]:
        """Rows a round must append: all of round 0, then only the rows of
        entities whose content changed in that round."""
        if rnd == 0:
            return self.rows(0)
        return flatten(
            [payload(self.seed, rnd, p) for p in self.entry_ids if changed(self.seed, rnd, p)]
        )

    def written_count(self, rnd: int) -> int:
        return sum(len(v) for v in self.written(rnd).values())

    def written_json_bytes(self, rnd: int) -> int:
        return sum(
            len(json.dumps(r).encode()) for rows in self.written(rnd).values() for r in rows
        )


# -------------------------------------------------------------------- history

HISTORY_T0 = datetime(2024, 1, 1)
LATE_PER_MILLE = 200  # entities first seen after session 0
HIST_CHANGE_PER_MILLE = 250  # seen entities with a new version per session
HIST_RESCRAPE_PER_MILLE = 100  # seen entities re-appended unchanged


def session_ts(s: int) -> str:
    """Session timestamp as a UTC literal both Spark and DuckDB read alike."""
    return (HISTORY_T0 + timedelta(days=s)).strftime("%Y-%m-%d %H:%M:%S")


class HistoryModel:
    """``n_entities`` x ``n_sessions`` history, drawn with numpy from one
    seeded generator. Per entity it keeps the session it first appears
    in, and per session whether it gets a new version or an unchanged
    re-scrape; every truth is read off these arrays."""

    COLUMNS = ["uuid", "pid", "name", "value", "category", "status"]
    SCHEMA = "uuid string, pid long, name string, value double, category string, status string"

    def __init__(self, seed: int, n_entities: int, n_sessions: int):
        import numpy as np

        self.seed, self.n_entities, self.n_sessions = seed, n_entities, n_sessions
        rng = np.random.default_rng([seed, n_entities, n_sessions])
        late = rng.integers(0, 1000, n_entities) < LATE_PER_MILLE
        self.first = np.where(late, rng.integers(1, n_sessions, n_entities), 0)
        draw = rng.integers(0, 1000, (n_entities, n_sessions))
        seen = np.arange(n_sessions) > self.first[:, None]
        self.changes = seen & (draw < HIST_CHANGE_PER_MILLE)
        self.rescrapes = seen & (draw >= HIST_CHANGE_PER_MILLE) & (
            draw < HIST_CHANGE_PER_MILLE + HIST_RESCRAPE_PER_MILLE
        )
        # version of each entity after each session, and the content draw
        # of each (entity, version)
        self.version = np.cumsum(self.changes, axis=1)
        self.mix = rng.integers(0, 1 << 20, (n_entities, n_sessions))
        ids = range(n_entities)
        self._text = {
            "uuid": np.array([self.uuid(e) for e in ids], object),
            "name": np.array([f"entity-{e}" for e in ids], object),
            "category": np.array([f"cat{e % 7}" for e in ids], object),
        }

    @staticmethod
    def uuid(e: int) -> str:
        return f"u{e:07d}"

    def _value(self, e, v):
        return e * 10 + v + (self.mix[e, v] % 1000) / 1000

    def session_frame(self, s: int):
        """Rows appended in session ``s`` (first inserts, new versions and
        unchanged re-scrapes), in entity order, as a pandas DataFrame."""
        import numpy as np
        import pandas as pd

        e = np.flatnonzero((self.first == s) | self.changes[:, s] | self.rescrapes[:, s])
        v = self.version[e, s]
        return pd.DataFrame(
            {
                "uuid": self._text["uuid"][e],
                "pid": e,
                "name": self._text["name"][e],
                "value": self._value(e, v),
                "category": self._text["category"][e],
                "status": np.array(["active", "pending", "closed"])[(self.mix[e, v] >> 12) % 3],
            },
            columns=self.COLUMNS,
        )

    # --- truths of the SCD2 views
    def current_count(self) -> int:
        return self.n_entities

    def latest_value(self, e: int) -> float:
        return float(self._value(e, self.version[e, -1]))

    def history_versions(self, e: int) -> int:
        return 1 + int(self.changes[e].sum())

    def changed_since_count(self, s: int) -> int:
        return int(self.changes[:, s:].sum())

    def as_of_count(self, s: int) -> int:
        return int((self.first <= s).sum())

    def rows_total(self) -> int:
        return self.n_entities + int(self.changes.sum() + self.rescrapes.sum())


# ----------------------------------------------------------- docs/embeddings

DUP_EVERY = 20  # doc_id % 20 == 19 clones the body of its predecessor
BOILER_EVERY = 100  # 1% of docs carry a boilerplate header
N_BOILER_VARIANTS = 4
EMB_DIMS = 64
NEAR_EVERY = 10  # vec_id % 10 == 1 is a near copy of vec_id - 1


def exact_dup_ids(n_docs: int) -> list[int]:
    return [d for d in range(1, n_docs) if d % DUP_EVERY == DUP_EVERY - 1]


def doc_text(seed: int, doc_id: int, vocab: int) -> str:
    base = doc_id - 1 if doc_id % DUP_EVERY == DUP_EVERY - 1 else doc_id
    n_words = 40 + h64(seed, "len", base) % 60
    body = " ".join(f"w{h64(seed, 'w', base, j) % vocab}" for j in range(n_words))
    if doc_id % BOILER_EVERY == 0:
        v = h64(seed, "boiler", doc_id) % N_BOILER_VARIANTS
        body = f"TERMS variant{v} rights reserved admin site{v} mirroring policy " + body
    return body


def docs_table(seed: int, n_docs: int, vocab: int = 5000):
    """``documents`` as a pyarrow table (doc_id, text, lang, source, n_chars)."""
    import pyarrow as pa

    texts = [doc_text(seed, d, vocab) for d in range(n_docs)]
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                ["en" if h64(seed, "lang", d) % 10 < 7 else "de" for d in range(n_docs)],
                pa.string(),
            ),
            "source": pa.array([f"s{h64(seed, 'src', d) % 5}" for d in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n_vecs: int):
    """``embeddings`` (vec_id, embedding list<float>, label): Gaussian
    vectors where every vec_id % 10 == 1 is a 1%-noise copy of its
    predecessor, so the pair are each other's nearest neighbours."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng([seed, 7])
    emb = rng.standard_normal((n_vecs, EMB_DIMS)).astype(np.float32)
    near = np.arange(1, n_vecs, NEAR_EVERY)
    emb[near] = emb[near - 1] + 0.01 * rng.standard_normal((len(near), EMB_DIMS)).astype(
        np.float32
    )
    return pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array([v % 5 for v in range(n_vecs)], pa.int32()),
        }
    )


def near_pairs(n_vecs: int, n_queries: int) -> dict[int, int]:
    """Planted top-1 neighbour of each query vec_id < n_queries."""
    out = {}
    for v in range(1, n_vecs, NEAR_EVERY):
        if v - 1 < n_queries:
            out[v - 1] = v
        if v < n_queries:
            out[v] = v - 1
    return out

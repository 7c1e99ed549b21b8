"""The benchmark's workloads: set-up, warm-up, one closed-loop step, checks.

Each workload drives the package through its public functions with a
single client: the next operation starts only after the previous one has
returned. ``step`` returns the operations it ran as ``Op`` records; the
runner in ``run.py`` times set-up and the loop and turns the records into
metrics. ``layers`` returns the workload's per-layer metrics from the
tracer's spans and the parsed event log.

- ``ingest_catalog``: the batch side. Set-up loads N entities with
  ``engine.run_load`` and generates a document corpus with embeddings.
  Each step is one cycle: an ``engine.run_refresh`` round over a seeded
  mutating source in which 10% of entities change, with
  ``materialize_current`` on, then the LLM-pipeline pass over the corpus
  (two catalog queries and a streaming Bloom-dedup stream of two
  ``availableNow`` micro-batches). Warm-up also serves its last round
  again, which must write 0 rows.
- ``scd2_reads``: the analyst's path. Set-up builds an append-only history
  table (one file per session) and its current snapshot; each step is one
  block of five queries, one of each kind, in a seeded order: latest-state,
  a Zipf-skewed history lookup, changed-since, as-of and a snapshot point
  read.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import sys
import traceback
from bisect import bisect_left
from contextlib import nullcontext
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import reduce
from itertools import accumulate
from pathlib import Path
from time import perf_counter

from perfbench import eventlog, gen

CORES = 4  # the session runs local[4]


@dataclass
class Op:
    kind: str
    seconds: float
    items: int
    ok: bool = True


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (the inclusive method)."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def dir_bytes(path: Path, pattern: str = "*.parquet") -> tuple[int, int]:
    """(files, bytes) of the files matching ``pattern`` under ``path``."""
    files = list(Path(path).rglob(pattern))
    return len(files), sum(f.stat().st_size for f in files)


def timed(fn, *args, **kw):
    t = perf_counter()
    out = fn(*args, **kw)
    return out, perf_counter() - t


class Workload:
    name = ""
    setup_repeats = 3
    min_ops = 1  # the closed loop runs this many ops however long they take

    def __init__(self, spark, seed: int, work_dir: Path, tracer=None):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work_dir = work_dir
        self.failures: list[str] = []
        if tracer is not None:
            self.install_spans(tracer)

    def fail(self, msg: str) -> bool:
        self.failures.append(msg)
        return False

    def span(self, name: str):
        """A tracer span around a call into the package (no-op untraced)."""
        return self.tracer.span(name) if self.tracer else nullcontext()

    def install_spans(self, tracer) -> None:
        pass

    def setup(self, i: int) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        pass

    def prime(self) -> None:
        """Warm-up on the last set-up's inputs: the first call of a query
        on new files runs slower than later ones."""

    def step(self, i: int) -> list[Op]:
        raise NotImplementedError

    def final_checks(self) -> None:
        pass

    def layers(self, log, window, ops) -> dict:
        return {}


# ------------------------------------------------------------------- ingest


class IngestRefresh(Workload):
    """The operator's refresh rounds; the first half of ``ingest_catalog``."""

    name = "ingest_refresh"
    N_ENTITIES = 600

    def __init__(self, spark, seed, work_dir, tracer=None):
        super().__init__(spark, seed, work_dir, tracer)
        from ctcityscraper_spark.sources.contracts import SourceDefinition

        self.model = gen.IngestModel(seed, self.N_ENTITIES)
        self.source = SourceDefinition(
            name="perfbench",
            scrape_fn=gen.scrape,
            flatten_fn=gen.flatten,
            entry_id_source="entities/pid",
            table_schemas=gen.INGEST_SCHEMAS,
        )
        self.store = None
        self.round = 0
        self.load_s: list[float] = []

    def install_spans(self, tracer):
        from ctcityscraper_spark.engine import engine
        from ctcityscraper_spark.sources import store

        S = store.ParquetStore
        tracer.wrap(engine, "fetch_and_flatten_distributed", "sources.http.fetch", lazy=True)
        tracer.wrap(store, "stamp_metadata", "functions.hashing.stamp_metadata", lazy=True)

        def wb_post(sp, result):
            sp.attrs["written"], sp.attrs["skipped"] = result

        def compact_pre(self_, table, only_files=None, **kw):
            files = only_files if only_files is not None else self_.list_files(table)
            return {"bytes_in": sum(Path(f).stat().st_size for f in files) if len(files) > 1 else 0}

        tracer.wrap(S, "write_batch", "sources.store.write_batch", post=wb_post)
        tracer.wrap(S, "compact", "sources.store.compact", pre=compact_pre)
        tracer.wrap(S, "materialize_current", "sources.store.materialize_current")
        tracer.wrap(S, "scan", "sources.store.scan")

    def _params(self, rnd: int, **kw):
        from ctcityscraper_spark.sources.contracts import ResolvedParams

        return ResolvedParams("bench", base_url=gen.ingest_url(self.seed, rnd), **kw)

    def _kw(self, batch_size: int):
        return dict(
            batch_size=batch_size,
            retry_delay=0,
            workers=4,
            materialize_current={"entities": "uuid"},
        )

    def setup(self, i):
        from ctcityscraper_spark.engine import run_load
        from ctcityscraper_spark.sources.store import ParquetStore

        store = ParquetStore(self.spark, self.work_dir / f"store{i}", "bench")
        # the bulk load runs as one micro-batch
        with self.span("engine.run_load"):
            stats, dt = timed(
                run_load, self.spark, store, self.source,
                self._params(0, entry_ids=self.model.entry_ids), **self._kw(self.N_ENTITIES),
            )
        self.load_s.append(dt)
        want = self.model.written_count(0)
        if stats.rows_written != want or stats.scraped != self.N_ENTITIES:
            self.fail(f"load wrote {stats.rows_written} rows, expected {want}")
        if self.store is not None:
            shutil.rmtree(self.store.data_dir, ignore_errors=True)
        self.store, self.round = store, 0

    def warmup(self):
        # the first load and refresh of a session run cold; both go to a
        # store that the first set-up replaces
        self.setup("warm")
        self.step(-1)
        # an unchanged refresh writes 0 rows (reference README:121)
        self._refresh(again=True)
        self.load_s.clear()

    def _refresh(self, again: bool = False) -> Op:
        """The next refresh round, or the last one served again, which
        must write nothing."""
        from ctcityscraper_spark.engine import run_refresh

        self.round += not again
        rnd = self.round
        # a refresh runs as two micro-batches, so its session compaction
        # has files to merge
        with self.span("engine.run_refresh"):
            stats, dt = timed(
                run_refresh, self.spark, self.store, self.source, self._params(rnd),
                **self._kw(self.N_ENTITIES // 2),
            )
        want = 0 if again else self.model.written_count(rnd)
        ok = True
        if stats.rows_written != want or stats.scraped != self.N_ENTITIES or stats.errors:
            ok = self.fail(f"refresh round {rnd} wrote {stats.rows_written} rows, expected {want}")
        return Op("refresh", dt, stats.scraped, ok)

    def step(self, i):
        return [self._refresh()]

    def final_checks(self):
        n = self.store.current_snapshot("entities").count()
        if n != self.N_ENTITIES:
            self.fail(f"current snapshot holds {n} entities, expected {self.N_ENTITIES}")

    def layers(self, log, window, ops):
        t = self.tracer
        t0, t1 = window["perf"]
        refresh = t.named("engine.run_refresh", t0, t1)
        wb = t.named("sources.store.write_batch", t0, t1)
        rows_in = sum(s.attrs["written"] + s.attrs["skipped"] for s in wb)
        table_files, table_bytes = dir_bytes(self.store.scope_dir, "[!_]*/*.parquet")
        json_bytes = sum(self.model.written_json_bytes(r) for r in range(self.round + 1))
        # only the Python stages of the engine's own jobs
        spark_window = eventlog.summarize(log, *window["wall_ms"], groups=("engine.", "sources."))
        return {
            "engine.run_load.s": quantile(self.load_s, 0.5),
            "engine.run_refresh.s": quantile([s.seconds for s in refresh], 0.5),
            "engine.self_s": quantile([t.self_seconds(s) for s in refresh], 0.5),
            "engine.load_entries_per_s": self.N_ENTITIES / quantile(self.load_s, 0.5),
            "engine.refresh_entries_per_s": sum(o.items for o in ops) / sum(o.seconds for o in ops),
            "sources.http.fetch.calls": len(t.named("sources.http.fetch", t0, t1)),
            "sources.http.fetch.executor_s": spark_window["python_run_s"],
            "sources.store.write_batch.calls": len(wb),
            "sources.store.write_batch.s": sum(s.seconds for s in wb),
            "sources.store.write_batch.written_ratio": (
                sum(s.attrs["written"] for s in wb) / rows_in if rows_in else 0.0
            ),
            "sources.store.compact.s": sum(s.seconds for s in t.named("sources.store.compact", t0, t1)),
            "sources.store.compact.bytes_rewritten": sum(
                s.attrs["bytes_in"] for s in t.named("sources.store.compact", t0, t1)
            ),
            "sources.store.materialize_current.s": sum(
                s.seconds for s in t.named("sources.store.materialize_current", t0, t1)
            ),
            "sources.store.scan.ms": 1e3 * quantile(
                [s.seconds for s in t.named("sources.store.scan", t0, t1)], 0.5
            ),
            "sources.store.files": table_files,
            "sources.store.bytes_written": table_bytes,
            "sources.store.space_amp": table_bytes / json_bytes,
            "functions.hashing.stamp_metadata.calls": len(
                t.named("functions.hashing.stamp_metadata", t0, t1)
            ),
        }


# --------------------------------------------------------------------- scd2

SCD2_TABLE = "props"
# one block of the query mix (one step of the loop): the five query kinds
# in equal shares. No workload in the repo or the reference records how
# often an analyst issues each kind, so equal shares are an assumption.
SCD2_BLOCK = ["current", "history", "changed_since", "as_of", "snapshot"]
# point lookups pick entities by Zipf rank with the plain exponent 1, also
# an assumption; no layer caches by key, so the skew moves no latency
ZIPF_S = 1.0


class Scd2Reads(Workload):
    name = "scd2_reads"
    min_ops = 4
    # ~76k rows. On 4 cores the full-window queries (current,
    # changed_since, as_of) take about as long here as over 10k or 190k
    # rows, so they measure per-query overhead; they start to be bound by
    # data from ~100k x 10, which does not fit the run's time budget.
    N_ENTITIES = 20_000
    N_SESSIONS = 10
    # a cold set-up of the full history takes as long as several warm
    # ones, so warm-up builds and queries a small history instead
    WARM_ENTITIES, WARM_SESSIONS = 2000, 2

    def __init__(self, spark, seed, work_dir, tracer=None):
        super().__init__(spark, seed, work_dir, tracer)
        self.store = None
        self.model = None
        self.rng = random.Random(seed)
        self.done: list[tuple] = []  # (kind, arg) of each timed query
        self.history_rows = 0  # rows returned by timed history lookups
        self.query_ops: list[Op] = []  # the queries of every block
        # Zipf ranks over a seeded permutation of the entities
        self.hot = list(range(self.N_ENTITIES))
        random.Random(seed).shuffle(self.hot)
        self.zipf_cdf = list(accumulate(1 / (r + 1) ** ZIPF_S for r in range(self.N_ENTITIES)))

    def install_spans(self, tracer):
        from ctcityscraper_spark.operators import scd2
        from ctcityscraper_spark.sources import store

        for fn in ("current", "history", "changed_since", "as_of"):
            tracer.wrap(scd2, fn, f"operators.scd2.{fn}", lazy=True)
        tracer.wrap(store.ParquetStore, "scan", "sources.store.scan")
        tracer.wrap(store.ParquetStore, "current_snapshot", "sources.store.current_snapshot", lazy=True)

    def _build(self, n_entities: int, n_sessions: int, path: Path):
        from ctcityscraper_spark.functions.hashing import stamp_metadata
        from ctcityscraper_spark.sources.store import ParquetStore

        model = gen.HistoryModel(self.seed, n_entities, n_sessions)
        store = ParquetStore(self.spark, path, "bench")

        def append(s: int) -> None:
            df = self.spark.createDataFrame(model.session_frame(s), model.SCHEMA)
            store.append(f"_session{s}", stamp_metadata(df.coalesce(1), scraped_at=gen.session_ts(s)))

        # one file per session. Each append is a one-task job, so four run
        # at once to fill the four cores; appends to one table directory
        # cannot run at once, so each session lands in a table of its own
        # and its file then moves into the history table.
        with ThreadPoolExecutor(CORES) as pool:
            list(pool.map(append, range(n_sessions)))
        table = store.table_path(SCD2_TABLE)
        table.mkdir(parents=True)
        for s in range(n_sessions):
            staged = store.table_path(f"_session{s}")
            for f in staged.glob("*.parquet"):
                f.rename(table / f.name)
            shutil.rmtree(staged)
        store.materialize_current(SCD2_TABLE, key="uuid")
        if self.store is not None:
            shutil.rmtree(self.store.data_dir, ignore_errors=True)
        self.store, self.model = store, model

    def setup(self, i):
        self._build(self.N_ENTITIES, self.N_SESSIONS, self.work_dir / f"hist{i}")

    def _entity(self) -> int:
        u = self.rng.random() * self.zipf_cdf[-1]
        return self.hot[min(bisect_left(self.zipf_cdf, u), self.N_ENTITIES - 1)]

    def _block(self) -> list[tuple[str, int]]:
        """One block of the mix in a seeded order, with seeded arguments."""
        out = []
        for kind in self.rng.sample(SCD2_BLOCK, len(SCD2_BLOCK)):
            if kind in ("history", "snapshot"):
                out.append((kind, self._entity()))
            elif kind in ("changed_since", "as_of"):
                out.append((kind, self.rng.randrange(1, self.N_SESSIONS)))
            else:
                out.append((kind, 0))
        return out

    def frame(self, kind: str, arg: int):
        """The Spark DataFrame of one query (built, not run)."""
        from pyspark.sql import functions as F

        from ctcityscraper_spark.operators import scd2

        if kind == "snapshot":
            return self.store.current_snapshot(SCD2_TABLE).filter(F.col("uuid") == self.model.uuid(arg))
        df = self.store.scan(SCD2_TABLE)
        if kind == "current":
            return scd2.current(df)
        if kind == "history":
            return scd2.history(df, entity=self.model.uuid(arg))
        if kind == "changed_since":
            return scd2.changed_since(df, gen.session_ts(arg))
        return scd2.as_of(df, gen.session_ts(arg))

    def run_query(self, kind: str, arg: int) -> Op:
        m = self.model
        with self.span(f"query.{kind}"):
            t = perf_counter()
            df = self.frame(kind, arg)
            if kind in ("history", "snapshot"):
                rows = df.collect()
                got = len(rows)
            else:
                got = df.count()
            dt = perf_counter() - t
        if kind == "history":
            want = m.history_versions(arg)
            self.history_rows += got
        elif kind == "snapshot":
            want = 1
            if rows and rows[0]["value"] != m.latest_value(arg):
                return Op(kind, dt, 1, self.fail(f"snapshot of {arg} has a stale value"))
        elif kind == "current":
            want = m.current_count()
        elif kind == "changed_since":
            want = m.changed_since_count(arg)
        else:
            want = m.as_of_count(arg)
        ok = got == want or self.fail(f"{kind}({arg}) returned {got} rows, expected {want}")
        return Op(kind, dt, 1, ok)

    def warmup(self):
        self._build(self.WARM_ENTITIES, self.WARM_SESSIONS, self.work_dir / "warm")
        for kind in SCD2_BLOCK:
            self.run_query(kind, 1)
        self.history_rows = 0

    def prime(self):
        for kind in SCD2_BLOCK:
            self.run_query(kind, 1)
        self.history_rows = 0

    def step(self, i):
        # one op is a whole block, so every op issues each kind once
        block = self._block()
        self.done += block
        queries = [self.run_query(*q) for q in block]
        self.query_ops += queries
        return [
            Op(
                "block",
                sum(o.seconds for o in queries),
                len(queries),
                all(o.ok for o in queries),
            )
        ]

    def final_checks(self):
        """Re-run a seeded sample of the timed queries, one of each kind,
        in DuckDB over the same Parquet files and compare the full results.
        Each engine reduces a result to its row count and the sum of a
        32-bit MD5 prefix of every row, so no rows move to Python; Spark
        runs the five re-runs as one job."""
        import duckdb
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        pick = random.Random(self.seed + 1)
        sample = [pick.choice([q for q in self.done if q[0] == k] or [(k, 1)]) for k in SCD2_BLOCK]
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW t AS SELECT uuid, row_hash, epoch_us(scraped_at) AS ts FROM "
                f"read_parquet('{self.store.table_path(SCD2_TABLE)}/*.parquet', union_by_name=true)"
            )
            want, digests = [], []
            for i, (kind, arg) in enumerate(sample):
                cols = ["version" if kind == "history" else "uuid", "row_hash"]
                sql, params = self._duck_sql(kind, arg)
                want.append(
                    con.execute(
                        "SELECT count(*), sum(('0x' || substr(md5(concat_ws('|', "
                        f"{', '.join(cols)})), 1, 8))::BIGINT) FROM ({sql})",
                        params,
                    ).fetchone()
                )
                key = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
                digests.append(
                    self.frame(kind, arg).select(
                        F.lit(i).alias("i"),
                        F.count(F.lit(1)).alias("n"),
                        F.sum(F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")).alias("sum"),
                    )
                )
            got = {r["i"]: (r["n"], r["sum"]) for r in reduce(DataFrame.unionAll, digests).collect()}
            for i, (kind, arg) in enumerate(sample):
                if got[i] != tuple(want[i]):
                    self.fail(f"{kind}({arg}) differs from DuckDB ({got[i][0]} vs {want[i][0]} rows)")
        finally:
            con.close()

    def _duck_sql(self, kind: str, arg: int) -> tuple[str, list]:
        latest = (
            "SELECT uuid, row_hash FROM t {w} "
            "QUALIFY row_number() OVER (PARTITION BY uuid ORDER BY ts DESC) = 1"
        )
        ts = f"epoch_us(TIMESTAMP '{gen.session_ts(arg)}')"
        if kind == "current":
            return latest.format(w=""), []
        if kind == "as_of":
            return latest.format(w=f"WHERE ts <= {ts}"), []
        if kind == "snapshot":
            return latest.format(w="WHERE uuid = ?"), [self.model.uuid(arg)]
        if kind == "history":
            return (
                "SELECT version, row_hash FROM (SELECT row_hash, "
                "lag(row_hash) OVER w AS prev, row_number() OVER w AS version "
                "FROM t WHERE uuid = ? WINDOW w AS (ORDER BY ts)) "
                "WHERE prev IS NULL OR row_hash <> prev",
                [self.model.uuid(arg)],
            )
        return (
            "SELECT uuid, row_hash FROM (SELECT uuid, row_hash, ts, lag(row_hash) "
            "OVER (PARTITION BY uuid ORDER BY ts) AS prev FROM t) "
            f"WHERE ts >= {ts} AND prev IS NOT NULL AND row_hash <> prev",
            [],
        )

    def layers(self, log, window, ops):
        t = self.tracer
        t0, t1 = window["perf"]
        by_kind = {}
        for o in self.query_ops:
            by_kind.setdefault(o.kind, []).append(o.seconds)
        p50 = {k: 1e3 * quantile(v, 0.5) for k, v in by_kind.items()}
        files, nbytes = dir_bytes(self.store.table_path(SCD2_TABLE))
        json_bytes = sum(
            len(json.dumps(dict(zip(self.model.COLUMNS, r))).encode())
            for s in range(self.N_SESSIONS)
            for r in self.model.session_frame(s).itertuples(index=False, name=None)
        )
        hist_rows = self.history_rows
        scanned = eventlog.scan_rows(log, "query.history", *window["wall_ms"])
        return {
            "sources.store.scan.ms": 1e3 * quantile(
                [s.seconds for s in t.named("sources.store.scan", t0, t1)], 0.5
            ),
            "sources.store.files": files,
            "sources.store.bytes_written": nbytes,
            "sources.store.space_amp": nbytes / json_bytes,
            "sources.store.current_snapshot.p50_ms": p50.get("snapshot", 0.0),
            "operators.scd2.current.p50_ms": p50.get("current", 0.0),
            "operators.scd2.history.p50_ms": p50.get("history", 0.0),
            "operators.scd2.changed_since.p50_ms": p50.get("changed_since", 0.0),
            "operators.scd2.as_of.p50_ms": p50.get("as_of", 0.0),
            "operators.scd2.history.rows_scanned_per_row": scanned / hist_rows if hist_rows else 0.0,
        }


# ------------------------------------------------------------------ catalog

# corpus_e2e_prep (18-25 s cold on 4 cores) and dedup_groups_connected
# (about 10 s cold, 3 s warm) are left out to keep a run within the time
# budget of the benchmark
CATALOG_QUERIES = [
    "dedup_minhash_lsh",
    "ann_cosine_topk_vectorized",
]
ANN_QUERIES = 100  # ann_cosine_topk_vectorized queries vec_id < 100
STREAM_BATCHES = 2
STREAM_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
EMB_SCHEMA = "vec_id long, embedding array<float>, label int"
BLOOM_BITS, BLOOM_K = 1 << 16, 5


def _fingerprint(rows) -> str:
    return hashlib.sha256(repr(sorted(map(tuple, rows))).encode()).hexdigest()


class CatalogLlm(Workload):
    """The LLM-pipeline pass; the second half of ``ingest_catalog``."""

    name = "catalog_llm"
    N_DOCS = 600
    N_VECS = 1000

    def __init__(self, spark, seed, work_dir, tracer=None):
        super().__init__(spark, seed, work_dir, tracer)
        self.data = None
        self.stream_runs: list[dict] = []
        self.passes = 0
        self.pass_ops: list[Op] = []  # the parts of every pass

    def setup(self, i):
        from pyspark.sql import functions as F

        d = self.work_dir / f"data{i}"
        docs = self.spark.createDataFrame(
            gen.docs_table(self.seed, self.N_DOCS).to_pandas(), STREAM_SCHEMA
        )
        emb = self.spark.createDataFrame(
            gen.embeddings_table(self.seed, self.N_VECS).to_pandas(), EMB_SCHEMA
        )
        # one file per table, like the catalog's own test data
        docs.coalesce(1).write.parquet(str(d / "documents.parquet"))
        emb.coalesce(1).write.parquet(str(d / "embeddings.parquet"))
        # micro-batch files: batch b holds doc_id % 2 == b, so every exact
        # duplicate (an odd id) arrives one batch after its original; the
        # file source orders files by modification time
        for b in range(STREAM_BATCHES):
            part = d / "stream" / f"b{b}"
            docs.filter(F.col("doc_id") % STREAM_BATCHES == b).coalesce(1).write.parquet(str(part))
            for f in part.glob("*.parquet"):
                os.utime(f, (1_000_000_000 + b, 1_000_000_000 + b))
        if self.data is not None:
            shutil.rmtree(self.data, ignore_errors=True)
        self.data = d

    def _query(self, name: str) -> Op:
        from ctcityscraper_spark.plans.queries import QUERIES

        with self.span(f"plans.{name}"):
            t = perf_counter()
            df = QUERIES[name].fn(self.spark, str(self.data))
            rows = df.collect()
            dt = perf_counter() - t
        # runs of one seed must print the same fingerprints
        print(f"fingerprint {name} {_fingerprint(rows)}", file=sys.stderr)
        ok = self._check(name, rows)
        items = self.N_VECS if name.startswith("ann_") else self.N_DOCS
        return Op(name, dt, items, ok)

    def _check(self, name: str, rows) -> bool:
        dups = gen.exact_dup_ids(self.N_DOCS)
        if name == "dedup_minhash_lsh":
            pairs = {(r["doc_a"], r["doc_b"]) for r in rows}
            bad = [d for d in dups if (d - 1, d) not in pairs]
            return not bad or self.fail(f"dedup_minhash_lsh missed duplicate pairs {bad[:5]}")
        top1 = {r["query_id"]: r["neighbor_id"] for r in rows if r["rank"] == 1}
        want = gen.near_pairs(self.N_VECS, ANN_QUERIES)
        bad = [q for q, n in want.items() if top1.get(q) != n]
        return not bad or self.fail(f"ann top-1 missed planted neighbours of {bad[:5]}")

    def _stream(self) -> Op:
        """One availableNow run of the streaming Bloom dedup, start-up to
        shut-down."""
        from ctcityscraper_spark.streaming.events import (
            stream_from_directory,
            streaming_bloom_membership,
        )

        z = self.work_dir / f"zone{self.passes}"
        with self.span("streaming.bloom_membership"):
            t = perf_counter()
            stream = stream_from_directory(
                self.spark, str(self.data / "stream" / "b*"), STREAM_SCHEMA, max_files_per_trigger=1
            )
            q = streaming_bloom_membership(
                stream, str(z / "words"), str(z / "flags"), str(z / "ckpt"),
                BLOOM_BITS, BLOOM_K, compact_every=1, stats_dir=str(z / "stats"),
            )
            finished = q.awaitTermination(170)
            if not finished:
                q.stop()
            dt = perf_counter() - t
        batches = [p for p in q.recentProgress if p["numInputRows"]]
        batch_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in batches]
        self.stream_runs.append({"batch_s": batch_s, "state_bytes": dir_bytes(z / "words", "*")[1]})
        ok = finished and len(batches) == STREAM_BATCHES or self.fail(
            f"streaming_bloom_membership ran {len(batches)} of {STREAM_BATCHES} batches"
        )
        flagged = {
            r["doc_id"]
            for r in self.spark.read.parquet(str(z / "flags")).filter("might_contain").collect()
        }
        # a duplicate whose original arrived in an earlier batch must be flagged
        want = {d for d in gen.exact_dup_ids(self.N_DOCS) if (d - 1) % STREAM_BATCHES < d % STREAM_BATCHES}
        missed = want - flagged
        ok = (not missed or self.fail(f"bloom stream missed duplicates {sorted(missed)[:5]}")) and ok
        shutil.rmtree(z / "ckpt", ignore_errors=True)
        return Op("stream", dt, sum(p["numInputRows"] for p in batches), ok)

    def step(self, i):
        parts = [self._query(name) for name in CATALOG_QUERIES] + [self._stream()]
        self.passes += 1
        self.pass_ops += parts
        return [
            Op(
                "pass",
                sum(o.seconds for o in parts),
                sum(o.items for o in parts),
                all(o.ok for o in parts),
            )
        ]

    def layers(self, log, window, ops):
        out = {
            f"plans.{name}.s": quantile([o.seconds for o in self.pass_ops if o.kind == name], 0.5)
            for name in CATALOG_QUERIES
        }
        batch_s = [b for run in self.stream_runs for b in run["batch_s"]]
        out["streaming.batch_s"] = quantile(batch_s, 0.5)
        out["streaming.jobs_per_batch"] = eventlog.jobs_per_batch(log, *window["wall_ms"])
        out["streaming.state_bytes"] = self.stream_runs[-1]["state_bytes"]
        return out


# --------------------------------------------------------------- batch side


class IngestCatalog(Workload):
    """The batch side: each cycle is one refresh round of the operator's
    source, then one LLM-pipeline pass. Both halves run Python workers and
    take similar times, so a slowdown of either moves the cycle."""

    name = "ingest_catalog"

    def __init__(self, spark, seed, work_dir, tracer=None):
        super().__init__(spark, seed, work_dir, tracer)
        self.ingest = IngestRefresh(spark, seed, work_dir / "ingest", tracer)
        self.catalog = CatalogLlm(spark, seed, work_dir / "catalog", tracer)
        self.ingest.failures = self.catalog.failures = self.failures
        self.ingest_ops: list[Op] = []

    def warmup(self):
        # on inputs that the first set-up replaces. The two halves warm
        # different code paths, mostly on the driver, so they warm side by
        # side; the catalog queries still run slower on their second call
        # than later, so they run twice
        def catalog():
            self.catalog.setup("warm")
            self.catalog.step(-1)
            for name in CATALOG_QUERIES:
                self.catalog._query(name)
            self.catalog.pass_ops.clear()
            self.catalog.stream_runs.clear()

        with ThreadPoolExecutor(2) as pool:
            for f in [pool.submit(self.ingest.warmup), pool.submit(catalog)]:
                f.result()

    def setup(self, i):
        self.ingest.setup(i)
        self.catalog.setup(i)

    def prime(self):
        for name in CATALOG_QUERIES:
            self.catalog._query(name)

    def step(self, i):
        (refresh,) = self.ingest.step(i)
        self.ingest_ops.append(refresh)
        (llm,) = self.catalog.step(i)
        parts = ", ".join(f"{o.kind} {o.seconds:.2f}s" for o in self.catalog.pass_ops[-3:])
        print(f"cycle {i}: refresh round {refresh.seconds:.2f}s, {parts}", file=sys.stderr)
        return [
            Op(
                "cycle",
                refresh.seconds + llm.seconds,
                # entries refreshed plus records the catalog pass read
                refresh.items + llm.items,
                refresh.ok and llm.ok,
            )
        ]

    def final_checks(self):
        self.ingest.final_checks()

    def layers(self, log, window, ops):
        return self.ingest.layers(log, window, self.ingest_ops) | self.catalog.layers(log, window, ops)


WORKLOADS = {w.name: w for w in (IngestCatalog, Scd2Reads)}


def run_workload(wl: Workload, seconds: float) -> dict:
    """Warm up, set up ``setup_repeats`` times, then run the closed loop
    for ``seconds``; returns timings, op records and the failure count.
    Each set-up and the final checks count as attempted operations."""
    import time

    _, warm_s = timed(wl.warmup)
    setup_s = [timed(wl.setup, i)[1] for i in range(wl.setup_repeats)]
    warm_s += timed(wl.prime)[1]
    before_loop = len(wl.failures)
    ops: list[Op] = []
    wall0, t0 = time.time(), perf_counter()
    i = 0
    while len(ops) < wl.min_ops or perf_counter() - t0 < seconds:
        try:
            ops += wl.step(i)
        except Exception as exc:  # an op that raises counts as failed; keep going
            traceback.print_exc()
            ops.append(Op("error", 0.0, 0, wl.fail(f"step {i} raised {exc!r}")))
        i += 1
    t1, wall1 = perf_counter(), time.time()
    after_loop = len(wl.failures)
    _, checks_s = timed(wl.final_checks)
    other = before_loop + len(wl.failures) - after_loop
    return {
        "setup_s": setup_s,
        "warmup_s": warm_s,
        "checks_s": checks_s,
        "ops": ops,
        "attempted": len(ops) + wl.setup_repeats + 1,
        "failed": sum(not o.ok for o in ops) + other,
        "window": {"perf": (t0, t1), "wall_ms": (wall0 * 1e3, wall1 * 1e3)},
    }

"""Adversarial-data oracle gate.

Re-runs the Spark-vs-DuckDB correctness gate (tests/test_queries_oracle.py)
for every documents/embeddings catalog query against a deliberately hostile
scale-factor directory:

- documents: NULL text / lang / source / n_chars, empty text, whitespace-only
  text, single-token text, tab-and-unicode text, plus a realistic corpus with
  exact duplicates so dedup operators have work to do — and span-pathological
  docs (duplicate passages aligned exactly at doc boundaries, width-1 /
  width-exact texts, repeated-token and single-char-run docs where every
  in-doc window collides) for the substring-span family.
- embeddings: a NULL vector, an all-zero vector (zero norm — the classic
  NaN-cosine producer) and a NaN-element vector among valid ones, plus a
  NULL label.
- events: NULL ts / user_id / event_type / value, malformed and empty
  JSON props, a window-boundary timestamp, a negative value, and
  exact-duplicate timestamps (tie-break stress for every ORDER BY ts
  window: sessionization, SCD2 versioning, as-of, LOCF).
- orders / lineitem / customer / part / supplier / nation / region: NULL
  join keys (the NOT IN vs NOT EXISTS trap), orphan foreign keys, NULL
  measures / dates / group-by and dimension names, negative amounts —
  appended to the clean rows so FK-dependent queries keep their real data.

Also exercises fully-empty corpora / query sets (the first micro-batch of
a new pipeline) against every document and embedding operator.

A 100 TB crawl corpus contains all of these; an operator that matches the
oracle on clean data but crashes or silently diverges on NULLs is not done.
The driver-found ``token_budget_selection`` NULL-bin crash (round 5) is the
motivating example — this gate makes that whole class regression-tested.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ctcityscraper_spark.plans.compare import compare_frames, duckdb_connection
from ctcityscraper_spark.plans.queries import QUERIES
from ctcityscraper_spark.plans.tables import TABLE_NAMES

SRC_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

VOCAB = [
    "the", "fast", "key", "order", "sort", "table", "scan", "merge", "part",
    "window", "small", "hash", "join", "batch", "stream", "spark", "dup",
    "filter", "shuffle", "broadcast", "bucket", "codec", "vector", "token",
]

EMB_DIMS = 64


def _adversarial_documents() -> pa.Table:
    rng = np.random.RandomState(7)
    rows: list[tuple] = []
    for i in range(300):
        n = int(rng.randint(5, 60))
        text = " ".join(VOCAB[rng.randint(len(VOCAB))] for _ in range(n))
        rows.append((i, text, ["en", "es", "fr", "de", "pt"][i % 5], f"src{i % 8}", len(text)))
    # exact duplicates + a near-duplicate (one token appended) for dedup ops
    rows.append((300, rows[0][1], "en", "src0", rows[0][4]))
    rows.append((301, rows[1][1], "es", "src1", rows[1][4]))
    rows.append((302, rows[2][1] + " extra", "fr", "src2", rows[2][4] + 6))
    # hostile rows
    rows += [
        (400, None, None, None, None),          # all-NULL payload
        (401, "", "en", "src1", 0),             # empty text
        (402, "   ", "en", None, 3),            # whitespace-only
        (403, "a", None, "src2", 1),            # single token, NULL lang
        (404, "café 日本語 naïve tab\tsep", "ja", "src3", 24),
        # vertical tab: Java \s includes \x0B, RE2's does not — the class
        # every oracle regex must spell out (queries_ext.TOKS comment)
        (405, "vtab\x0bsep and\x0bmore dup", "en", "src4", 22),
    ]
    # span-pathological rows (catalog span window = 40 chars): duplicate
    # passages aligned exactly at doc boundaries, texts one char below /
    # exactly at the window width, and repeated-token / single-char-run
    # docs where EVERY in-doc window collides (the island-merge and
    # doc_cap stress case). All flow through the same Spark-vs-DuckDB
    # compare as the clean corpus.
    passage = "SHARED-BOUNDARY-PASSAGE-" + "x1y2z3" * 10          # 84 chars
    span_rows = [
        (500, passage + " trailing tail words here"),  # span at doc START
        (501, "leading words before " + passage),      # span at doc END
        (502, passage),                                # span IS the doc
        (503, passage),                                #   (start 0, both)
        (504, "Q" * 39), (505, "Q" * 39),              # width-1: no span
        (506, "R" * 40), (507, "R" * 40),              # exactly one window
        (508, "dup " * 50), (509, "dup " * 50),        # repeated-token doc
        (510, "a" * 120), (511, "a" * 120 + " tail"),  # single-char run
    ]
    rows += [
        (i, t, ["en", "de"][i % 2], f"src{i % 8}", len(t)) for i, t in span_rows
    ]
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )


def _adversarial_embeddings() -> pa.Table:
    rng = np.random.RandomState(11)
    vecs: list[list[float] | None] = []
    labels: list[int | None] = []
    for i in range(300):
        v = rng.randn(EMB_DIMS).astype(np.float32)
        vecs.append([float(x) for x in v])
        labels.append(int(i % 7))
    vecs.append(None)                    # NULL vector
    labels.append(3)
    vecs.append([0.0] * EMB_DIMS)        # zero-norm vector
    labels.append(None)                  # NULL label
    vecs.append([float("nan")] + [1.0] * (EMB_DIMS - 1))  # NaN element
    labels.append(5)
    ids = list(range(len(vecs)))
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _adversarial_events() -> pa.Table:
    from datetime import datetime, timedelta

    rng = np.random.RandomState(13)
    types = ["signup", "click", "error", "view", "purchase"]
    base = datetime(2024, 1, 1)
    rows: list[tuple] = []
    eid = 0
    for u in range(12):
        t = base + timedelta(minutes=int(rng.randint(0, 600)))
        for _ in range(40):
            t = t + timedelta(seconds=int(rng.randint(30, 40_000)))
            props = '{"k": %d}' % int(rng.randint(0, 100))
            rows.append((eid, t, u, types[int(rng.randint(5))],
                         float(np.round(rng.uniform(0, 300), 2)), props))
            eid += 1
    # hostile rows
    t0 = base + timedelta(hours=6)  # exactly on a 6h tumbling boundary
    rows += [
        (9000, None, 3, "click", 1.0, '{"k": 1}'),          # NULL ts
        (9001, t0, None, "view", 2.0, '{"k": 2}'),          # NULL user
        (9002, t0, 4, None, 3.0, '{"k": 3}'),               # NULL type
        (9003, t0, 4, "click", None, None),                 # NULL value+props
        (9004, t0, 5, "click", 4.0, "{oops"),               # malformed JSON
        (9005, t0, 5, "click", 5.0, ""),                    # empty-string JSON
        (9006, t0, 6, "purchase", -7.5, '{"k": -1}'),       # negative value
    ]
    # exact-duplicate timestamps for one user: tie-break stress for every
    # ORDER BY ts window (sessionization, funnel, LOCF, as-of)
    td = base + timedelta(days=2, hours=3)
    rows += [(9100 + i, td, 7, "click", float(i), '{"k": 7}') for i in range(3)]
    return pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )


def _hostile_relational(table: str) -> pa.Table:
    """The real sf0.001 table plus dirty rows: NULL join keys, orphan FKs,
    NULL measures/dates — what a 100 TB lake actually contains. Appended to
    the clean rows so every FK-dependent query still has its real data."""
    from datetime import datetime

    base = pq.read_table(f"{SRC_SF_DIR}/{table}.parquet")
    extra_rows: dict[str, list] = {
        "orders": {
            "o_orderkey": [900001, 900002, 900003],
            "o_custkey": [None, 999_999, 1],           # NULL key, orphan FK
            "o_orderstatus": ["F", None, "O"],
            "o_totalprice": [None, 10.0, -5.0],        # NULL / negative measure
            "o_orderdate": [datetime(2024, 1, 5), None, datetime(2024, 1, 6)],
            "o_orderpriority": [None, "1-URGENT", "2-HIGH"],
        },
        "lineitem": {
            "l_orderkey": [None, 900001, 900001],      # NULL key + real join hits
            "l_partkey": [1, None, 2],
            "l_suppkey": [1, 1, None],
            "l_linenumber": [1, 1, 2],
            "l_quantity": [None, -3.0, 7.0],
            "l_extendedprice": [100.0, None, 50.0],
            "l_discount": [0.05, 0.1, None],
            "l_tax": [0.02, None, 0.01],
            "l_returnflag": [None, "N", "R"],
            "l_linestatus": ["O", None, "F"],
            "l_shipdate": [None, datetime(2024, 2, 1), datetime(2024, 2, 2)],
        },
        "customer": {
            "c_custkey": [900010, 900011],
            "c_name": [None, "hostile customer"],
            "c_nationkey": [None, 0],
            "c_acctbal": [None, -100.0],
            "c_mktsegment": [None, "BUILDING"],
        },
        "part": {
            "p_partkey": [900020, 900021],
            "p_name": [None, "hostile part"],
            "p_brand": [None, "Brand#00"],
            "p_type": [None, "HOSTILE TYPE"],
            "p_size": [None, -1],
            "p_retailprice": [None, 0.0],
        },
        "supplier": {
            "s_suppkey": [900030, 900031],
            "s_name": [None, "hostile supplier"],
            "s_nationkey": [None, 999],          # NULL + orphan FK
            "s_acctbal": [None, -1.0],
        },
        "nation": {
            "n_nationkey": [900040, 900041],
            "n_name": [None, "hostile nation"],   # NULL group-by name
            "n_regionkey": [None, 777],           # NULL + orphan region FK
        },
        "region": {
            "r_regionkey": [900050],
            "r_name": [None],                     # NULL dim name
        },
    }[table]
    schema = base.schema
    extra = pa.table(
        {f.name: pa.array(extra_rows[f.name], f.type) for f in schema},
        schema=pa.schema([schema.field(i) for i in range(len(schema))]),
    )
    return pa.concat_tables([base, extra])


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("adv_sf")
    pq.write_table(_adversarial_documents(), d / "documents.parquet")
    pq.write_table(_adversarial_embeddings(), d / "embeddings.parquet")
    pq.write_table(_adversarial_events(), d / "events.parquet")
    for t in ("orders", "lineitem", "customer", "part", "supplier",
              "nation", "region"):
        pq.write_table(_hostile_relational(t), d / f"{t}.parquet")
    for name in TABLE_NAMES:
        dst = d / f"{name}.parquet"
        if not dst.exists():
            dst.symlink_to(f"{SRC_SF_DIR}/{name}.parquet")
    return str(d)


@pytest.fixture(scope="module")
def adv_duck(adv_dir):
    con = duckdb_connection(adv_dir)
    yield con
    con.close()


def _targets() -> list[str]:
    names = []
    for name, q in QUERIES.items():
        if q.oracle is None:
            continue
        if any(
            t in q.oracle
            for t in (
                "documents", "embeddings", "events",
                "orders", "lineitem", "customer", "part", "supplier",
                "nation", "region",
            )
        ):
            names.append(name)
    return names


@pytest.mark.parametrize("name", _targets())
def test_adversarial_matches_oracle(
    spark, adv_dir, adv_duck, run_with_oracle, name
):
    spark_pdf, oracle_pdf = run_with_oracle(
        QUERIES[name], spark, adv_dir, adv_duck
    )
    report = compare_frames(spark_pdf, oracle_pdf)
    assert report["row_count_match"], report
    assert report["schema_match"], report
    assert report["values_match"], {
        k: v for k, v in report.items() if k != "first_diffs"
    } | {"first_diffs": report.get("first_diffs")}


DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


def test_empty_corpus_operators(spark):
    """Every document operator returns an EMPTY frame (not an error) on an
    empty corpus — the first micro-batch of a brand-new pipeline."""
    from ctcityscraper_spark.operators import corpus, dedup, text

    empty = spark.createDataFrame([], DOCS_SCHEMA)
    outs = [
        dedup.exact_duplicates(empty),
        dedup.ngram_jaccard_pairs(empty),
        dedup.minhash_lsh_pairs(empty),
        dedup.simhash_pairs(empty),
        dedup.cascade_confirmed_pairs(empty),
        dedup.winnow_pairs(empty),
        corpus.segment_dedup(empty) if hasattr(corpus, "segment_dedup") else corpus.segments(empty),
        corpus.repetition_signals(empty),
        corpus.pii_scrub(empty),
        corpus.stratified_sample(empty, {"src0": 0.5}),
        corpus.pack_sequences(empty),
        corpus.token_budget_selection(empty, 1000),
        corpus.duplicate_substring_spans(empty),
        corpus.global_quality_rank(empty, F.length("text") / 1000.0),
        dedup.keep_best_representative(
            empty,
            spark.createDataFrame([], "node long, component long"),
            F.length("text") / 1000.0,
        ),
        empty.select(text.quality_score_col("text"), text.lang_id_col("text")),
    ]
    for df in outs:
        assert df.count() == 0
    from ctcityscraper_spark.operators.bpe import bpe_apply, bpe_train

    assert bpe_train(empty, 3).count() == 0
    assert bpe_apply(empty, [(1, "a", "b", "ab", 1)]).count() == 0
    from ctcityscraper_spark.operators.corpus import curriculum_order

    cur = curriculum_order(empty, F.length("text") / 1000.0)
    assert cur.count() == 0 and cur.columns == [
        "doc_id", "stage", "curriculum_rank",
    ]


def test_empty_embeddings_and_empty_queries(spark):
    """Embedding operators tolerate an empty corpus AND an empty query set
    (e.g. every query vector failed validity) — the numpy matmul path must
    not crash on a 0-row side."""
    from ctcityscraper_spark.operators.dedup import semdedup_drop_list
    from ctcityscraper_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_vectorized,
        srp_lsh_topk,
        valid_vectors,
    )

    empty = spark.createDataFrame([], EMB_SCHEMA)
    full = spark.read.parquet(f"{SRC_SF_DIR}/embeddings.parquet").limit(20)

    assert valid_vectors(empty).count() == 0
    assert cosine_topk(empty, empty).count() == 0
    assert cosine_topk(full, empty).count() == 0
    assert cosine_topk_vectorized(empty, empty).count() == 0
    assert cosine_topk_vectorized(full, empty).count() == 0
    assert cosine_topk_vectorized(empty, full).count() == 0
    assert srp_lsh_topk(full, empty, dims=EMB_DIMS).count() == 0
    assert semdedup_drop_list(empty, dims=EMB_DIMS).count() == 0


def test_pca_path_on_hostile_vectors(spark):
    """The PCA pipeline under the standard hostile-embeddings contract:
    NULL / NaN / zero-norm vectors are excluded by valid_vectors on BOTH
    the Gram (training) and projection (apply) sides, an empty query set
    yields an empty result, and an all-invalid corpus raises the clear
    no-valid-vectors error instead of a numpy crash (ann_pca_ivf_recall's
    sidecar-backed oracle covers only valid-corpus replay — this is its
    hostile-input functional gate)."""
    import math

    import pytest as _pytest

    from ctcityscraper_spark.operators.similarity import (
        pca_project_vectorized,
        pca_rotated_ivf_topk,
    )

    good = spark.read.parquet(f"{SRC_SF_DIR}/embeddings.parquet").limit(50)
    hostile = spark.createDataFrame(
        [
            (9001, None, 0),
            (9002, [float("nan")] * EMB_DIMS, 0),
            (9003, [0.0] * EMB_DIMS, 0),
            (None, [1.0] * EMB_DIMS, 0),
        ],
        EMB_SCHEMA,
    )
    corpus = good.unionByName(hostile)
    queries = corpus.filter(F.col("vec_id") < 10)
    rows = pca_rotated_ivf_topk(
        corpus, queries, EMB_DIMS, k=5, n_lists=4, n_probe=2
    ).collect()
    ids = {r.neighbor_id for r in rows} | {r.query_id for r in rows}
    assert rows and not ids & {9001, 9002, 9003, None}
    assert all(math.isfinite(r.cosine) for r in rows)
    # empty query side: empty result, not an error
    none_q = corpus.filter(F.col("vec_id") < -1)
    assert (
        pca_rotated_ivf_topk(corpus, none_q, EMB_DIMS, n_lists=4).count()
        == 0
    )
    # projection alone also screens hostile rows
    comps = [
        [1.0 if i == j else 0.0 for i in range(EMB_DIMS)] for j in range(4)
    ]
    proj = pca_project_vectorized(hostile, comps)
    assert proj.count() == 1  # only the NULL-id row has a valid vector
    # all-invalid corpus: the clear contract error, not a numpy crash
    with _pytest.raises(ValueError, match="no valid vectors"):
        pca_rotated_ivf_topk(
            hostile.filter(F.col("vec_id").isNotNull()),
            none_q,
            EMB_DIMS,
            n_lists=4,
        ).collect()


def test_pca_sidecar_staleness_guard(spark):
    """A stale PCA sidecar must fail LOUDLY: the oracle's final SELECT is
    gated on the persisted corpus fingerprint matching the corpus the SQL
    reads, so components trained on a different corpus (another sf's
    gate, an oracle-only replay) yield 0 oracle rows — a row-count
    mismatch — never a silent plausible-but-wrong hash match."""
    import json

    from ctcityscraper_spark.plans import queries_ext
    from ctcityscraper_spark.plans.queries import QUERIES

    q = QUERIES["ann_pca_ivf_recall"]
    # run the Spark query first (the gate order): writes a fresh sidecar
    assert q.fn(spark, SRC_SF_DIR).count() == 1
    con = duckdb_connection(SRC_SF_DIR)
    try:
        assert len(con.execute(q.oracle).fetchall()) == 1
        path = queries_ext._PCA_SIDECAR
        payload = json.loads(open(path).read())
        original = dict(payload)
        payload["fingerprint_n"] = int(payload["fingerprint_n"]) + 1
        open(path, "w").write(json.dumps(payload))
        try:
            assert con.execute(q.oracle).fetchall() == []
        finally:
            open(path, "w").write(json.dumps(original))
    finally:
        con.close()

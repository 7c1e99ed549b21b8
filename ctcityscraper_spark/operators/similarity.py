"""Similarity search over embedding columns (array<float>).

Two paths:

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  O(|queries| * |corpus|); fine when |queries| is small or for verification.
- ``srp_lsh_topk``: sign-random-projection LSH. Each vector gets a B-bit
  bucket from the signs of B pseudo-random hyperplane projections (planes
  derived deterministically from md5, so both engines and every executor
  agree without shipping state). Candidates come only from the query's
  bucket (+ optional multi-probe neighbors), then exact cosine re-ranks.
  At 100 TB: bucketing is one narrow projection pass; the join is
  equi-join on bucket — never a cross join.

Dot products fold left-to-right in float64 (F.aggregate) so results are
deterministic and oracle-matchable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

SRP_BITS = 8


def _as_double(vec):
    return F.transform(vec, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def valid_vector_cond(vec) -> Column:
    """Predicate: the vector is usable for cosine math.

    TRUE iff the array is non-NULL, every element is a finite non-NULL
    float, and at least one element is non-zero (norm > 0 — cosine is
    undefined for the zero vector, and under ANSI mode the division
    raises DIVIDE_BY_ZERO at runtime rather than yielding NULL). A
    NULL/NaN/Inf element poisons dot products, norms, KMeans training
    and int8 scaling alike, and NaN *ordering* differs between engines'
    top-k windows — so such vectors are excluded outright, matching what
    a real pipeline does with failed encoder rows. The SQL twin is
    ``queries_ext.VALID_EMB_PRED`` — the two must stay in lockstep; the
    adversarial oracle gate (tests/test_adversarial_oracle.py) seeds
    NULL, zero-norm and NaN-element vectors to enforce that.
    """
    v = F.col(vec) if isinstance(vec, str) else vec
    # exists() short-circuits and allocates nothing, unlike size(filter())
    # which builds the filtered array per row — measurable on the corpus
    # side of every ANN scan.
    inf = F.lit(float("inf"))
    bad_elem = F.exists(
        v, lambda x: x.isNull() | F.isnan(x.cast("double")) | (F.abs(x) == inf)
    )
    nonzero = F.exists(v, lambda x: x != 0)
    return v.isNotNull() & ~bad_elem & nonzero


def valid_vectors(df: DataFrame, vec: str = "embedding") -> DataFrame:
    """Drop rows whose embedding fails :func:`valid_vector_cond`.

    Applied at the entry of every embedding operator (cosine/SRP/IVF/PQ/
    near-dup/SemDeDup) so invalid vectors can neither crash the plan nor
    silently appear as neighbors. The filter is a narrow scan-stage
    predicate — no shuffle, evaluated inside whole-stage codegen.
    """
    return df.filter(valid_vector_cond(vec))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec: str = "embedding",
    id_col: str = "vec_id",
    max_pairs: int = 50_000_000,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (brute force).

    Returns (query_id, neighbor_id, rank, cosine). Ties break by neighbor id.

    This is the bit-exact ORACLE TWIN — expression-only so DuckDB can
    reproduce it — not the scale path. It cross-joins, so it is size-gated
    (same pattern as ``graph.connected_components``): when
    ``|corpus| * |queries| > max_pairs`` it raises instead of silently
    launching an O(C*Q) plan; use :func:`cosine_topk_vectorized` (Arrow
    numpy matmul blocks) for real corpora, or the SRP/IVF/PQ candidate
    generators when even Q*C scoring is too much. The two counts the gate
    pays are cheap column-pruned scans; pass ``max_pairs=0`` to disable
    the gate (and the counts) for oracle harnesses that manage size
    themselves.

    NULL / NULL-element / zero-norm vectors are excluded on both sides
    (:func:`valid_vectors` — cosine is undefined for them; the SQL
    oracles carry the same predicate).

    The gate's two counts re-execute whatever plan feeds ``corpus`` /
    ``queries`` before the query itself runs — if either is the tail of
    an expensive pipeline, persist it first (or pass ``max_pairs=0``);
    the counts then read the materialized blocks instead of re-running
    the upstream.
    """
    corpus = valid_vectors(corpus, vec)
    queries = valid_vectors(queries, vec)
    if max_pairs:
        n_c, n_q = corpus.count(), queries.count()
        if n_c * n_q > max_pairs:
            raise ValueError(
                f"cosine_topk is the brute-force oracle twin: |corpus|={n_c} "
                f"x |queries|={n_q} = {n_c * n_q} pairs exceeds "
                f"max_pairs={max_pairs}. Use cosine_topk_vectorized (exact, "
                "Arrow-blocked) or srp_lsh_topk/ivf_topk/pq_adc_topk "
                "(approximate) instead, or raise max_pairs explicitly."
            )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec)).alias("cv")
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def int8_quantize_col(vec):
    """Per-vector symmetric int8 quantization: q_i = round(v_i * 127 / max|v|).

    The standard embedding-compression scheme: 4x smaller than float32,
    integer dot products (exact, SIMD-friendly). All-zero vectors map to
    all-zero codes. Quantization is a scan-stage projection computed once
    per row (it sits below any join in the plan).
    """
    from ctcityscraper_spark.functions.exprs import bind_once

    # let-bind the doubled vector and its max-abs scalar: referencing
    # `maxabs` inside the quantize lambda re-evaluates the array_max scan
    # per ELEMENT (O(dims²) per vector — the shingles_col lesson)
    def quantize(v):
        def with_scale(m):
            return F.when(
                m > 0,
                F.transform(
                    v, lambda x: F.round(x * 127.0 / m).cast("int")
                ),
            ).otherwise(F.transform(v, lambda x: F.lit(0)))

        return bind_once(
            F.array_max(F.transform(v, lambda x: F.abs(x))), with_scale
        )

    return bind_once(_as_double(vec), quantize)


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k neighbors by int8-quantized dot product.

    Returns (query_id, neighbor_id, rank, score) with INTEGER scores —
    exact arithmetic, deterministic ties (neighbor id ascending). This is
    the full-scan quantized baseline; at scale, feed the quantized corpus
    through the SRP/IVF bucketed candidate generation instead of the cross
    join, keeping the int8 scoring. Invalid vectors (NULL / NULL-element /
    zero-norm) are excluded on both sides (:func:`valid_vectors`).
    """
    corpus = valid_vectors(corpus, vec)
    queries = valid_vectors(queries, vec)
    q = queries.select(
        F.col(id_col).alias("query_id"), int8_quantize_col(F.col(vec)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), int8_quantize_col(F.col(vec)).alias("cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
                F.lit(0),
                lambda acc, x: acc + x,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def plane_weight(bit: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-500, 499].

    hash64 semantics (md5 hex[0:15] base-16) on "bit,dim", mod 1000, minus
    500 — computed driver-side so the plane matrix embeds as literals in both
    the Spark plan and the DuckDB oracle SQL (no state shipped to executors).
    """
    from ctcityscraper_spark.functions.hashing import hash64_py

    return float(hash64_py(f"{bit},{dim}") % 1000 - 500)


def srp_bucket_col(vec, dims: int, bits: int = SRP_BITS):
    """B-bit sign-random-projection bucket id for a double-array column.

    Each bit is the sign of a dot product with a literal pseudo-plane,
    folded left-to-right in float64 (matches DuckDB list_reduce order).
    """
    bucket = F.lit(0)
    for b in range(bits):
        weights = F.array(*[F.lit(plane_weight(b, d)) for d in range(dims)])
        proj = F.aggregate(
            F.zip_with(vec, weights, lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(2**b)).otherwise(F.lit(0))
    return bucket


# literal-count gate above which SRP bucketing auto-switches from the
# plan-embedded expression (dims * bits double literals) to the Arrow
# matmul path — 4096 literals is comfortably inside codegen, a 4096-dim
# 16-bit config (65k) is not
SRP_LITERAL_GATE = 4096


def srp_bucket_vectorized(
    df: DataFrame,
    dims: int,
    bits: int = SRP_BITS,
    vec: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "bucket",
    carry_vec: bool = False,
) -> DataFrame:
    """Numpy twin of :func:`srp_bucket_col` for HIGH-DIMENSIONAL vectors.

    The expression variant embeds ``dims * bits`` double literals in the
    plan — fine at the 64-dim fixtures, but a production 4096-dim / 16-bit
    config is 65k literals, which balloons the plan tree and falls out of
    whole-stage codegen. This computes the same buckets with one Arrow
    matmul per batch against the identical :func:`plane_weight` matrix
    (broadcast once, never in the plan). Returns (id, bucket) rows —
    plug the result in wherever a block/cluster column is accepted
    (``embedding_neardup_pairs(block=...)``,
    ``semdedup_drop_list(cluster_col=...)``) via a join, or use it to
    build a stored bucket index.

    Caveat: matmul sums pairwise while the expression folds left-to-right,
    so a projection within float-association distance of zero can flip a
    bit on knife-edge vectors — irrelevant for candidate generation
    (SRP is approximate by design) but use :func:`srp_bucket_col` where
    bit-exact oracle parity matters. Invalid vectors and NULL ids are
    excluded (same entry contract as every embedding operator).

    ``carry_vec`` also emits the double-cast vector column, so a consumer
    that needs both the bucket and the vector (e.g. the SemDeDup pair
    join) gets them from ONE scan instead of joining buckets back onto
    the source.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31] for int32 buckets, got {bits}")
    planes = np.array(
        [[plane_weight(b, d) for d in range(dims)] for b in range(bits)],
        dtype=np.float64,
    )
    pow2 = (1 << np.arange(bits)).astype(np.int64)
    cleaned = valid_vectors(df, vec).filter(F.col(id_col).isNotNull())
    sc = cleaned.sparkSession.sparkContext
    b_planes = sc.broadcast(planes)

    def run(batches):
        pl = b_planes.value
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf[vec]), dtype=np.float64)
            proj = mat @ pl.T  # rows x bits
            buckets = ((proj > 0) @ pow2).astype(np.int64)
            out = {id_col: pdf[id_col], out_col: buckets.astype("int32")}
            if carry_vec:
                out[vec] = [list(row) for row in mat]
            yield pd.DataFrame(out)

    fields = [
        StructField(id_col, cleaned.schema[id_col].dataType, True),
        StructField(out_col, IntegerType(), True),
    ]
    if carry_vec:
        fields.append(StructField(vec, ArrayType(DoubleType()), True))
    return cleaned.select(id_col, vec).mapInPandas(run, StructType(fields))


def _srp_side(df, dims, bits, vec, id_col, out_id, out_vec, literal_gate):
    """(out_id, out_vec double-array, bucket) for one side of an SRP
    join: the plan-literal expression below ``literal_gate`` plan
    literals, the Arrow-matmul path (same plane matrix, vector carried in
    the same pass) above it. Callers' downstream logic — probe-mask
    XORs, equi-joins, cosine re-rank — is bucket-representation-agnostic,
    so the gate switches implementation, never semantics (modulo the
    knife-edge float-association caveat on srp_bucket_vectorized)."""
    if literal_gate is None:
        literal_gate = SRP_LITERAL_GATE
    if dims * bits <= literal_gate:
        return df.select(
            F.col(id_col).alias(out_id), _as_double(F.col(vec)).alias(out_vec)
        ).withColumn("bucket", srp_bucket_col(F.col(out_vec), dims, bits))
    b = srp_bucket_vectorized(
        df, dims, bits, vec=vec, id_col=id_col, carry_vec=True
    )
    return b.select(F.col(id_col).alias(out_id), F.col(vec).alias(out_vec), "bucket")


def cosine_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine via Arrow-batched numpy matmul — the throughput
    path. Queries (small side) broadcast as a dense matrix; each corpus
    partition computes a Q x B similarity block and emits only its local
    top-k per query; a final window pass reduces partition winners to global
    top-k. Shuffle volume is O(partitions * Q * k), never the corpus.

    Results equal cosine_topk up to float-sum association (numpy pairwise
    vs sequential fold) — use cosine_topk where bit-exact oracle parity is
    required. Invalid vectors (NULL / NULL-element / zero-norm) are
    excluded on both sides (:func:`valid_vectors`) — a NULL embedding
    would otherwise break the dense np.stack, and a zero norm would turn
    a whole similarity block into NaNs. NULL ids are excluded too: in
    cosine_topk they vanish through the ``query_id != neighbor_id``
    filter (NULL comparisons are never true), and the two variants must
    agree row-for-row on which inputs participate.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    corpus = valid_vectors(corpus, vec).filter(F.col(id_col).isNotNull())
    queries = valid_vectors(queries, vec).filter(F.col(id_col).isNotNull())
    # id columns keep their INPUT types (long ids stay long, string ids
    # stay string) on BOTH the empty and non-empty paths — a hard-coded
    # "long" here would make the two paths return different schemas for
    # non-long ids
    partial_fields = StructType(
        [
            StructField("query_id", queries.schema[id_col].dataType, True),
            StructField("neighbor_id", corpus.schema[id_col].dataType, True),
            StructField("cosine", DoubleType(), True),
        ]
    )
    q_rows = queries.select(id_col, vec).collect()
    if not q_rows:
        # an empty query set (e.g. every query failed validity) would make
        # the broadcast matrix 1-D and crash the axis-1 norm below
        empty_schema = StructType(
            [
                partial_fields["query_id"],
                partial_fields["neighbor_id"],
                StructField("rank", IntegerType(), False),
                partial_fields["cosine"],
            ]
        )
        return corpus.sparkSession.createDataFrame([], empty_schema)
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, q_mat, q_norm))

    def topk_blocks(batches):
        ids, mat, qn = bq.value
        for pdf in batches:
            c_ids = pdf[id_col].to_numpy()
            c_mat = np.array(list(pdf[vec]), dtype=np.float64)
            if len(c_ids) == 0:
                continue
            c_norm = np.linalg.norm(c_mat, axis=1)
            sims = (mat @ c_mat.T) / (qn[:, None] * c_norm[None, :])
            out = {"query_id": [], "neighbor_id": [], "cosine": []}
            for qi in range(len(ids)):
                row = sims[qi]
                mask = c_ids != ids[qi]
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                take = min(k, len(cand_idx))
                best = cand_idx[np.argpartition(-row[cand_idx], take - 1)[:take]]
                out["query_id"].extend([ids[qi]] * len(best))
                out["neighbor_id"].extend(c_ids[best].tolist())
                out["cosine"].extend(row[best].tolist())
            yield pd.DataFrame(out)

    partial = corpus.select(id_col, vec).mapInPandas(topk_blocks, partial_fields)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def build_ivf_index(
    corpus: DataFrame,
    n_lists: int = 16,
    vec: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> tuple[DataFrame, list]:
    """Build the IVF index as a STORED artifact: (indexed, centroids).

    ``indexed`` is (neighbor_id, cv, list_id) — write it as parquet
    (ideally bucketed on ``list_id``, sources/bucketed.py, so probe joins
    never shuffle the corpus side) and keep ``centroids`` (a plain
    n_lists × dims nested list, JSON-serializable) next to it. At 100 TB
    index construction is a one-off batch job; queries are
    :func:`ivf_probe_topk` against the stored frame.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    corpus = valid_vectors(corpus, vec)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec)).alias("cv")
    ).withColumn("features", array_to_vector("cv"))
    model = KMeans(
        k=n_lists, seed=seed, featuresCol="features", predictionCol="list_id"
    ).fit(c)
    indexed = model.transform(c).select("neighbor_id", "cv", "list_id")
    centroids = [[float(x) for x in ctr] for ctr in model.clusterCenters()]
    return indexed, centroids


def assign_ivf_lists(
    vectors: DataFrame,
    centroids: list,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(neighbor_id, cv, list_id) rows for ``vectors`` under FIXED
    ``centroids`` — per-row argmin-L2 with the same numpy distance the
    :func:`ivf_probe_topk` probe computes (one broadcast of the
    n_lists×d matrix, one Arrow pass; ties break to the lowest list_id
    via argmin's first-minimum rule, deterministically). This is the
    assignment half of :func:`build_ivf_index` with the k-means training
    factored out, which is exactly what incremental maintenance needs:
    assignment is per-row, so ``assign(A ∪ B, c)`` is trivially
    ``assign(A, c) ∪ assign(B, c)`` and a delta batch never touches the
    stored index to get its lists. Invalid vectors and NULL ids are
    excluded (standard embedding-operator entry contract)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    ctrs = np.asarray(centroids, dtype=np.float64)
    if ctrs.ndim != 2:
        raise ValueError(
            f"assign_ivf_lists: centroids must be n_lists×d (got shape {ctrs.shape})"
        )
    dims = ctrs.shape[1]
    cleaned = valid_vectors(vectors, vec).filter(F.col(id_col).isNotNull())
    sc = cleaned.sparkSession.sparkContext
    b_ctrs = sc.broadcast(ctrs)

    def run(batches):
        cm = b_ctrs.value
        for pdf in batches:
            if not len(pdf):
                continue
            lens = pdf[vec].map(len)
            if (lens != dims).any():
                bad = sorted(set(lens[lens != dims].tolist()))[:5]
                raise ValueError(
                    f"assign_ivf_lists(d={dims}) got vectors of length(s) "
                    f"{bad} — centroid width must match the embedding width"
                )
            mat = np.asarray(pdf[vec].tolist(), dtype=np.float64)
            # ||v - c||^2 for all centroids at once; argmin row-wise
            d2 = (
                (mat**2).sum(axis=1, keepdims=True)
                - 2.0 * (mat @ cm.T)
                + (cm**2).sum(axis=1)
            )
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col],
                    "cv": [list(r) for r in mat],
                    "list_id": np.argmin(d2, axis=1).astype("int32"),
                }
            )

    return cleaned.select(id_col, vec).mapInPandas(
        run,
        StructType(
            [
                StructField(
                    "neighbor_id", cleaned.schema[id_col].dataType, True
                ),
                StructField("cv", ArrayType(DoubleType()), True),
                StructField("list_id", IntegerType(), True),
            ]
        ),
    )


def update_ivf_index(
    indexed: DataFrame,
    new_vectors: DataFrame,
    centroids: list,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Append a new vector batch to a stored :func:`build_ivf_index`
    under the index's FIXED centroids.

    The delta pays only its own :func:`assign_ivf_lists` pass (one Arrow
    argmin against the broadcast centroid matrix — never a scan of the
    stored index), and because assignment is per-row the merged index is
    row-identical to assigning the union in one shot (tested; and the
    catalog query ``ann_ivf_update`` probes the merged index at FULL
    probe against the exact-cosine oracle, proving no vector is lost or
    duplicated by maintenance). Rewrite the result bucketed on
    ``list_id`` (sources/bucketed.py) to keep probe joins shuffle-free
    on the index side — the union discards the stored table's bucketing.

    Drift caveat: centroids stay fixed, so a delta distribution that
    wanders from the training corpus skews list sizes and recall-per-
    probe. Monitor with :func:`ivf_list_stats` / :func:`ivf_imbalance_report`
    (the ``ann_ivf_imbalance`` catalog monitor) and retrain
    (:func:`build_ivf_index`) when the max/mean ratio degrades — the
    retrain is the same one-off batch job as the original build.
    """
    return indexed.unionByName(
        assign_ivf_lists(new_vectors, centroids, vec=vec, id_col=id_col)
    )


def ivf_list_stats(
    indexed: DataFrame, n_lists: int, list_col: str = "list_id"
) -> DataFrame:
    """Per-list health stats for a stored IVF index: one row per list in
    the FULL ``0..n_lists-1`` grid — ``(list_id, n, share, imbalance)``.

    Empty lists are real rows with ``n = 0`` (an emptying list is itself
    a degradation signal: probes of that list score nothing while its
    vectors crowd other lists). ``share`` is the list's fraction of the
    index; ``imbalance`` is the classic retrain trigger — max list size
    over MEAN list size (mean includes empty lists, so it equals
    ``max_n * n_lists / total``; 1.0 = perfectly balanced, n_lists =
    everything in one list). Both are one integer-exact division, so
    DuckDB reproduces them bit-for-bit. An EMPTY index yields NULL
    share/imbalance (loud, never divide-by-zero).

    Cost: one groupBy over the index (n_lists result rows) + a broadcast
    1-row total attach — the monitoring aggregation a nightly job runs
    against the stored index frame, never against raw embeddings. This is
    the operator form of :func:`update_ivf_index`'s drift caveat
    ("monitor list-size imbalance, retrain on degradation").
    """
    if n_lists < 1:
        raise ValueError(f"n_lists must be >= 1, got {n_lists}")
    spark = indexed.sparkSession
    grid = spark.range(int(n_lists)).select(
        F.col("id").cast("int").alias(list_col)
    )
    counts = indexed.groupBy(list_col).agg(F.count("*").alias("n"))
    full = grid.join(counts, list_col, "left").select(
        list_col, F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    tot = full.agg(
        F.sum("n").alias("_total"), F.max("n").alias("_max_n")
    )
    guarded = F.when(F.col("_total") > 0, F.col("n") / F.col("_total"))
    return full.crossJoin(F.broadcast(tot)).select(
        list_col,
        "n",
        guarded.alias("share"),
        F.when(
            F.col("_total") > 0,
            F.col("_max_n") * F.lit(int(n_lists)) / F.col("_total"),
        ).alias("imbalance"),
    )


def ivf_imbalance_report(
    indexed_a: DataFrame,
    indexed_b: DataFrame,
    n_lists: int,
    list_col: str = "list_id",
) -> DataFrame:
    """Epoch-over-epoch IVF health monitor — the IVF analogue of
    :func:`~ctcityscraper_spark.operators.text.quantile_drift`: joins two
    epochs' :func:`ivf_list_stats` on the full list grid into
    ``(list_id, n_a, n_b, share_a, share_b, share_drift, imbalance_a,
    imbalance_b)``.

    ``share_drift`` (share_b − share_a) is the recall-proxy: under FIXED
    centroids, mass migrating between lists means the incoming
    distribution has wandered from the training corpus, which is exactly
    what degrades recall-per-probe (a query's n_probe nearest lists no
    longer hold its true neighbors). ``imbalance_*`` rising epoch-over-
    epoch is the retrain trigger (:func:`build_ivf_index` is the same
    one-off batch job as the original build). Both epochs' stats cover
    the full grid, so the join is total — an epoch that emptied a list
    shows ``n = 0`` / drift, never a dropped row. All sketch-sized work:
    two n_lists-row frames joined on list_id; the raw index frames are
    each read once by their own groupBy.
    """
    sa = ivf_list_stats(indexed_a, n_lists, list_col).select(
        list_col,
        F.col("n").alias("n_a"),
        F.col("share").alias("share_a"),
        F.col("imbalance").alias("imbalance_a"),
    )
    sb = ivf_list_stats(indexed_b, n_lists, list_col).select(
        list_col,
        F.col("n").alias("n_b"),
        F.col("share").alias("share_b"),
        F.col("imbalance").alias("imbalance_b"),
    )
    return sa.join(sb, list_col).select(
        list_col,
        "n_a",
        "n_b",
        "share_a",
        "share_b",
        (F.col("share_b") - F.col("share_a")).alias("share_drift"),
        "imbalance_a",
        "imbalance_b",
    )


def ivf_list_assignment(
    vectors: DataFrame,
    centroids: list,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Expression-only ``(id, list_id)`` assignment under literal
    centroids — the deterministic assignment half of :func:`ivf_flat_topk`
    factored out so health monitors and their DuckDB oracles share one
    definition. Every distance is a left-to-right float64 fold against
    centroid literals (bit-identical to DuckDB's list_reduce); ties break
    to the lowest list_id. Scan-stage projection: centroids ride along as
    literals, nothing shuffles. For k-means indexes use
    :func:`assign_ivf_lists` (numpy argmin, same tie rule) — this variant
    exists for oracle-reproducible audits."""
    v = valid_vectors(vectors, vec).filter(F.col(id_col).isNotNull())
    return v.select(
        F.col(id_col), _as_double(F.col(vec)).alias("_v")
    ).select(
        F.col(id_col),
        F.element_at(_l2_argmin_structs_expr("_v", centroids), 1)[
            "list_id"
        ].alias("list_id"),
    )


def ivf_probe_topk(
    indexed: DataFrame,
    centroids: list,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Query a stored IVF index: probe ``n_probe`` nearest lists per query,
    exact-cosine re-rank only those lists (~n_probe/n_lists of the
    corpus). Recall tunes with n_probe (n_probe == n_lists is exact)."""
    import numpy as np

    ctrs_arr = np.array(centroids, dtype=np.float64)
    sc = indexed.sparkSession.sparkContext
    b_centroids = sc.broadcast(ctrs_arr)
    n_probe = min(n_probe, len(centroids))

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    # NULL ids are excluded at entry (int(None) would kill the Arrow
    # batch; downstream the query_id != neighbor_id filter drops them
    # anyway), and the probe schema derives the id type from the input
    # so non-long ids round-trip
    queries = valid_vectors(queries, vec).filter(F.col(id_col).isNotNull())
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec)).alias("qv")
    )

    def probe(batches):
        import pandas as pd

        ctrs = b_centroids.value
        for pdf in batches:
            out = {"query_id": [], "qv": [], "list_id": []}
            for qid, qv in zip(pdf["query_id"], pdf["qv"]):
                v = np.asarray(qv, dtype=np.float64)
                d = ((ctrs - v) ** 2).sum(axis=1)
                for lid in np.argsort(d)[:n_probe]:
                    out["query_id"].append(qid)
                    out["qv"].append(list(qv))
                    out["list_id"].append(int(lid))
            yield pd.DataFrame(out)

    probed = q.mapInPandas(
        probe,
        StructType(
            [
                StructField("query_id", queries.schema[id_col].dataType, True),
                StructField("qv", ArrayType(DoubleType()), True),
                StructField("list_id", IntegerType(), True),
            ]
        ),
    )
    scored = (
        probed.join(indexed, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    vec: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN, build-and-query in one call: k-means coarse
    quantizer + probed exact-cosine re-rank. Convenience composition of
    :func:`build_ivf_index` + :func:`ivf_probe_topk` — for a standing
    corpus, build once, store, and query the stored index instead.
    """
    indexed, centroids = build_ivf_index(
        corpus, n_lists=n_lists, vec=vec, id_col=id_col, seed=seed
    )
    return ivf_probe_topk(
        indexed, centroids, queries, k=k, n_probe=n_probe, vec=vec, id_col=id_col
    )


def hash_pick_centroids(
    corpus: DataFrame,
    n_lists: int,
    vec: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "ivfctr",
) -> list:
    """Deterministic coarse quantizer: the ``n_lists`` corpus vectors with
    the smallest ``(hash64(id, seed), id)``.

    IVF's contract is "any coarse quantizer" (FAISS takes arbitrary ones);
    k-means (:func:`build_ivf_index`) clusters better, but hash-picked
    centers are reproducible bit-for-bit across engines and file layouts —
    the variant the oracle-gated recall audit uses, and an honest cheap
    baseline (random-center IVF). Bounded: collects exactly n_lists rows
    via a distributed TakeOrderedAndProject, never the corpus.
    """
    from ctcityscraper_spark.functions.hashing import hash64

    rows = (
        valid_vectors(corpus, vec).select(
            F.col(id_col).alias("cid"), _as_double(F.col(vec)).alias("cv")
        )
        .orderBy(hash64(F.col("cid"), seed), "cid")
        .limit(n_lists)
        .collect()
    )
    return [[float(x) for x in r.cv] for r in rows]


def _l2_argmin_structs_expr(vec_sql: str, centroids: list):
    """:func:`_l2_argmin_structs` as ONE ``F.expr`` over a named
    double-array column — identical tree and fold order (named_struct
    fields sort exactly like the aliased F.struct; pinned row-identical
    in tests), one py4j parse instead of n_lists·d literal Columns (the
    pq_encode_expr lesson)."""
    structs = ", ".join(
        "named_struct('d', aggregate(zip_with("
        f"{vec_sql}, {_array_lit_sql(ctr)}, (x, c) -> (x - c) * (x - c)),"
        f" 0.0D, (acc, x) -> acc + x), 'list_id', {i})"
        for i, ctr in enumerate(centroids)
    )
    return F.expr(f"array_sort(array({structs}))")


def _l2_argmin_structs(v, centroids: list):
    """array<struct<d,list_id>> sorted by (distance, list_id) — distances
    are left-to-right float64 folds against centroid literals, so DuckDB's
    list_reduce reproduces them bit-for-bit."""
    return F.array_sort(
        F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            v,
                            F.array(*[F.lit(c) for c in ctr]),
                            lambda x, c: (x - c) * (x - c),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("d"),
                    F.lit(i).alias("list_id"),
                )
                for i, ctr in enumerate(centroids)
            ]
        )
    )


def ivf_flat_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list,
    k: int = 5,
    n_probe: int = 4,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Expression-only IVF: literal centroids, argmin-L2 list assignment,
    probed equi-join on list_id, exact-cosine re-rank of the probed lists.

    Unlike :func:`ivf_probe_topk` (numpy centroid distances inside a Pandas
    UDF), every float here is a left-to-right JVM fold — deterministic and
    DuckDB-reproducible, which is what the recall-audit oracle needs. The
    shape is the same as the stored-index path: assignment is a scan-stage
    projection (centroids ride along as literals, nothing shuffles for
    them), candidates come from an equi-join on list_id — ~n_probe/n_lists
    of the corpus scored per query, never a cross join.
    """
    corpus = valid_vectors(corpus, vec)
    queries = valid_vectors(queries, vec)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec)).alias("cv"),
    ).select(
        "neighbor_id",
        "cv",
        F.element_at(_l2_argmin_structs_expr("cv", centroids), 1)[
            "list_id"
        ].alias("list_id"),
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec)).alias("qv"),
        )
        .select(
            "query_id",
            "qv",
            F.transform(
                F.slice(
                    _l2_argmin_structs_expr("qv", centroids),
                    1,
                    min(n_probe, len(centroids)),
                ),
                lambda s: s["list_id"],
            ).alias("probe_lists"),
        )
        .select("query_id", "qv", F.explode("probe_lists").alias("list_id"))
    )
    scored = (
        q.join(c, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("qv"), F.col("cv"))
                / (_norm(F.col("qv")) * _norm(F.col("cv")))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def probe_masks(bits: int, probe_bits: int) -> list[int]:
    """XOR masks for multi-probe: every mask with popcount <= probe_bits
    (0 = the query's own bucket). Deterministic order; shared with the
    DuckDB oracle generator."""
    import itertools

    masks = [0]
    for r in range(1, probe_bits + 1):
        for combo in itertools.combinations(range(bits), r):
            masks.append(sum(1 << b for b in combo))
    return masks


def srp_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    k: int = 5,
    bits: int = SRP_BITS,
    probe_bits: int = 1,
    vec: str = "embedding",
    id_col: str = "vec_id",
    literal_gate: int | None = None,
) -> DataFrame:
    """Multi-probe SRP-LSH: each query probes its own bucket PLUS every
    bucket within ``probe_bits`` bit-flips of it — the recall knob at fixed
    index cost. A vector whose projection sits near a hyperplane lands on
    the other side of that plane's bit for near-neighbors; flipping low-
    confidence bits recovers exactly those misses (Lv et al., multi-probe
    LSH). Candidate volume grows by the probe count (1+B for probe_bits=1,
    +B(B-1)/2 for 2) while staying a plain equi-join on bucket — per-query
    work is still bucket-local, never a scan of the corpus.

    Each corpus vector lives in exactly one bucket and probe masks are
    distinct, so no candidate pair duplicates — no distinct needed.
    Returns (query_id, neighbor_id, rank, cosine) like srp_lsh_topk.
    Above ``literal_gate`` plan literals (dims * bits) bucketing
    auto-switches to the Arrow-matmul path (:func:`_srp_side`); the
    probe-mask XOR explode is an expression over the bucket int either
    way.
    """
    corpus = valid_vectors(corpus, vec)
    queries = valid_vectors(queries, vec)
    c = _srp_side(corpus, dims, bits, vec, id_col, "neighbor_id", "cv", literal_gate)
    masks = F.array(*[F.lit(m) for m in probe_masks(bits, probe_bits)])
    q = (
        _srp_side(queries, dims, bits, vec, id_col, "query_id", "qv", literal_gate)
        .withColumnRenamed("bucket", "bucket0")
        .select("query_id", "qv", "bucket0", F.explode(masks).alias("mask"))
        .withColumn("bucket", F.col("bucket0").bitwiseXOR(F.col("mask")))
        .drop("bucket0", "mask")
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def srp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    k: int = 5,
    bits: int = SRP_BITS,
    vec: str = "embedding",
    id_col: str = "vec_id",
    literal_gate: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share the query's SRP bucket, then exact
    cosine re-ranks. Returns (query_id, neighbor_id, rank, cosine).
    Invalid vectors are excluded on both sides (:func:`valid_vectors`).
    Above ``literal_gate`` plan literals (dims * bits) bucketing
    auto-switches to the Arrow-matmul path (:func:`_srp_side`)."""
    corpus = valid_vectors(corpus, vec)
    queries = valid_vectors(queries, vec)
    c = _srp_side(corpus, dims, bits, vec, id_col, "neighbor_id", "cv", literal_gate)
    q = _srp_side(queries, dims, bits, vec, id_col, "query_id", "qv", literal_gate)
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# -- product quantization (PQ) ----------------------------------------------
#
# The 100 TB memory story for ANN: store each 64-dim float32 vector (256 B)
# as M=8 4-bit codes (4 B, 64x smaller) and score queries against codes via
# asymmetric distance computation (ADC) — Jegou et al., "Product
# Quantization for Nearest Neighbor Search" (TPAMI 2011). The codebook is
# tiny (M*K*sub_dim floats) and embeds as plan literals, so encoding and
# scoring are pure whole-stage-codegen expressions: no UDF, no state
# shipped, and the compressed corpus scan reads 4 B/vector instead of 256.

PQ_M = 8  # subspaces
PQ_K = 16  # codewords per subspace -> 4-bit codes (FAISS "fast-scan" size)


def pq_codeword_val(m: int, j: int, d: int) -> float:
    """Deterministic pseudo-random codeword component in [-0.3, 0.3].

    Same md5 construction as plane_weight: both engines and every executor
    compute literals from (m, j, d) alone. For production use, train with
    pq_train_codebooks instead — the operators accept either codebook.
    """
    from ctcityscraper_spark.functions.hashing import hash64_py

    return (hash64_py(f"pq:{m},{j},{d}") % 601 - 300) / 1000.0


def pq_codebook(dims: int, n_sub: int = PQ_M, k: int = PQ_K) -> list:
    """codebook[m][j] = sub_dim-float codeword j of subspace m."""
    s = dims // n_sub
    return [
        [[pq_codeword_val(m, j, d) for d in range(s)] for j in range(k)]
        for m in range(n_sub)
    ]


def pq_train_codebooks(
    corpus: DataFrame,
    dims: int,
    n_sub: int = PQ_M,
    k: int = PQ_K,
    vec: str = "embedding",
    sample: int = 10_000,
    iters: int = 10,
    seed: int = 42,
) -> list:
    """Train PQ codebooks: per-subspace Lloyd's k-means on a corpus sample.

    Driver-side numpy on ``sample`` rows — codebook training reads a bounded
    sample regardless of corpus size (the FAISS recipe); only the resulting
    M*K*sub_dim floats ship back into the plan as literals. The sample is
    deterministic across runs and cluster layouts when an id column
    (vec_id/doc_id/id) exists — ordered by xxhash64(id), which is both
    reproducible AND unbiased (plain id order would train only on the
    earliest documents of a time-ordered corpus); otherwise whatever
    ``limit`` returns (single-file local reads are stable, multi-file
    cluster reads are not), so keep an id column for reproducible
    codebooks.
    """
    import numpy as np

    corpus = valid_vectors(corpus, vec)
    sampled = corpus
    for id_col in ("vec_id", "doc_id", "id"):
        if id_col in corpus.columns:
            sampled = corpus.orderBy(F.xxhash64(F.col(id_col)), id_col)
            break
    rows = sampled.select(vec).limit(sample).collect()
    if len(rows) < k:
        raise ValueError(
            f"PQ training needs >= k={k} sample vectors; got {len(rows)} "
            f"(corpus too small or {vec!r} mostly null) — lower k or grow "
            "the sample"
        )
    mat = np.array([r[0] for r in rows], dtype=np.float64)
    rng = np.random.default_rng(seed)
    s = dims // n_sub
    books = []
    for m in range(n_sub):
        x = mat[:, m * s : (m + 1) * s]
        centers = x[rng.choice(len(x), size=k, replace=False)]
        for _ in range(iters):
            d = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for j in range(k):
                members = x[assign == j]
                if len(members):
                    centers[j] = members.mean(axis=0)
        books.append([[float(v) for v in centers[j]] for j in range(k)])
    return books


def pq_encode_col(vec, codebook: list):
    """array<int> of M codes: per subspace, argmin-L2 codeword index.

    Ties take the smallest index (array_position returns the first minimum),
    matching the oracle's ORDER BY d, j. Pure expressions — encoding happens
    in the scan stage of whatever plan consumes it. Plan-size note: the
    codebook embeds M*K*sub_dim double literals (1k at the 64-dim default
    — comfortably in codegen); very high-dim configs (4096-dim, M=512)
    reach ~65k literals and should encode through an Arrow matmul instead,
    the same pattern as :func:`srp_bucket_vectorized`.
    """
    n_sub, k = len(codebook), len(codebook[0])
    s = len(codebook[0][0])
    codes = []
    for m in range(n_sub):
        sub = F.slice(vec, m * s + 1, s)
        dists = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        sub,
                        F.array(*[F.lit(c) for c in codebook[m][j]]),
                        lambda x, c: (x - c) * (x - c),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for j in range(k)
            ]
        )
        codes.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
    return F.array(*codes)


def _array_lit_sql(values: list) -> str:
    """SQL double-array literal: ``array(1.5D, -0.25D, ...)``. ``repr``
    emits the shortest round-trip form, so the parsed literal is the
    exact float64 ``F.lit`` would embed."""
    return "array(" + ", ".join(f"{float(v)!r}D" for v in values) + ")"


def _codebook_lit_sql(codebook: list) -> str:
    """The whole PQ codebook as ONE nested ``array<array<array<double>>>``
    SQL literal (m × k × sub_dim). Catalyst constant-folds the foldable
    CreateArray tree into a single Literal, so expressions that index it
    (``element_at(CB, m + 1)``) pay no per-row reconstruction — the
    building block of the transform-form PQ expressions below."""
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(_array_lit_sql(cw) for cw in book) + ")"
            for book in codebook
        )
        + ")"
    )


def _pq_dists_sql(vec_sql: str, cb_sql: str, m_expr: str, s: int) -> str:
    """The k per-codeword squared distances of subspace ``m_expr`` as a
    transform over the codebook literal — same zip_with lambda and same
    left-to-right fold as the expanded per-codeword form, so every
    distance is bit-identical; only the Catalyst tree is smaller."""
    return (
        f"transform(element_at({cb_sql}, {m_expr} + 1), "
        f"cc -> aggregate(zip_with(slice({vec_sql}, {m_expr} * {s} + 1, {s}),"
        " cc, (x, c) -> (x - c) * (x - c)), 0.0D, (acc, x) -> acc + x))"
    )


def pq_encode_expr(vec_sql: str, codebook: list):
    """:func:`pq_encode_col` built as ONE ``F.expr`` over a named vector
    column — value-identical output (same zip_with lambda, same left
    fold, same array_position-of-array_min tie-break; pinned
    row-identical in tests and by the oracle gates), built as a single
    py4j parse instead of M·K lambda Columns each crossing the
    Python/JVM boundary (measured 2.9 s → 0.05 s of DRIVER time per call
    at the 64-dim default — the plan-construction sibling of the
    checkpoint_tracked analysis lesson: the driver is the serial
    bottleneck, keep it off hot paths).

    Tree shape (r15 optimization round): the codebook rides as ONE
    nested array literal and the per-subspace/per-codeword distances
    come from ``transform`` over it instead of M·K separately-parsed
    aggregate subtrees — ~40× fewer higher-order-function nodes, which
    cut measured driver ANALYSIS time ~2× and execution ~2× (the
    constant-folded literal is built once, not once per expanded
    subtree) at the 64-dim default. Catalyst analysis/optimization is
    serial driver work — at 100 TB it is the planning bottleneck the
    guide's §7.3 names, so smaller trees help there too."""
    n_sub = len(codebook)
    s = len(codebook[0][0])
    cb = _codebook_lit_sql(codebook)
    dists = _pq_dists_sql(vec_sql, cb, "m", s)
    return F.expr(
        f"transform(sequence(0, {n_sub - 1}), m -> "
        f"cast(array_position({dists}, array_min({dists})) - 1 as int))"
    )


def pq_adc_table_expr(vec_sql: str, codebook: list):
    """:func:`pq_adc_table_col` as ONE ``F.expr`` — same single-parse
    rationale and r15 transform-form tree shape as
    :func:`pq_encode_expr` (value-identical: same dot-product fold per
    (m, j), ordered by the same m-then-j nesting)."""
    n_sub = len(codebook)
    s = len(codebook[0][0])
    cb = _codebook_lit_sql(codebook)
    return F.expr(
        f"transform(sequence(0, {n_sub - 1}), m -> "
        f"transform(element_at({cb}, m + 1), "
        f"cc -> aggregate(zip_with(slice({vec_sql}, m * {s} + 1, {s}),"
        " cc, (x, c) -> x * c), 0.0D, (acc, x) -> acc + x)))"
    )


def pq_recon_error_expr(vec_sql: str, codebook: list):
    """Per-row PQ reconstruction squared error as ONE ``F.expr``:
    ``Σ_m min_j ||sub_m − c_mj||²`` — the quantization error of encoding
    the vector under ``codebook``, computed WITHOUT materializing codes
    (the min subspace distance IS the chosen codeword's error). Every
    distance is the same left-to-right fold the encoder uses; the outer
    sum is left-associative over subspace order — bit-identical in
    DuckDB."""
    cb = _codebook_lit_sql(codebook)
    s = len(codebook[0][0])
    dists = _pq_dists_sql(vec_sql, cb, "m", s)
    # The outer Σ_m rides an aggregate fold with 0.0D init: every term is
    # an array_min of sums of squares (>= +0.0), and IEEE `0.0 + x == x`
    # bit-for-bit for x >= 0, so the fold equals the expanded
    # left-associative `t0 + t1 + ...` chain exactly (r15 transform-form
    # rewrite — see pq_encode_expr; measured value-identical sums on the
    # full embeddings fixture and oracle-gated).
    return F.expr(
        f"aggregate(transform(sequence(0, {len(codebook) - 1}), m -> "
        f"array_min({dists})), 0.0D, (acc, x) -> acc + x)"
    )


def pq_recon_stats(
    vectors: DataFrame,
    codebook: list,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ quantization-quality summary for a vector set under a FROZEN
    codebook: one row ``(n, sse_micros, mse_micros)``.

    The errors are fixed-point quantized per row
    (``floor(err · 10⁶)`` as bigint) BEFORE aggregation — an integer SUM
    is order-independent, so the cross-engine hash match survives
    Spark's nondeterministic partial-aggregation order (a double SUM
    would not; same fixed-point rule as the flagship query's cents
    aggregation). ``mse_micros`` is one exact division of the two
    aggregates. Scan-stage expression + one aggregate — at 100 TB this
    is a count-shaped pass over the delta sample, never the corpus.
    Because the floor happens PER ROW before the integer SUM, sse_micros
    is exactly additive across any split (stats(A ∪ B) = stats(A) +
    stats(B), pinned in tests) — the monitor state is SUM-mergeable and
    can live as a per-batch delta zone like the CMS/Gram/cursor state."""
    v = valid_vectors(vectors, vec).filter(F.col(id_col).isNotNull())
    em = (
        v.select(_as_double(F.col(vec)).alias("_v"))
        .select(pq_recon_error_expr("_v", codebook).alias("e"))
        .select(
            F.expr("cast(floor(e * 1000000.0) as bigint)").alias("em")
        )
    )
    return em.agg(
        F.count("*").alias("n"), F.sum("em").alias("sse_micros")
    ).select(
        "n",
        "sse_micros",
        (F.col("sse_micros") / F.col("n")).alias("mse_micros"),
    )


def pq_recon_drift(
    vectors_a: DataFrame,
    vectors_b: DataFrame,
    codebook: list,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Epoch-over-epoch PQ quantization drift — closes
    :func:`update_pq_codes`'s documented drift caveat as an operator
    (the PQ analogue of :func:`ivf_imbalance_report`): one row
    ``(n_a, n_b, sse_micros_a, sse_micros_b, mse_micros_a, mse_micros_b,
    drift_micros)`` where rising ``drift_micros`` (epoch B's mean
    quantization error over epoch A's) is the retrain trigger — a delta
    distribution wandering from the codebook's training corpus degrades
    ADC error and recall before recall audits can see it. Both legs are
    1-row aggregates; the join is the allowed 1-row summary attach. An
    empty epoch yields NULL mse/drift (loud, never divide-by-zero)."""
    a = pq_recon_stats(vectors_a, codebook, vec, id_col).select(
        F.col("n").alias("n_a"),
        F.col("sse_micros").alias("sse_micros_a"),
        F.col("mse_micros").alias("mse_micros_a"),
    )
    b = pq_recon_stats(vectors_b, codebook, vec, id_col).select(
        F.col("n").alias("n_b"),
        F.col("sse_micros").alias("sse_micros_b"),
        F.col("mse_micros").alias("mse_micros_b"),
    )
    return a.crossJoin(b).select(
        "n_a",
        "n_b",
        "sse_micros_a",
        "sse_micros_b",
        "mse_micros_a",
        "mse_micros_b",
        (F.col("mse_micros_b") - F.col("mse_micros_a")).alias(
            "drift_micros"
        ),
    )


def pq_adc_table_col(vec, codebook: list):
    """array<array<double>>: tables[m][j] = dot(query_sub_m, codeword_mj).

    The per-query ADC lookup table (M*K doubles) computed once per query
    row; scoring a candidate is then M table lookups + a fold.
    """
    n_sub, k = len(codebook), len(codebook[0])
    s = len(codebook[0][0])
    return F.array(
        *[
            F.array(
                *[
                    F.aggregate(
                        F.zip_with(
                            F.slice(vec, m * s + 1, s),
                            F.array(*[F.lit(c) for c in codebook[m][j]]),
                            lambda x, c: x * c,
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    for j in range(k)
                ]
            )
            for m in range(n_sub)
        ]
    )


def pq_encode_corpus(
    corpus: DataFrame,
    codebook: list,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(neighbor_id, codes) rows for ``corpus`` under a FIXED codebook —
    the stored-artifact half of the PQ index (write it as parquet next to
    the :func:`save_vectors_json` codebook sidecar; at the default config
    codes are 4 B/vector, a 64× compression of float32). Encoding is
    per-row (:func:`pq_encode_col` scan-stage expressions), so
    ``encode(A ∪ B) ≡ encode(A) ∪ encode(B)`` — exactly what incremental
    maintenance needs: a delta batch never touches the stored codes to
    get its own. Invalid vectors are excluded (:func:`valid_vectors`)."""
    return (
        valid_vectors(corpus, vec)
        .select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec)).alias("_v"),
        )
        .select(
            "neighbor_id", pq_encode_expr("_v", codebook).alias("codes")
        )
    )


def update_pq_codes(
    stored_codes: DataFrame,
    new_vectors: DataFrame,
    codebook: list,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Append a new vector batch to a stored :func:`pq_encode_corpus`
    table under the index's FROZEN codebook — the PQ analogue of
    :func:`update_ivf_index`, completing the delta-maintenance matrix
    (Bloom / CMS / KMV / quantile / Gram / IVF / PQ).

    The delta pays only its own scan-stage encode (argmin-L2 against the
    codebook literals — never a stored-codes scan), and because encoding
    is per-row the merged table is row-identical to encoding the union
    in one shot (the catalog query ``ann_pq_update`` scores the merged
    codes against the fresh-one-pass-encode oracle, proving maintenance
    lost no vector and re-coded none).

    Drift caveat (same as IVF): codebooks stay frozen, so a delta
    distribution that wanders from the training corpus degrades ADC
    quantization error and recall. Monitor with :func:`pq_recon_drift`
    (mean reconstruction error per epoch — the ``ann_pq_recon_drift``
    catalog monitor) and retrain (:func:`pq_train_codebooks`) when
    drift rises — retraining re-encodes the corpus, the same one-off
    batch job as the original build."""
    return stored_codes.unionByName(
        pq_encode_corpus(new_vectors, codebook, vec=vec, id_col=id_col)
    )


def pq_adc_topk_codes(
    codes: DataFrame,
    queries: DataFrame,
    codebook: list,
    k: int = 5,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by ADC inner-product over a PRE-ENCODED (neighbor_id, codes)
    table — the query half of the stored-PQ-index workflow
    (:func:`pq_encode_corpus` / :func:`update_pq_codes` build and
    maintain the table; this probes it). Semantics and output match
    :func:`pq_adc_topk` exactly; the scan reads only codes, and queries
    broadcast with their per-query ADC lookup tables."""
    queries = valid_vectors(queries, vec)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec)).alias("_v"),
    ).select("query_id", pq_adc_table_expr("_v", codebook).alias("tabs"))
    scored = codes.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.aggregate(
            F.zip_with(F.col("tabs"), F.col("codes"), lambda tb, cd: F.get(tb, cd)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    k: int = 5,
    n_sub: int = PQ_M,
    n_codes: int = PQ_K,
    vec: str = "embedding",
    id_col: str = "vec_id",
    codebook: list | None = None,
) -> DataFrame:
    """Top-k by ADC inner-product over PQ codes (the compressed-scan path).

    Returns (query_id, neighbor_id, rank, score): score is the ADC
    approximation of dot(q, c); ties break by neighbor id. The scan reads
    only codes (4 B/vector at the default config); queries broadcast with
    their lookup tables. The join is the deliberate full compressed scan —
    compose with IVF/SRP bucketing to cut candidates first, keeping this
    scoring on the survivors. Invalid vectors are excluded on both sides
    (:func:`valid_vectors`). Inline-encode convenience over
    :func:`pq_encode_corpus` + :func:`pq_adc_topk_codes` — use those
    directly for the stored-index workflow.
    """
    cb = codebook if codebook is not None else pq_codebook(dims, n_sub, n_codes)
    return pq_adc_topk_codes(
        pq_encode_corpus(corpus, cb, vec=vec, id_col=id_col),
        queries, cb, k=k, vec=vec, id_col=id_col,
    )


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    k: int = 5,
    shortlist: int = 50,
    n_sub: int = PQ_M,
    n_codes: int = PQ_K,
    vec: str = "embedding",
    id_col: str = "vec_id",
    codebook: list | None = None,
) -> DataFrame:
    """ADC shortlist -> exact-cosine re-rank (the production PQ pipeline).

    The compressed scan picks ``shortlist`` candidates per query; only those
    rows' full vectors are fetched (equi-join on neighbor_id) and re-ranked
    with the exact fold cosine. Returns (query_id, neighbor_id, rank,
    cosine). Recall depends on the codebook — train with pq_train_codebooks
    for real corpora; the deterministic codebook keeps the oracle exact.
    """
    cand = pq_adc_topk(
        corpus, queries, dims, shortlist, n_sub, n_codes, vec, id_col, codebook
    ).select("query_id", "neighbor_id")
    queries = valid_vectors(queries, vec)
    corpus = valid_vectors(corpus, vec)
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec)).alias("cv")
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("qv"), F.col("cv"))
                / (_norm(F.col("qv")) * _norm(F.col("cv")))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# -- index sidecar persistence ----------------------------------------------
#
# The stored-index workflow (build once as a batch job, query many times)
# needs the non-DataFrame half of each index persisted too: IVF centroids
# and PQ codebooks are small driver-side float nests that embed as plan
# literals at query time. JSON sidecars keep them engine-agnostic and
# human-auditable next to the parquet/bucketed index tables.


def save_vectors_json(obj: list, path, kind: str, extra: dict | None = None) -> None:
    """Persist an IVF centroid list (kind='ivf_centroids', n_lists x dims)
    or a PQ codebook (kind='pq_codebook', M x K x sub_dim) as a JSON
    sidecar with its shape recorded for load-time validation. Atomic
    (write tmp + fsync + rename + dir fsync) so neither a crashed writer
    NOR a post-rename power loss leaves a torn/empty sidecar for
    concurrent probe jobs — rename alone only orders the metadata, not
    the data blocks. ``extra`` merges additional scalar payload fields
    (e.g. a corpus fingerprint so a reader can detect a stale sidecar
    loudly instead of consuming plausible-but-wrong artifacts); reserved
    keys (kind/shape/data) cannot be overridden."""
    import json
    import os
    from pathlib import Path

    p = Path(path)
    payload = {**(extra or {}), "kind": kind, "shape": _nest_shape(obj), "data": obj}
    tmp = p.with_suffix(p.suffix + ".tmp")
    with open(tmp, "w") as f:
        f.write(json.dumps(payload))
        f.flush()
        os.fsync(f.fileno())
    tmp.rename(p)
    dir_fd = os.open(p.parent, os.O_RDONLY)
    try:
        os.fsync(dir_fd)
    finally:
        os.close(dir_fd)


def load_vectors_json(path, kind: str) -> list:
    """Load and validate a sidecar written by :func:`save_vectors_json`.

    Every corruption mode raises the same descriptive ``ValueError`` —
    unparseable JSON (torn write on a filesystem without the fsync
    guarantees), wrong kind, or shape mismatch."""
    import json
    from pathlib import Path

    try:
        payload = json.loads(Path(path).read_text())
    except json.JSONDecodeError as exc:
        raise ValueError(
            f"sidecar {path} is not valid JSON (torn write?): {exc}"
        ) from exc
    if payload.get("kind") != kind:
        raise ValueError(
            f"sidecar {path} holds kind={payload.get('kind')!r}, expected {kind!r}"
        )
    data = payload["data"]
    if _nest_shape(data) != payload["shape"]:
        raise ValueError(f"sidecar {path} shape mismatch (torn write?)")
    return data


def _nest_shape(obj) -> list[int]:
    shape = []
    while isinstance(obj, list):
        shape.append(len(obj))
        if not obj:
            break
        obj = obj[0]
    return shape


def int8_gram_matrix(
    df: DataFrame, dims: int, vec: str = "embedding"
) -> DataFrame:
    """Exact integer Gram (scatter) matrix of the int8-quantized corpus.

    The training primitive for PCA whitening / OPQ-style rotations over
    billions of embeddings: ``G[j, l] = Σ_rows q_j · q_l`` with
    ``q = int8_quantize_col(v)``. Quantizing FIRST (via the exact same
    expression the int8 ANN path uses, so no numpy-rounding divergence)
    makes the whole aggregation pure integer math — exact,
    order-independent, DuckDB-reproducible (catalog query
    ``ann_int8_gram_matrix`` hash-matches) — where a float covariance
    would be association-order-dependent and unhashable.

    Scale shape: per Arrow batch, one numpy ``Qᵀ·Q`` matmul collapses the
    batch into a d×d int64 partial (d² longs, independent of row count),
    accumulated once per PARTITION; the final groupBy sums
    ~(partitions × d²) partial rows — never the n×d² exploded rows of the
    naive SQL shape (10^15 rows at 1B×1024-dim; here each partition ships
    ~8 MB at 1024-dim). Overflow bound: |g| ≤ 127²·n ≈ 1.6e13 at n=1e9 —
    comfortably inside int64. Invalid vectors are excluded (standard
    embedding-operator entry contract). Returns (j, l, g) — all d²
    entries 0-based when the corpus is non-empty, an empty frame when it
    is empty.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    quant = valid_vectors(df, vec).select(
        int8_quantize_col(F.col(vec)).alias("qv")
    )
    jj, ll = np.meshgrid(np.arange(dims), np.arange(dims), indexing="ij")
    j_flat, l_flat = jj.ravel(), ll.ravel()

    def run(it):
        total = np.zeros((dims, dims), dtype=np.int64)
        seen = False
        for pdf in it:
            if not len(pdf):
                continue
            lens = pdf["qv"].map(len)
            if (lens != dims).any():
                # fail with a CLEAR message instead of an opaque numpy
                # broadcast/inhomogeneous-list error mid-job: valid_vectors
                # screens NULL/NaN/zero-norm but not length, and a ragged
                # or mis-declared corpus would otherwise crash deep inside
                # the matmul
                bad = sorted(set(lens[lens != dims].tolist()))[:5]
                raise ValueError(
                    f"int8_gram_matrix(dims={dims}) got vectors of "
                    f"length(s) {bad} — dims must match the embedding width"
                )
            q = np.asarray(pdf["qv"].tolist(), dtype=np.int64)
            total += q.T @ q
            seen = True
        if seen:
            yield pd.DataFrame(
                {"j": j_flat, "l": l_flat, "g": total.ravel()}
            )

    schema = StructType(
        [
            StructField("j", IntegerType()),
            StructField("l", IntegerType()),
            StructField("g", LongType()),
        ]
    )
    return merge_gram_rows(quant.mapInPandas(run, schema))


# Stored-gram-zone format contract (see dedup.BLOOM_FORMAT_VERSION for the
# pattern): (j, l, g) rows of int8-quantized partial sums. Bump on any
# change to int8_quantize_col's rounding or the row layout — summing
# partials produced under different quantization silently corrupts the
# trained components.
GRAM_FORMAT_VERSION = 1


def merge_gram_rows(rows: DataFrame) -> DataFrame:
    """SUM-merge (j, l, g) Gram frames (any mix of full matrices,
    per-batch deltas, per-partition partials, or partially-merged epochs
    over the SAME dims and quantization) into one row per (j, l). THE
    single definition of the Gram merge — :func:`int8_gram_matrix`'s
    partial-sum tail, :func:`update_gram_matrix`, and the streaming
    sink's compaction transform all call this, so the merge ≡ fresh-build
    property (sum-associativity) can't silently desynchronize between
    the batch and streaming paths. Idempotent over already-merged rows
    (required by the compaction ``transform`` contract)."""
    return (
        rows.select("j", "l", "g").groupBy("j", "l").agg(F.sum("g").alias("g"))
    )


def update_gram_matrix(
    gram: DataFrame, new_vectors: DataFrame, dims: int, vec: str = "embedding"
) -> DataFrame:
    """Merge a new embedding batch into a stored :func:`int8_gram_matrix`.

    The Gram matrix is a sum of per-row outer products, so the
    incremental maintenance step for a continuously growing corpus is
    exact: ``update_gram_matrix(int8_gram_matrix(A), B)`` is
    value-identical to ``int8_gram_matrix(A ∪ B)`` (sum-associativity of
    integer partials; property-tested, and the catalog query
    ``ann_gram_update`` hash-matches the one-pass DuckDB oracle). Cost is
    the delta's Gram pass (partitions × d² partial rows over the BATCH
    only — never the corpus) plus a re-aggregation of ≤ 2·d² rows.
    Retrain components with :func:`pca_components` on the merged result —
    the PCA trainer state for 1B-vector corpora is maintained per-batch
    without ever rescanning history. Overflow headroom is the same int64
    bound as the fresh build (|g| ≤ 127²·n)."""
    delta = int8_gram_matrix(new_vectors, dims, vec)
    return merge_gram_rows(gram.unionByName(delta))


def pca_components(gram_rows, dims: int, k: int):
    """Top-``k`` principal directions from an :func:`int8_gram_matrix`.

    Driver-side eigendecomposition of the d×d integer Gram matrix
    (``gram_rows``: collected (j, l, g) rows or the DataFrame itself —
    d² values, BOUNDED, never corpus-sized; the corpus-sized work already
    happened in the distributed Gram pass). Returns (components,
    eigenvalues): ``components`` is a k×d list of unit-norm rows ordered
    by descending eigenvalue, sign-canonicalized so the largest-|weight|
    coordinate is positive (eigh's sign is otherwise arbitrary — this
    keeps runs reproducible). Use with :func:`pca_project_col` for
    SemDeDup/IVF preprocessing or PQ-friendly decorrelation.
    """
    import numpy as np

    if hasattr(gram_rows, "collect"):
        gram_rows = gram_rows.collect()
    mat = np.zeros((dims, dims), dtype=np.float64)
    for r in gram_rows:
        mat[r["j"], r["l"]] = r["g"]
    vals, vecs = np.linalg.eigh(mat)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        comps.append([float(x) for x in v])
    return comps, [float(vals[i]) for i in order]


def pca_rotated_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 2,
    pca_k: int | None = None,
    vec: str = "embedding",
    id_col: str = "vec_id",
    literal_gate: int | None = None,
    components: list | None = None,
) -> DataFrame:
    """End-to-end PCA-preprocessed IVF: train components on the corpus's
    :func:`int8_gram_matrix` (or take pretrained ``components`` — the
    stored-artifact workflow: train once, persist the k×d floats with
    :func:`save_vectors_json`, query many times; the oracle-gated catalog
    query persists them precisely so DuckDB can replay the projection
    from the sidecar), :func:`pca_project_col` corpus + queries
    into PCA space, then run the expression-only IVF
    (:func:`hash_pick_centroids` + :func:`ivf_flat_topk`) over the
    projected vectors.

    With ``pca_k == dims`` (default) the projection is a full-rank
    orthonormal rotation — cosines and L2 distances are preserved
    exactly (up to float rounding), so recall matches unprojected IVF
    while the coordinates decorrelate (the OPQ-style preprocessing step
    for PQ, and the standard whitening front-end for IVF). With
    ``pca_k < dims`` it is lossy dimensionality reduction: candidate
    selection and re-rank both run in the projected space — recall then
    depends on the spectrum (near-isotropic corpora lose recall fast;
    low-rank corpora keep it; tests pin both regimes on the synthetic
    fixture).

    Scale shape: training is the Gram pass (shuffle bounded at
    partitions × d², never n × d²) + a d×d driver-side eigh; projection
    is a scan-stage map — the plan-literal expression while
    ``pca_k·dims ≤ literal_gate`` (default :data:`PCA_LITERAL_GATE`,
    bit-exact, deterministic fold), the :func:`pca_project_vectorized`
    Arrow matmul above it (a 1024→256 projection is 262k literals —
    out of codegen entirely — while the matmul is one broadcast of the
    k×d matrix). The projected frames are
    persisted (and registered with ``operators.artifacts`` for release)
    — NOT an optimization but a required plan barrier: inlining a
    k·d-literal projection into every one of ``n_lists`` centroid
    distance folds multiplies the expression tree ~n_lists·k·d× and
    stalls codegen at full rank. At 100 TB the projected corpus would be
    a STORED artifact (written bucketed on list_id like
    :func:`build_ivf_index`); the in-session persist is the
    single-job equivalent.
    """
    from ctcityscraper_spark.operators.artifacts import persist_tracked

    pca_k = dims if pca_k is None else pca_k
    if components is not None:
        comps = components
        # every row checked, not just the first — a ragged matrix would
        # otherwise pass here and die inside pca_project_col with an
        # opaque wrong-length-literal error
        if _nest_shape(list(comps)) != [pca_k, dims] or any(
            len(row) != dims for row in comps
        ):
            raise ValueError(
                f"pca_rotated_ivf_topk: components shape "
                f"{_nest_shape(list(comps))} does not match "
                f"(pca_k={pca_k}, dims={dims}) or is ragged"
            )
    else:
        comps, _ = pca_components(
            int8_gram_matrix(corpus, dims, vec), dims, pca_k
        )
    gate = PCA_LITERAL_GATE if literal_gate is None else literal_gate

    def _project(df):
        if pca_k * dims <= gate:
            return (
                valid_vectors(df, vec)
                .select(F.col(id_col), _as_double(F.col(vec)).alias("_v"))
                .select(
                    F.col(id_col),
                    pca_project_expr("_v", comps).alias("__pemb"),
                )
            )
        return pca_project_vectorized(
            df, comps, vec=vec, id_col=id_col, out_col="__pemb"
        )

    pc = persist_tracked(_project(corpus))
    pq = persist_tracked(_project(queries))
    ctrs = hash_pick_centroids(pc, n_lists, vec="__pemb", id_col=id_col)
    if not ctrs:
        raise ValueError(
            "pca_rotated_ivf_topk: corpus has no valid vectors to pick "
            "centroids from"
        )
    return ivf_flat_topk(
        pc, pq, ctrs, k=k, n_probe=n_probe, vec="__pemb", id_col=id_col
    )


def pca_project_expr(vec_sql: str, components: list):
    """:func:`pca_project_col` built as ONE ``F.expr`` over a named
    double-array column — identical Catalyst tree and fold order (so the
    oracle's bit-exact replay still holds; pinned row-identical in
    tests), but a single py4j parse instead of k·d ``F.lit`` calls plus
    k lambda Columns (measured ~8 s → ~0.1 s of driver time on the
    full-rank 64×64 catalog config — same lesson as
    :func:`pq_encode_expr`)."""
    return F.expr(
        "array(" + ", ".join(
            f"aggregate(zip_with({vec_sql}, {_array_lit_sql(comp)},"
            " (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
            for comp in components
        ) + ")"
    )


def pca_project_col(vec, components):
    """Project a double-array column onto literal PCA ``components``
    (k×d from :func:`pca_components`) → k-dim double array.

    Literal-expression path (k·d plan literals) — same trade-off as
    :func:`srp_bucket_col`: fine for the k·d ≤ a-few-thousand configs
    used for SemDeDup/IVF preprocessing; above that use
    :func:`pca_project_vectorized` (the Arrow matmul twin —
    :func:`pca_rotated_ivf_topk` auto-switches on the same literal gate
    as the SRP family). Left-to-right fold per component, deterministic.
    """
    v = _as_double(vec)
    outs = []
    for comp in components:
        w = F.array(*[F.lit(float(x)) for x in comp])
        outs.append(
            F.aggregate(
                F.zip_with(v, w, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    return F.array(*outs)


# PCA's own literal gate sits far below SRP_LITERAL_GATE: an SRP bucket
# must stay plan-literal up to 4096 literals because its bit-exact
# left-to-right fold is oracle-matched, but a PCA projection feeds only
# approximate consumers (IVF lists, SemDeDup blocks) — and measured on
# the r9 VM, a 4096-literal projection costs ~7 s of plan/codegen while
# the Arrow matmul is ~0 marginal (8.8 s → 3.0 s end-to-end on the
# 64-dim catalog config, flat at 10× rows). Keep literal only where the
# plan is cheap anyway and the deterministic fold is free.
PCA_LITERAL_GATE = 1024


def pca_project_vectorized(
    df: DataFrame,
    components,
    vec: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "__pemb",
) -> DataFrame:
    """Arrow-matmul twin of :func:`pca_project_col` for large ``k·d``.

    The literal path embeds k·d double literals in the plan; measured on
    the r9 VM, a full-rank 64×64 projection (4,096 literals per side)
    alone costs ~7 s of analysis/codegen before a single row moves — and
    a production 1024→256 projection (262k literals) falls out of
    whole-stage codegen entirely. This computes the same projection with
    one numpy ``rows × dᵀ`` matmul per Arrow batch against the identical
    components matrix (broadcast once, never in the plan). Returns
    (id_col, out_col double-array) rows from one scan.

    Caveat (same as :func:`srp_bucket_vectorized`): matmul sums pairwise
    while the expression folds left-to-right, so coordinates can differ
    by float-association noise (~1e-12 relative) — irrelevant for ANN
    candidate generation / SemDeDup blocking, but use the literal path
    where bit-exact oracle parity matters. Rows failing
    :func:`valid_vectors` are excluded (standard embedding-operator
    entry contract; the literal path composes with the same filter in
    :func:`pca_rotated_ivf_topk`, so the gate switches implementation,
    never row membership).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    comps = np.asarray(components, dtype=np.float64)
    if comps.ndim != 2:
        raise ValueError(
            "pca_project_vectorized: components must be a k×d matrix "
            f"(got shape {comps.shape})"
        )
    dims = comps.shape[1]
    cleaned = valid_vectors(df, vec)
    sc = cleaned.sparkSession.sparkContext
    b_comps = sc.broadcast(comps)

    def run(batches):
        cm = b_comps.value
        for pdf in batches:
            if not len(pdf):
                continue
            lens = pdf[vec].map(len)
            if (lens != dims).any():
                bad = sorted(set(lens[lens != dims].tolist()))[:5]
                raise ValueError(
                    f"pca_project_vectorized(d={dims}) got vectors of "
                    f"length(s) {bad} — components' d must match the "
                    "embedding width"
                )
            mat = np.asarray(pdf[vec].tolist(), dtype=np.float64)
            proj = mat @ cm.T  # rows × k
            yield pd.DataFrame(
                {id_col: pdf[id_col], out_col: [list(r) for r in proj]}
            )

    schema = StructType(
        [
            StructField(id_col, cleaned.schema[id_col].dataType, True),
            StructField(out_col, ArrayType(DoubleType()), True),
        ]
    )
    return cleaned.select(id_col, vec).mapInPandas(run, schema)

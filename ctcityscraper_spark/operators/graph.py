"""Connected components over near-duplicate pair edges.

The dedup cascade emits PAIRS; turning pairs into GROUPS (so each group
keeps one canonical doc) is a connected-components problem — pair-wise
"drop doc_b" rules under-merge chains (a~b, b~c but a!~c).

Implementation: iterative min-label propagation — each node's label is the
minimum node id reachable so far; every round joins labels across edges and
re-minimizes, doubling the propagation radius per round via the
label-as-node trick. Converges in O(log(diameter)) rounds; each round is
one join + one aggregate (all shuffles on node id). This is the standard
large-graph CC pattern on Spark; no GraphFrames dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from ctcityscraper_spark.operators import artifacts


def _union_find_components(rows, src: str, dst: str) -> dict:
    """Driver-side union-find: node -> min node id of its component.

    Path-compressed; unions attach the larger root under the smaller, so
    every root IS its component's minimum. O(E α(E)) — microseconds per
    edge — for edge lists that fit on the driver.
    """
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        a, b = row[src], row[dst]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in parent}


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    broadcast_max_edges: int = 2_000_000,
    driver_max_edges: int = 100_000,
    jumps: int = 3,
) -> DataFrame:
    """(node, component) where component = min node id in the component.

    ``edges`` is an undirected pair list. Deterministic. Convergence is
    detected WITHOUT a per-round join: min-label propagation is monotone
    (labels only ever decrease), so the label sum strictly decreases until
    the fixpoint — one tiny aggregate over the already-materialized label
    frame per round replaces a join + count.

    Three size-adaptive execution paths (the output is identical; the edge
    count is known free after the eager checkpoint):

    - ``edges <= driver_max_edges``: collect the pair list and union-find
      on the driver. Dedup-cascade edge sets are orders smaller than the
      corpus (LSH + verify already pruned them); burning O(log d) Spark
      jobs on a few thousand pairs is pure scheduler overhead (measured
      4.6 s for 256 edges vs ~0.1 s here). 100k edges ≈ a few MB —
      far below any driver limit; raise/lower to taste.
    - ``edges <= broadcast_max_edges``: distributed rounds, label side of
      both joins broadcast explicitly (checkpointed frames carry no size
      statistics, so Catalyst would otherwise shuffle-join even tiny
      label frames); each round's only shuffle is the min-aggregate.
    - above: unchanged shuffle-join rounds — the billion-edge path where
      labels don't fit in one executor.

    ``jumps`` chains the pointer-jump step ``jumps`` times per round
    (label(label(…label(v)))) — each chained jump multiplies the
    propagation radius again, so the ROUND (barrier) count drops from
    ~log₂(diameter) to ~log(diameter)/jumps at the cost of extra label
    joins inside each round. The total join work is roughly constant;
    what falls is the number of synchronization barriers — the dominant
    cost on a 1000-executor cluster where every round pays stage
    scheduling + the slowest straggler. Measured on a 10k-node chain
    (worst-case diameter): jumps=1 → 16 rounds / 13.0 s, jumps=3 → 9
    rounds / 5.5 s, identical labels (r11 VM, local[8]). Labels only
    ever decrease under every composition, so convergence detection and
    the result are unchanged for any ``jumps`` ≥ 1 (equality pinned in
    tests across jumps values on chain + random graphs).
    """
    if jumps < 1:
        raise ValueError(f"jumps must be >= 1, got {jumps}")
    # Materialize the edge list ONCE before anything else: edges is often
    # the output of an expensive upstream pipeline (e.g. the LSH+Jaccard
    # dedup cascade), and both `sym` and the initial `nodes` labels embed
    # it in their plans — without this checkpoint the upstream pipeline is
    # re-executed for each appearance in round 1 (measured 5x slower).
    spark = edges.sparkSession
    # NULL endpoints drop at entry: the distributed rounds lose them in
    # the label joins anyway (NULL never equi-joins), and the driver
    # union-find would otherwise treat None as a real node — the three
    # size-adaptive paths must agree row-for-row on any input
    edges = artifacts.checkpoint_tracked(
        edges.select(F.col(src).alias(src), F.col(dst).alias(dst))
        .filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
    )
    n_edges = edges.count()  # count is free: materialized
    if n_edges <= driver_max_edges:
        from pyspark.sql.types import StructField, StructType

        comp = _union_find_components(edges.collect(), src, dst)
        # node type/nullability must match the distributed paths' output:
        # derive them from the same src-union-dst Spark coercion those
        # paths apply (int src + bigint dst promotes to bigint here too)
        node_field = (
            edges.select(F.col(src).alias("node"))
            .unionByName(edges.select(F.col(dst).alias("node")))
            .schema["node"]
        )
        schema = StructType(
            [
                StructField("node", node_field.dataType, node_field.nullable),
                StructField("component", node_field.dataType, node_field.nullable),
            ]
        )
        # Arrow-path local frame (functions/localdf.py): the plain-list
        # form cost 1.96 s vs 0.42 s for the materializing write of a
        # few-hundred-row result on local[32]
        from ctcityscraper_spark.functions.localdf import local_rows_df

        out = local_rows_df(
            spark, sorted(comp.items()), ["node", "component"], schema
        )
        artifacts.release(edges)
        return out
    small = n_edges <= broadcast_max_edges
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    nodes = sym.select(F.col("a").alias("node")).distinct()
    labels = nodes.withColumn("component", F.col("node"))
    bcast = F.broadcast if small else (lambda df: df)
    prev_sum = None
    for _ in range(max_iter):
        # neighbor labels: for each node, the labels of its neighbors
        neighbor = (
            sym.join(bcast(labels.withColumnRenamed("node", "b")), "b")
            .select(F.col("a").alias("node"), "component")
        )
        # pointer jumping: label(v) <- label(label(v)) doubles propagation
        # radius; chaining it `jumps` times per round multiplies the
        # radius again per chain, trading intra-round label joins for
        # fewer inter-round barriers (see docstring measurement)
        label_map = bcast(
            labels.select(
                F.col("node").alias("component"),
                F.col("component").alias("cc"),
            )
        )
        jumped = labels
        for _ in range(jumps):
            jumped = (
                jumped.alias("l1")
                .join(label_map, "component")
                .select(F.col("node"), F.col("cc").alias("component"))
            )
        candidates = labels.unionByName(neighbor).unionByName(jumped)
        # localCheckpoint truncates lineage — without it each round's plan
        # embeds every previous round and planning time explodes. The
        # convergence metric rides the SAME job as an Observation (decimal
        # sum: overflow-safe at any id range), so each round is exactly
        # one action.
        obs = Observation()
        new_labels = artifacts.checkpoint_tracked(
            candidates.groupBy("node")
            .agg(F.min("component").alias("component"))
            .observe(obs, F.sum(F.col("component").cast("decimal(38,0)")).alias("s"))
        )
        # the previous round's labels are dead once this round is
        # materialized — without this each invocation holds one persisted
        # RDD per round until its scope ends
        artifacts.release(labels)
        labels = new_labels
        new_sum = obs.get["s"]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    # only the checkpoint backing the returned labels survives; it stays
    # registered, so artifacts.scope()/release_all() free it (one-shot:
    # release only after the derived results are materialized)
    artifacts.release(edges)
    return labels.select("node", "component")


def incremental_components(
    assignments: DataFrame | None,
    delta_edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    changed_only: bool = False,
    flag_col: str | None = None,
    broadcast_max_delta: int = 2_000_000,
    **cc_kwargs,
) -> DataFrame:
    """Maintain a stored (node, component) assignment under a batch of
    NEW edges without re-running connected components over the full
    graph — the CC member of the incremental-dedup family (exact /
    MinHash / prefix / embedding already have delta forms).

    ``assignments`` is the output of a previous :func:`connected_components`
    / ``incremental_components`` run (component = min node id, the
    invariant both maintain); ``delta_edges`` is tonight's pair batch —
    new-vs-new and new-vs-corpus edges from any incremental candidate
    generator. Returns the UPDATED full assignment (or, with
    ``changed_only=True``, just the rows that are new or relabeled —
    the bounded delta a stored zone appends).

    Algorithm (the standard contracted-graph update):

    1. Semi-join-reduce the stored assignment to the delta's TOUCHED
       rows (one broadcast map-side pass over assignments — the corpus
       side is never shuffled), then map each delta endpoint through the
       broadcast touched map (``coalesce(component, node)``) — edges
       collapse onto component ROOTS; edges landing inside one existing
       component become self-loops and drop.
    2. Run :func:`connected_components` on the contracted edges — a
       graph over (touched roots + new nodes) only, so the iterative
       fixpoint costs O(delta), never O(corpus).
    3. Relabel: old rows join the root->new-root merge map (broadcast —
       bounded by delta endpoints) in a second map-side pass; new nodes
       take their contracted label directly.

    Correctness: contracting a component to its root preserves
    connectivity, and every old root is the min id of its old members,
    so min-label over the contracted graph equals min-label over the
    union graph — ``incremental == fresh`` exactly (hash-gated in the
    catalog and pinned on adversarial graphs in tests).

    100 TB shape: the corpus-sized assignment is read in exactly TWO
    broadcast-driven map-side passes (the touched semi-join and the
    relabel) and shuffled in NONE; every other frame — touched rows,
    contracted edges, merge map, new nodes, singletons — is bounded by
    the delta. With ``changed_only=True`` nothing corpus-sized is even
    written back (the stored-zone delta append,
    ``streaming.events.streaming_components``). The fixpoint (the only
    iterative part) never sees the corpus. Measured at 5M nodes / 4M
    edges / 50k-edge delta: see SCALE.md "Incremental CC".
    """
    if assignments is None:
        out = connected_components(delta_edges, src, dst, **cc_kwargs)
        if flag_col:
            out = out.withColumn(flag_col, F.lit(True))
        return out
    # materialize the delta ONCE: it is read by the contraction joins,
    # the touched semi-join, and the self-loop singleton pass, and is
    # often the output of an expensive candidate pipeline. Tracked via
    # operators.artifacts so long-lived sessions can free it after
    # materializing results.
    edges = artifacts.checkpoint_tracked(
        delta_edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .filter(F.col("_s").isNotNull() & F.col("_d").isNotNull())
    )
    # broadcast delta-sized frames only while they actually fit in one
    # executor (count is free — edges is materialized); above the
    # threshold every join below degrades gracefully to a shuffle join
    bcast = (
        F.broadcast
        if edges.count() <= broadcast_max_delta
        else (lambda df: df)
    )
    delta_nodes = edges.select(F.col("_s").alias("node")).unionByName(
        edges.select(F.col("_d").alias("node"))
    ).distinct()
    # the ONLY stored rows the update needs: assignments of delta
    # endpoints that already exist. Broadcast semi-join = one map-side
    # scan of the corpus side, output bounded by 2|delta|.
    touched = artifacts.checkpoint_tracked(
        assignments.join(bcast(delta_nodes), "node", "left_semi")
    )
    contracted = (
        edges.join(
            bcast(
                touched.select(
                    F.col("node").alias("_s"), F.col("component").alias("_cs")
                )
            ),
            "_s",
            "left",
        )
        .join(
            bcast(
                touched.select(
                    F.col("node").alias("_d"), F.col("component").alias("_cd")
                )
            ),
            "_d",
            "left",
        )
        .select(
            F.coalesce("_cs", "_s").alias("doc_a"),
            F.coalesce("_cd", "_d").alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    reduced = connected_components(contracted, "doc_a", "doc_b", **cc_kwargs)
    # merge map: old roots whose component id changed. reduced's node set
    # is (touched old roots) ∪ (new node ids); assignments.component only
    # ever holds old roots, so the join below touches exactly the merged
    # components. Delta-bounded — broadcast.
    root_map = reduced.select(
        F.col("node").alias("component"), F.col("component").alias("_new")
    ).filter(F.col("component") != F.col("_new"))
    relabeled = assignments.join(
        bcast(root_map), "component", "left"
    ).select(
        "node", F.coalesce("_new", "component").alias("component"),
        F.col("_new").isNotNull().alias("_changed"),
    )
    # new nodes = reduced minus the old roots that could have entered it;
    # those roots are exactly the distinct components of touched (an old
    # endpoint contracts to its root, a new endpoint to itself, and a new
    # id can never equal an old root id — root ids are stored nodes)
    old_roots = touched.select(F.col("component").alias("node")).distinct()
    new_nodes = reduced.join(old_roots, "node", "left_anti").withColumn(
        "_changed", F.lit(True)
    )
    # delta endpoints that survive in NEITHER touched nor the contracted
    # run are new nodes whose only delta edges were self-loops — fresh
    # connected_components registers those as singleton components, so
    # incremental == fresh must too
    singles = (
        delta_nodes
        .join(touched.select("node"), "node", "left_anti")
        .join(reduced.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
        .withColumn("_changed", F.lit(True))
    )
    full = relabeled.unionByName(new_nodes).unionByName(singles)
    if changed_only:
        full = full.filter(F.col("_changed"))
    if flag_col:
        # full assignment WITH the new/relabeled marker — callers that
        # need both the updated state and the changed subset (e.g. the
        # streaming drop-list sink's affected-component re-election)
        # avoid running the update twice
        return full.select(
            "node", "component", F.col("_changed").alias(flag_col)
        )
    return full.select("node", "component")


def latest_components(rows: DataFrame) -> DataFrame:
    """Merge rule for a stored (node, component, epoch) assignment zone:
    newest epoch wins per node. Idempotent over already-merged rows (the
    compaction-transform contract) — one mergeable aggregate, no window."""
    return rows.groupBy("node").agg(
        F.max_by("component", "epoch").alias("component"),
        F.max("epoch").alias("epoch"),
    )

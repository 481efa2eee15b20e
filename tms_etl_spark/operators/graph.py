"""Connected components over a pair list (iterative label
propagation) — the step that turns near-duplicate PAIRS (from
MinHash/LSH or Jaccard) into duplicate CLUSTERS with one keeper per
cluster.

Algorithm: every node starts labeled with itself; each round, every
node adopts the minimum label in its neighborhood (including its
own); stop when no label changes. Converges in O(diameter) rounds —
near-dup graphs are unions of small cliques, so typically 2-3 rounds.

Scale shape per round: one join edges⋈labels (shuffle on node id) +
one min-aggregation. The driver only orchestrates the loop and reads
a single convergence count — no data ever collects to the driver.
``localCheckpoint`` truncates the lineage each round, or iteration i
re-executes all previous rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tms_etl_spark.operators.checkpoints import unpersist_checkpoint


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    strict: bool = True,
) -> DataFrame:
    """Components of the undirected graph given by (src, dst) pairs.

    Returns (node, component) where component = min node id in the
    component. Nodes appearing only in edges are covered; isolated
    nodes aren't known to the edge list and should be unioned in by
    the caller if needed.

    Min-label propagation needs O(diameter) rounds. If labels are
    still changing when ``max_iter`` runs out (a chain-shaped graph
    deeper than the budget), the labels are WRONG — components come
    out split, i.e. duplicate docs silently survive dedup. ``strict``
    (default) raises in that case; ``strict=False`` logs a warning
    and returns the unconverged labels for callers that prefer
    best-effort (round-1 ADVICE item 5: never silent).
    """
    # Materialize the symmetrized edge list ONCE: it is joined every
    # round, and without truncation each round would re-execute the
    # whole upstream candidate pipeline (MinHash/LSH) that produced
    # the pairs — measured as the dominant cost of dedup_clusters.
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    prev = None  # round i-1's checkpoint: dead once round i lands
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        propagated = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.col("component").alias("__old"),
            F.least(
                F.col("component"),
                F.coalesce("nbr_component", F.col("component")),
            ).alias("component"),
        )
        # Pointer jumping (shortcutting): component <- label(component).
        # Plain neighbor-min needs O(diameter) rounds — a depth-1000
        # chain would mean 1000 shuffle rounds; composing each node's
        # label with its LABEL'S label doubles the reachable distance
        # per round, so convergence is O(log diameter) at the price of
        # one extra equi-join per round.
        parents = propagated.select(
            F.col("node").alias("component"),
            F.col("component").alias("__parent"),
        )
        updated = (
            propagated.join(parents, "component", "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce("__parent", F.col("component")),
                ).alias("component"),
                (
                    F.least(
                        F.col("component"),
                        F.coalesce("__parent", F.col("component")),
                    )
                    < F.col("__old")
                ).alias("__changed"),
            )
        ).localCheckpoint(eager=False)
        # ONE job materializes the round AND reads its convergence
        # count (r14, guide §1.2 "don't compute things twice"): the
        # count's full scan of the lazy checkpoint caches every
        # partition — exactly what eager=True's internal count did —
        # while also answering "did anything change", which used to be
        # a SECOND job per round. The checkpoint is opaque to Catalyst
        # (LogicalRDD), so the count cannot prune the cached columns.
        changed = updated.where(F.col("__changed")).count()
        # round i is fully materialized by the count above: round
        # i-1's blocks are the only remaining copy of SUPERSEDED
        # state — release them, or an O(diameter) run holds O(rounds)
        # node-sized block sets (guide §5: unpersist when done)
        unpersist_checkpoint(prev)
        prev = updated
        labels = updated.drop("__changed")
        if changed == 0:
            break
    else:  # loop exhausted with changed > 0
        msg = (
            f"connected_components did not converge in {max_iter} rounds; "
            "labels are split (graph diameter exceeds the iteration "
            "budget) — raise max_iter"
        )
        if strict:
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    if prev is not None:
        # at least one round checkpointed: the returned labels'
        # lineage is truncated at that checkpoint, so the symmetrized
        # edge pin is dead state for the caller
        unpersist_checkpoint(sym)
    return labels


def dedup_clusters(pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """Duplicate clusters from near-dup pairs: (node, keeper) where
    keeper = the cluster's minimum doc id (the survivor; everything
    else is a duplicate to drop)."""
    cc = connected_components(pairs, src, dst)
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("keeper_doc_id"),
        (F.col("node") != F.col("component")).alias("is_duplicate"),
    )


def triangle_count(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Global triangle count of the undirected graph given by (src,
    dst) pairs, via degree-ordered edge orientation (the classic
    compact-forward / Schank-Wagner algorithm).

    Every undirected edge is oriented from its lower-(degree, id)
    endpoint to its higher one. Each triangle then has exactly one
    node with two out-edges, so counting wedges (x->y, x->z) closed
    by the oriented edge (y, z) counts every triangle exactly once —
    and, crucially for 100 TB graphs, the out-degree of ANY node
    under this orientation is O(sqrt(|E|)), so the wedge join never
    explodes on a power-law hub the way a naive id-ordered self-join
    does. Shape: two node-keyed aggregations (degree), three
    edge-keyed joins — all key-partitioned shuffles, nothing driver-
    side.

    Returns a single row: (n_nodes, n_edges, max_degree,
    n_triangles), all exact longs.

    Eager: the Spark jobs run in this call, which releases its
    checkpoints and returns a one-row local DataFrame — building the
    frame only to inspect or explain it costs the full count.
    """
    # e feeds FOUR plan branches (degree x2 via nodes, the orientation
    # join, the edge count) and oriented feeds three more — and the
    # caller's edge list is often itself an expensive subplan (the
    # co-purchase entry's capped co-occurrence aggregation). Spark has
    # no cross-branch common-subtree elimination and the branches'
    # exchanges are keyed differently, so without materialization the
    # edge subplan executes ~5x (measured at sf0.01: 46 executed
    # stages, 0 reused exchanges). Checkpoint each once (r13, guide
    # §2.4 "remove shuffles outright" / §3.3 plan-truncation); the
    # blocks are edge-sized and the bench/caller sweep releases them
    # after the action (checkpoints.py discipline).
    e = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint()
    # undirected degree per node
    nodes = e.select(F.col("a").alias("n")).unionAll(
        e.select(F.col("b").alias("n"))
    )
    deg = nodes.groupBy("n").agg(F.count("*").cast("long").alias("deg"))
    # orient each edge low-(deg, id) -> high-(deg, id)
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("deg_b"))
    ranked = e.join(da, "a").join(db, "b")
    key_a = F.struct(F.col("deg_a").alias("d"), F.col("a").alias("i"))
    key_b = F.struct(F.col("deg_b").alias("d"), F.col("b").alias("i"))
    oriented = ranked.select(
        F.when(key_a < key_b, F.col("a")).otherwise(F.col("b")).alias("x"),
        F.when(key_a < key_b, F.col("b")).otherwise(F.col("a")).alias("y"),
        F.when(key_a < key_b, key_b).otherwise(key_a).alias("ykey"),
    ).localCheckpoint()
    # oriented feeds three branches (both wedge sides + the closing
    # probe) whose exchanges are keyed differently (x vs (y1, y2)),
    # so exchange reuse can NEVER dedupe them — without the
    # checkpoint the degree-join subtree executes three times (r13;
    # the pre-r13 comment claiming reuse covered this was wrong —
    # runtime-verified 0 ReusedExchange)
    # wedges x->y1, x->y2 with pi(y1) < pi(y2), closed by oriented (y1, y2)
    e1 = oriented.select(
        F.col("x"), F.col("y").alias("y1"), F.col("ykey").alias("k1")
    )
    e2 = oriented.select(
        F.col("x"), F.col("y").alias("y2"), F.col("ykey").alias("k2")
    )
    wedges = e1.join(e2, "x").where(F.col("k1") < F.col("k2"))
    closing = oriented.select(
        F.col("x").alias("y1"), F.col("y").alias("y2")
    )
    tris = wedges.join(closing, ["y1", "y2"]).agg(
        F.count("*").cast("long").alias("n_triangles")
    )
    stats = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.max("deg").alias("max_degree"),
    )
    n_edges = e.agg(F.count("*").cast("long").alias("n_edges"))
    out = (
        stats.crossJoin(n_edges)
        .crossJoin(tris)
        .select("n_nodes", "n_edges", "max_degree", "n_triangles")
    )
    # The census is ONE row of four longs: materialize it here and
    # release the e/oriented pins before returning (r14, guide §5 —
    # the r13 shape returned a lazy plan whose checkpoints only the
    # bench sweep ever released; any other caller leaked two
    # edge-sized block sets per call). The caller's action replays a
    # 1-row local relation; rows and schema are byte-identical.
    rows = out.collect()
    schema = out.schema
    unpersist_checkpoint(e)
    unpersist_checkpoint(oriented)
    return edges.sparkSession.createDataFrame(rows, schema)


def pagerank(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    iters: int = 5,
    damping: float = 0.85,
    pins_out: list[DataFrame] | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over the undirected graph given by
    (src, dst) pairs (each edge walked in both directions).

    Engine-exact by construction: each iteration's neighbor sum
    routes through DECIMAL(28,14) (exact, order-independent — a
    plain double sum differs across partition orders), and the
    affine damping step is one double expression with a fixed parse
    tree, so the ranks are bit-identical across engines and across
    partitionings — the property that makes the metric reproducible
    at 100 TB, where partition order is never deterministic.

    Shape per iteration: one join ranks⋈edges (shuffle on node id)
    + one dst-keyed exact-sum aggregation. The rank vector is
    node-sized, never collected; ``iters`` is a compile-time
    constant, so the full plan is a static chain (no driver loop
    reads data).

    ``pins_out``: optional list the operator appends its live
    localCheckpoint frames to, so a caller that fully consumes the
    returned ranks can release the pins
    (`checkpoints.unpersist_checkpoint`) instead of leaking
    edge-sized blocks for the life of the session.

    Returns (node, rank) after ``iters`` rounds.

    Partly eager: this call runs the jobs that materialize the edge
    and degree checkpoints and count edges and nodes; only the
    ``iters`` rank rounds wait for the caller's action.
    """
    spark = edges.sparkSession
    both = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).unionAll(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    # both is probed EVERY iteration — materialize once so iteration
    # i doesn't re-derive the edge list i times (the same
    # lineage-truncation discipline as connected_components)
    both = both.localCheckpoint()
    deg = both.groupBy("u").agg(
        F.count("*").cast("long").alias("deg")
    ).localCheckpoint()
    # r14 (guide §2.4/§2.3): attach deg to the edge list ONCE. The
    # old shape re-joined ranks⋈deg every iteration AND re-shuffled
    # the un-partitioned edge checkpoint into every iteration's join
    # — 2 node-keyed exchanges + 1 edge-sized exchange per iteration.
    # deg is static, so (u, v, deg-of-u) is a loop invariant; hash-
    # partitioning it by u at the session's shuffle-partition count
    # and sorting within partitions makes the per-iteration join
    # exchange-free on the edge side (the LogicalRDD checkpoint
    # preserves partitioning+ordering), leaving ONE node-sized
    # exchange (the ranks side doubles as the aggregation shuffle).
    # Per-edge contribution is the same rank/deg division over the
    # same values, so ranks stay bit-identical.
    # Scale-adaptive partition count (guide §2.2 "derive from input
    # size, not a constant"): the co-partitioned exchanges below are
    # pinned to this count for the whole iteration chain — AQE cannot
    # coalesce them without breaking the co-partitioning — so sizing
    # it to the CORE count over-partitions small graphs into hundreds
    # of near-empty tasks per iteration (measured: the session-conf
    # form ran the sf0.1 co-purchase graph 1.4x SLOWER than the r13
    # shape at 32 cores). Target ~256k edge rows (~8 MB) per
    # partition, capped by the session's shuffle-partition knob; the
    # edge count is a cache-read off the materialized checkpoint.
    n_edges2 = both.count()
    sess_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_part = max(1, min(sess_part, -(-n_edges2 // 262_144)))  # ceil div
    if n_part > 1:
        # AQE must be OFF while the checkpoint materializes: an eager
        # localCheckpoint under an AdaptiveSparkPlan records
        # UnknownPartitioning on its LogicalRDD (measured r14 — the
        # co-partitioning below is then never recognized and the edge
        # list re-shuffles every iteration, the exact cost this
        # restructure removes). The checkpointed statement is one
        # join + one explicit repartition over two already-cached
        # RDDs; AQE has nothing to re-plan there.
        aqe_was = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            both_deg = (
                both.join(deg, "u")
                .repartition(n_part, "u")
                .sortWithinPartitions("u")
                .localCheckpoint()
            )
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe_was)
    else:
        # single-partition regime (small graph): a repartition(1)
        # checkpoint would funnel every iteration's join exchange
        # through ONE map task (EnsureRequirements refuses
        # SinglePartition co-partitioning and re-shuffles the edge
        # side anyway — measured: ~1 s slower in-bench at sf0.1).
        # Keep the checkpoint at its natural parallelism under AQE;
        # the per-iteration exchanges stay parallel and cheap at this
        # size, and the deg-fusion/n_nodes wins still apply.
        both_deg = both.join(deg, "u").localCheckpoint()
    # the raw edge pin is dead once (u, v, deg) is materialized — the
    # iterations (and r0 below) only touch both_deg and deg
    unpersist_checkpoint(both)
    if pins_out is not None:
        pins_out.extend([deg, both_deg])
    # N is a scalar the damping step divides by: read it ONCE from
    # the materialized deg checkpoint (a metadata-cheap count)
    # instead of re-deriving a 1-row aggregate + broadcast per
    # iteration (the r13 plan carried 6 BroadcastNestedLoopJoin
    # subplans for it). The literal is the same long value, so every
    # division is the identical IEEE operation.
    n_total = F.lit(deg.count()).cast("long")
    # r0 = 1/N
    ranks = deg.select(
        F.col("u").alias("node"),
        (F.lit(1.0) / n_total).alias("rank"),
    )
    base = 1.0 - damping
    for _ in range(iters):
        # co-partitioning bookkeeping: when n_part equals the session
        # shuffle-partition count, the previous aggregation's exchange
        # already lands ranks as hash(node, n_part) and the join needs
        # NO further exchange on either side (verified in-plan: the
        # both_deg scans enter the SMJ with no Exchange and no Sort).
        # When the data-derived n_part is smaller but still > 1, move
        # the NODE-sized ranks to n_part explicitly, or the planner
        # re-exchanges the EDGE side to the session count every
        # iteration (measured at sf0.01). At n_part == 1 the
        # checkpoint is SinglePartition, which EnsureRequirements
        # refuses to co-partition against (it re-numbers the user
        # shuffle to the session default — measured), so the explicit
        # repartition would only add a redundant node-sized exchange:
        # skip it and let the planner place the joins — a graph that
        # small is exchange-cost-free anyway.
        if n_part != sess_part and n_part > 1:
            ranks = ranks.repartition(n_part, "node")
        contrib = (
            both_deg.join(ranks, both_deg["u"] == ranks["node"])
            .select(
                F.col("v"),
                (F.col("rank") / F.col("deg"))
                .cast("decimal(28,14)")
                .alias("c"),
            )
        )
        sums = contrib.groupBy("v").agg(
            F.sum("c").cast("double").alias("s")
        )
        ranks = sums.select(
            F.col("v").alias("node"),
            (
                F.lit(base) / n_total
                + F.lit(damping) * F.col("s")
            ).alias("rank"),
        )
    return ranks


def bfs_levels(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    source_node: DataFrame | None = None,
    max_depth: int = 6,
) -> DataFrame:
    """Unweighted single-source shortest paths (BFS levels) over the
    undirected graph, by ``max_depth`` rounds of min-level
    relaxation: after round k every node at distance <= k carries
    its exact BFS distance (labels only shrink), so bounding the
    rounds bounds the explored radius — the standard
    Bellman-Ford-on-a-cluster shape, one node-keyed join + min-agg
    per round, frontier never collected. ``source_node`` is a 1-row
    (node) DataFrame (default: the minimum node id — deterministic
    cross-engine); unreachable-within-depth nodes are absent.
    """
    both = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionAll(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
        .localCheckpoint()
    )
    if source_node is None:
        source_node = both.agg(F.min("u").alias("node"))
    levels = source_node.select(
        F.col("node"), F.lit(0).cast("int").alias("level")
    )
    prev = None  # superseded round's checkpoint (guide §5)
    for _ in range(max_depth):
        cand = (
            levels.join(both, levels["node"] == both["u"])
            .select(
                F.col("v").alias("node"),
                (F.col("level") + 1).cast("int").alias("level"),
            )
        )
        levels = (
            levels.unionByName(cand)
            .groupBy("node")
            .agg(F.min("level").alias("level"))
            .localCheckpoint()
        )
        unpersist_checkpoint(prev)
        prev = levels
    if prev is not None:
        # levels' lineage is truncated at its own checkpoint; the
        # edge pin is no longer reachable from the returned plan
        unpersist_checkpoint(both)
    return levels


def link_prediction_topk(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    k: int = 20,
    max_hub_deg: int = 64,
) -> DataFrame:
    """Top-``k`` predicted links by common-neighbor count, tie-broken
    by the resource-allocation index Σ_z 1/deg(z) (Zhou-Lü-Zhang
    2009) — the standard local-similarity link predictors.

    Candidate generation enumerates, per shared neighbor ``z``, the
    pairs of z's neighbors — inherently C(deg(z), 2), so hubs are the
    scale hazard. Mitigation: wedge centers with deg > ``max_hub_deg``
    are excluded (their RA contribution is ≤ 1/max_hub_deg each and a
    hub's neighborhood carries almost no signal — the textbook RA/AA
    practice); the same deterministic rule runs in the oracle, so the
    comparison stays exact. Remaining shape: two node-keyed
    aggregations, one z-keyed wedge self-join bounded per center by
    C(max_hub_deg, 2), one anti-join against existing edges, and a
    TakeOrdered(k) — nothing driver-side, no unbounded fan-out.

    Exactness: cn is a long; RA sums 1.0/deg doubles (IEEE division,
    deterministic) through DECIMAL(28,8) — with deg capped at
    ``max_hub_deg`` ≤ 256, every dyadic 1/deg is exact at scale 8, so
    the decimal coercion never rounds a midpoint.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    adj = e.select(F.col("a").alias("z"), F.col("b").alias("n")).unionAll(
        e.select(F.col("b").alias("z"), F.col("a").alias("n"))
    )
    deg = adj.groupBy("z").agg(F.count("*").cast("long").alias("deg"))
    small = adj.join(deg.where(F.col("deg") <= max_hub_deg), "z")
    s1 = small.select("z", F.col("n").alias("u"), "deg")
    s2 = small.select("z", F.col("n").alias("w"))
    wedges = s1.join(s2, "z").where(F.col("u") < F.col("w"))
    cand = wedges.groupBy("u", "w").agg(
        F.count("*").cast("long").alias("cn"),
        F.round(
            F.sum((F.lit(1.0) / F.col("deg")).cast("decimal(28,8)")), 6
        )
        .cast("double")
        .alias("ra"),
    )
    existing = e.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("w")
    )
    pred = cand.join(existing, ["u", "w"], "left_anti")
    return pred.orderBy(
        F.desc("cn"), F.desc("ra"), F.asc("u"), F.asc("w")
    ).limit(k)

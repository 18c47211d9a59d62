"""Connected components over a duplicate-pair graph — cluster closure.

Near-dup detection (MinHash-LSH ``operators/dedup.py``, SimHash
``d5``, embedding blocking ``s2``) emits PAIRS; a real dedup pipeline
must close those pairs into clusters and elect one canonical keeper per
cluster, otherwise transitive duplicates (A~B, B~C, A!~C under the
threshold) survive. The reference repo has no graph surface (its
dedup-free syslog pipeline never needs one); this operator belongs to
the added training-data family, like the dedup/ANN modules.

Algorithm: alternating large-star/small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) expressed as
DataFrame joins. The edge set is rewired each round until it is a
forest of disjoint stars, each rooted at its component minimum (the
deterministic cluster id). It converges in O(log² n) rounds on any
graph shape, including long chains whose diameter is ~n.

Scale design (the 100-TB lens):

* Each phase is one partial-aggregated grouped ``min`` plus one join
  back; neither phase ever grows the edge count.
* Shuffle width is sized to the GRAPH, not the session default: a
  verified dup-pair graph is orders of magnitude smaller than the
  corpus that produced it (477 nodes from 240 k docs at sf0.1), and a
  round over a few thousand edges must not pay 32 shuffle tasks of
  scheduling overhead. One ``count`` on the checkpointed pair list
  picks ``ceil(|E| / 200k)`` partitions, clamped to 4× cluster
  parallelism — at 100 TB the same rule widens the rounds to match the
  (still corpus-dwarfed) pair volume. Under AQE (which
  ``session.build_session`` turns on) a ``localCheckpoint`` reports
  unknown partitioning, so the consumers of each checkpoint re-exchange
  it at the session width, AQE-coalesced: the sized repartition does
  not carry over to them.
* ``localCheckpoint`` truncates lineage each round; without it the
  plan doubles per iteration and the driver OOMs planning round ~15.
  (Same rationale as dedup.py's signature materialization.) Each
  round's intermediate checkpoints are evicted once consumed, so
  executor block usage does not grow with the round count.
* ``max_iter`` rounds without a fixpoint raise instead of returning
  labels that are not yet component minima.

Oracle twin: a recursive CTE computing min-reachable-id over the
symmetrized pair edges (see ``queries/dedup.q_d6_dup_clusters``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _persistent_rdd_ids(spark) -> set:
    """Ids of every RDD currently persisted on this SparkContext.

    ``DataFrame.localCheckpoint`` persists an internal RDD but hands
    back no handle to it, so per-round eviction in the connected-
    components loop is done by diffing these snapshots
    (``JavaSparkContext.getPersistentRDDs`` is the public Scala API
    surfaced through the py4j gateway — there is no PySpark-level
    equivalent)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def _unpersist_ids(spark, ids) -> None:
    """Non-blocking unpersist of the given RDD ids (no-op for ids that
    already vanished). Unpersisting a localCheckpointed RDD frees its
    blocks AND makes it uncomputable (lineage was truncated) — callers
    must only pass ids no live plan still references."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        jrdd = jmap.get(i)
        if jrdd is not None:
            jrdd.unpersist(False)


def connected_components(
    pairs: DataFrame,
    src_col: str,
    dst_col: str,
    max_iter: int = 25,
) -> DataFrame:
    """Close an undirected pair list into components.

    Returns ``(node, cluster_id)`` — one row per distinct node appearing
    in ``pairs``, ``cluster_id`` = min node id in its component (a
    deterministic canonical-keeper election). Raises ``RuntimeError``
    when ``max_iter`` rounds end without a fixpoint.

    Alternating large-star/small-star (Kiveris, Lattanzi, Mirrokni,
    Rastogi, Vassilvitskii — "Connected Components in MapReduce and
    Beyond", SoCC'14, Algorithm 2 "Two-Phase"). Per round, over the
    canonical edge set (big endpoint first):

    * **large-star(u)**: every strictly-larger neighbour of ``u`` is
      re-wired to ``m = min(Γ(u) ∪ {u})`` — each undirected edge is
      processed exactly once, from its smaller endpoint's group.
    * **small-star(u)**: ``u`` and all its smaller neighbours are
      re-wired to ``m = min(smaller neighbours)``.

    Both phases preserve connectivity and never increase the edge
    count; the paper proves convergence to disjoint stars rooted at
    each component minimum in O(log² n) rounds on any graph.

    Scale design: each phase is one grouped ``min`` (partial-agg,
    map-side combined) + one join back; ``localCheckpoint`` per round
    truncates lineage. The fixpoint test (edge set unchanged) is
    |new| == |old| plus an empty anti-join — two graph-sized metadata
    jobs per round.
    """
    spark = pairs.sparkSession
    # Checkpoint-block hygiene: PySpark's DataFrame.localCheckpoint
    # returns no RDD handle, so without explicit eviction each round
    # would LEAK ~3 checkpointed copies of the edge set on executors
    # (sym + ls + new_edges) for the life of the context. We snapshot
    # SparkContext.getPersistentRDDs() around each checkpoint and
    # unpersist a round's intermediates (plus the previous round's edge
    # set) once the round's outputs are materialized. The snapshot
    # windows are tight and assume no CONCURRENT persist on this
    # SparkContext inside them (true for the one-query-at-a-time
    # driver); a missed id merely delays eviction to context shutdown.
    ids_a = _persistent_rdd_ids(spark)
    p0 = pairs.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).localCheckpoint()
    ids_b = _persistent_rdd_ids(spark)
    # Node census BEFORE dropping self-pairs: isolated nodes that appear
    # only as (x, x) pairs must still be labelled (with themselves).
    nodes = (
        p0.select(F.col("u").alias("node"))
        .union(p0.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_edges = p0.count()
    parts = max(
        1,
        min(4 * spark.sparkContext.defaultParallelism, n_edges // 200_000 + 1),
    )
    ids_c = _persistent_rdd_ids(spark)
    # Canonical form: (big, small), self-loops dropped — both phases
    # re-derive the directions they need from this single set.
    edges = (
        p0.where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .repartition(parts, "u")
        .distinct()
        .localCheckpoint()
    )
    ids_d = _persistent_rdd_ids(spark)
    prev_count = edges.count()
    # p0 is fully consumed (nodes and edges are both eager checkpoints).
    _unpersist_ids(spark, ids_b - ids_a)
    prev_edge_ids = ids_d - ids_c

    for _ in range(max_iter):
        # -- large-star: full neighbourhoods need both directions.
        # The symmetrized set is materialized ONCE for its two consumers
        # (the min aggregate and the join probe) instead of being
        # recomputed per consumer (measured at sf0.1 on the 32-vCPU
        # host: 5.27 s → 4.68 s). Under AQE the checkpoint reports
        # unknown partitioning, so each consumer re-exchanges it on u.
        ids_r0 = _persistent_rdd_ids(spark)
        sym = (
            edges.union(
                edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            .repartition(parts, "u")
            .localCheckpoint()
        )
        ids_r1 = _persistent_rdd_ids(spark)
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least(F.col("u"), F.col("mv")).alias("m"))
        )
        ls = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .repartition(parts, "u")
            .distinct()
            .localCheckpoint()
        )
        ids_r2 = _persistent_rdd_ids(spark)
        # -- small-star: ls is already canonical (u > v everywhere).
        minss = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(minss, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(minss.select(F.col("u"), F.col("m").alias("v")))
        )
        new_edges = (
            ss.repartition(parts, "u").distinct().localCheckpoint()
        )
        ids_r3 = _persistent_rdd_ids(spark)
        new_count = new_edges.count()
        unchanged = (
            new_count == prev_count
            and new_edges.join(edges, ["u", "v"], "left_anti")
            .limit(1)
            .count()
            == 0
        )
        # sym and ls are fully consumed (ls / new_edges are eager
        # checkpoints) and the previous round's edge set has served the
        # fixpoint anti-join — evict all three so executor block usage
        # stays O(1) in the round count instead of O(rounds).
        _unpersist_ids(
            spark, (ids_r1 - ids_r0) | (ids_r2 - ids_r1) | prev_edge_ids
        )
        prev_edge_ids = ids_r3 - ids_r2
        edges, prev_count = new_edges, new_count
        if unchanged:
            break
    else:
        _unpersist_ids(spark, prev_edge_ids | (ids_c - ids_b))
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} rounds"
        )

    # At the fixpoint the edge set is a disjoint star forest rooted at
    # each component minimum: (u, v) = (member, root). Roots and
    # isolated nodes label themselves.
    lab = edges.groupBy("u").agg(F.min("v").alias("label"))
    return nodes.join(lab, nodes["node"] == lab["u"], "left").select(
        "node", F.coalesce(F.col("label"), F.col("node")).alias("cluster_id")
    )


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Duplicate-cluster closure with summary columns.

    ``(doc_id, cluster_id, is_keeper)`` — ``is_keeper`` marks the
    cluster's canonical survivor (min id); dropping ``NOT is_keeper``
    rows from the corpus is the dedup action.
    """
    cc = connected_components(pairs, id_a, id_b)
    return cc.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("is_keeper"),
    )


def pagerank_step(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
) -> DataFrame:
    """One PageRank power iteration from the uniform start vector —
    the step a full solver repeats to fixpoint (host-level authority
    scoring for crawl prioritization / quality weighting).

    ``rank(v) = (1-d)/N + (d/N) * Σ_{u→v} w(u,v) / outw(u)`` over the
    (optionally weighted) edge multiset; with r₀ = 1/N the in-sum
    factors out as 1/N exactly, so the step is a pure dataflow with no
    driver-side vector.

    Scale design (the 100-TB lens): the node census is one
    distinct-union shuffle; weighted out-degree is a partial aggregate
    (map-side combine) on ``src``; the contribution join co-shuffles
    edges and out-degrees on the SAME src key (no extra exchange for
    the join's right side — Spark reuses the aggregation's
    partitioning, and at web scale a host-keyed edge layout makes it
    map-side); the in-sum is one partial aggregate on ``dst``; the
    final left join back to nodes keeps sink-only nodes (they still
    earn the teleport term). N enters via a broadcast 1-row aggregate,
    never a ``collect``. Iterating = re-running with ranks joined in
    place of the uniform term plus per-round ``localCheckpoint``
    lineage truncation, exactly as :func:`connected_components` does.
    """
    w = (F.col(weight).cast("double") if weight else F.lit(1.0)).alias("w")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_df = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    outw = e.groupBy("src").agg(F.sum("w").alias("outw"))
    contrib = (
        e.join(outw, "src")
        .groupBy("dst")
        .agg(F.sum(F.col("w") / F.col("outw")).alias("cin"))
    )
    return (
        nodes.crossJoin(F.broadcast(n_df))
        .join(contrib, nodes["node"] == contrib["dst"], "left")
        .select(
            "node",
            F.round(
                (1.0 - damping) / F.col("n")
                + damping / F.col("n") * F.coalesce(F.col("cin"), F.lit(0.0)),
                9,
            ).alias("rank"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    iters: int = 5,
    dangling: bool = False,
) -> DataFrame:
    """Iterative PageRank to ``iters`` power iterations — the full
    solver whose single round :func:`pagerank_step` isolates.

    ``r_{t+1}(v) = (1-d)/N + d * Σ_{u→v} P(u,v) · r_t(u)`` with
    ``P(u,v) = w(u,v)/outw(u)`` and ``r_0 = 1/N``. With
    ``dangling=False`` dangling mass leaks (no redistribution term),
    matching the step operator and the unrolled-CTE oracle. With
    ``dangling=True`` each round adds the standard redistribution term
    ``d · D_t / N`` where ``D_t = Σ rank_t(u)`` over nodes with no
    out-edges — total rank then sums to exactly 1 every round (mass
    conserved), the correct form on sink-heavy real web graphs. The
    dangling set is computed ONCE (node-sized anti-join, checkpointed);
    per round its mass is one semi-join + 1-row aggregate broadcast —
    no extra corpus-scale shuffle. ``D_t`` is quantized to 12 decimals
    in BOTH engines (here and the SQL twin) so the cross-engine value
    match cannot hinge on float summation order.

    Scale design (the 100-TB lens): the transition matrix
    ``P = edges ⋈ outw`` is built ONCE, checkpointed, and
    pre-partitioned on ``src`` — every round's rank join then reuses
    that layout, so each iteration costs exactly one co-partitioned
    join + one partial-aggregated ``groupBy(dst)`` + the broadcast of
    the (node-sized, corpus-dwarfed) rank vector update. Ranks are
    ``localCheckpoint``-ed per round: without truncation the plan
    doubles per iteration (same rationale as
    :func:`connected_components`). N enters via a broadcast 1-row
    aggregate, never a ``collect``; the rank vector itself stays a
    DataFrame end to end.
    """
    spark = edges.sparkSession
    w = (F.col(weight).cast("double") if weight else F.lit(1.0)).alias("w")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w)
    e = e.localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_df = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    outw = e.groupBy("src").agg(F.sum("w").alias("outw"))
    # Transition rows P(u,v): built once, partitioned on src so each
    # round's rank join shuffles only the (tiny) rank vector.
    p = (
        e.join(outw, "src")
        .select("src", "dst", (F.col("w") / F.col("outw")).alias("p"))
        .repartition("src")
        .localCheckpoint()
    )
    ranks = (
        nodes.crossJoin(F.broadcast(n_df))
        .select("node", (F.lit(1.0) / F.col("n")).alias("rank"))
        .localCheckpoint()
    )
    # Dangling (sink) node set: appears as a node but never as a src
    # with outgoing weight — computed once, node-sized.
    dang = (
        nodes.join(
            outw.select(F.col("src").alias("node")), "node", "left_anti"
        ).localCheckpoint()
        if dangling
        else None
    )
    for _ in range(iters):
        contrib = (
            p.join(ranks, p["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("p") * F.col("rank")).alias("cin"))
        )
        base = nodes.crossJoin(F.broadcast(n_df))
        if dangling:
            # D_t as a broadcast 1-row aggregate; quantized so both
            # engines fold the identical IEEE double (see docstring).
            dmass = ranks.join(dang, "node", "left_semi").agg(
                F.round(
                    F.coalesce(F.sum("rank"), F.lit(0.0)), 12
                ).alias("dm")
            )
            base = base.crossJoin(F.broadcast(dmass))
            inflow = (
                F.coalesce(F.col("cin"), F.lit(0.0))
                + F.col("dm") / F.col("n")
            )
        else:
            inflow = F.coalesce(F.col("cin"), F.lit(0.0))
        ranks = (
            base.join(contrib, base["node"] == contrib["dst"], "left")
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("n") + damping * inflow
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks

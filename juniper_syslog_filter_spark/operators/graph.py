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
* No phase sizes its own shuffle. Under AQE (which
  ``session.build_session`` turns on) a ``localCheckpoint`` reports
  unknown partitioning, so every consumer of a round's checkpoint
  re-exchanges it anyway; AQE then coalesces that exchange to the
  measured bytes of the graph, which is orders of magnitude smaller
  than the corpus that produced it (477 nodes from 240 k docs at
  sf0.1).
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


def _evict(*dfs: DataFrame) -> None:
    """Free the blocks of each ``localCheckpoint``-ed frame.

    A checkpointed DataFrame's logical plan is a ``LogicalRDD`` over the
    persisted RDD, so unpersisting that RDD frees exactly this
    checkpoint and nothing else. The frame is uncomputable afterwards
    (its lineage was truncated): pass only frames no live plan still
    reads."""
    for df in dfs:
        df._jdf.logicalPlan().rdd().unpersist(False)


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
    # DataFrame.localCheckpoint persists an RDD and never frees it, so
    # each round evicts what it has consumed (sym, ls and the previous
    # edge set): executor block usage stays O(1) in the round count.
    p0 = pairs.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).localCheckpoint()
    # Node census BEFORE dropping self-pairs: isolated nodes that appear
    # only as (x, x) pairs must still be labelled (with themselves).
    nodes = (
        p0.select(F.col("u").alias("node"))
        .union(p0.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    # Canonical form: (big, small), self-loops dropped — both phases
    # re-derive the directions they need from this single set.
    edges = (
        p0.where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    _evict(p0)
    prev_count = edges.count()

    for _ in range(max_iter):
        # -- large-star: full neighbourhoods need both directions.
        # The symmetrized set is materialized ONCE for its two consumers
        # (the min aggregate and the join probe) instead of being
        # recomputed per consumer (measured at sf0.1 on the 32-vCPU
        # host: 5.27 s → 4.68 s).
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).localCheckpoint()
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least(F.col("u"), F.col("mv")).alias("m"))
        )
        ls = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint()
        )
        # -- small-star: ls is already canonical (u > v everywhere).
        minss = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(minss, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(minss.select(F.col("u"), F.col("m").alias("v")))
        )
        new_edges = ss.distinct().localCheckpoint()
        new_count = new_edges.count()
        unchanged = (
            new_count == prev_count
            and new_edges.join(edges, ["u", "v"], "left_anti")
            .limit(1)
            .count()
            == 0
        )
        _evict(sym, ls, edges)
        edges, prev_count = new_edges, new_count
        if unchanged:
            break
    else:
        _evict(edges, nodes)
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
    (map-side combine) on ``src``; the contribution join is keyed on
    ``src`` and AQE picks its strategy; the in-sum is one partial
    aggregate on ``dst``; the final left join back to nodes keeps
    sink-only nodes (they still earn the teleport term). N enters via a
    broadcast 1-row aggregate, never a ``collect``. Iterating =
    re-running with ranks joined in place of the uniform term plus
    per-round ``localCheckpoint`` lineage truncation, as :func:`pagerank`
    does.
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
    ``P = edges ⋈ outw`` is built ONCE and checkpointed, so each
    iteration costs one rank join + one partial-aggregated
    ``groupBy(dst)`` + the broadcast of the (node-sized,
    corpus-dwarfed) N and dangling terms. Under AQE a checkpoint
    reports unknown partitioning, so no layout chosen before it
    survives into the rank join: AQE picks that join's strategy and
    width from measured bytes each round. Ranks are
    ``localCheckpoint``-ed per round: without truncation the plan
    doubles per iteration (same rationale as
    :func:`connected_components`). Each superseded rank vector is
    evicted once its successor is materialized, and ``e``, the node
    census, ``P`` and the dangling set before returning: the result is
    its own checkpoint, so it reads none of them. N enters via a
    broadcast 1-row aggregate, never a ``collect``; the rank vector
    itself stays a DataFrame end to end.
    """
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
    # Transition rows P(u,v): built once for every round.
    p = (
        e.join(outw, "src")
        .select("src", "dst", (F.col("w") / F.col("outw")).alias("p"))
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
        new_ranks = (
            base.join(contrib, base["node"] == contrib["dst"], "left")
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("n") + damping * inflow
                ).alias("rank"),
            )
            .localCheckpoint()
        )
        _evict(ranks)
        ranks = new_ranks
    _evict(e, nodes, p)
    if dangling:
        _evict(dang)
    return ranks

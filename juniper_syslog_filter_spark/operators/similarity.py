"""Similarity search over embedding columns (``array<float>``).

Two paths, both engine-portable (DuckDB oracle twins):

* **brute force** — exact cosine top-k against a broadcast query vector
  (driver query ``s1``); the correctness baseline and the right answer
  whenever the candidate set is already small.
* **hyperplane LSH** — random-hyperplane sign buckets; only the query's
  bucket is scanned. The hyperplanes are a fixed rational function of
  (plane, dim) so both engines compute identical buckets — at real
  scale you'd generate them once and broadcast, which changes nothing
  structurally.

Numeric portability: all arithmetic is double-precision left-to-right
folds (``aggregate``/``zip_with`` ↔ ``list_reduce``/``list_zip``), which
are bit-identical across Spark and DuckDB; comparisons happen on values
rounded to 6 decimals with deterministic id tie-breaks.

Scale notes (100 TB): cosine against one query is a narrow map + top-k
(``orderBy().limit()`` → TakeOrderedAndProject — partial top-k per
partition, no full sort). The LSH variant prunes the scan by the bucket
predicate, which pushes down to parquet row-groups when the bucket is a
stored column (materialize ``lsh_bucket`` at ingest for real workloads;
computed on the fly here because the driver tables are read-only).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Left-to-right double-precision dot product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin (list_dot_product folds left-to-right like aggregate)."""
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


def cosine_pair_udf():
    """Vectorized cosine of two embedding-array columns — the bulk
    (per-candidate-pair) execution path of :func:`cosine`. Spark's
    ``aggregate`` HOF is interpreted per element (no codegen): measured
    22 s for ~1.5 M blocked pairs at sf0.1, growing with Σ bucket².

    Bit-identical to the expression/SQL twins: accumulation runs across
    the DIMENSION axis (one fused numpy op per dim, vectorized across
    the batch's pairs), so each pair's dot/norm folds left-to-right in
    IEEE double exactly like ``aggregate``/``list_dot_product``."""

    def one(a, b) -> float:
        # Null embeddings yield null (NaN -> Arrow null), matching the
        # expression path's null-propagation instead of crashing.
        if a is None or b is None:
            return float("nan")
        dot = na = nb = 0.0
        for x, y in zip(np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)):
            dot += x * y
            na += x * x
            nb += y * y
        return dot / (np.sqrt(na) * np.sqrt(nb))

    def fn(ea: pd.Series, eb: pd.Series) -> pd.Series:
        try:
            a = np.stack(ea.to_numpy()).astype(np.float64)
            b = np.stack(eb.to_numpy()).astype(np.float64)
        except (ValueError, TypeError):
            # ragged dims or null embeddings — per-pair fallback
            return pd.Series([one(x, y) for x, y in zip(ea, eb)])
        n = a.shape[0]
        dot = np.zeros(n)
        na = np.zeros(n)
        nb = np.zeros(n)
        for j in range(a.shape[1]):
            dot += a[:, j] * b[:, j]
            na += a[:, j] * a[:, j]
            nb += b[:, j] * b[:, j]
        return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))

    return F.pandas_udf(fn, "double")


# ---------------------------------------------------------------------------
# Hyperplane LSH
# ---------------------------------------------------------------------------


def _plane_coef(p: int, d: Column) -> Column:
    """Deterministic pseudo-random coefficient in [-0.5, 0.5) for
    hyperplane ``p``, dimension ``d`` — pure integer arithmetic, exactly
    reproducible in SQL."""
    return ((p * 31 + d * 7) % 13).cast("double") / 13.0 - 0.5


def _plane_coef_sql(p: int, d: str) -> str:
    return f"((({p} * 31 + {d} * 7) % 13)::DOUBLE / 13.0 - 0.5)"


def lsh_bucket(emb: Column, n_planes: int = 8) -> Column:
    """Sign-bit bucket string, one char per hyperplane ('1' if the
    projection is ≥ 0 else '0')."""
    dim = F.size(emb)
    bits = []

    def coef_fn(p: int):
        # Single-arg lambda: 2-arg lambdas are F.transform's
        # (element, index) form and would rebind p to the index column.
        return lambda d: _plane_coef(p, d)

    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                emb.cast("array<double>"),
                F.transform(F.sequence(F.lit(0), dim - 1), coef_fn(p)),
                lambda x, h: x * h,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_bucket_sql(emb: str, n_planes: int = 8) -> str:
    """DuckDB twin of :func:`lsh_bucket`."""
    parts = []
    for p in range(n_planes):
        coefs = (
            f"list_transform(range(0, len({emb})), d -> {_plane_coef_sql(p, 'd')})"
        )
        proj = f"list_dot_product({emb}::DOUBLE[], {coefs})"
        parts.append(f"CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END")
    return "(" + " || ".join(parts) + ")"


def brute_force_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 20,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_col: str = "q_emb",
) -> DataFrame:
    """Exact cosine top-k of ``embeddings`` against the single-row
    broadcast ``query`` (column ``q_col``). Returns every column of
    ``embeddings`` but ``emb_col``, plus ``cos_sim``."""
    sim = cosine(F.col(emb_col).cast("array<double>"), F.col(q_col).cast("array<double>"))
    keep = [c for c in embeddings.columns if c != emb_col]
    return (
        embeddings.crossJoin(F.broadcast(query))
        .select(*keep, F.round(sim, 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def lsh_ann_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_col: str = "q_emb",
) -> DataFrame:
    """Approximate top-k: candidates = rows in the query's LSH bucket,
    then exact cosine among them. Returns (id, cos_sim)."""
    q = query.select(
        F.col(q_col), lsh_bucket(F.col(q_col), n_planes).alias("_qb")
    )
    cand = (
        embeddings.withColumn("_b", lsh_bucket(F.col(emb_col), n_planes))
        .join(F.broadcast(q), F.col("_b") == F.col("_qb"))
    )
    sim = cosine(F.col(emb_col).cast("array<double>"), F.col(q_col).cast("array<double>"))
    return (
        cand.select(id_col, F.round(sim, 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path.
# ---------------------------------------------------------------------------


def ivf_assign_cells(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine, ties →
    smaller cent_id): the IVF build pass. ``centroids`` is tiny
    ((cent_id, cent_emb), the coarse quantizer) and broadcast, so the
    cross product is a narrow map; the per-vector argmax is ONE partial
    (map-side) aggregate — ``max_by`` over a (sim, -cent_id) struct —
    no join-back, no window sort. At real scale the output (id, cell,
    emb) is the stored, cell-partitioned index table.

    Returns ``(id_col, cell, emb_col)``.
    """
    sim = cosine(
        F.col(emb_col).cast("array<double>"), F.col("cent_emb").cast("array<double>")
    )
    return (
        embeddings.crossJoin(F.broadcast(centroids))
        .withColumn("_sim", sim)
        .groupBy(id_col)
        .agg(
            F.max_by(
                "cent_id", F.struct(F.col("_sim"), (-F.col("cent_id")).alias("_nc"))
            ).alias("cell"),
            # emb is functionally dependent on the group key.
            F.first(emb_col).alias(emb_col),
        )
    )


def lloyd_step(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """One distributed Lloyd (k-means) iteration — the training pass
    behind the IVF quantizer and SemDeDup's clustering (arXiv:2303.09540
    clusters with k-means before within-cluster cosine).

    Assignment is :func:`ivf_assign_cells` (broadcast quantizer, ONE
    map-side ``max_by`` aggregate, no window sort); the update computes
    each cell's element-wise mean embedding with ``posexplode`` →
    ``groupBy(cell, pos)`` partial-aggregated sums → per-cell array
    re-assembly via ``array_sort`` over (pos, mean) structs. Everything
    stays JVM-side; the widest shuffle carries (cell, pos) keyed partial
    sums — cells × dim rows, independent of corpus size. Iterating to
    convergence is a driver loop over this function (each step writes
    its centroid table — tiny — and re-broadcasts).

    Returns ``(cell, cent_emb, n_members)`` — the new quantizer.
    """
    asg = ivf_assign_cells(embeddings, centroids, id_col=id_col, emb_col=emb_col)
    by_dim = asg.select(
        "cell", F.posexplode(F.col(emb_col).cast("array<double>"))
    ).groupBy("cell", "pos").agg(
        F.avg("col").alias("mean"), F.count("*").alias("n")
    )
    return by_dim.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean"))),
            lambda s: s["mean"],
        ).alias("cent_emb"),
        F.first("n").alias("n_members"),
    )


def ivf_ann_topk(
    embeddings: DataFrame,
    query: DataFrame,
    n_cells: int = 8,
    n_probe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_col: str = "q_emb",
) -> DataFrame:
    """IVF ANN: probe the ``n_probe`` centroids nearest the query, scan
    only vectors assigned to those cells, exact cosine top-k among them
    (the FAISS IVF-flat dataflow re-expressed as DataFrames).

    The coarse quantizer here is DETERMINISTIC — the ``n_cells``
    lowest-id vectors stand in for an offline k-means so that both
    engines (and reruns) build identical cells; swapping in trained
    centroids changes only the ``centroids`` input, not the dataflow.
    At scale: centroids broadcast; the cell column is stored and
    partition-prunes the scan (only probed cells are read); the final
    top-k is TakeOrderedAndProject (partial top-k per partition).
    """
    cents = (
        embeddings.orderBy(F.asc(id_col))
        .limit(n_cells)
        .select(F.col(id_col).alias("cent_id"), F.col(emb_col).alias("cent_emb"))
    )
    assigned = ivf_assign_cells(embeddings, cents, id_col=id_col, emb_col=emb_col)
    q_sim = cosine(
        F.col("cent_emb").cast("array<double>"), F.col(q_col).cast("array<double>")
    )
    probes = (
        cents.crossJoin(F.broadcast(query))
        .select("cent_id", q_sim.alias("_qs"))
        .orderBy(F.desc("_qs"), F.asc("cent_id"))
        .limit(n_probe)
        .select("cent_id")
    )
    sim = cosine(
        F.col(emb_col).cast("array<double>"), F.col(q_col).cast("array<double>")
    )
    return (
        assigned.join(F.broadcast(probes), assigned["cell"] == probes["cent_id"])
        .crossJoin(F.broadcast(query))
        .select(id_col, F.col("cell"), F.round(sim, 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def lsh_blocked_neardup(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs blocked by the hyperplane-LSH bucket
    (the scale path :func:`cosine_neardup_pairs` promises): candidates
    are same-bucket pairs only, so pair count is Σ bucket_size² instead
    of n² — measured 13× pruning at 4 planes on the synthetic table,
    and the plane count is the knob trading recall for pruning. Returns
    (lsh_bucket, id_a, id_b, cos_sim ≥ threshold)."""
    withb = embeddings.withColumn(
        "lsh_bucket", lsh_bucket(F.col(emb_col), n_planes)
    )
    return cosine_neardup_pairs(
        withb, "lsh_bucket", threshold=threshold, id_col=id_col, emb_col=emb_col
    )


def cosine_neardup_pairs(
    embeddings: DataFrame,
    block_col: str,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs within blocks: self-join on
    ``block_col`` (id_a < id_b), cosine ≥ threshold. Blocking bounds the
    pair count; at web scale the block key is an LSH bucket."""
    a = embeddings.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("id_a"),
        F.col(emb_col).alias("_ea"),
    )
    b = embeddings.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("id_b"),
        F.col(emb_col).alias("_eb"),
    )
    sim = cosine_pair_udf()(F.col("_ea"), F.col("_eb"))
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            F.col("_blk").alias(block_col),
            "id_a",
            "id_b",
            F.round(sim, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_cells: int = 8,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) dataflow: coarse-
    cluster the corpus, compare embeddings only WITHIN a cluster, and
    drop every vector that is semantically redundant with a retained
    one. Returns (``id_col``, ``cell``, ``keep``) for ALL input rows.

    The keep rule is deterministic and order-free: a vector is dropped
    iff some LOWER-id vector in its cell has cosine ≥ threshold with it
    (lowest id of every near-dup chain survives — same tie policy as
    exact_dedup's min-keeper). Clustering reuses the IVF coarse
    quantizer (:func:`ivf_assign_cells`, deterministic lowest-id
    centroids standing in for offline k-means), and the within-cell
    pair scan reuses :func:`cosine_neardup_pairs` — pair count is
    Σ cell_size², never n². At 100 TB the cells come from a trained
    quantizer and the assignment table is stored cell-partitioned, so
    the pair scan is per-cell-partition local work; degenerate cells
    are bounded by the quantizer's balance, the knob SemDeDup itself
    relies on.

    Eagerly materialized for the same 3-subtree-race reason documented
    at lsh_candidate_pairs (both self-join sides + the output join all
    reference the kernel output).
    """
    cents = (
        embeddings.orderBy(F.asc(id_col))
        .limit(n_cells)
        .select(F.col(id_col).alias("cent_id"), F.col(emb_col).alias("cent_emb"))
    )
    assigned = ivf_assign_cells(
        embeddings, cents, id_col=id_col, emb_col=emb_col
    ).localCheckpoint(eager=True)
    dup_ids = (
        cosine_neardup_pairs(
            assigned, "cell", threshold=threshold, id_col=id_col, emb_col=emb_col
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        assigned.join(dup_ids, id_col, "left")
        .select(id_col, "cell", F.col("_dup").isNull().alias("keep"))
    )


def sign_projection_udf(out_dim: int = 16, seed: str = "rp:42"):
    """Sign random projection (Achlioptas'01 / SimHash's real-valued
    cousin): project ``in_dim`` embeddings to ``out_dim`` via a ±1
    matrix derived from md5 — ``sign[j][d] = +1`` iff the first hex
    char of ``md5('{seed}:{j}:{d}')`` is even. Deterministic and
    engine-portable, so the DuckDB twin rebuilds the identical matrix
    with ``list_transform(range(...))`` + the same md5 parity rule (no
    RNG state to ship).

    Vectorized per Arrow batch: one (batch × in_dim) @ (in_dim ×
    out_dim) product, accumulated SEQUENTIALLY over the dimension axis
    (one fused numpy op per input dim) so each output folds
    left-to-right in IEEE double exactly like DuckDB's
    ``list_dot_product`` — the same parity discipline as
    :func:`cosine_pair_udf`. Map-only, zero shuffle: the projection
    matrix is rebuilt per executor from the seed (bytes shipped: the
    seed string, not the matrix).
    """

    def signs(in_dim: int) -> np.ndarray:
        import hashlib

        m = np.empty((in_dim, out_dim), dtype=np.float64)
        for j in range(out_dim):
            for d in range(in_dim):
                h = hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()
                m[d, j] = 1.0 if int(h[0], 16) % 2 == 0 else -1.0
        return m

    cache: dict = {}

    def fn(emb: pd.Series) -> pd.Series:
        if emb.empty:
            return pd.Series([], dtype=object)
        a = np.stack(emb.to_numpy()).astype(np.float64)  # (n, in_dim)
        in_dim = a.shape[1]
        if in_dim not in cache:
            cache[in_dim] = signs(in_dim)
        m = cache[in_dim]
        out = np.zeros((a.shape[0], out_dim))
        for d in range(in_dim):  # dimension-axis fold: IEEE == list_dot_product
            out += a[:, d : d + 1] * m[d]
        # no np.round here: numpy rounds half-to-even, Spark/DuckDB
        # round() half-up — the caller rounds via F.transform(F.round).
        return pd.Series(list(out))

    return F.pandas_udf(fn, "array<double>")


def sign_projection_sql(emb_expr: str, out_dim: int = 16, seed: str = "rp:42") -> str:
    """DuckDB twin of :func:`sign_projection_udf`: the identical ±1
    matrix from the md5 parity rule, one ``list_dot_product`` per
    output dim."""
    return (
        f"list_transform(range(0, {out_dim}), j -> round(list_dot_product("
        f"{emb_expr}::DOUBLE[], "
        f"list_transform(range(0, len({emb_expr})), d -> CASE WHEN "
        f"strpos('02468ace', substr(md5('{seed}:' || j || ':' || d), 1, 1)) > 0 "
        f"THEN 1.0 ELSE -1.0 END)), 6))"
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-index scale path.
# ---------------------------------------------------------------------------


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance via the dot identity with PINNED association
    ``(aa - ab*2) + bb`` — three left-to-right dot folds and one fixed
    combine order, so Spark and DuckDB produce bit-identical doubles
    (same discipline as :func:`cosine`)."""
    return (dot(a, a) - dot(a, b) * F.lit(2.0)) + dot(b, b)


def pq_codebook(
    corpus: DataFrame,
    n_centroids: int = 4,
    n_sub: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """ONE-row codebook DataFrame ``cb[m][k] = centroid subvector``
    (``array<array<array<double>>>``, m-major then k): the ``n_sub``
    subvectors of the ``n_centroids`` lowest-id corpus vectors (the
    same k-means stand-in as ivf_ann_topk's coarse quantizer — at real
    scale you'd Lloyd-train per subspace with lloyd_step; the index
    structure is identical). The row is O(n_sub·n_centroids·sub_len)
    doubles — kilobytes — and broadcasts to every encode task."""
    emb = F.col(emb_col).cast("array<double>")
    donors = corpus.orderBy(id_col).limit(n_centroids)
    from pyspark.sql import Window

    # partitionBy(lit) keeps the single-partition sort (n_centroids
    # rows) without the "no partition defined" WARN.
    donors = donors.withColumn(
        "k",
        F.row_number().over(Window.partitionBy(F.lit(0)).orderBy(id_col)) - 1,
    )
    sub_len = F.size(emb) / n_sub  # validated at query build in pq_ann_topk
    subs = donors.select(
        "k",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_sub - 1)),
                lambda m: F.slice(
                    emb, (m * sub_len + 1).cast("int"), sub_len.cast("int")
                ),
            )
        ).alias("m", "cent"),
    )
    flat = subs.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("m", "k", "cent"))).alias("flat")
    )
    kk = n_centroids
    return flat.select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_sub - 1)),
            lambda m: F.transform(
                F.sequence(F.lit(0), F.lit(kk - 1)),
                lambda k: F.element_at(
                    F.col("flat"), (m * kk + k + 1).cast("int")
                )["cent"],
            ),
        ).alias("cb")
    )


def _pq_sub(emb: Column, m: Column, n_sub: int) -> Column:
    sub_len = (F.size(emb) / n_sub).cast("int")
    return F.slice(emb, (m * sub_len + 1).cast("int"), sub_len)


def _pq_codes(emb: Column, cb: Column, n_sub: int, n_centroids: int) -> Column:
    """Per-vector PQ code array (length n_sub, values in [0,
    n_centroids)): for each subspace, the argmin-L2 centroid, ties to
    the lowest k. Pure Catalyst HOF fold — ascending k with strict
    ``<`` — evaluated MAP-SIDE against the broadcast codebook row: the
    encode pass touches each vector once and never shuffles it."""
    def argmin(m: Column) -> Column:
        # array_min over (d, k) structs: lexicographic ordering gives
        # min distance with ties to the lowest k, and each _l2sq is
        # evaluated ONCE (a fold with a when-condition evaluates the
        # distance twice per step — measured 2× encode cost).
        sub = _pq_sub(emb, m, n_sub)
        return F.array_min(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_centroids - 1)),
                lambda k: F.struct(
                    _l2sq(
                        sub, F.element_at(F.element_at(cb, m.cast("int") + 1), k + 1)
                    ).alias("d"),
                    k.alias("k"),
                ),
            )
        )["k"]

    return F.transform(F.sequence(F.lit(0), F.lit(n_sub - 1)), argmin)


def pq_ann_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_centroids: int = 4,
    n_sub: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_col: str = "q_emb",
) -> DataFrame:
    """Asymmetric-distance PQ search: encode the corpus (n_sub argmin-L2
    codes per vector against the broadcast codebook), precompute the
    query's distance table ``qd[m][k] = L2²(query subvector m, centroid
    (m,k))``, and score each vector as the ordered fold
    ``Σ_m qd[m][code_m]`` — the classic ADC lookup sum (Jégou et al.,
    TPAMI'11; public method). Returns ``(id_col, pq_code, adc2)``,
    the k smallest approximate distances (ties → lowest id).

    100-TB shape: the corpus lineage is scan → one narrow projection
    (codes + ADC fold against TWO broadcast one-row tables) →
    TakeOrderedAndProject. Zero Exchange on the corpus side; the only
    shuffles are the kilobyte-sized codebook/query-table builds. At
    real scale the code arrays (n_sub bytes/vector vs 4·dim for floats)
    are the stored index — this operator is both the build and the
    probe of that index.
    """
    emb = F.col(emb_col).cast("array<double>")
    cb_row = pq_codebook(corpus, n_centroids, n_sub, id_col, emb_col)

    qe = F.col(q_col).cast("array<double>")
    qd_row = (
        query.crossJoin(F.broadcast(cb_row))
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_sub - 1)),
                lambda m: F.transform(
                    F.sequence(F.lit(0), F.lit(n_centroids - 1)),
                    lambda kk: _l2sq(
                        _pq_sub(qe, m, n_sub),
                        F.element_at(F.element_at("cb", m.cast("int") + 1), kk + 1),
                    ),
                ),
            ).alias("qd")
        )
    )

    codes = _pq_codes(emb, F.col("cb"), n_sub, n_centroids)
    adc = F.aggregate(
        F.zip_with(
            F.sequence(F.lit(0), F.lit(n_sub - 1)),
            F.col("_codes"),
            lambda m, c: F.element_at(
                F.element_at("qd", m.cast("int") + 1), c.cast("int") + 1
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        corpus.crossJoin(F.broadcast(cb_row))
        .crossJoin(F.broadcast(qd_row))
        .withColumn("_codes", codes)
        .select(
            id_col,
            F.array_join(
                F.transform(F.col("_codes"), lambda c: c.cast("string")), ""
            ).alias("pq_code"),
            F.round(adc, 6).alias("adc2"),
        )
        .orderBy(F.asc("adc2"), F.asc(id_col))
        .limit(k)
    )

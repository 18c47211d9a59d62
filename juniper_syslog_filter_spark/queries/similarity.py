"""Embedding-similarity queries (s*, km1, rp1): cosine top-k, near-dup
and semantic dedup, LSH / IVF / PQ approximate nearest neighbours, one
k-means step and sign random projection.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..datagen import load_table
from ..driver_queries import query
from ..operators import similarity as S


@query(oracle="""
        WITH q AS (SELECT embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id = 0),
        sims AS (
          SELECT e.vec_id, e.label,
                 round(
                   list_dot_product(e.embedding::DOUBLE[], q.q_emb)
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(q.q_emb, q.q_emb))), 6) AS cos_sim
          FROM embeddings e CROSS JOIN q
          WHERE e.vec_id <> 0
        )
        SELECT vec_id, label, cos_sim FROM sims
        ORDER BY cos_sim DESC, vec_id ASC LIMIT 20
    """)
def q_s1_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k ANN baseline over embeddings vs the
    vec_id=0 query vector; double-precision left-fold dot products match
    DuckDB bit-for-bit."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    emb = F.col("embedding").cast("array<double>")
    qe = F.col("q_emb").cast("array<double>")
    dot = F.aggregate(F.zip_with(emb, qe, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))  # noqa: E731
    sim = dot / (norm(emb) * norm(qe))
    return (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "label", F.round(sim, 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(20)
    )


@query(oracle=f"""
        WITH e AS (
          SELECT vec_id, embedding,
                 {S.lsh_bucket_sql('embedding', 4)} AS lsh_bucket
          FROM embeddings
        )
        SELECT a.lsh_bucket AS lsh_bucket, a.vec_id AS id_a, b.vec_id AS id_b,
               round({S.cosine_sql('a.embedding::DOUBLE[]', 'b.embedding::DOUBLE[]')}, 6) AS cos_sim
        FROM e a JOIN e b
          ON a.lsh_bucket = b.lsh_bucket AND a.vec_id < b.vec_id
        WHERE round({S.cosine_sql('a.embedding::DOUBLE[]', 'b.embedding::DOUBLE[]')}, 6) >= 0.4
    """)
def q_s2_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs blocked by the 4-plane LSH
    bucket (cos >= 0.4; the synthetic embeddings top out at ~0.49) —
    candidate count is sum of bucket-size squares, not n^2."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.lsh_blocked_neardup(e, threshold=0.4, n_planes=4)


@query(oracle=f"""
        WITH q AS (
          SELECT embedding AS q_emb, {S.lsh_bucket_sql('embedding', 8)} AS qb
          FROM embeddings WHERE vec_id = 0
        ),
        cand AS (
          SELECT e.vec_id, e.embedding, q.q_emb
          FROM embeddings e CROSS JOIN q
          WHERE e.vec_id <> 0 AND {S.lsh_bucket_sql('e.embedding', 8)} = q.qb
        )
        SELECT vec_id,
               round({S.cosine_sql('embedding::DOUBLE[]', 'q_emb::DOUBLE[]')}, 6) AS cos_sim
        FROM cand
        ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
    """)
def q_s3_lsh_ann(spark, sf_dir):
    """Hyperplane-LSH ANN: candidates share the query's 8-bit sign
    bucket; exact cosine top-10 among them (scale path of s1)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    return S.lsh_ann_topk(
        e.filter(F.col("vec_id") != 0), q, k=10, n_planes=8
    )


@query(oracle=f"""
        WITH cents AS (
          SELECT vec_id AS cent_id, embedding AS cent_emb FROM embeddings
          WHERE vec_id <> 0 ORDER BY vec_id ASC LIMIT 8
        ),
        asg AS (
          SELECT e.vec_id, e.embedding, c.cent_id,
                 row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {S.cosine_sql('e.embedding::DOUBLE[]', 'c.cent_emb::DOUBLE[]')} DESC,
                            c.cent_id ASC
                 ) AS rn
          FROM embeddings e CROSS JOIN cents c
          WHERE e.vec_id <> 0
        ),
        cells AS (SELECT vec_id, embedding, cent_id AS cell FROM asg WHERE rn = 1),
        q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
        probe AS (
          SELECT c.cent_id FROM cents c CROSS JOIN q
          ORDER BY {S.cosine_sql('c.cent_emb::DOUBLE[]', 'q.q_emb::DOUBLE[]')} DESC,
                   c.cent_id ASC
          LIMIT 2
        )
        SELECT v.vec_id, v.cell,
               round({S.cosine_sql('v.embedding::DOUBLE[]', 'q.q_emb::DOUBLE[]')}, 6) AS cos_sim
        FROM cells v JOIN probe p ON v.cell = p.cent_id CROSS JOIN q
        ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
    """)
def q_s4_ivf_ann(spark, sf_dir):
    """IVF ANN (the coarse-quantizer scale path beside s3's LSH):
    8 deterministic centroids (lowest vec_ids, k-means stand-in),
    argmax-cosine cell assignment, probe the 2 cells nearest the
    query, exact cosine top-10 within them."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    return S.ivf_ann_topk(
        e.filter(F.col("vec_id") != 0), q, n_cells=8, n_probe=2, k=10
    )


# s6: PQ twin — identical codebook (4 lowest corpus vec_ids), the
# same pinned-association L2² dot identity, argmin tie → lowest k,
# ADC as an ordered left fold (list_reduce over list(... ORDER BY m)
# == F.aggregate over the m-ascending zip).
@query(oracle="""
        WITH donors AS (
          SELECT embedding, row_number() OVER (ORDER BY vec_id) - 1 AS k
          FROM embeddings WHERE vec_id <> 0 ORDER BY vec_id LIMIT 4
        ),
        ms AS (SELECT unnest(range(8)) AS m),
        cb AS (
          SELECT d.k, ms.m, (d.embedding::DOUBLE[])[ms.m*8+1 : ms.m*8+8] AS cent
          FROM donors d CROSS JOIN ms
        ),
        subs AS (
          SELECT e.vec_id, ms.m, (e.embedding::DOUBLE[])[ms.m*8+1 : ms.m*8+8] AS sub
          FROM embeddings e CROSS JOIN ms WHERE e.vec_id <> 0
        ),
        dists AS (
          SELECT s.vec_id, s.m, c.k,
                 (list_dot_product(s.sub, s.sub)
                  - 2 * list_dot_product(s.sub, c.cent))
                 + list_dot_product(c.cent, c.cent) AS d
          FROM subs s JOIN cb c ON s.m = c.m
        ),
        codes AS (
          SELECT vec_id, m, k FROM (
            SELECT vec_id, m, k,
                   row_number() OVER (
                     PARTITION BY vec_id, m ORDER BY d ASC, k ASC
                   ) AS rn
            FROM dists
          ) WHERE rn = 1
        ),
        qsubs AS (
          SELECT ms.m, (e.embedding::DOUBLE[])[ms.m*8+1 : ms.m*8+8] AS sub
          FROM embeddings e CROSS JOIN ms WHERE e.vec_id = 0
        ),
        qd AS (
          SELECT q.m, c.k,
                 (list_dot_product(q.sub, q.sub)
                  - 2 * list_dot_product(q.sub, c.cent))
                 + list_dot_product(c.cent, c.cent) AS qdist
          FROM qsubs q JOIN cb c ON q.m = c.m
        ),
        adc AS (
          SELECT cd.vec_id,
                 string_agg(CAST(cd.k AS VARCHAR), '' ORDER BY cd.m) AS pq_code,
                 list_reduce(
                   list_prepend(0.0, list(qd.qdist ORDER BY cd.m)),
                   (acc, x) -> acc + x
                 ) AS adc_raw
          FROM codes cd JOIN qd ON cd.m = qd.m AND cd.k = qd.k
          GROUP BY cd.vec_id
        )
        SELECT vec_id, pq_code, round(adc_raw, 6) AS adc2
        FROM adc
        ORDER BY round(adc_raw, 6) ASC, vec_id ASC
        LIMIT 10
    """)
def q_s6_pq_ann(spark, sf_dir):
    """Product-quantization ANN (the compressed-index scale path beside
    s3 LSH and s4 IVF): 8 subspaces × 4 centroids (lowest-vec_id
    k-means stand-ins), map-side argmin-L2 encode against the broadcast
    one-row codebook, ADC score = ordered fold of the query's
    per-subspace distance table, top-10 by approximate distance. The
    corpus lineage never shuffles — scan → projection →
    TakeOrderedAndProject."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    return S.pq_ann_topk(
        e.filter(F.col("vec_id") != 0), q, k=10, n_centroids=4, n_sub=8
    )


@query(oracle=f"""
        WITH cents AS (
          SELECT vec_id AS cent_id, embedding AS cent_emb FROM embeddings
          ORDER BY vec_id ASC LIMIT 8
        ),
        asg AS (
          SELECT e.vec_id, e.embedding, c.cent_id,
                 row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {S.cosine_sql('e.embedding::DOUBLE[]', 'c.cent_emb::DOUBLE[]')} DESC,
                            c.cent_id ASC
                 ) AS rn
          FROM embeddings e CROSS JOIN cents c
        ),
        cells AS (SELECT vec_id, embedding, cent_id AS cell FROM asg WHERE rn = 1),
        dup AS (
          SELECT DISTINCT b.vec_id
          FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE round({S.cosine_sql('a.embedding::DOUBLE[]', 'b.embedding::DOUBLE[]')}, 6) >= 0.4
        )
        SELECT c.vec_id, c.cell, (d.vec_id IS NULL) AS keep
        FROM cells c LEFT JOIN dup d ON c.vec_id = d.vec_id
    """)
def q_s5_semantic_dedup(spark, sf_dir):
    """SemDeDup: IVF-cell clustering + within-cell cosine near-dup;
    keep = no lower-id neighbor at cos >= 0.4 in the same cell."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.semantic_dedup(e, n_cells=8, threshold=0.4)


@query(oracle=f"""
        WITH cents AS (
          SELECT vec_id AS cent_id, embedding AS cent_emb FROM embeddings
          WHERE vec_id <> 0 ORDER BY vec_id ASC LIMIT 8
        ),
        asg AS (
          SELECT e.vec_id, e.label, c.cent_id,
                 row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {S.cosine_sql('e.embedding::DOUBLE[]', 'c.cent_emb::DOUBLE[]')} DESC,
                            c.cent_id ASC
                 ) AS rn
          FROM embeddings e CROSS JOIN cents c
          WHERE e.vec_id <> 0
        )
        SELECT cent_id AS cell, count(*) AS n_members,
               min(vec_id) AS min_vec_id,
               CAST(sum(label) AS BIGINT) AS sum_label
        FROM asg WHERE rn = 1 GROUP BY cent_id
    """)
def q_km1_kmeans_step(spark, sf_dir):
    """One distributed Lloyd (k-means) step over the embeddings
    (similarity.lloyd_step): 8 deterministic seed centroids (lowest
    vec_ids, the s4 convention), broadcast argmax-cosine assignment,
    then a per-cell census. The float centroid means are
    summation-order-dependent, so the ORACLE-checked surface is the
    exact part — membership counts, min member, integer label sum —
    while the mean-update arithmetic is pinned by pytest
    (tests/test_similarity.py) on integer-exact blobs."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = (
        e.filter(F.col("vec_id") != 0)
        .orderBy(F.asc("vec_id"))
        .limit(8)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_emb"))
    )
    asg = S.ivf_assign_cells(e.filter(F.col("vec_id") != 0), cents)
    return (
        asg.join(e.select("vec_id", "label"), "vec_id")
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_members"),
            F.min("vec_id").alias("min_vec_id"),
            F.sum("label").alias("sum_label"),
        )
    )


@query(oracle=f"""
        SELECT vec_id,
               {S.sign_projection_sql('embedding', out_dim=16)} AS proj
        FROM embeddings
    """)
def q_rp1_sign_projection(spark, sf_dir):
    """Sign random projection of the embedding table to 16 dims
    (operators/similarity.sign_projection_udf): ±1 matrix derived from
    md5 parity (engine-portable, no RNG state), one fused numpy fold
    per input dim so each output coordinate is IEEE-identical to
    DuckDB's ``list_dot_product``. Map-only, zero shuffle — the
    dimensionality-reduction pass that runs before ANN indexing at
    corpus scale; the matrix ships as a seed string, not data."""
    e = load_table(spark, sf_dir, "embeddings")
    proj = S.sign_projection_udf(out_dim=16)
    return e.select(
        "vec_id",
        F.transform(
            proj(F.col("embedding")), lambda x: F.round(x, 6)
        ).alias("proj"),
    )

"""Similarity-search tests: exact cosine vs numpy oracle, LSH bucket
stability, ANN candidate semantics, blocked near-dup pairs."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from juniper_syslog_filter_spark.operators import similarity as S

N, DIM = 40, 16


def _vecs():
    # Deterministic pseudo-random embeddings (no RNG: arithmetic only).
    out = []
    for i in range(N):
        v = [((i * 31 + d * 17) % 23 - 11) / 11.0 for d in range(DIM)]
        out.append((i, [float(x) for x in v], i % 4))
    return out


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(_vecs(), "vec_id int, embedding array<float>, label int")


def test_brute_force_topk_matches_numpy(emb):
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    got = S.brute_force_topk(emb.filter(F.col("vec_id") != 0), q, k=5).collect()

    vecs = {i: np.array(v, dtype=np.float32).astype(np.float64) for i, v, _ in _vecs()}
    qv = vecs[0]
    sims = {
        i: float(np.dot(v, qv) / (np.linalg.norm(v) * np.linalg.norm(qv)))
        for i, v in vecs.items()
        if i != 0
    }
    expect = sorted(sims.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:5]
    assert [r.vec_id for r in got] == [i for i, _ in expect]
    # non-embedding columns pass through (query s1 reports label)
    assert got[0].asDict().keys() == {"vec_id", "label", "cos_sim"}
    assert [r.label for r in got] == [i % 4 for i, _ in expect]
    for r, (_, s) in zip(got, expect):
        assert abs(r.cos_sim - round(s, 6)) <= 1e-6


def test_lsh_bucket_deterministic_and_partitioning_independent(spark, emb):
    b1 = {r.vec_id: r.b for r in emb.select("vec_id", S.lsh_bucket(F.col("embedding"), 8).alias("b")).collect()}
    b2 = {
        r.vec_id: r.b
        for r in emb.repartition(7)
        .select("vec_id", S.lsh_bucket(F.col("embedding"), 8).alias("b"))
        .collect()
    }
    assert b1 == b2
    assert all(len(v) == 8 and set(v) <= {"0", "1"} for v in b1.values())


def test_lsh_ann_subset_of_brute_force_order(emb):
    """ANN results are exact-cosine-ranked within the candidate bucket."""
    rest = emb.filter(F.col("vec_id") != 0)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    ann = S.lsh_ann_topk(rest, q, k=10, n_planes=4).collect()
    assert len(ann) >= 1
    sims = [r.cos_sim for r in ann]
    assert sims == sorted(sims, reverse=True)
    # every ANN hit shares the query's bucket
    qb = (
        emb.filter(F.col("vec_id") == 0)
        .select(S.lsh_bucket(F.col("embedding"), 4).alias("b"))
        .collect()[0]
        .b
    )
    bucket_of = {
        r.vec_id: r.b
        for r in emb.select("vec_id", S.lsh_bucket(F.col("embedding"), 4).alias("b")).collect()
    }
    for r in ann:
        assert bucket_of[r.vec_id] == qb


def test_ivf_ann_matches_numpy_oracle(emb):
    """IVF: cells, probes, and the pruned top-k all reproduce a numpy
    re-implementation (deterministic centroids = lowest 8 vec_ids)."""
    rest = emb.filter(F.col("vec_id") != 0)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    got = S.ivf_ann_topk(rest, q, n_cells=8, n_probe=2, k=10).collect()

    vecs = {i: np.array(v, dtype=np.float32).astype(np.float64) for i, v, _ in _vecs()}

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    cent_ids = sorted(i for i in vecs if i != 0)[:8]
    cell = {
        i: min(cent_ids, key=lambda c: (-cos(vecs[i], vecs[c]), c))
        for i in vecs
        if i != 0
    }
    probes = sorted(cent_ids, key=lambda c: (-cos(vecs[c], vecs[0]), c))[:2]
    cand = [i for i, cl in cell.items() if cl in probes]
    expect = sorted(
        ((i, cell[i], round(cos(vecs[i], vecs[0]), 6)) for i in cand),
        key=lambda t: (-t[2], t[0]),
    )[:10]
    assert [(r.vec_id, r.cell, r.cos_sim) for r in got] == [
        (i, cl, pytest.approx(s, abs=1e-6)) for i, cl, s in expect
    ]


def test_cosine_neardup_blocked_pairs(emb):
    pairs = S.cosine_neardup_pairs(emb, "label", threshold=0.99).collect()
    labels = {i: lab for i, _, lab in _vecs()}
    for r in pairs:
        assert r.id_a < r.id_b
        assert labels[r.id_a] == labels[r.id_b] == r.label
        assert r.cos_sim >= 0.99


def test_cosine_pair_udf_bit_identical_to_expression(emb):
    """The vectorized pair kernel must reproduce the interpreted
    ``cosine`` expression EXACTLY (same left-to-right fold order), since
    the DuckDB oracle twin matches the expression bit-for-bit."""
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_eb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    expr = S.cosine(
        F.col("_ea").cast("array<double>"), F.col("_eb").cast("array<double>")
    )
    got = pairs.select(
        "id_a",
        "id_b",
        expr.alias("c_expr"),
        S.cosine_pair_udf()(F.col("_ea"), F.col("_eb")).alias("c_udf"),
    ).collect()
    assert len(got) == N * (N - 1) // 2
    for r in got:
        assert r.c_expr == r.c_udf, (r.id_a, r.id_b)


def test_lloyd_step_recovers_blob_means(spark):
    """One Lloyd iteration on two integer-exact separable blobs must (a)
    assign each point to its blob's seed and (b) move each centroid to
    the blob's exact element-wise mean (integer values -> no float
    ambiguity)."""
    # blob A around (10, 0): points (8,0),(12,0),(10,2); seed = (8,0)
    # blob B around (0, 10): points (0,8),(0,12),(2,10); seed = (0,8)
    pts = [
        (1, [8.0, 0.0]), (2, [12.0, 0.0]), (3, [10.0, 2.0]),
        (4, [0.0, 8.0]), (5, [0.0, 12.0]), (6, [2.0, 10.0]),
    ]
    emb = spark.createDataFrame(pts, "vec_id: long, embedding: array<float>")
    cents = spark.createDataFrame(
        [(1, [8.0, 0.0]), (4, [0.0, 8.0])], "cent_id: long, cent_emb: array<float>"
    )
    out = {r["cell"]: r for r in S.lloyd_step(emb, cents).collect()}
    assert set(out) == {1, 4}
    assert out[1]["n_members"] == 3 and out[4]["n_members"] == 3
    assert out[1]["cent_emb"] == [10.0, 2.0 / 3.0]
    assert out[4]["cent_emb"] == [2.0 / 3.0, 10.0]


def test_lloyd_step_fixpoint(spark):
    """Seeding with the true means must return the same means (k-means
    fixpoint) — iterating the operator is stable."""
    pts = [(1, [4.0, 0.0]), (2, [8.0, 0.0]), (3, [0.0, 6.0]), (4, [0.0, 10.0])]
    emb = spark.createDataFrame(pts, "vec_id: long, embedding: array<float>")
    cents = spark.createDataFrame(
        [(0, [6.0, 0.0]), (1, [0.0, 8.0])], "cent_id: long, cent_emb: array<float>"
    )
    one = S.lloyd_step(emb, cents)
    two = S.lloyd_step(
        emb,
        one.select(F.col("cell").alias("cent_id"), F.col("cent_emb")),
    )
    a = {r["cell"]: r["cent_emb"] for r in one.collect()}
    b = {r["cell"]: r["cent_emb"] for r in two.collect()}
    assert a == b == {0: [6.0, 0.0], 1: [0.0, 8.0]}


def _pq_numpy_oracle(k=10, n_centroids=4, n_sub=4):
    """Reference PQ/ADC on the _vecs fixture: donors = lowest corpus
    ids, argmin-L2 codes (tie -> lowest k), ADC lookup sum."""
    vecs = {i: np.array(v, dtype=np.float32).astype(np.float64) for i, v, _ in _vecs()}
    qv = vecs[0]
    corpus = {i: v for i, v in vecs.items() if i != 0}
    donors = [corpus[i] for i in sorted(corpus)[:n_centroids]]
    dim = len(qv)
    sub = dim // n_sub
    out = []
    for i, v in corpus.items():
        code, adc = [], 0.0
        for m in range(n_sub):
            sl = slice(m * sub, (m + 1) * sub)
            d = [float(np.sum((v[sl] - c[sl]) ** 2)) for c in donors]
            kk = min(range(n_centroids), key=lambda j: (d[j], j))
            code.append(kk)
            adc += float(np.sum((qv[sl] - donors[kk][sl]) ** 2))
        out.append((i, "".join(map(str, code)), adc))
    out.sort(key=lambda t: (round(t[2], 6), t[0]))
    return out[:k]


def test_pq_ann_matches_numpy_oracle(emb):
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    got = S.pq_ann_topk(
        emb.filter(F.col("vec_id") != 0), q, k=10, n_centroids=4, n_sub=4
    ).collect()
    expect = _pq_numpy_oracle(k=10, n_centroids=4, n_sub=4)
    assert [r.vec_id for r in got] == [i for i, _, _ in expect]
    assert [r.pq_code for r in got] == [c for _, c, _ in expect]
    for r, (_, _, adc) in zip(got, expect):
        assert abs(r.adc2 - round(adc, 6)) <= 1e-6


def test_pq_donors_encode_to_themselves(emb):
    """Each codebook donor's subvectors are distance-0 to its own
    centroid, so its code is its own k repeated (unless another donor
    ties at 0, impossible on this fixture)."""
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    res = S.pq_ann_topk(
        emb.filter(F.col("vec_id") != 0), q, k=39, n_centroids=4, n_sub=4
    ).collect()
    codes = {r.vec_id: r.pq_code for r in res}
    for k_idx, vid in enumerate(sorted(codes)[:4]):
        assert codes[vid] == str(k_idx) * 4


def test_pq_code_partitioning_independent(emb):
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    corpus = emb.filter(F.col("vec_id") != 0)
    a = {r.vec_id: (r.pq_code, r.adc2)
         for r in S.pq_ann_topk(corpus, q, k=39, n_sub=4).collect()}
    b = {r.vec_id: (r.pq_code, r.adc2)
         for r in S.pq_ann_topk(corpus.repartition(7), q, k=39, n_sub=4).collect()}
    assert a == b

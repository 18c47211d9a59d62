"""Sketch and index queries (cm1, hl1, bl1, iv*, tk1, ng1): count-min,
HyperLogLog and Bloom sketches, inverted index and BM25, a BPE merge
step and per-group top bigrams.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..datagen import load_table
from ..driver_queries import query
from ..functions import text as T
from ..operators import index as IX
from ..operators import sketch as SK
from ..operators.index import (
    bm25_scores, bpe_merge_step, inverted_index, top_ngrams_per_group,
)
from ..operators.sketch import (
    bloom_build, bloom_probe, cms_build, cms_estimate, hll_build,
    hll_estimate,
)


_BM25_TERMS = ["vector", "stream", "merge"]


_CMS_PROBES = ["table", "vector", "stream", "the", "nosuchword"]


@query(oracle=f"""
        SELECT _id AS doc_id, score FROM (
          {IX.bm25_sql('documents', 'doc_id', 'text', _BM25_TERMS, top_k=20)}
        )
    """)
def q_iv2_bm25(spark, sf_dir):
    """BM25 ranked retrieval (operators/index.bm25_scores) for a fixed
    3-term query: per-term tf is a map-side ``size(filter(split))`` —
    the corpus scans ONCE with zero shuffle; (N, avgdl, df) is one
    single-row aggregate broadcast back; top-20 by (rounded score desc,
    id) is TakeOrderedAndProject. The analytical twin of iv1's posting
    build — the shape for relevance-labeling a corpus against a fixed
    probe set."""
    d = load_table(spark, sf_dir, "documents")
    return bm25_scores(d, "doc_id", "text", _BM25_TERMS, top_k=20)


@query(oracle=f"""
        {SK.cms_sql('documents', 'text', _CMS_PROBES, depth=4, width=1024)}
    """)
def q_cm1_count_min(spark, sf_dir):
    """Count-min sketch frequency estimation (operators/sketch.py):
    build the 4×1024 sketch over the token stream (one shuffle that
    map-side-combines to ≤ d·width keys — the reducer never sees the
    vocabulary, unlike the exact census t7), then point-query five
    probe terms and join the exact counts alongside. Engine-exact, not
    just approximate: the md5-derived bucket rule restates verbatim in
    SQL, so est values (including the ≥ exact one-sided overcounts)
    hash-match. The absent probe term pins the coalesce(0) path."""
    d = load_table(spark, sf_dir, "documents")
    sketch = cms_build(d, "text", depth=4, width=1024)
    probes = spark.createDataFrame([(t,) for t in _CMS_PROBES], "term string")
    est = cms_estimate(sketch, probes, "term", depth=4, width=1024)
    exact = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
        .where(F.col("term").isin(_CMS_PROBES))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    return est.join(exact, "term", "left").select(
        "term",
        F.col("est").cast("long").alias("est"),
        F.coalesce(F.col("exact"), F.lit(0)).cast("long").alias("exact"),
    )


@query(oracle=f"""
        {IX.bpe_merge_sql('documents', 'doc_id', 'text')}
    """)
def q_tk1_bpe_merge(spark, sf_dir):
    """One BPE vocabulary-induction iteration (operators/index.py
    bpe_merge_step): corpus-wide argmax bigram (one map-side-combined
    shuffle, total-order tie-break) broadcasts as a 1-row literal; the
    merge itself is a map-side space-padded replace — the corpus never
    shuffles, so a tokenizer trainer's loop moves one string per
    iteration. Output census: per-doc token counts before/after."""
    d = load_table(spark, sf_dir, "documents")
    return bpe_merge_step(d, "doc_id", "text")


@query(oracle=f"""
        SELECT e.est_hll, e.registers_hit, e.sum_scaled, x.exact_distinct
        FROM (
          {SK.hll_sql("SELECT CAST(user_id AS VARCHAR) || ':' || CAST(CAST(ts AS DATE) AS VARCHAR) AS v FROM events", m=1024)}
        ) e,
        (
          SELECT count(DISTINCT CAST(user_id AS VARCHAR) || ':' ||
                       CAST(CAST(ts AS DATE) AS VARCHAR))::BIGINT AS exact_distinct
          FROM events
        ) x
    """)
def q_hl1_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-count sketch (operators/sketch.py
    hll_build/hll_estimate) over the classic crawl/telemetry distinct:
    daily-active user-days. Exact countDistinct shuffles EVERY distinct
    key; the sketch is ONE aggregate that map-side combines to <= 1024
    registers per partition and merges across days/splits by per-register
    max — the reducer sees O(m) rows at any corpus size. Engine-exact,
    not approximately-equal: register/rho come from md5 string
    arithmetic (no float log2) and the estimator evaluates ONE shared
    SQL fragment in both engines, so est_hll, registers_hit and the
    2^41-scaled integer register sum all hash-match; the exact count
    rides along to show the ~1.04/sqrt(1024) error envelope."""
    e = load_table(spark, sf_dir, "events")
    keys = e.select(
        F.concat(
            F.col("user_id").cast("string"),
            F.lit(":"),
            F.col("ts").cast("date").cast("string"),
        ).alias("v")
    )
    sk = hll_build(keys, "v", m=1024)
    est = hll_estimate(sk, m=1024)
    exact = keys.agg(F.countDistinct("v").alias("exact_distinct"))
    return est.crossJoin(exact)


@query(oracle=f"""
        {SK.bloom_sql(
            "SELECT DISTINCT text AS v FROM documents WHERE doc_id % 97 = 0",
            "SELECT doc_id, text, COALESCE(text IN (SELECT text FROM documents WHERE doc_id % 97 = 0), FALSE) AS exact_hit FROM documents",
            ["doc_id", "exact_hit"],
            "text",
            m_bits=64,
            k=2,
        )}
    """)
def q_bl1_bloom_filter(spark, sf_dir):
    """Bloom-filter membership pre-pass (operators/sketch.py
    bloom_build/bloom_probe) — the broadcast pruning step of a
    decontamination anti-join: the eval-benchmark texts (docs with
    doc_id % 97 == 0) key a filter whose set-bit array broadcasts as
    ONE row; every corpus doc then tests its k md5 positions with
    forall/array_contains IN THE SCAN STAGE — the corpus never
    shuffles, and only bloom candidates would reach the exact join.
    Deliberately undersized here (m=64 bits, k=2 for ~6 keys) so false
    positives EXIST and the sketch itself is pinned by the oracle —
    bloom_hit differs from exact_hit on FP rows; exact_hit rides along
    via a broadcast semi-mark to show no-false-negatives. Real sizing:
    m ≥ ~10n bits for ~1% FP at k=4 (docstring rule)."""
    d = load_table(spark, sf_dir, "documents")
    keyed = (
        d.where(F.col("doc_id") % 97 == 0)
        .select(F.col("text").alias("v"))
        .distinct()
    )
    bloom = bloom_build(keyed, "v", m_bits=64, k=2)
    pb = (
        d.select("doc_id", "text")
        .join(
            F.broadcast(keyed.withColumn("_in", F.lit(1))),
            F.col("text") == F.col("v"),
            "left",
        )
        .select("doc_id", "text", F.col("_in").isNotNull().alias("exact_hit"))
    )
    return bloom_probe(bloom, pb, "text", m_bits=64, k=2).select(
        "doc_id", "bloom_hit", "exact_hit"
    )


@query(oracle="""
        WITH t AS (
          SELECT doc_id,
                 unnest(list_distinct(string_split(text, ' '))) AS term
          FROM documents
        ),
        c AS (SELECT term, count(*) AS df FROM t GROUP BY 1),
        b AS (
          SELECT term, df FROM c
          WHERE df BETWEEN (SELECT count(*) * 3 // 5 FROM documents)
                       AND (SELECT count(*) * 4 // 5 FROM documents)
        )
        SELECT b.term, b.df,
               string_agg(t.doc_id::VARCHAR, ',' ORDER BY t.doc_id)
                 AS postings
        FROM t JOIN b USING (term)
        GROUP BY b.term, b.df
    """)
def q_iv1_inverted_index(spark, sf_dir):
    """Posting-list build (operators/index.py inverted_index): terms
    whose document frequency lies in the integer-exact relative band
    [3n/5, 4n/5] get their sorted doc-id posting list. The df census
    runs BEFORE the list aggregation so out-of-band (stop-word-grade)
    terms never materialize a posting list on any reducer — the skew
    guard that makes posting builds survive web scale."""
    d = load_table(spark, sf_dir, "documents")
    n = d.count()
    return inverted_index(d, "doc_id", "text", n * 3 // 5, n * 4 // 5)


@query(oracle="""
        WITH w AS (
          SELECT lang, string_split(text, ' ') AS ws FROM documents
        ),
        g AS (
          SELECT lang,
                 unnest(CASE WHEN len(ws) >= 2
                        THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                        ELSE [] END) AS gram
          FROM w
        ),
        c AS (SELECT lang, gram, count(*) AS n FROM g GROUP BY 1, 2),
        r AS (
          SELECT lang, gram, n,
                 CAST(row_number() OVER (
                   PARTITION BY lang ORDER BY n DESC, gram ASC
                 ) AS INT) AS rk
          FROM c
        )
        SELECT lang, gram, n, rk FROM r WHERE rk <= 3
    """)
def q_ng1_top_bigrams(spark, sf_dir):
    """Top-3 word bigrams per language (operators/index.py
    top_ngrams_per_group over functions/text.py word_bigrams): one
    fused zip_with pass builds grams in the scan projection, one
    partial+final count on (lang, gram), and the rk<=3 predicate
    pushes into WindowGroupLimit so shuffle partitions carry only
    their top candidates."""
    d = load_table(spark, sf_dir, "documents")
    return top_ngrams_per_group(d, "lang", T.word_bigrams(F.col("text")), 3)

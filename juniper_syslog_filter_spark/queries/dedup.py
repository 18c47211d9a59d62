"""Deduplication and contamination queries (d* except d8, cp3, ct*,
wn*): exact, MinHash-LSH, SimHash, n-gram Jaccard, connected-component
clusters, substring spans, paragraph dedup, incremental dedup,
winnowing fingerprints and train/test leakage audits.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..datagen import load_table
from ..driver_queries import query
from ..functions import text as T
from ..operators import dedup as D
from ..operators.contamination import contaminated_docs
from ..operators.dedup import paragraph_dedup
from ..operators.graph import dup_clusters
from ..operators.sampling import split_expr


# Shared MinHash-LSH candidate CTE (d2 + d4): char-8 shingles, 8 bands x
# 2 rows, bucket cap 1000 — the SQL twin of operators/dedup.py
# minhash_buckets → lsh_candidate_pairs.
_LSH_CAND_CTE = f"""
    WITH sh AS (
      SELECT doc_id, {D.char_shingles_sql('text', 8)} AS sh FROM documents
    ),
    buckets AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band, " + D.band_bucket_sql('sh', b, 2) + " AS bucket FROM sh"
          for b in range(8)
      )}
    ),
    ok_buckets AS (
      SELECT band, bucket FROM buckets GROUP BY 1, 2
      HAVING count(*) <= 1000
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM buckets a
      JOIN ok_buckets ob ON a.band = ob.band AND a.bucket = ob.bucket
      JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
                    AND a.doc_id < b.doc_id
    )
"""


def _split_case_sql(col: str) -> str:
    """DuckDB twin of operators/sampling.split_expr (defaults)."""
    h = f"substr(md5(CAST({col} AS VARCHAR) || ':split:42'), 1, 2)"
    return (
        f"CASE WHEN {h} < '0d' THEN 'test' "
        f"WHEN {h} < '1a' THEN 'val' ELSE 'train' END"
    )


@query(oracle="""
        SELECT min(doc_id) AS keeper_doc_id, count(*) AS n_copies
        FROM documents GROUP BY text
    """)
def q_d1_dedup_exact(spark, sf_dir):
    """Exact dedup via hash-groupBy: one keeper doc per distinct text."""
    d = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(d, ["text"], "doc_id").select(
        "keeper_doc_id", "n_copies"
    )


@query(oracle=f"""
        {_LSH_CAND_CTE}
        SELECT c.id_a, c.id_b,
               round({D.jaccard_sql('sa.sh', 'sb.sh')}, 6) AS jacc
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b
        WHERE round({D.jaccard_sql('sa.sh', 'sb.sh')}, 6) >= 0.5
    """)
def q_d2_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs over documents: char-8 shingles, 8
    bands x 2 rows, bucket self-join, exact-Jaccard >= 0.5 verify."""
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        d, "doc_id", "text", threshold=0.5, n_bands=8, rows_per_band=2, k=8
    )


@query(oracle=f"""
        SELECT doc_id, {D.simhash_sql('text', 32)} AS simhash32 FROM documents
    """)
def q_d3_simhash(spark, sf_dir):
    """32-bit SimHash fingerprint per document (near-dup bucketing key)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", D.simhash(F.col("text"), 32).alias("simhash32"))


@query(oracle=f"""
        {_LSH_CAND_CTE},
        ng AS (
          SELECT doc_id, {D.word_ngrams_sql('text', 2)} AS ng FROM documents
        )
        SELECT c.id_a, c.id_b,
               round({D.jaccard_sql('na.ng', 'nb.ng')}, 6) AS jacc
        FROM cand c
        JOIN ng na ON na.doc_id = c.id_a
        JOIN ng nb ON nb.doc_id = c.id_b
        WHERE round({D.jaccard_sql('na.ng', 'nb.ng')}, 6) >= 0.2
    """)
def q_d4_ngram_jaccard(spark, sf_dir):
    """Word-2-gram Jaccard near-dup pairs, routed through the MinHash-
    LSH candidate set (sub-quadratic: O(|candidates|) verify work, never
    an all-pairs self-join) — pairs with j >= 0.2 among LSH candidates."""
    d = load_table(spark, sf_dir, "documents")
    cand = D.lsh_candidate_pairs(
        D.minhash_buckets(d, "doc_id", "text", n_bands=8, rows_per_band=2, k=8),
        max_bucket=1000,
    )
    return D.verify_pairs_jaccard(d, cand, "doc_id", "text", threshold=0.2)


# Oracle: connected components as min-reachable-id over the
# symmetrized + self-looped d2 pair graph (recursive CTE; UNION dedup
# terminates).
@query(oracle=f"""
        {_LSH_CAND_CTE.replace("WITH sh", "WITH RECURSIVE sh", 1)}
        , pairs AS (
          SELECT c.id_a, c.id_b
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.id_a
          JOIN sh sb ON sb.doc_id = c.id_b
          WHERE round({D.jaccard_sql('sa.sh', 'sb.sh')}, 6) >= 0.5
        ),
        edges AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs
          UNION SELECT id_a, id_a FROM pairs
          UNION SELECT id_b, id_b FROM pairs
        ),
        reach(u, v) AS (
          SELECT u, v FROM edges
          UNION
          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        )
        SELECT u AS doc_id, MIN(v) AS cluster_id, MIN(v) = u AS is_keeper
        FROM reach GROUP BY u
    """)
def q_d6_dup_clusters(spark, sf_dir):
    """Duplicate-cluster closure: connected components over the d2
    MinHash-LSH verified pair graph (large-star/small-star, O(log² n)
    rounds on any graph shape — operators/graph.py), cluster id =
    component min, is_keeper marks the canonical survivor."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "doc_id", "text", threshold=0.5, n_bands=8, rows_per_band=2, k=8
    )
    return dup_clusters(pairs.select("id_a", "id_b"))


@query(oracle="""
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        tiled AS (
          SELECT doc_id,
                 unnest(generate_series(0, len(ws) // 10 - 1)) AS slot, ws
          FROM w WHERE len(ws) >= 10
        ),
        p AS (
          SELECT doc_id,
                 array_to_string(ws[(slot*10+1):(slot*10+10)], ' ') AS passage
          FROM tiled
        ),
        occ AS (SELECT passage, count(*) AS occ FROM p GROUP BY passage)
        SELECT p.doc_id, count(*) AS n_pass,
               CAST(sum(CASE WHEN o.occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup
        FROM p JOIN occ o USING (passage)
        GROUP BY p.doc_id
    """)
def q_d7_passage_dedup(spark, sf_dir):
    """Exact duplicate-passage census (Lee et al. ACL'22 granularity):
    tile docs into non-overlapping 10-word windows, count global passage
    occurrences, per-doc total vs duplicated passages."""
    d = load_table(spark, sf_dir, "documents")
    return D.passage_dup_stats(d, "doc_id", "text", window=10)


@query(oracle=f"""
        WITH sh AS (
          SELECT doc_id, {D.simhash_sql('text', 32)} AS sh FROM documents
        ),
        bd AS (
          SELECT doc_id, sh, i.band, (sh >> (8 * i.band)) & 255 AS bucket
          FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) i
        ),
        ok AS (
          SELECT band, bucket FROM bd GROUP BY 1, 2 HAVING count(*) <= 1000
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.sh AS sh_a, b.sh AS sh_b
          FROM bd a
          JOIN ok ON ok.band = a.band AND ok.bucket = a.bucket
          JOIN bd b ON a.band = b.band AND a.bucket = b.bucket
                   AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
        FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """)
def q_d5_simhash_hamming(spark, sf_dir):
    """Simhash near-dup pairs via band self-join (exact for hamming <=
    n_bands-1 by pigeonhole; Manku et al. WWW'07 dataflow) — the
    hamming-distance complement of d2's Jaccard LSH."""
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_hamming_pairs(
        d, "doc_id", "text", bits=32, n_bands=4, max_bucket=1000
    )


@query(oracle="""
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        g AS (
          SELECT DISTINCT doc_id,
                 array_to_string(ws[CAST(i AS INT):CAST(i + 3 AS INT)], ' ') AS gram
          FROM (
            SELECT doc_id, ws,
                   unnest(range(1, greatest(len(ws) - 2, 1))) AS i
            FROM w
          )
          WHERE len(ws) >= 4
        ),
        bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
        SELECT g.doc_id, count(*) AS n_shared
        FROM g JOIN bench b ON g.gram = b.gram
        WHERE g.doc_id % 97 <> 0
        GROUP BY 1
    """)
def q_ct1_contamination(spark, sf_dir):
    """Benchmark decontamination (operators/contamination.py): docs
    sharing any verbatim word 4-gram with the 'benchmark' subset
    (doc_id % 97 = 0 stands in for the eval suite). Benchmark gram set
    broadcasts; corpus grams dedupe per doc before the map-side join.
    4-grams (not the 8-13 of real text) because the synthetic corpus
    draws from a ~40-word vocabulary — same operator, scaled threshold."""
    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return contaminated_docs(corpus, bench, "doc_id", "text", n=4)


@query(oracle=f"""
        {_LSH_CAND_CTE}
        , verified AS (
          SELECT c.id_a, c.id_b
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.id_a
          JOIN sh sb ON sb.doc_id = c.id_b
          WHERE round({D.jaccard_sql('sa.sh', 'sb.sh')}, 6) >= 0.5
        )
        SELECT least({_split_case_sql('id_a')}, {_split_case_sql('id_b')}) AS split_lo,
               greatest({_split_case_sql('id_a')}, {_split_case_sql('id_b')}) AS split_hi,
               count(*) AS n_pairs,
               least({_split_case_sql('id_a')}, {_split_case_sql('id_b')})
                 <> greatest({_split_case_sql('id_a')}, {_split_case_sql('id_b')}) AS is_leak
        FROM verified
        GROUP BY 1, 2
    """)
def q_ct2_split_leakage(spark, sf_dir):
    """Cross-split leakage audit: near-duplicate pairs (the d2
    MinHash-LSH verified set) that straddle the train/val/test hash
    split. The split is a pure FUNCTION of doc_id
    (operators/sampling.split_expr), so both sides' assignments are
    computed map-side ON THE PAIR SET — zero joins back to the corpus;
    at 100 TB the audit costs one pass over the (tiny) pair table on
    top of the dedup run the pipeline already does. ``is_leak`` rows
    are what a data card must report: an eval doc whose near-twin sits
    in train inflates benchmark scores."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "doc_id", "text", threshold=0.5, n_bands=8, rows_per_band=2, k=8
    )
    sa = split_expr(F.col("id_a"))
    sb = split_expr(F.col("id_b"))
    return (
        pairs.select(
            F.least(sa, sb).alias("split_lo"),
            F.greatest(sa, sb).alias("split_hi"),
        )
        .groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("is_leak", F.col("split_lo") != F.col("split_hi"))
    )


# d13: staged-CTE twin of operators/dedup.exact_substring_spans —
# stride-1 word 8-grams (0-based pos), doc-frequency cap, pair join on
# the gram string, gaps-and-islands run merge on the alignment diagonal
# (within a (a, b, diag) group each pos_a occurs once, so
# pos_a - row_number() labels maximal consecutive runs).
@query(oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    gsrc AS (
      SELECT doc_id,
             unnest(range(1, greatest(len(w) - 8 + 2, 1)))::BIGINT AS i,
             w
      FROM words
    ),
    g AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(w[i : i + 8 - 1], ' ') AS gram
      FROM gsrc
    ),
    keep AS (
      SELECT gram FROM g
      GROUP BY gram HAVING count(DISTINCT doc_id) BETWEEN 2 AND 20
    ),
    gk AS (SELECT g.* FROM g JOIN keep USING (gram)),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
      FROM gk a JOIN gk b USING (gram)
      WHERE a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT doc_a, doc_b, diag, pos_a, pos_b,
             pos_a - row_number() OVER (
               PARTITION BY doc_a, doc_b, diag ORDER BY pos_a
             ) AS island
      FROM pairs
    )
    SELECT doc_a, doc_b,
           min(pos_a) AS a_start, min(pos_b) AS b_start,
           (count(*) + 8 - 1)::BIGINT AS span_words
    FROM runs
    GROUP BY doc_a, doc_b, diag, island
    HAVING (count(*) + 8 - 1) >= 12
""")
def q_d13_substring_spans(spark, sf_dir):
    """Exact any-offset duplicate spans with positions
    (operators/dedup.exact_substring_spans): every maximal word-aligned
    substring of ≥ 12 words shared verbatim by a doc pair, with its
    0-based start offset in each — the Lee et al. ACL'22
    exact-substring granularity that d7's fixed tiles approximate
    (a span straddling a tile boundary is invisible to d7; it is exact
    here). Stride-1 word 8-grams, boilerplate cap 20 before the
    self-join, gaps-and-islands run merge on the alignment diagonal.
    Join key is the gram STRING (collision-free ⇒ exact, no verify
    pass); at 100 TB dictionary-encode via xxhash64 + per-bucket string
    recheck. Oracle: the same grams/cap/pairs/islands staged as DuckDB
    CTEs."""
    d = load_table(spark, sf_dir, "documents")
    return D.exact_substring_spans(
        d, "doc_id", "text", k=8, min_len=12, max_docs_per_gram=20
    )


# d14: staged-CTE twin of operators/dedup.within_doc_repeated_spans —
# doc-local stride-1 word 5-grams, per-(doc,gram) occurrence cap,
# self-join restricted to pos_a < pos_b, islands on the offset delta.
@query(oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    gsrc AS (
      SELECT doc_id,
             unnest(range(1, greatest(len(w) - 2 + 2, 1)))::BIGINT AS i,
             w
      FROM words
    ),
    g AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(w[i : i + 2 - 1], ' ') AS gram
      FROM gsrc
    ),
    keep AS (
      SELECT doc_id, gram FROM g
      GROUP BY doc_id, gram HAVING count(*) BETWEEN 2 AND 20
    ),
    gk AS (SELECT g.* FROM g JOIN keep USING (doc_id, gram)),
    pairs AS (
      SELECT a.doc_id,
             a.pos AS pos_a, b.pos AS pos_b, b.pos - a.pos AS delta
      FROM gk a JOIN gk b USING (doc_id, gram)
      WHERE a.pos < b.pos
    ),
    runs AS (
      SELECT doc_id, delta, pos_a, pos_b,
             pos_a - row_number() OVER (
               PARTITION BY doc_id, delta ORDER BY pos_a
             ) AS island
      FROM pairs
    )
    SELECT doc_id,
           min(pos_a) AS a_start, min(pos_b) AS b_start,
           (count(*) + 2 - 1)::BIGINT AS span_words
    FROM runs
    GROUP BY doc_id, delta, island
    HAVING (count(*) + 2 - 1) >= 3
""")
def q_d14_within_doc_repeats(spark, sf_dir):
    """Within-document repeated spans
    (operators/dedup.within_doc_repeated_spans): every maximal
    word-aligned span of ≥ 10 words occurring at two positions INSIDE
    one document — the self-repetition half of exact-substring dedup
    (templated sections, paste-twice boilerplate) that d13's cross-doc
    form doesn't cover. Stride-1 word 2-grams, min span 3 words,
    per-(doc,gram) occurrence cap 20, gaps-and-islands on the offset
    delta. k/min_len are tuned DOWN for the synthetic fixture (its
    docs repeat only short phrases — k=5/min_len=10 yields zero rows
    corpus-wide, a vacuous oracle); production boilerplate removal
    runs the same operator at k=8/min_len=12 — a parameter choice, not
    a semantics change (tests/test_dedup.py exercises the long-span
    regime). Oracle: the same stages as DuckDB CTEs."""
    d = load_table(spark, sf_dir, "documents")
    return D.within_doc_repeated_spans(
        d, "doc_id", "text", k=2, min_len=3, max_occ_per_doc=20
    )


# d15: d14's span CTEs + removal — positions of every later occurrence
# explode to a per-doc drop set, surviving words re-join in order.
@query(oracle="""
    WITH words AS (
      SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
    ),
    gsrc AS (
      SELECT doc_id,
             unnest(range(1, greatest(len(w) - 2 + 2, 1)))::BIGINT AS i,
             w
      FROM words
    ),
    g AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(w[i : i + 2 - 1], ' ') AS gram
      FROM gsrc
      WHERE i + 2 - 1 <= len(w)
    ),
    keep AS (
      SELECT doc_id, gram FROM g
      GROUP BY doc_id, gram HAVING count(*) BETWEEN 2 AND 20
    ),
    gk AS (SELECT g.* FROM g JOIN keep USING (doc_id, gram)),
    pairs AS (
      SELECT a.doc_id,
             a.pos AS pos_a, b.pos AS pos_b, b.pos - a.pos AS delta
      FROM gk a JOIN gk b USING (doc_id, gram)
      WHERE a.pos < b.pos
    ),
    runs AS (
      SELECT doc_id, delta, pos_a, pos_b,
             pos_a - row_number() OVER (
               PARTITION BY doc_id, delta ORDER BY pos_a
             ) AS island
      FROM pairs
    ),
    spans AS (
      SELECT doc_id,
             min(pos_b) AS b_start,
             (count(*) + 2 - 1)::BIGINT AS span_words
      FROM runs
      GROUP BY doc_id, delta, island
      HAVING (count(*) + 2 - 1) >= 3
    ),
    drop_pos AS (
      SELECT DISTINCT doc_id,
             unnest(range(b_start, b_start + span_words))::BIGINT AS pos
      FROM spans
    ),
    wp AS (
      SELECT doc_id, unnest(range(1, len(w) + 1))::BIGINT - 1 AS pos, w
      FROM words
    ),
    kept AS (
      SELECT wp.doc_id, wp.pos, wp.w[(wp.pos + 1)::INT] AS word
      FROM wp
      WHERE NOT EXISTS (
        SELECT 1 FROM drop_pos dp
        WHERE dp.doc_id = wp.doc_id AND dp.pos = wp.pos
      )
    ),
    agg AS (
      SELECT doc_id,
             string_agg(word, ' ' ORDER BY pos) AS text_deduped,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT words.doc_id,
           coalesce(agg.text_deduped, '') AS text_deduped,
           (len(words.w) - coalesce(agg.n_kept, 0))::BIGINT AS n_removed
    FROM words LEFT JOIN agg USING (doc_id)
""")
def q_d15_remove_repeats(spark, sf_dir):
    """The removal ACTION over d14's detections
    (operators/dedup.remove_within_doc_repeats): each doc's later
    repeated-span occurrences are cut (positions [b_start,
    b_start+span) dropped, overlaps unioned) and the doc re-joined —
    one row per input doc with the deduped text and removed-word
    count. Same fixture-tuned k=2/min_len=3 as d14 (see its
    docstring); map-only fused detect+remove kernel, zero shuffle.
    Oracle: d14's span CTEs extended with position-explode → anti-join
    → ordered string_agg re-join."""
    d = load_table(spark, sf_dir, "documents")
    return D.remove_within_doc_repeats(
        d, "doc_id", "text", k=2, min_len=3, max_occ_per_doc=20
    )


# d16: identical chunking (12-word windows), identical first-occurrence
# election (row_number over the paragraph md5, (doc_id, pos) order) and
# ordered reassembly, restated in SQL. COALESCE('') matches Spark's
# concat_ws over an empty survivor set.
@query(oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents WHERE length(text) > 0
    ),
    idx AS (
      SELECT doc_id,
             unnest(range(CAST(ceil(len(w) / 12.0) AS BIGINT)))::BIGINT AS pos,
             w
      FROM words
    ),
    chunks AS (
      SELECT doc_id, pos,
             array_to_string(w[(pos*12+1):(pos*12+12)], ' ') AS par
      FROM idx
    ),
    sel AS (
      SELECT doc_id, pos, par,
             row_number() OVER (
               PARTITION BY md5(par) ORDER BY doc_id, pos
             ) AS rn
      FROM chunks
    )
    SELECT doc_id,
           count(*) AS n_par,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(
             string_agg(CASE WHEN rn = 1 THEN par END, ' ' ORDER BY pos),
             ''
           ) AS kept_text
    FROM sel GROUP BY doc_id
""")
def q_d16_paragraph_dedup(spark, sf_dir):
    """CCNet-style paragraph-level exact dedup
    (operators/dedup.paragraph_dedup): 12-word paragraph units,
    corpus-wide first occurrence kept ((doc_id, pos) order), document
    reassembled from survivors — the boilerplate-removal pass CCNet /
    RefinedWeb run before document-level dedup. Two linear shuffles
    (fingerprint window election + doc-id reassembly), no all-pairs
    term; the oracle restates the identical chunking, row_number
    election and ordered reassembly in SQL."""
    d = load_table(spark, sf_dir, "documents")
    return paragraph_dedup(d, "doc_id", "text", chunk_words=12)


@query(oracle=f"""
        WITH sh AS (
          SELECT doc_id, {D.simhash_sql('text', 32)} AS sh FROM documents
        ),
        bd AS (
          SELECT doc_id, sh, i.band, (sh >> (8 * i.band)) & 255 AS bucket
          FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) i
        ),
        ok AS (
          SELECT band, bucket FROM bd GROUP BY 1, 2 HAVING count(*) <= 1000
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.sh AS sh_a, b.sh AS sh_b
          FROM bd a
          JOIN ok ON ok.band = a.band AND ok.bucket = a.bucket
          JOIN bd b ON a.band = b.band AND a.bucket = b.bucket
                   AND a.doc_id < b.doc_id
        ),
        pairs AS (
          SELECT id_a, id_b FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
        )
        SELECT c.id_a, c.id_b,
               levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80))
                 AS edit_dist
        FROM pairs c
        JOIN documents a ON a.doc_id = c.id_a
        JOIN documents b ON b.doc_id = c.id_b
        WHERE levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80)) <= 40
    """)
def q_d11_edit_distance(spark, sf_dir):
    """Edit-distance near-dup verify over the SimHash Hamming-ball
    candidate set (the d5 blocker — near-identical docs are exactly
    where character-level edit distance is the right verifier):
    thresholded ``levenshtein`` on the 80-char prefixes of each
    candidate pair, keeping pairs within distance 40. Sub-quadratic
    like d4 (O(|candidates|) verify, never an all-pairs self-join);
    the distance is the JVM built-in with the Spark-4 threshold arg —
    a banded DP that early-exits past the bound (A/B at sf0.1:
    14.9 s → 11.7 s on the 214k-pair minhash set before switching
    blockers) — integer-exact on both engines, no float channel.
    Prefix-bounding caps the per-pair DP at O(80·40) regardless of
    document length, which is what keeps this affordable at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    cand = D.simhash_hamming_pairs(
        d, "doc_id", "text", bits=32, n_bands=4, max_bucket=1000
    ).select("id_a", "id_b")
    a = d.select(
        F.col("doc_id").alias("id_a"), F.substring("text", 1, 80).alias("ta")
    )
    b = d.select(
        F.col("doc_id").alias("id_b"), F.substring("text", 1, 80).alias("tb")
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b", F.levenshtein("ta", "tb", 40).alias("edit_dist")
        )
        .where((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= 40))
    )


@query(oracle=f"""
        WITH f AS (
          {T.winnow_sql('documents', 'doc_id', 'text')}
        )
        SELECT doc_id, len(fps)::BIGINT AS n_fps,
               list_min(fps) AS fp_min, list_max(fps) AS fp_max,
               coalesce(list_sum(fps), 0)::BIGINT AS fp_sum
        FROM f
    """)
def q_wn1_winnowing(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken
    SIGMOD'03 — the MOSS scheme): per doc, the distinct window minima
    of char-8-gram rolling hashes (window 8) guarantee any shared
    substring ≥ 15 chars shares a fingerprint at ~2/(w+1) density —
    the principled passage-dup alternative to t5's single whole-doc
    hash. Executes as one Arrow kernel pass (functions/text.py
    ``winnow_fingerprints``; the HOF spec twin would Horner per shingle
    interpreted — the d2 failure mode), map-only, zero shuffle; the
    per-doc census (count/min/max/sum of fingerprints) pins the full
    set value-exactly against the list-comprehension oracle."""
    d = load_table(spark, sf_dir, "documents")
    # One column, then project: the kernel runs ONCE per row (four
    # call sites would re-run the Arrow UDF per site).
    withfps = d.select(
        "doc_id", T.winnow_fingerprints(F.col("text")).alias("fps")
    )
    fps = F.col("fps")
    return withfps.select(
        "doc_id",
        F.size(fps).cast("long").alias("n_fps"),
        F.array_min(fps).alias("fp_min"),
        F.array_max(fps).alias("fp_max"),
        F.aggregate(
            fps, F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("fp_sum"),
    )


@query(oracle=f"""
        WITH w AS (
          {T.winnow_sql('documents', 'doc_id', 'text')}
        ),
        f AS (SELECT doc_id, unnest(fps) AS fp FROM w),
        keep AS (
          SELECT fp FROM f GROUP BY fp HAVING count(*) BETWEEN 2 AND 20
        ),
        g AS (SELECT f.doc_id, f.fp FROM f JOIN keep USING (fp))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               count(*)::BIGINT AS shared_fps
        FROM g a JOIN g b USING (fp)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 3
    """)
def q_wn2_winnow_overlap(spark, sf_dir):
    """Cross-doc passage overlap via shared winnowing fingerprints
    (operators/dedup.winnow_overlap_pairs): pairs sharing ≥3 selected
    fingerprints, with >20-doc fingerprints dropped as boilerplate
    before the self-join (the MOSS scheme, distributed) — detects
    shared passages d7's exact word tiling misses under 1-char edits.
    One Arrow signature pass, then everything JVM-side partitioned on
    ``fp``; Σ cap² bounds the join at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    return D.winnow_overlap_pairs(
        d, "doc_id", "text", max_docs_per_fp=20, min_shared=3
    )


@query(oracle=f"""
        {_LSH_CAND_CTE.replace("WITH sh", "WITH RECURSIVE sh", 1)}
        , pairs AS (
          SELECT c.id_a, c.id_b
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.id_a
          JOIN sh sb ON sb.doc_id = c.id_b
          WHERE round({D.jaccard_sql('sa.sh', 'sb.sh')}, 6) >= 0.5
        ),
        edges AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs
          UNION SELECT id_a, id_a FROM pairs
          UNION SELECT id_b, id_b FROM pairs
        ),
        reach(u, v) AS (
          SELECT u, v FROM edges
          UNION
          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        ),
        nonkeep AS (
          SELECT u AS doc_id FROM reach GROUP BY u HAVING MIN(v) <> u
        ),
        kept AS (
          SELECT * FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM nonkeep)
        ),
        totals AS (
          SELECT source, count(*) AS n_docs FROM documents GROUP BY source
        ),
        kc AS (
          SELECT source, count(*) AS n_kept,
                 CAST(sum(n_chars) AS BIGINT) AS kept_chars
          FROM kept GROUP BY source
        )
        SELECT t.source, t.n_docs, kc.n_kept,
               t.n_docs - kc.n_kept AS n_removed, kc.kept_chars
        FROM totals t JOIN kc USING (source)
    """)
def q_cp3_fuzzy_dedup_corpus(spark, sf_dir):
    """End-to-end fuzzy-dedup corpus build — the pipeline every public
    web-corpus effort runs as its main pass: MinHash-LSH verified pairs
    (d2 params) → connected-component clusters (d6) → keep the lowest
    doc_id per cluster → per-source census of the surviving corpus.
    Every stage is an already-oracle-checked operator; the composition
    adds one anti-join (sized to non-keepers, i.e. the duplicate set,
    not the corpus) and two partial aggregates."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "doc_id", "text", threshold=0.5, n_bands=8, rows_per_band=2, k=8
    )
    clusters = dup_clusters(pairs.select("id_a", "id_b"))
    drop = clusters.filter(~F.col("is_keeper")).select("doc_id")
    kept = d.join(drop, "doc_id", "left_anti")
    totals = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    kept_c = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
    )
    return totals.join(kept_c, "source").select(
        "source",
        "n_docs",
        "n_kept",
        (F.col("n_docs") - F.col("n_kept")).alias("n_removed"),
        "kept_chars",
    )


@query(oracle="""
        WITH f AS (
          SELECT doc_id, source, md5(text) AS fp FROM documents
        ),
        corpus AS (SELECT DISTINCT fp FROM f WHERE doc_id % 5 < 3),
        batch AS (SELECT * FROM f WHERE doc_id % 5 >= 3),
        fresh AS (SELECT b.* FROM batch b ANTI JOIN corpus c USING (fp)),
        w AS (SELECT fp, min(doc_id) AS doc_id FROM fresh GROUP BY 1)
        SELECT fr.fp, fr.doc_id, fr.source
        FROM fresh fr SEMI JOIN w ON fr.fp = w.fp AND fr.doc_id = w.doc_id
    """)
def q_d9_incremental_dedup(spark, sf_dir):
    """Incremental ingest dedup (operators/dedup.py
    incremental_exact_dedup): the 'new crawl drop vs existing corpus
    store' shape. Corpus = docs with doc_id%5<3 (their md5 fingerprint
    store); batch = the rest. Survivors = batch docs whose fp is not in
    the store, first-per-fp within the batch."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.col("text").cast("binary")).alias("fp")
    )
    corpus = d.where(F.col("doc_id") % 5 < 3).select("fp").distinct()
    batch = d.where(F.col("doc_id") % 5 >= 3)
    return D.incremental_exact_dedup(batch, corpus, "doc_id", "fp").select(
        "fp", "doc_id", "source"
    )


@query(oracle=f"""
        {_LSH_CAND_CTE}
        SELECT id_a, id_b FROM cand
        WHERE id_a % 5 >= 3 OR id_b % 5 >= 3
    """)
def q_d10_incremental_lsh(spark, sf_dir):
    """Incremental MinHash-LSH near-dup (operators/dedup.py
    incremental_lsh_candidates): new-batch docs (doc_id%5>=3) compute
    signatures and probe the stored band-bucket table of already-
    accepted docs (doc_id%5<3). The combined-membership bucket cap makes
    the result EXACTLY the full-corpus d2 candidate set restricted to
    pairs touching the batch — which is what the oracle states."""
    d = load_table(spark, sf_dir, "documents")
    store = d.where(F.col("doc_id") % 5 < 3)
    batch = d.where(F.col("doc_id") % 5 >= 3)
    sb = D.minhash_buckets(store, "doc_id", "text")
    bb = D.minhash_buckets(batch, "doc_id", "text")
    return D.incremental_lsh_candidates(bb, sb)

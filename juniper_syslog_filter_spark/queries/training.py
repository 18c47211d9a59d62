"""Training-data plumbing queries (sm*, sp1, sh1, mx1, cp1, cp2, ml1,
pk1): source quotas, weighted samples, hash splits, shard assignment,
mixture upsampling, the composed corpus build, token budgets, quality
classifier inference and sequence packing.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..datagen import load_table
from ..driver_queries import query
from ..functions import text as T
from ..operators import inference as INF
from ..operators import sampling as SAMP
from ..operators.inference import hashed_weights, score_documents
from ..operators.sampling import (
    group_quota, mixture_upsample, shard_assign, token_budget_select,
    train_val_split, weighted_sample,
)


@query(oracle="""
        SELECT doc_id, source, rk FROM (
          SELECT doc_id, source,
                 CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ) AS BIGINT) AS rk
          FROM documents
        ) WHERE rk <= 10
    """)
def q_sm1_source_quota(spark, sf_dir):
    """Deterministic per-source quota sample: at most 10 docs per
    source, ranked by md5(doc_id) — domain-mix balancing; hot-group skew
    is bounded by Catalyst's WindowGroupLimit partial top-k pushdown
    (see operators/sampling.py)."""
    d = load_table(spark, sf_dir, "documents")
    return group_quota(d, "source", "doc_id", k=10).select("doc_id", "source", "rk")


@query(oracle="""
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               CAST(sum(len(string_split(text, ' '))) OVER w AS BIGINT)
                 AS cum_tok,
               CAST((sum(len(string_split(text, ' '))) OVER w
                     - len(string_split(text, ' '))) // 256 AS BIGINT)
                 AS chunk_id
        FROM documents
        WINDOW w AS (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """)
def q_pk1_sequence_packing(spark, sf_dir):
    """Greedy sequence packing (concat-then-chunk): per source, in
    doc_id order, running token total; a doc's chunk_id is the 256-
    token window its first token lands in — the standard pretraining
    packing boundary (256-token windows here so the synthetic corpus
    actually crosses chunk boundaries). Pure window cumsum, one
    shuffle on source."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(n_tok).over(w)
    return d.select(
        "doc_id",
        "source",
        n_tok.alias("n_tok"),
        cum.alias("cum_tok"),
        F.floor((cum - n_tok) / F.lit(256)).cast("long").alias("chunk_id"),
    )


@query(oracle="""
        SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split:42'), 1, 2) < '0d' THEN 'test'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split:42'), 1, 2) < '1a' THEN 'val'
                    ELSE 'train' END AS split,
               lang,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY 1, 2
    """)
def q_sp1_train_split(spark, sf_dir):
    """Deterministic train/val/test hash split
    (operators/sampling.train_val_split): md5-bucket assignment, then
    the per-(split, lang) census a data card reports. Narrow projection
    + one partial-agg shuffle; identical assignment on any engine or
    rerun — the property randomSplit can't give."""
    d = load_table(spark, sf_dir, "documents")
    return (
        train_val_split(d, "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(oracle=f"""
        WITH kept AS (
          SELECT doc_id, n_chars,
                 {T.lang_id_sql('text')} AS lid,
                 md5(text) AS fp
          FROM documents
          WHERE {T.quality_rule_sql('text', 'n_chars')} = 'keep'
        ),
        winners AS (SELECT fp, min(doc_id) AS doc_id FROM kept GROUP BY fp),
        uniq AS (
          SELECT k.* FROM kept k
          JOIN winners w ON k.fp = w.fp AND k.doc_id = w.doc_id
        )
        SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split:42'), 1, 2) < '0d' THEN 'test'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split:42'), 1, 2) < '1a' THEN 'val'
                    ELSE 'train' END AS split,
               lid,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM uniq
        GROUP BY 1, 2
    """)
def q_cp1_corpus_pipeline(spark, sf_dir):
    """End-to-end training-corpus build composed in ONE declarative
    plan — the composition this engine exists for: C4/Gopher quality
    rules (keep only) → language ID → exact dedup (lowest doc_id per
    md5 fingerprint survives) → deterministic train/val/test hash
    split → per-(split, lang) data-card census. Every stage is an
    already-oracle-checked operator (fl1 rules, t4's lang_id kernel,
    d1 dedup, sp1 split); composing them keeps a single Catalyst plan
    with TWO shuffles total (fingerprint agg + census agg; the
    winner semi-join reuses the fingerprint partitioning) — everything
    else is map-side."""
    d = load_table(spark, sf_dir, "documents")
    kept = d.where(
        T.quality_rule_expr(F.col("text"), F.col("n_chars")) == "keep"
    ).select(
        "doc_id",
        "n_chars",
        T.lang_id(F.col("text")).alias("lid"),
        F.md5(F.col("text").cast("binary")).alias("fp"),
    )
    winners = kept.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    uniq = kept.join(winners, ["fp", "doc_id"], "left_semi")
    return (
        train_val_split(uniq, "doc_id")
        .groupBy("split", "lid")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(oracle=f"""
        WITH w AS ({INF.WEIGHTS_SQL}),
        toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents
        ),
        b AS (
          SELECT doc_id, substr(md5(tok), 1, 2) AS bucket
          FROM toks WHERE tok <> ''
        ),
        s AS (
          SELECT doc_id, round(1.0 / (1.0 + exp(-sum(w.w))), 6) AS score
          FROM b JOIN w USING (bucket) GROUP BY 1
        )
        SELECT doc_id, score,
               CASE WHEN score > 0.6 THEN 'keep' ELSE 'drop' END AS label
        FROM s
    """)
def q_ml1_quality_classifier(spark, sf_dir):
    """Model inference at scale (operators/inference.py): a
    fastText-style hashed bag-of-words linear classifier scores every
    document — the CCNet/GPT-3-style learned quality filter, the other
    half of the rule-based fl1. Tokens feature-hash to 256 buckets via
    ``substr(md5(tok),1,2)``; the 256-row weight vector rides a
    **broadcast join** (the model moves, the corpus doesn't — the
    100-TB inference pattern); one shuffle total (the per-doc partial
    sum); sigmoid + rounded-score threshold gives the keep/drop label.
    The weights are a deterministic seeded fixture so the oracle
    restates them as a ``range(256)`` CTE."""
    d = load_table(spark, sf_dir, "documents")
    return score_documents(d, "doc_id", "text", hashed_weights(spark))


@query(oracle="""
        WITH k AS (
          SELECT doc_id, md5(doc_id::VARCHAR || ':shuffle:42') AS _key
          FROM documents
        ),
        s AS (
          SELECT doc_id, _key,
                 ((strpos('0123456789abcdef', substr(_key, 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(_key, 2, 1)) - 1)) % 8
                   AS shard
          FROM k
        )
        SELECT doc_id, shard,
               row_number() OVER (PARTITION BY shard ORDER BY _key, doc_id)
                 AS pos
        FROM s
    """)
def q_sh1_shard_assign(spark, sf_dir):
    """Deterministic global corpus shuffle → trainer shard manifest
    (operators/sampling.shard_assign): every doc gets a reproducible
    pseudo-random ``(shard, pos)`` address — ``md5(id||salt)`` ordering,
    8 shards, ``row_number`` position within shard. The one shuffle IS
    the shard write's shuffle; ``rand()``/``repartition`` could promise
    neither cross-run nor cross-engine stability."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return shard_assign(d, "doc_id", n_shards=8).select("doc_id", "shard", "pos")


@query(oracle="""
        WITH p AS (
          SELECT doc_id, source,
                 (length(source)
                  + ascii(substr(source, length(source), 1))) % 2 + 1
                   AS base,
                 (ascii(substr(source, length(source), 1)) * 37
                  + length(source) * 11) % 256 AS frac,
                 md5(doc_id::VARCHAR || ':mix:42') AS _key
          FROM documents
        ),
        c AS (
          SELECT doc_id, source,
                 base + CASE WHEN
                   (strpos('0123456789abcdef', substr(_key, 1, 1)) - 1) * 16
                   + (strpos('0123456789abcdef', substr(_key, 2, 1)) - 1)
                   < frac THEN 1 ELSE 0 END AS n_copies
          FROM p
        ),
        up AS (
          SELECT doc_id, source, unnest(range(1, n_copies + 1)) AS epoch
          FROM c
        )
        SELECT source, epoch, count(*) AS n_docs, sum(doc_id)::BIGINT AS sum_ids
        FROM up GROUP BY 1, 2
    """)
def q_mx1_mixture_upsample(spark, sf_dir):
    """Fractional per-source mixture weighting
    (operators/sampling.mixture_upsample): sources repeat ``base``
    epochs (1-2, a deterministic fixture of the source string) plus one
    extra copy for the hash-selected fraction of docs — the
    LLaMA/Gopher data-recipe sampling proportions, implemented
    exactly-reproducibly (expected copies = the fractional weight,
    same extra copies every run/engine). Map-only: zero shuffle in the
    upsample itself; the census here adds the one verification agg."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    up = mixture_upsample(d, "doc_id", "source")
    return up.groupBy("source", "epoch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("sum_ids"),
    )


@query(oracle=f"""
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE n_chars > 0
        ORDER BY {SAMP.weighted_sample_sql('doc_id', 'n_chars')} DESC, doc_id
        LIMIT 100
    """)
def q_sm2_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (operators/sampling.py
    weighted_sample, Efraimidis-Spirakis A-ES): 100 documents drawn
    proportionally to n_chars via the deterministic md5-uniform
    ln(u)/w priority key. orderBy+limit compiles to
    TakeOrderedAndProject — per-partition top-k heaps, k rows per
    partition gathered, the corpus itself never shuffles — the shape a
    10^12-doc quality-weighted subsample needs. Engine-exact: the
    DuckDB twin orders by the same IEEE expression with the same
    literals, and the returned columns are the sampled rows themselves
    (no float in the contract)."""
    d = load_table(spark, sf_dir, "documents")
    return weighted_sample(
        d.select("doc_id", "lang", "n_chars"), "doc_id", "n_chars", 100
    )


@query(oracle="""
        WITH t AS (
          SELECT doc_id, lang, n_chars,
                 len(string_split(text, ' ')) AS tokens
          FROM documents
        ),
        c AS (
          SELECT lang, doc_id, tokens,
                 CAST(sum(tokens) OVER (
                   PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS BIGINT) AS cum_tokens
          FROM t
        )
        SELECT lang, doc_id, tokens, cum_tokens FROM c
        WHERE cum_tokens <= 2500
    """)
def q_cp2_token_budget(spark, sf_dir):
    """Per-language token-budget corpus cut (operators/sampling.py
    token_budget_select): rank docs inside each lang by length desc
    (doc_id tie-break), keep the greedy prefix whose running whitespace
    token count stays ≤ 2500. One window shuffle; cum sum is exact
    integer arithmetic on both engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    scored = d.select(
        "doc_id", "lang", "n_chars", toks.alias("tokens")
    )
    return token_budget_select(
        scored,
        "lang",
        "tokens",
        2500,
        [F.desc("n_chars"), F.asc("doc_id")],
    ).select("lang", "doc_id", "tokens", "cum_tokens")

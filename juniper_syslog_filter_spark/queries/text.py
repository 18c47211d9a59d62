"""Text-quality queries (t*, fl1): token stats, quality rules, language
ID, rolling fingerprints, BPE-ish tokens, document frequency,
repetition and unigram / bigram LM scores.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..datagen import load_table
from ..driver_queries import query
from ..functions import text as T


@query(oracle="""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               length(text) AS n_chars_m,
               round(length(text) / len(string_split(text, ' ')), 4) AS avg_token_len
        FROM documents
    """)
def q_t1_token_stats(spark, sf_dir):
    """Token counting (whitespace tokenizer) + char stats per doc."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").alias("n_chars_m"),
        F.round(F.length("text") / n_tokens, 4).alias("avg_token_len"),
    )


@query(oracle="""
        SELECT doc_id, lang,
               round(len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a'))
                     / len(string_split(text, ' ')), 4) AS stopword_ratio,
               CASE WHEN len(string_split(text, ' ')) < 20 THEN 'short'
                    WHEN len(string_split(text, ' ')) < 60 THEN 'medium'
                    ELSE 'long' END AS len_band
        FROM documents
    """)
def q_t2_quality_score(spark, sf_dir):
    """Quality scoring: stopword ratio + length band (training-data op)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: (t == "the") | (t == "a")))
    return d.select(
        "doc_id",
        "lang",
        F.round(n_stop / n_tokens, 4).alias("stopword_ratio"),
        F.when(n_tokens < 20, "short").when(n_tokens < 60, "medium").otherwise("long").alias("len_band"),
    )


@query(oracle="SELECT doc_id, md5(text) AS fp FROM documents")
def q_t3_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 over text bytes (exact-dup key)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.md5(F.col("text").cast("binary")).alias("fp"))


@query(oracle="""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents
        ),
        v AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        t AS (SELECT sum(cnt) AS tot FROM v),
        lp AS (
          SELECT token, ln(cnt::DOUBLE / tot::DOUBLE) AS logp FROM v, t
        )
        SELECT tok.doc_id, round(avg(logp), 6) AS lp
        FROM tok JOIN lp USING (token)
        GROUP BY tok.doc_id
    """)
def q_t10_unigram_logprob(spark, sf_dir):
    """CCNet-style unigram LM quality score: corpus unigram frequencies
    → per-doc mean log-probability (two aggregates + one token join the
    optimizer broadcasts; at web scale the vocab side is top-K-pruned
    with a tail default, per CCNet)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("tot"))
    lp = vocab.crossJoin(F.broadcast(tot)).select(
        "token",
        F.log(F.col("cnt").cast("double") / F.col("tot").cast("double")).alias("logp"),
    )
    return (
        tok.join(lp, "token")
        .groupBy("doc_id")
        .agg(F.round(F.avg("logp"), 6).alias("lp"))
    )


# t12: identical arithmetic order — log(0.7*(cb/c1) + 0.3*((c2+1)/(T+V)))
# over exact integer counts; per-doc mean rounded 6 (t10 convention).
@query(oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    uni AS (
      SELECT t.w AS w, count(*) AS cu
      FROM (SELECT unnest(ws) AS w FROM w) t GROUP BY 1
    ),
    stats AS (SELECT sum(cu) AS tot, count(*) AS vsz FROM uni),
    g AS (
      SELECT doc_id,
             unnest(CASE WHEN len(ws) >= 2
                         THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                         ELSE [] END) AS bg
      FROM w
    ),
    bgc AS (SELECT bg, count(*) AS cb FROM g GROUP BY 1),
    lm AS (
      SELECT bg,
             ln(0.7 * (cb::DOUBLE / u1.cu::DOUBLE)
                + 0.3 * ((u2.cu + 1)::DOUBLE / (s.tot + s.vsz)::DOUBLE)) AS logp
      FROM bgc
      JOIN uni u1 ON u1.w = string_split(bg, ' ')[1]
      JOIN uni u2 ON u2.w = string_split(bg, ' ')[-1]
      CROSS JOIN stats s
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(logp), 6) AS lp
    FROM g JOIN lm USING (bg) GROUP BY 1
""")
def q_t12_bigram_lm(spark, sf_dir):
    """Interpolated bigram LM quality score — the LM-scoring stage
    CCNet runs with KenLM, in its Spark-honest form: corpus bigram +
    unigram tables (two vocab-sized aggregates), score(w1,w2) =
    log(0.7·C(w1w2)/C(w1) + 0.3·(C(w2)+1)/(T+V)) (MLE bigram
    interpolated with an add-one unigram — every operand an exact
    integer ratio, so both engines fold identical IEEE doubles up to
    libm's log), per-doc mean over its bigrams, rounded 6 (the t10
    convention). Scale shape: the LM table is vocab²-bounded and in
    practice top-K-pruned + broadcast; here the corpus-side join
    shuffles on the bigram key — one corpus-linear Exchange, the same
    budget as t10. Docs with <2 words have no bigrams and are absent,
    matching the SQL twin's inner join."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    stats = uni.agg(
        F.sum("cu").alias("tot"), F.count(F.lit(1)).alias("vsz")
    )
    big = d.select(
        "doc_id", F.explode(T.word_bigrams(F.col("text"))).alias("bg")
    )
    bgc = big.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    parts = F.split(F.col("bg"), " ")
    lm = (
        bgc.withColumn("w1", parts.getItem(0))
        .withColumn("w2", F.element_at(parts, -1))
        .join(
            uni.select(F.col("w").alias("w1"), F.col("cu").alias("c1")), "w1"
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("cu").alias("c2")), "w2"
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "bg",
            F.log(
                F.lit(0.7)
                * (F.col("cb").cast("double") / F.col("c1").cast("double"))
                + F.lit(0.3)
                * (
                    (F.col("c2") + 1).cast("double")
                    / (F.col("tot") + F.col("vsz")).cast("double")
                )
            ).alias("logp"),
        )
    )
    return (
        big.join(lm, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("logp"), 6).alias("lp"),
        )
    )


@query(oracle="""
        WITH w AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents
        ),
        g AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2)
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_words,
               count(*) AS n_distinct,
               round(1 - count(*)::DOUBLE / sum(c), 6) AS dup_word_frac,
               round(max(c)::DOUBLE / sum(c), 6) AS top_word_frac
        FROM g GROUP BY doc_id
    """)
def q_t8_word_repetition(spark, sf_dir):
    """Gopher-style repetition/quality stats per doc: word count,
    distinct-word count, duplicate-word fraction, top-word fraction —
    explode + two partial-agg shuffles, no per-doc Python."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
    g = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    return g.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(F.lit(1.0) - F.count(F.lit(1)) / F.sum("c"), 6).alias(
            "dup_word_frac"
        ),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_word_frac"),
    )


@query(oracle=f"""
        SELECT doc_id, lang, {T.lang_id_sql('text')} AS pred_lang FROM documents
    """)
def q_t4_lang_id(spark, sf_dir):
    """Language-ID heuristic: per-language stopword votes, argmax."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", T.lang_id(F.col("text")).alias("pred_lang"))


@query(oracle=f"""
        SELECT doc_id, {T.rolling_hash_sql('text')} AS fp_roll FROM documents
    """)
def q_t5_rolling_fp(spark, sf_dir):
    """Rolling-hash (poly mod 1e9+7) document fingerprint."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", T.rolling_hash(F.col("text")).alias("fp_roll"))


@query(oracle=f"""
        SELECT doc_id, {T.bpe_token_count_sql('text')} AS n_bpe FROM documents
    """)
def q_t6_bpe_tokens(spark, sf_dir):
    """BPE-ish regex pre-tokenizer count (\\w+|[^\\w\\s])."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", T.bpe_token_count(F.col("text")).alias("n_bpe"))


@query(oracle="""
        SELECT token, count(*) AS df FROM (
          SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
          FROM documents
        ) GROUP BY token
        ORDER BY df DESC, token ASC LIMIT 50
    """)
def q_t7_doc_freq(spark, sf_dir):
    """Corpus document frequency: explode each doc's DISTINCT token set,
    count docs per token, top-50 (df desc, token asc) — the IDF building
    block; partial-agg + TakeOrderedAndProject, no full sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split(F.col("text"), " "))
    return (
        d.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(50)
    )


@query(oracle=f"""
        SELECT {T.quality_rule_sql('text', 'n_chars')} AS rule,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY 1
    """)
def q_fl1_quality_filter(spark, sf_dir):
    """C4/Gopher-style quality-filter cascade
    (functions/text.quality_rule_expr): label every doc with the first
    rule it violates, then the per-rule drop census — the standard
    filtering dashboard. One expression pass + one partial-agg shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            T.quality_rule_expr(F.col("text"), F.col("n_chars")).alias("rule"),
            "n_chars",
        )
        .groupBy("rule")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(oracle="""
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        g AS (
          SELECT doc_id, ws,
                 CASE WHEN len(ws) >= 2
                      THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                      ELSE [] END AS grams
          FROM w
        )
        SELECT doc_id,
               len(ws) AS n_words,
               len(list_distinct(ws)) AS uniq_words,
               len(list_distinct(grams)) AS uniq_bigrams,
               round(1 - len(list_distinct(ws)) / len(ws)::DOUBLE, 6)
                 AS dup_word_frac,
               CASE WHEN len(grams) > 0
                    THEN round(1 - len(list_distinct(grams))
                               / len(grams)::DOUBLE, 6)
                    ELSE 0.0 END AS dup_bigram_frac
        FROM g
    """)
def q_t11_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals (functions/text.py
    repetition_exprs): duplicate word fraction + duplicate word-bigram
    fraction per doc. Pure map-side — two fused array passes per row
    (split once, one zip_with for bigrams), no shuffle, no Python; at
    100 TB this rides the same scan as the other per-doc quality
    columns."""
    d = load_table(spark, sf_dir, "documents")
    ex = T.repetition_exprs(F.col("text"))
    return d.select(
        "doc_id",
        ex["n_words"].alias("n_words"),
        ex["uniq_words"].alias("uniq_words"),
        ex["uniq_bigrams"].alias("uniq_bigrams"),
        ex["dup_word_frac"].alias("dup_word_frac"),
        ex["dup_bigram_frac"].alias("dup_bigram_frac"),
    )

"""Driver-contract queries: one entry per implemented operator family
(SURVEY.md §2), each over the driver-provided tables at ``sf_dir`` with a
DuckDB oracle twin in :data:`ORACLE_SQL`.

Engine-parity rules observed throughout:

* every computed column is aliased identically in Spark and SQL;
* float aggregates are rounded (the driver hashes values);
* regex patterns use only ``\\d \\s \\w`` — identical semantics across
  Java regex (Spark) and RE2 (DuckDB);
* dot products fold left-to-right in both engines as doubles → the
  sums are bit-identical.

The ``m_*`` (message-pipeline) queries synthesize the reference's syslog
message grammar deterministically from ``events`` with pure integer
arithmetic, then run the full F1→F7 extract/classify chain — this is the
reference pipeline expressed relationally, oracle-checked end-to-end.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .datagen import load_table
from .functions import parse as P
from .functions import text as T
from .functions import pii as PII
from .functions.ip import classify_ip_expr
from .operators import dedup as D
from .operators import inference as INF
from .operators.graph import (
    connected_components,
    dup_clusters,
    pagerank,
    pagerank_step,
)
from .operators import index as IX
from .operators import similarity as S
from .operators import sketch as SK
from .operators.rangejoin import prior_window_count
from .operators import sampling as SAMP
from .operators.sampling import group_quota
from .operators.skewjoin import salted_join

# ---------------------------------------------------------------------------
# Synthesized syslog message over events (shared Spark/SQL definition).
# ---------------------------------------------------------------------------

# severity mapping per event_type (the enrich dimension, inline).
_SEV_CASES = [
    ("error", "CRITICAL", 2),
    ("purchase", "WARNING", 4),
    ("signup", "INFO", 6),
    ("click", "NOTICE", 5),
    ("view", "DEBUG", 7),
]

_MSG_SQL = """
    CASE WHEN event_id % 97 = 0
         THEN event_type || '_EVENT: heartbeat keepalive'
         ELSE event_type || '_EVENT: observed ' ||
              CASE event_id % 3
                WHEN 0 THEN '10.' || (user_id % 256)::VARCHAR || '.' || (event_id % 256)::VARCHAR || '.' || (event_id % 254 + 1)::VARCHAR
                WHEN 1 THEN '172.' || (16 + user_id % 16)::VARCHAR || '.0.' || (event_id % 254 + 1)::VARCHAR
                ELSE '192.168.' || (user_id % 256)::VARCHAR || '.' || (event_id % 254 + 1)::VARCHAR
              END || '/' || (1024 + event_id % 60000)::VARCHAR || ' > ' ||
              CASE WHEN event_id % 5 < 2
                THEN '10.' || (event_id % 200)::VARCHAR || '.7.' || (user_id % 254 + 1)::VARCHAR
                ELSE '203.0.' || (user_id % 256)::VARCHAR || '.' || (event_id % 254 + 1)::VARCHAR
              END || '/' ||
              CASE event_id % 4 WHEN 0 THEN '22' WHEN 1 THEN '80' WHEN 2 THEN '443' ELSE '8080' END ||
              ' protocol=' || CASE event_id % 3 WHEN 0 THEN 'tcp' WHEN 1 THEN 'udp' ELSE 'icmp' END ||
              ' SeverityLevel=' || CASE event_type WHEN 'error' THEN '2' WHEN 'purchase' THEN '4' WHEN 'signup' THEN '6' WHEN 'click' THEN '5' ELSE '7' END ||
              ' Severity=' || CASE event_type WHEN 'error' THEN 'CRITICAL' WHEN 'purchase' THEN 'WARNING' WHEN 'signup' THEN 'INFO' WHEN 'click' THEN 'NOTICE' ELSE 'DEBUG' END
    END
"""


def _msg_col() -> F.Column:
    """Spark twin of :data:`_MSG_SQL` (column name contract: Message)."""
    eid, uid, etype = F.col("event_id"), F.col("user_id"), F.col("event_type")

    def s(c):
        return c.cast("string")

    src = (
        F.when(eid % 3 == 0, F.concat(F.lit("10."), s(uid % 256), F.lit("."), s(eid % 256), F.lit("."), s(eid % 254 + 1)))
        .when(eid % 3 == 1, F.concat(F.lit("172."), s(uid % 16 + 16), F.lit(".0."), s(eid % 254 + 1)))
        .otherwise(F.concat(F.lit("192.168."), s(uid % 256), F.lit("."), s(eid % 254 + 1)))
    )
    dst = F.when(
        eid % 5 < 2,
        F.concat(F.lit("10."), s(eid % 200), F.lit(".7."), s(uid % 254 + 1)),
    ).otherwise(F.concat(F.lit("203.0."), s(uid % 256), F.lit("."), s(eid % 254 + 1)))
    dport = (
        F.when(eid % 4 == 0, "22").when(eid % 4 == 1, "80").when(eid % 4 == 2, "443").otherwise("8080")
    )
    proto = F.when(eid % 3 == 0, "tcp").when(eid % 3 == 1, "udp").otherwise("icmp")
    sev = F.when(etype == "error", "CRITICAL").when(etype == "purchase", "WARNING").when(etype == "signup", "INFO").when(etype == "click", "NOTICE").otherwise("DEBUG")
    lvl = F.when(etype == "error", "2").when(etype == "purchase", "4").when(etype == "signup", "6").when(etype == "click", "5").otherwise("7")

    full = F.concat(
        etype, F.lit("_EVENT: observed "),
        src, F.lit("/"), s(eid % 60000 + 1024),
        F.lit(" > "), dst, F.lit("/"), dport,
        F.lit(" protocol="), proto,
        F.lit(" SeverityLevel="), lvl,
        F.lit(" Severity="), sev,
    )
    return F.when(eid % 97 == 0, F.concat(etype, F.lit("_EVENT: heartbeat keepalive"))).otherwise(full)


def _events_with_msg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # The message-synth + extract chain is CPU-bound; the sf-dir events
    # table is ONE small single-row-group parquet file, i.e. one input
    # split, which would serialize the whole chain onto one core. Fan
    # out first — same small-input guard as zip_source/dedup. At real
    # scale the scan has >= defaultParallelism splits and this is a
    # no-op branch; the chain itself stays map-only.
    par = spark.sparkContext.defaultParallelism
    if ev.rdd.getNumPartitions() < par:
        ev = ev.repartition(par)
    return ev.withColumn("Message", _msg_col())


# ---------------------------------------------------------------------------
# Queries.
# ---------------------------------------------------------------------------

def q_p1_filter_keyword(spark, sf_dir):
    """P1 keyword filter (modules/filter_keyword.py): case-sensitive
    literal contains over documents.text."""
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").contains("spark"))
        .select("doc_id", "lang", "n_chars")
    )


def q_p2_filter_severity(spark, sf_dir):
    """P2 equality filter (modules/filter_critical.py) on events."""
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select("event_id", "user_id", F.round("value", 2).alias("value_r"))
    )


def q_p3_filter_merge(spark, sf_dir):
    """P3 filter_and_merge (modules/filter_critical_and_merge.py:30-127):
    severity equality filter + merge to a single output partition (the
    reference concatenates survivors into one CSV)."""
    from .operators.filters import filter_and_merge_severity

    df = _events_with_msg(spark, sf_dir).select(
        "event_id", P.extract_severity_expr(F.col("Message")).alias("Severity")
    )
    return filter_and_merge_severity(df, "CRITICAL")


def q_p4_reduce_columns(spark, sf_dir):
    """P4 positional projection (modules/reduce_columns.py) keep [0,1,3]."""
    from .operators.project import reduce_columns

    return reduce_columns(load_table(spark, sf_dir, "events"), [0, 1, 3])


def q_f3_extract_regex(spark, sf_dir):
    """F3-style regexp_extract (modules/extract_protocol.py:31 shape) over
    the events JSON props column; no-match → ''."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).alias("k_str"),
    )


def q_m1_parse_classify(spark, sf_dir):
    """Reference pipeline F1→F7 relationally over synthesized messages:
    routing extract, IP split, private/global classify, protocol +
    severity extracts — '' conventions throughout."""
    df = _events_with_msg(spark, sf_dir)
    msg = F.col("Message")
    routing = P.extract_routing_expr(msg)
    src, dst = P.split_ip_exprs(routing)
    out = df.select(
        "event_id",
        routing.alias("routing"),
        src.alias("srcIP"),
        dst.alias("dstIP"),
        P.extract_protocol_expr(msg).alias("protocol"),
        P.extract_severity_level_expr(msg).alias("SeverityLevel"),
        P.extract_severity_expr(msg).alias("Severity"),
    )
    return out.select(
        "event_id", "routing", "srcIP",
        classify_ip_expr(F.col("srcIP")).alias("srcIP_type"),
        "dstIP",
        classify_ip_expr(F.col("dstIP")).alias("dstIP_type"),
        "protocol", "SeverityLevel", "Severity",
    )


def q_m2_critical_routed(spark, sf_dir):
    """Phases 1-10 composed: keyword filter → parse → classify →
    severity filter (the reference's canonical CLI path, run.py:42-433)."""
    df = _events_with_msg(spark, sf_dir).filter(F.col("Message").contains("observed"))
    msg = F.col("Message")
    routing = P.extract_routing_expr(msg)
    src, dst = P.split_ip_exprs(routing)
    out = df.select(
        "event_id",
        routing.alias("routing"),
        src.alias("srcIP"),
        dst.alias("dstIP"),
        P.extract_severity_expr(msg).alias("Severity"),
    ).filter(F.col("Severity") == "CRITICAL")
    return out.select(
        "event_id", "routing",
        classify_ip_expr(F.col("srcIP")).alias("srcIP_type"),
        classify_ip_expr(F.col("dstIP")).alias("dstIP_type"),
        "Severity",
    )


def q_m3_route_aggregate(spark, sf_dir):
    """The north-rule aggregate: groupBy(severity, date).count() over the
    parsed stream (per-sink count contract, SURVEY §2.5)."""
    df = _events_with_msg(spark, sf_dir)
    return (
        df.select(
            P.extract_severity_expr(F.col("Message")).alias("severity"),
            F.to_date("ts").alias("date"),
        )
        .groupBy("severity", "date")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_j1_broadcast_enrich(spark, sf_dir):
    """Broadcast lookup join (north rule enrich; SURVEY §2.6): inline
    severity-class dimension joined to events."""
    dim = spark.createDataFrame(
        [(et, sev, lvl) for et, sev, lvl in _SEV_CASES],
        "event_type string, severity string, severity_level int",
    )
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.join(F.broadcast(dim), "event_type", "left")
        .groupBy("severity", "severity_level")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def q_j2_orders_customer(spark, sf_dir):
    """Shuffle join + aggregate (scale path: hash join on keys, AQE)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q_a1_lineitem_pricing(spark, sf_dir):
    """TPC-H Q1-shaped partial+final hash aggregate over lineitem."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_u1_union_merge(spark, sf_dir):
    """U1 UNION ALL + re-chunk (modules/merge_files.py): two filtered
    subsets unioned then counted per user."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "error")
    b = ev.filter(F.col("event_type") == "purchase")
    return (
        a.unionByName(b)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_d1_dedup_exact(spark, sf_dir):
    """Exact dedup via hash-groupBy: one keeper doc per distinct text."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("keeper_doc_id", "n_copies")


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


def q_t3_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 over text bytes (exact-dup key)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.md5(F.col("text").cast("binary")).alias("fp"))


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


def q_d2_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs over documents: char-8 shingles, 8
    bands x 2 rows, bucket self-join, exact-Jaccard >= 0.5 verify."""
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        d, "doc_id", "text", threshold=0.5, n_bands=8, rows_per_band=2, k=8
    )


def q_d3_simhash(spark, sf_dir):
    """32-bit SimHash fingerprint per document (near-dup bucketing key)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", D.simhash(F.col("text"), 32).alias("simhash32"))


def q_d4_ngram_jaccard(spark, sf_dir):
    """Word-2-gram Jaccard near-dup pairs, routed through the MinHash-
    LSH candidate set (sub-quadratic: O(|candidates|) verify work, never
    an all-pairs self-join) — pairs with j >= 0.2 among LSH candidates."""
    d = load_table(spark, sf_dir, "documents")
    cand = D.lsh_candidate_pairs(
        D.minhash_buckets(d, "doc_id", "text", n_bands=8, rows_per_band=2, k=8),
        max_bucket=1000,
    )
    return D.verify_pairs_jaccard(
        d, cand, "doc_id", "text", D.word_ngram_sig_udf(2), threshold=0.2
    )


def q_d6_dup_clusters(spark, sf_dir):
    """Duplicate-cluster closure: connected components over the d2
    MinHash-LSH verified pair graph (min-label propagation, diameter-
    bounded rounds — operators/graph.py), cluster id = component min,
    is_keeper marks the canonical survivor."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "doc_id", "text", threshold=0.5, n_bands=8, rows_per_band=2, k=8
    )
    return dup_clusters(pairs.select("id_a", "id_b"))


def q_t9_pii_redact(spark, sf_dir):
    """PII census + redaction over the synthesized event messages plus
    a deterministic contact suffix (email, phone): per-event counts of
    emails/phones/IPv4s and the fully-redacted text. Pure JVM regexp —
    map-only, zero shuffle (functions/pii.py)."""
    ev = _events_with_msg(spark, sf_dir)
    txt = F.concat(
        F.col("Message"),
        F.lit(" contact=user"),
        F.col("user_id").cast("string"),
        F.lit("@example.org tel=+1-555-"),
        F.lpad((F.col("event_id") % 10000).cast("string"), 4, "0"),
    )
    return ev.select(
        "event_id",
        PII.pii_count(txt, PII.EMAIL_RE).alias("n_email"),
        PII.pii_count(txt, PII.PHONE_RE).alias("n_phone"),
        PII.pii_count(txt, PII.IPV4_RE).alias("n_ip"),
        PII.redact_pii(txt).alias("red"),
    )


def q_d7_passage_dedup(spark, sf_dir):
    """Exact duplicate-passage census (Lee et al. ACL'22 granularity):
    tile docs into non-overlapping 10-word windows, count global passage
    occurrences, per-doc total vs duplicated passages."""
    d = load_table(spark, sf_dir, "documents")
    return D.passage_dup_stats(d, "doc_id", "text", window=10)


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


def q_d5_simhash_hamming(spark, sf_dir):
    """Simhash near-dup pairs via band self-join (exact for hamming <=
    n_bands-1 by pigeonhole; Manku et al. WWW'07 dataflow) — the
    hamming-distance complement of d2's Jaccard LSH."""
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_hamming_pairs(
        d, "doc_id", "text", bits=32, n_bands=4, max_bucket=1000
    )


def q_sm1_source_quota(spark, sf_dir):
    """Deterministic per-source quota sample: at most 10 docs per
    source, ranked by md5(doc_id) — domain-mix balancing; hot-group skew
    is bounded by Catalyst's WindowGroupLimit partial top-k pushdown
    (see operators/sampling.py)."""
    d = load_table(spark, sf_dir, "documents")
    return group_quota(d, "source", "doc_id", k=10).select("doc_id", "source", "rk")


def q_w5_range_join(spark, sf_dir):
    """Banded time-range self-join: per event, the count of events in
    the preceding 5 minutes (half-open) — the equi-bin + residual-filter
    form of an inequality join (no BroadcastNestedLoop)."""
    ev = load_table(spark, sf_dir, "events")
    return prior_window_count(ev, "event_id", "ts", window_sec=300, out_col="n_prior")


def q_a2_rollup(spark, sf_dir):
    """ROLLUP aggregate (day × event_type with subtotals + grand total)
    — multi-level reporting in ONE pass: Spark expands grouping sets
    map-side, so it's a single shuffle, not one job per level."""
    ev = load_table(spark, sf_dir, "events")
    d = F.to_date("ts").alias("d")
    return ev.rollup(d, "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        # grouping_id disambiguates subtotal NULLs from data NULLs
        F.grouping_id().cast("long").alias("gid"),
    )


def q_a3_percentiles(spark, sf_dir):
    """Exact percentiles per group (F.percentile — linear interpolation,
    the same definition as SQL quantile_cont). Exact quantiles need a
    per-group sort; at 100 TB the approx_percentile sketch (t-digest,
    mergeable map-side) is the scale path — exact is the oracle-checkable
    contract here."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
    )


def q_a7_approx_percentiles(spark, sf_dir):
    """The 100-TB scale path a3's docstring names: mergeable
    approx_percentile sketches (Spark: Greenwald–Khanna
    QuantileSummaries; map-side combinable like a t-digest) instead of
    the exact per-group sort. Approx values are engine-specific, so the
    oracle checks a rank-error CERTIFICATE instead of the value: the
    sketch guarantees the returned element's rank is within
    ``err·n = n/accuracy`` of ``q·n``; we join the (5-row) sketch
    output back to events broadcast and count ``value < approx`` /
    ``value <= approx`` — the element's rank interval is
    ``[n_lt+1, n_le]``, and ``ok`` asserts it overlaps
    ``[q·n − err·n − 1, q·n + err·n + 1]`` (±1 element of float-slack).
    Exact p50/p95 ride along as the value-exact columns, so the query
    still pins real numbers. Two group-sized shuffles, one broadcast —
    the corpus is scanned twice but never shuffled wide."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    acc = 10000
    ap = ev.groupBy("event_type").agg(
        F.expr(f"approx_percentile(value, 0.5, {acc})").alias("_a50"),
        F.expr(f"approx_percentile(value, 0.95, {acc})").alias("_a95"),
    )
    j = ev.join(F.broadcast(ap), "event_type")

    def _rank_ok(a: str, q: float):
        n = F.count(F.lit(1)).cast("double")
        lt = F.sum((F.col("value") < F.col(a)).cast("long")).cast("double")
        le = F.sum((F.col("value") <= F.col(a)).cast("long")).cast("double")
        err = F.lit(1.0 / acc) * n
        target = F.lit(q) * n
        return (lt + 1 <= target + err + 1) & (le >= target - err - 1)

    return j.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
        F.count(F.lit(1)).alias("n"),
        _rank_ok("_a50", 0.5).alias("ok50"),
        _rank_ok("_a95", 0.95).alias("ok95"),
    )


def q_j3_semi_anti(spark, sf_dir):
    """LEFT SEMI + LEFT ANTI joins (EXISTS / NOT EXISTS): customers
    flagged by whether they have any order. Both plan to a single-column
    hash join with no payload duplication — the fan-out-free existence
    check (vs an inner join + distinct, which explodes then dedups)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    cond = F.col("c_custkey") == F.col("o_custkey")
    semi = c.join(o, cond, "left_semi").select(
        "c_custkey", F.lit(True).alias("has_order")
    )
    anti = c.join(o, cond, "left_anti").select(
        "c_custkey", F.lit(False).alias("has_order")
    )
    return semi.unionAll(anti)


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


def q_s2_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs blocked by the 4-plane LSH
    bucket (cos >= 0.4; the synthetic embeddings top out at ~0.49) —
    candidate count is sum of bucket-size squares, not n^2."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.lsh_blocked_neardup(e, threshold=0.4, n_planes=4)


def q_s3_lsh_ann(spark, sf_dir):
    """Hyperplane-LSH ANN: candidates share the query's 8-bit sign
    bucket; exact cosine top-10 among them (scale path of s1)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    return S.lsh_ann_topk(
        e.filter(F.col("vec_id") != 0), q, k=10, n_planes=8
    )


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


def q_s5_semantic_dedup(spark, sf_dir):
    """SemDeDup: IVF-cell clustering + within-cell cosine near-dup;
    keep = no lower-id neighbor at cos >= 0.4 in the same cell."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.semantic_dedup(e, n_cells=8, threshold=0.4)


def q_pk1_sequence_packing(spark, sf_dir):
    """Greedy sequence packing (concat-then-chunk): per source, in
    doc_id order, running token total; a doc's chunk_id is the 256-
    token window its first token lands in — the standard pretraining
    packing boundary (256-token windows here so the synthetic corpus
    actually crosses chunk boundaries). Pure window cumsum, one
    shuffle on source."""
    from pyspark.sql import Window

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


def q_t4_lang_id(spark, sf_dir):
    """Language-ID heuristic: per-language stopword votes, argmax."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", T.lang_id(F.col("text")).alias("pred_lang"))


def q_t5_rolling_fp(spark, sf_dir):
    """Rolling-hash (poly mod 1e9+7) document fingerprint."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", T.rolling_hash(F.col("text")).alias("fp_roll"))


def q_t6_bpe_tokens(spark, sf_dir):
    """BPE-ish regex pre-tokenizer count (\\w+|[^\\w\\s])."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", T.bpe_token_count(F.col("text")).alias("n_bpe"))


def q_w1_sessionize(spark, sf_dir):
    """Window-function sessionization: 30-min-gap sessions per user over
    events; returns per-user session counts."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ with microsecond precision → the gap test must
    # run in MICROSECONDS on both sides (oracle: epoch_us). Whole-second
    # truncation misclassifies gaps straddling the 1800 s boundary.
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(micros).over(w)
    new_sess = F.when(prev.isNull() | ((micros - prev) > 1800 * 1_000_000), 1).otherwise(0)
    return (
        ev.select("user_id", new_sess.alias("ns"))
        .groupBy("user_id")
        .agg(F.sum("ns").alias("n_sessions"))
    )


def q_w11_session_window(spark, sf_dir):
    """Native session windows (F.session_window, 30-min gap) — the
    built-in twin of w1's lag/cumsum sessionization, emitting the
    actual window bounds. Boundary semantics, pinned EXPERIMENTALLY
    (tests/test_funnel_retention.py): the merge is INCLUSIVE — an event
    at exactly window-end (gap seconds after the last event) still
    merges; only a strictly greater gap starts a new session. That is
    the same `>` island test as w1; end = last event ts + gap.
    Microsecond arithmetic on both sides."""
    ev = load_table(spark, sf_dir, "events")
    sw = F.session_window(F.col("ts"), "30 minutes")
    return (
        ev.groupBy(sw.alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("sess_start"),
            F.col("sw.end").alias("sess_end"),
            "n_events",
        )
    )


def q_w3_tumbling_window(spark, sf_dir):
    """Tumbling 1-hour time-window aggregate via F.window — the batch
    twin of the streaming windowed count (streaming.py); window start is
    epoch-aligned, i.e. date_trunc('hour')."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts"), "1 hour")["start"].alias("win_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def q_w6_sliding_window(spark, sf_dir):
    """Sliding (hopping) 1-hour window with a 30-minute slide — each
    event lands in 2 overlapping windows. F.window with a slide emits
    one Expand-style row per hop, then the usual partial+final
    aggregate; the SQL twin drives the same two hops from
    date_trunc arithmetic (hop k in {0,1}: start = trunc(ts - k*30min
    to the 30-min grid)). Completes the window family: tumbling w3,
    streaming tumbling st3, session w1/st1."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "1 hour", "30 minutes")
    return (
        ev.groupBy(win["start"].alias("win_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def q_w7_event_gaps(spark, sf_dir):
    """LAG-based inter-event gaps: per user, the time since their
    previous event (epoch-second delta), aggregated into per-user
    gap stats. One window sort per user partition + one aggregate —
    the standard funnel/engagement cadence block."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    # whole microseconds (unix_micros <-> DuckDB epoch_us): exact integer
    # arithmetic on both engines; second-level functions floor/round
    # fractional timestamps differently.
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag(F.col("ts").cast("timestamp")).over(w)
    )
    return (
        ev.select("user_id", gap.alias("gap_us"))
        .where(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_us").alias("min_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
            F.sum("gap_us").alias("total_gap_us"),
        )
    )


def q_a5_cube(spark, sf_dir):
    """CUBE aggregate over (event day, event_type): all four grouping
    sets — (day, type), (day), (type), () — in ONE Expand pass (same
    operator family as a2's ROLLUP, with the cross subtotals);
    grouping_id labels each set for the consumer."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    return (
        ev.cube(day, F.col("event_type"))
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def q_w4_asof_join(spark, sf_dir):
    """As-of join (operators/asof.py): each event picks the user's
    latest order at-or-before the event time (ties → greatest orderkey)
    via the union-sort-window shape — one shuffle, no pair explosion."""
    from .operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders")
    out = asof_join(
        ev, orders,
        left_key="user_id", right_key="o_custkey",
        left_ts="ts", right_ts="o_orderdate",
        payload_cols=["o_orderkey"], tie_col="o_orderkey",
    )
    return out.select("event_id", "user_id", F.col("o_orderkey").alias("last_orderkey"))


def _stream_session(spark, n: int = 8):
    """Dedicated session for the streaming demos: ``newSession()``
    shares the SparkContext (same executors, same warehouse) but owns
    an ISOLATED SQLConf, so the state-store shard width is set without
    mutating the caller's session — the round-4 fix for the last
    global-conf mutation (racy under concurrent sessions).

    Why the width matters: a streaming checkpoint pins its state
    partitioning at FIRST run to the session's
    ``spark.sql.shuffle.partitions`` (it can never change afterwards —
    resizing state means a new checkpoint), and every micro-batch pays
    per-shard provider/commit overhead whether or not a shard holds
    data. These bounded drains carry test-scale state, so 8 shards is
    the honest size; a production deployment sizes this up-front from
    target state volume, not from the batch session's shuffle width.

    The streaming plan must be BUILT on this session (readStream and
    any static join side); the finished parquet output can be read
    back on the caller's session."""
    s = spark.newSession()
    # session-level confs are not inherited by newSession(); the tz
    # matters for st3's window/timestamp_ntz round-trip.
    s.conf.set(
        "spark.sql.session.timeZone",
        spark.conf.get("spark.sql.session.timeZone"),
    )
    s.conf.set("spark.sql.shuffle.partitions", str(n))
    return s


def q_st1_sessionize_stream(spark, sf_dir):
    """Stateful streaming sessionize (streaming.sessionize_stream:
    ``applyInPandasWithState`` + event-time timeout) drained with
    availableNow over the static events table, then read back. Emits
    every session provably CLOSED under the final watermark (gap
    exceeded in-batch, or timeout once the watermark passed last+gap).
    Deterministic for a fixed input, but intentionally has NO SQL
    oracle: the emitted set depends on watermark/timeout semantics
    (ms-truncated timeout timestamps, strict-inequality firing) that an
    ANSI query can't restate faithfully — the driver's rows-only check
    plus the pytest batch-equivalence test
    (tests/test_streaming.py::test_sessionize_stream_matches_batch_oracle)
    cover it."""
    import os
    import tempfile

    from .streaming import sessionize_stream

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    tmp = tempfile.mkdtemp(prefix="st1_")
    # FileStreamSource requires a directory source; the testdata table is a
    # single file — expose it through a symlinked directory (no copy).
    src_dir = f"{tmp}/src"
    os.makedirs(src_dir)
    os.symlink(os.path.abspath(path), f"{src_dir}/events.parquet")
    ss = _stream_session(spark)
    stream = ss.readStream.schema(schema).parquet(src_dir)
    # testdata parquet stores ts as TIMESTAMP_NTZ (watermarks require
    # TIMESTAMP) and bigint user_id (SESSION_SCHEMA keys by string).
    events = stream.select(
        F.col("user_id").cast("string").alias("user_id"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    sessions = sessionize_stream(events, gap_minutes=30, watermark_delay="1 second")
    q = (
        sessions.writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(f"{tmp}/out")


def q_st2_stream_dedup(spark, sf_dir):
    """STREAMING exact dedup — the exactly-once corpus-dedup front of a
    crawl ingest: stream the documents table, fingerprint each text
    (md5), ``dropDuplicates`` on the fingerprint (streaming state =
    seen-fingerprint set, sharded by the fingerprint shuffle), drain
    availableNow to parquet. Unlike st1, this IS oracle-checkable: the
    emitted set is exactly the distinct fingerprint set regardless of
    micro-batch boundaries or arrival order, so the DuckDB twin is a
    plain SELECT DISTINCT. At real scale the watermarked variant
    (``dropDuplicatesWithinWatermark``) bounds the state to the dedup
    horizon; the unbounded form here matches the batch-exact oracle."""
    import os
    import tempfile

    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    tmp = tempfile.mkdtemp(prefix="st2_")
    src_dir = f"{tmp}/src"
    os.makedirs(src_dir)
    os.symlink(os.path.abspath(path), f"{src_dir}/documents.parquet")
    stream = _stream_session(spark).readStream.schema(schema).parquet(src_dir)
    deduped = (
        stream.select(F.md5(F.col("text").cast("binary")).alias("fp"))
        .dropDuplicates(["fp"])
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(f"{tmp}/out")


def q_st6_stream_dedup_watermark(spark, sf_dir):
    """BOUNDED-STATE streaming dedup — the call st2's docstring names
    as the 100-TB form: ``withWatermark`` + ``dropDuplicatesWithinWatermark``.
    State holds only fingerprints younger than the dedup horizon (10
    min here) instead of every fingerprint ever seen — on an unbounded
    crawl ingest that is the difference between O(horizon) and O(corpus)
    state. Event time is the deterministic warc_ts twin (base +
    doc_id seconds); the whole fixture spans one horizon and drains in
    one availableNow pass, so the emitted set is exactly the distinct
    fingerprint set and the DuckDB twin stays a plain SELECT DISTINCT."""
    import os
    import tempfile

    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    tmp = tempfile.mkdtemp(prefix="st6_")
    src_dir = f"{tmp}/src"
    os.makedirs(src_dir)
    os.symlink(os.path.abspath(path), f"{src_dir}/documents.parquet")
    stream = _stream_session(spark).readStream.schema(schema).parquet(src_dir)
    ts = F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(
        secs=F.col("doc_id").cast("double")
    )
    deduped = (
        stream.select(
            F.md5(F.col("text").cast("binary")).alias("fp"), ts.alias("ts")
        )
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["fp"])
        .select("fp")
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(f"{tmp}/out")


def q_a4_pivot(spark, sf_dir):
    """Pivot (long→wide): per-user event counts, one column per event
    type. The value list is EXPLICIT — with it, Spark pivots in a
    single pass (no extra distinct-values job) and the output schema is
    static, which is what a 100-TB job needs anyway."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL for absent combos; report 0 like the oracle
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
    )


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


def q_w2_topk_per_group(spark, sf_dir):
    """Top-3 orders by price per market segment (row_number window)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment", "o_orderkey", "o_totalprice"
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "o_orderkey", F.round("o_totalprice", 2).alias("price"))
    )


_NATION_COLS = ["n_nationkey", "n_name", "n_regionkey"]


def _zip_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic ZIP-of-CSV fixture derived from the nation table
    (25 rows) — the S1/S2 source format the reference consumes
    (modules/extract.py:22-170). Content is a pure function of the
    table, so the DuckDB twin reads the same rows from parquet."""
    import hashlib
    import os
    import tempfile
    import zipfile

    rows = load_table(spark, sf_dir, "nation").orderBy("n_nationkey").collect()
    lines = [",".join(_NATION_COLS)] + [
        f"{r.n_nationkey},{r.n_name},{r.n_regionkey}" for r in rows
    ]
    payload = ("\n".join(lines) + "\n").encode("utf-8")
    digest = hashlib.sha1(payload).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"jsf_zipfix_{digest}")
    zpath = os.path.join(d, "logs.zip")
    if not os.path.exists(zpath):
        os.makedirs(d, exist_ok=True)
        tmp = f"{zpath}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            zf.writestr("nation.csv", payload)
        os.replace(tmp, zpath)  # atomic: concurrent callers see all-or-nothing
    return d


def q_z1_zip_source(spark, sf_dir):
    """S1/S2 ZIP source through the distributed binaryFile+mapInPandas
    reader (sources/zip_source.py): all member fields read as strings
    with the reference's ''-for-missing convention; src_zip is dropped
    (it is a temp path) but src_member and the _error channel are kept."""
    from .sources.zip_source import extract_zip_csvs

    fixture = _zip_fixture_dir(spark, sf_dir)
    out = extract_zip_csvs(spark, fixture, columns=_NATION_COLS)
    return out.select(*_NATION_COLS, "src_member", "_error")


def _warc_fixture_dir(
    spark: SparkSession, sf_dir: str, wrap_html: bool = False
) -> str:
    """Deterministic .warc.gz fixture derived from the documents table —
    the Common-Crawl-style archive form of the north-star input
    (BASELINE.json input_hint: pages ingested from WARC). Four archives
    (doc_id % 4), one gzip member per record (the Common Crawl layout),
    each record an HTTP response wrapping the document text, with the
    real ``WARC-Identified-Content-Language`` header carrying lang.
    Bytes are a pure function of the table (mtime=0 gzip, counter
    timestamps), so the DuckDB twin restates the rows from parquet."""
    import hashlib
    import os
    import tempfile
    from datetime import datetime, timedelta

    from .sources.warc_source import (
        http_response_bytes, warc_record_bytes, write_warc_file,
    )

    rows = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
        .collect()
    )
    base = datetime(2024, 1, 1)
    shards: list[list[bytes]] = [[], [], [], []]
    # format version: bump on layout change (stale /tmp dirs regenerate)
    salt = b"warcfix-html-v2" if wrap_html else b"warcfix-v3-cdx"
    digest = hashlib.sha1(salt)
    for r in rows:
        payload = r.text
        if wrap_html:
            # realistic page shell: visible text + an entity, plus a
            # script whose CONTENT must vanish in text extraction
            payload = (
                '<html><body><div class="c"><p>'
                + r.text
                + " &amp; more</p></div><script>var x = 1;</script></body></html>"
            )
        body = http_response_bytes(payload.encode("utf-8"))
        rec = warc_record_bytes(
            "response",
            body,
            url=f"https://example.org/doc/{r.doc_id}",
            date_iso=(base + timedelta(seconds=r.doc_id)).strftime(
                "%Y-%m-%dT%H:%M:%SZ"
            ),
            record_id=f"urn:uuid:00000000-0000-4000-8000-{r.doc_id:012d}",
            content_lang=r.lang,
        )
        shards[r.doc_id % 4].append(rec)
        digest.update(rec)
    d = os.path.join(
        tempfile.gettempdir(), f"jsf_warcfix_{digest.hexdigest()[:12]}"
    )
    done = os.path.join(d, ".done")
    if not os.path.exists(done):
        os.makedirs(d, exist_ok=True)
        # Two processes may race here.  Each part file and its CDX
        # sidecar go to pid-unique temp names and are os.replace'd into
        # place, so a reader that already saw .done (published by the
        # other process) never observes a truncated archive — content is
        # deterministic, so concurrent replaces are idempotent.
        for i, recs in enumerate(shards):
            part = os.path.join(d, f"part-{i}.warc.gz")
            tmp = f"{part}.{os.getpid()}.tmp"
            write_warc_file(tmp, recs)
            os.replace(f"{tmp}.cdx", f"{part}.cdx")
            os.replace(tmp, part)  # atomic per-file publish
        with open(f"{done}.{os.getpid()}.tmp", "w") as fh:
            fh.write("ok")
        os.replace(f"{done}.{os.getpid()}.tmp", done)  # atomic publish
    return d


def q_wc1_warc_source(spark, sf_dir):
    """Common-Crawl-style WARC ingest (sources/warc_source.py): four
    .warc.gz archives (one gzip member per record) → binaryFile scan →
    Content-Length-driven record parse in mapInPandas → HTTP envelope
    strip → one row per page. The in-task record_types filter drops
    warcinfo records before the Arrow boundary; warc_ts and the
    WARC-Identified-Content-Language header round-trip. This is the
    ingest that would populate the north-star pages table."""
    from .sources.warc_source import http_body, read_warc

    fixture = _warc_fixture_dir(spark, sf_dir)
    recs = read_warc(spark, fixture, record_types=["response"])
    return recs.select(
        "url",
        "warc_ts",
        "content_lang",
        F.decode(http_body(F.col("content")), "UTF-8").alias("text"),
        "_error",
    )


def q_wc3_wet_extract(spark, sf_dir):
    """WET generation — the text-extraction pass a crawl pipeline runs
    over raw HTML (functions/text.html_to_text): WARC response records
    wrapping realistic page shells (tags, an entity, a script block
    whose content must VANISH, not survive tag-stripping) → HTTP
    envelope strip → regex cascade to visible text. The oracle states
    the expected TEXT directly from the documents table, so the check
    proves true recovery, not just twin agreement. All JVM regexp —
    map-only, zero Python after the archive parse."""
    from .sources.warc_source import http_body, read_warc

    fixture = _warc_fixture_dir(spark, sf_dir, wrap_html=True)
    recs = read_warc(spark, fixture, record_types=["response"])
    html = F.decode(http_body(F.col("content")), "UTF-8")
    return recs.select("url", T.html_to_text(html).alias("text"))


def q_wc2_warc_indexed(spark, sf_dir):
    """CDX ranged-read WARC ingest (sources/warc_source.read_warc_indexed):
    the tiny offset index scans distributed, (file, offset, length)
    triples repartition across the cluster, and each task seeks into
    its archive and reads ONLY its gzip member — record-level
    parallelism independent of archive count (the Common-Crawl CDX
    pattern; on object stores the seek becomes a ranged GET). Same
    fixture and same oracle as wc1."""
    from .sources.warc_source import http_body, read_warc_indexed

    fixture = _warc_fixture_dir(spark, sf_dir)
    recs = read_warc_indexed(spark, fixture, record_types=["response"])
    return recs.select(
        "url",
        "warc_ts",
        "content_lang",
        F.decode(http_body(F.col("content")), "UTF-8").alias("text"),
        "_error",
    )


def q_mm1_media_meta(spark, sf_dir):
    """Multimodal plumbing: documents.text treated as an opaque binary
    media column; metadata (byte length, md5) extracted batch-wise in an
    Arrow-vectorized mapInPandas (operators/multimodal.py)."""
    from .operators.multimodal import media_metadata

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    return media_metadata(d, id_col="doc_id", content_col="content")


def q_mm4_media_resize(spark, sf_dir):
    """Multimodal RESIZE step (operators/multimodal.resize_media):
    factor-4 mean pooling over the raw bytes — area-average downscaling
    of a single channel, codec-free, all-integer (floor division, no
    float racing). The DuckDB twin restates the pooling with ord() over
    the ASCII text (byte == codepoint for this corpus)."""
    from .operators.multimodal import resize_media

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    return resize_media(d, factor=4, max_out=16)


def q_g1_grouped_ols(spark, sf_dir):
    """Grouped-MAP applyInPandas surface (operators/grouped.py):
    per-source OLS fit of n_chars ~ doc_id, emitting residuals. The
    kernel's moments are exact int64 sums and every float derives via
    pinned-order divisions, so the SQL twin restating the same moment
    expressions is bit-identical before the shared round."""
    from .operators.grouped import ols_residuals

    d = load_table(spark, sf_dir, "documents")
    out = ols_residuals(d, "source", "doc_id", "n_chars", "doc_id")
    return out.select("doc_id", "source", F.round("resid", 6).alias("resid"))


def q_g2_grouped_agg_median(spark, sf_dir):
    """Grouped-AGGREGATE pandas_udf surface: per-source LOWER median of
    n_chars (an element of the data — exact in int64) computed by a
    Series→scalar Arrow UDF. Spark disallows mixing group-agg pandas
    UDFs with built-in aggregates in one agg (INVALID_PANDAS_UDF_
    PLACEMENT), so the row count rides as a second pandas aggregate."""
    from .operators.grouped import group_count_udf, lower_median_udf

    med = lower_median_udf()
    cnt = group_count_udf()
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        med("n_chars").alias("med_chars"),
        cnt("n_chars").alias("n_docs"),
    )


def q_g3_cogroup_asof(spark, sf_dir):
    """COGROUP applyInPandas surface: the w4 as-of semantics (each
    event picks the user's latest order at-or-before its timestamp,
    ties → greatest orderkey) executed as a per-user pandas merge_asof
    over cogrouped frames — both sides shuffle once on user_id and
    each user's pair of frames streams through one kernel call."""
    from .operators.grouped import cogroup_asof

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders")
    out = cogroup_asof(
        ev, orders,
        key="user_id", right_key="o_custkey",
        left_ts="ts", right_ts="o_orderdate",
        payload_col="o_orderkey", id_col="event_id",
    )
    return out.select(
        "event_id", "user_id", F.col("o_orderkey").alias("last_orderkey")
    )


def q_mm2_frame_sample(spark, sf_dir):
    """Multimodal 1→N expansion: video-style frame sampling over the
    opaque binary column (operators/multimodal.sample_frames) — the
    mapInPandas table-function shape a real decoder plugs into. Frames
    are byte slices (step = len // 4), fingerprinted per frame; the
    DuckDB twin restates the slice arithmetic on the ASCII text (char
    length == byte length), so the md5s value-match."""
    from .operators.multimodal import sample_frames

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    frames = sample_frames(d, n_frames=4)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.md5("frame").alias("frame_md5"),
        F.length("frame").cast("int").alias("frame_bytes"),
    )


def q_mm3_media_features(spark, sf_dir):
    """Multimodal decode→featurize batch pipeline
    (operators/multimodal.extract_features): the deterministic
    content-addressed stand-in featurizer (md5-digest bytes / 256 —
    every value an exact dyadic fraction, so float32 storage and the
    DuckDB double twin agree bit-for-bit with NO rounding step). The
    Arrow batch shape and schema are exactly what a real CLIP/codec
    extractor would use; only the kernel body is the declared stub."""
    from .operators.multimodal import extract_features

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    return extract_features(d).select("doc_id", "feature")


def q_mm5_png_decode(spark, sf_dir):
    """REAL image decode (functions/png.py, stdlib zlib + per-scanline
    unfiltering — closes the round-4 multimodal codec gate): every 5th
    doc_id becomes a deterministic 10×16 grayscale PNG whose pixel i is
    the closed form ``(doc_id·31 + 7i) mod 256``, encoded with the
    per-row filter cycle [None, Sub, Up, Average, Paeth] so the decode
    path exercises ALL five unfilter branches, then
    ``extract_features`` decodes the pixels back and emits 8 exact
    image statistics. The DuckDB twin restates the statistics from the
    closed form directly — it never sees the PNG bytes — so a value
    match proves true encode→decode pixel recovery, not twin agreement.
    Map-only both sides: generation and decode ride the same
    mapInPandas tasks, zero shuffles."""
    from .operators.multimodal import extract_features

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") % 5 == 0)
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        from juniper_syslog_filter_spark.functions.png import encode_png

        i = np.arange(160, dtype=np.int64)
        for pdf in batches:
            blobs = [
                encode_png(
                    ((int(did) * 31 + i * 7) % 256)
                    .astype(np.uint8)
                    .reshape(10, 16),
                    filters=[0, 1, 2, 3, 4],
                )
                for did in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": blobs})

    imgs = d.mapInPandas(gen, "doc_id long, content binary")
    return extract_features(imgs).select("doc_id", "feature")


def q_j4_shipping_priority(spark, sf_dir):
    """TPC-H Q3-shaped 3-way join + aggregate + top-k (customer ⋈
    orders ⋈ lineitem): segment/date filters push to the scans, the two
    joins shuffle on their keys (AQE picks broadcast for the filtered
    customer side when it fits), and the top-10 is
    TakeOrderedAndProject — local heap per partition, no global sort.
    Revenue is rounded BEFORE the ordering so both engines rank the
    same values; ties break on l_orderkey."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_j5_region_volume(spark, sf_dir):
    """TPC-H Q5-shaped 6-way join (customer ⋈ orders ⋈ lineitem ⋈
    supplier ⋈ nation ⋈ region) with the local-supplier constraint
    ``c_nationkey = s_nationkey``. nation/region (and supplier at this
    sf) broadcast; the fact-side joins shuffle on their keys and
    Catalyst orders them — the classic join-reordering/broadcast
    showcase the single-table reference never needed."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1999-01-01"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(l, o["o_orderkey"] == l["l_orderkey"])
        .join(
            s,
            (l["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_sp1_train_split(spark, sf_dir):
    """Deterministic train/val/test hash split
    (operators/sampling.train_val_split): md5-bucket assignment, then
    the per-(split, lang) census a data card reports. Narrow projection
    + one partial-agg shuffle; identical assignment on any engine or
    rerun — the property randomSplit can't give."""
    from .operators.sampling import train_val_split

    d = load_table(spark, sf_dir, "documents")
    return (
        train_val_split(d, "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def q_ct1_contamination(spark, sf_dir):
    """Benchmark decontamination (operators/contamination.py): docs
    sharing any verbatim word 4-gram with the 'benchmark' subset
    (doc_id % 97 = 0 stands in for the eval suite). Benchmark gram set
    broadcasts; corpus grams dedupe per doc before the map-side join.
    4-grams (not the 8-13 of real text) because the synthetic corpus
    draws from a ~40-word vocabulary — same operator, scaled threshold."""
    from .operators.contamination import contaminated_docs

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return contaminated_docs(corpus, bench, "doc_id", "text", n=4)


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
    from .operators.sampling import split_expr

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


def q_st3_stream_window(spark, sf_dir):
    """STREAMING tumbling-window aggregate with a watermark — the
    readStream twin of w3: 1-hour windows × event_type counts in append
    mode, drained availableNow. Emitted = windows CLOSED under the
    final watermark (max event time − 1 s); Spark's no-data micro-batch
    (on by default) advances the watermark after the last data batch so
    the flush is deterministic. Oracle-checkable because the emitted
    set depends only on max(ts), restated in SQL as
    ``HAVING win_end <= max(ts) - INTERVAL 1 SECOND``. The final
    in-flight hour stays in state — exactly what a continuous pipeline
    wants (it would emit when the next hour's data arrives)."""
    import os
    import tempfile

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    tmp = tempfile.mkdtemp(prefix="st3_")
    src_dir = f"{tmp}/src"
    os.makedirs(src_dir)
    os.symlink(os.path.abspath(path), f"{src_dir}/events.parquet")
    stream = _stream_session(spark).readStream.schema(schema).parquet(src_dir)
    agg = (
        stream.select(
            F.col("ts").cast("timestamp").alias("ts"), "event_type"
        )
        .withWatermark("ts", "1 second")
        .groupBy(F.window(F.col("ts"), "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window")["start"].alias("win_start"), "event_type", "n"
        )
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(f"{tmp}/out")
    # session tz is UTC → ntz cast is value-preserving; matches w3's
    # (and the oracle's) naive-timestamp win_start.
    return out.select(
        F.col("win_start").cast("timestamp_ntz").alias("win_start"),
        "event_type",
        "n",
    )


def q_st4_stream_stream_join(spark, sf_dir):
    """STREAMING stream-stream interval join: purchases joined to error
    events of the same user within the following 60 minutes — the
    funnel/attribution shape. Both sides carry
    watermarks and the join condition carries the time bound, so state
    is purged as event time advances (without the bound, stream-stream
    join state grows without limit — the property that matters at
    100 TB/day). INNER join output
    is exactly the batch join result (the watermark bounds STATE, not
    emission), so the oracle is the plain SQL interval join. Drained
    availableNow from a file source, like st1-st3."""
    import os
    import tempfile

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    tmp = tempfile.mkdtemp(prefix="st4_")
    ss = _stream_session(spark)
    sides = {}
    for side in ("a", "b"):
        src = f"{tmp}/{side}"
        os.makedirs(src)
        os.symlink(os.path.abspath(path), f"{src}/events.parquet")
        sides[side] = ss.readStream.schema(schema).parquet(src)
    p = (
        sides["a"]
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").cast("timestamp").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 second")
    )
    e = (
        sides["b"]
        .where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("e_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").cast("timestamp").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 second")
    )
    joined = p.join(
        e,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 60 MINUTES")),
        "inner",
    ).select("p_id", "e_id")
    q = (
        joined.writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema("p_id long, e_id long").parquet(f"{tmp}/out")


def q_st5_stream_static_join(spark, sf_dir):
    """STREAMING stream-static enrich: the events stream joined to the
    static severity dimension — j1's lookup enrich as a continuous
    ingest stage. Stream-static inner equi-joins are STATELESS (each
    micro-batch joins against the static snapshot; nothing is buffered,
    no watermark needed), so output = the batch join exactly and the
    oracle is plain SQL. The dim broadcasts inside every micro-batch —
    the same per-batch broadcast a 100 TB/day enrich would use."""
    import os
    import tempfile

    ss = _stream_session(spark)
    # the static side must live on the SAME session as the stream —
    # cross-session joins are rejected.
    dim = ss.createDataFrame(
        [(et, sev, lvl) for et, sev, lvl in _SEV_CASES],
        "event_type string, severity string, severity_level int",
    )
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    tmp = tempfile.mkdtemp(prefix="st5_")
    src_dir = f"{tmp}/src"
    os.makedirs(src_dir)
    os.symlink(os.path.abspath(path), f"{src_dir}/events.parquet")
    stream = ss.readStream.schema(schema).parquet(src_dir)
    enriched = stream.join(F.broadcast(dim), "event_type", "inner").select(
        "event_id", "severity", "severity_level"
    )
    q = (
        enriched.writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema(
        "event_id long, severity string, severity_level int"
    ).parquet(f"{tmp}/out")


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
    from .operators.sampling import train_val_split

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


def q_sj1_salted_skew_join(spark, sf_dir):
    """Salted skew join (operators/skewjoin.py): documents.source is the
    corpus's power-law key (a handful of crawl sources over the whole
    table) — a plain shuffle join on it puts each source on ONE reducer.
    The salted form spreads every source over 8 subpartitions keyed by
    (source, _salt) and joins the per-source stats dim exploded x8.
    Output rows = the plain join's rows, which is exactly what the
    unsalted SQL oracle states."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    dim = d.groupBy("source").agg(
        F.count("*").alias("src_docs"),
        F.sum("n_chars").alias("src_chars"),
    )
    return salted_join(d, dim, on="source", entropy_col="doc_id", n_salts=8)


# ---------------------------------------------------------------------------
# URL family: host census + normalization dedup over Common-Crawl-style
# URLs (the input_hint's url column, synthesized deterministically from
# documents so both engines see identical strings).
# ---------------------------------------------------------------------------

# Shared url definition (SQL twin of _docs_with_url): host case varies
# with doc_id parity, the path ends in a trailing slash, and the query
# + fragment carry per-doc noise — so host extraction (h1) and URL
# normalization (d8) both have real work to do. host mod 13 x path
# mod 25 means ids 325 apart collide post-normalization (175 dup
# groups in the 500-doc sf0.01 table).
_URL_SQL = """
    'https://' || CASE WHEN doc_id % 2 = 0 THEN 'News' ELSE 'news' END
        || (doc_id % 13)::VARCHAR || '.Example.com'
        || '/article/' || (doc_id % 25)::VARCHAR
        || '/?utm_source=' || source || '&id=' || doc_id::VARCHAR || '#top'
"""


def _docs_with_url(spark, sf_dir):
    """documents + the deterministic url column (:data:`_URL_SQL` twin)."""
    d = load_table(spark, sf_dir, "documents")
    host = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("News")).otherwise(F.lit("news")),
        (F.col("doc_id") % 13).cast("string"),
        F.lit(".Example.com"),
    )
    url = F.concat(
        F.lit("https://"),
        host,
        F.lit("/article/"),
        (F.col("doc_id") % 25).cast("string"),
        F.lit("/?utm_source="),
        F.col("source"),
        F.lit("&id="),
        F.col("doc_id").cast("string"),
        F.lit("#top"),
    )
    return d.withColumn("url", url)


# Shared anchor-snippet definition (SQL twin of _docs_with_links): two
# <a href> outlinks per page whose target hosts are affine functions of
# doc_id (coprime multipliers → every host pair occurs), with mixed
# host case so extraction must normalize. 3*id+1 and 5*id+2 mod 13 keep
# the 13-host graph strongly connected and free of fixed patterns.
_ANCHORS_SQL = """
    '<p>Read <a href="https://'
        || CASE WHEN doc_id % 3 = 0 THEN 'News' ELSE 'news' END
        || ((doc_id * 3 + 1) % 13)::VARCHAR || '.Example.com/l/'
        || (doc_id % 7)::VARCHAR
        || '">next</a> and <a href="https://news'
        || ((doc_id * 5 + 2) % 13)::VARCHAR || '.example.com/l/'
        || (doc_id % 11)::VARCHAR || '">more</a>.</p>'
"""


def _docs_with_links(spark, sf_dir):
    """documents + url + the deterministic anchor-HTML column
    (:data:`_ANCHORS_SQL` twin)."""
    d = _docs_with_url(spark, sf_dir)
    anchors = F.concat(
        F.lit('<p>Read <a href="https://'),
        F.when(F.col("doc_id") % 3 == 0, F.lit("News")).otherwise(F.lit("news")),
        ((F.col("doc_id") * 3 + 1) % 13).cast("string"),
        F.lit(".Example.com/l/"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('">next</a> and <a href="https://news'),
        ((F.col("doc_id") * 5 + 2) % 13).cast("string"),
        F.lit(".example.com/l/"),
        (F.col("doc_id") % 11).cast("string"),
        F.lit('">more</a>.</p>'),
    )
    return d.withColumn("anchors", anchors)


def q_lg1_link_extract(spark, sf_dir):
    """Outlink extraction + host-level edge census — the step that
    builds the web graph out of crawled pages: ``regexp_extract_all``
    pulls every ``href`` from the page HTML (JVM regex, whole-stage
    codegen — the extraction itself never touches Python), explode,
    normalize both endpoint hosts, then ONE partial+final aggregate on
    the (src_host, dst_host) edge key. At 100 TB this is a map-only
    pass over the crawl plus a single edge-keyed shuffle whose output
    (the host graph) is corpus-dwarfed."""
    d = _docs_with_links(spark, sf_dir)
    e = d.select(
        F.lower(F.parse_url(F.col("url"), F.lit("HOST"))).alias("src_host"),
        F.explode(
            F.regexp_extract_all(
                F.col("anchors"), F.lit(r'href="([^"]+)"'), F.lit(1)
            )
        ).alias("href"),
    )
    return (
        e.select(
            "src_host",
            F.lower(F.parse_url(F.col("href"), F.lit("HOST"))).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def q_gr1_pagerank_step(spark, sf_dir):
    """One PageRank power iteration over the lg1 host graph
    (operators/graph.pagerank_step): weighted out-degree, co-shuffled
    contribution join, in-sum, teleport term via a broadcast 1-row N —
    no driver-side vector, no collect. Host authority is the standard
    crawl-prioritization / quality-weighting signal."""
    edges = q_lg1_link_extract(spark, sf_dir)
    return pagerank_step(
        edges, "src_host", "dst_host", weight="n_links"
    ).withColumnRenamed("rank", "pagerank")


_PR_ITERS = 5


def q_gr2_pagerank(spark, sf_dir):
    """Full iterative PageRank (operators/graph.pagerank, 5 power
    iterations) over the lg1 host graph — the converging solver whose
    single round gr1 isolates. The transition matrix is built once,
    checkpointed, and pre-partitioned on src; every iteration is one
    co-partitioned join + one partial aggregate + a per-round
    ``localCheckpoint`` lineage truncation. The oracle is the same
    recurrence unrolled into 5 CTE layers, so the match is value-exact
    (to the shared round-9 output quantization), not rows-only —
    iterative dataflow is still oracle-checkable when the iteration
    count is pinned."""
    edges = q_lg1_link_extract(spark, sf_dir)
    r = pagerank(edges, "src_host", "dst_host", weight="n_links", iters=_PR_ITERS)
    return r.select("node", F.round("rank", 9).alias("pagerank"))


def q_gr3_pagerank_dangling(spark, sf_dir):
    """Mass-conserving PageRank (operators/graph.pagerank with
    dangling=True, 5 power iterations) over the lg1 host graph — the
    form that is CORRECT on sink-heavy real web graphs: each round
    redistributes the dangling (no-outlink) nodes' rank d·D_t/N, so
    total rank sums to exactly 1 every iteration instead of leaking
    (gr2 pins the leaking textbook recurrence; this pins the conserving
    one). The sink set is one node-sized anti-join computed once; per
    round D_t is a semi-join + 1-row broadcast aggregate — no extra
    corpus-scale shuffle vs gr2. Oracle: the same unrolled CTE with a
    per-round dangling-sum term, D_t quantized to 12 decimals in both
    engines (float-summation-order independence)."""
    edges = q_lg1_link_extract(spark, sf_dir)
    r = pagerank(
        edges,
        "src_host",
        "dst_host",
        weight="n_links",
        iters=_PR_ITERS,
        dangling=True,
    )
    return r.select("node", F.round("rank", 9).alias("pagerank"))


def q_d12_cc_star(spark, sf_dir):
    """Duplicate-cluster closure via alternating large-star/small-star
    (Kiveris et al. SoCC'14; operators/graph.connected_components with
    algorithm="star") over the same MinHash-LSH verified pair graph as
    d6 — the O(log² n)-round variant that stays fast on adversarial
    long-chain graphs where d6's min-label propagation needs
    O(diameter) rounds (tests/test_graph.py pins the round-count
    separation on a 200-node path). Output contract and oracle are
    identical to d6: the labelling is the same component-minimum
    election, so the recursive-CTE oracle checks BOTH algorithms
    value-exactly."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "doc_id", "text", threshold=0.5, n_bands=8, rows_per_band=2, k=8
    )
    cc = connected_components(
        pairs.select("id_a", "id_b"), "id_a", "id_b", algorithm="star"
    )
    return cc.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("is_keeper"),
    )


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


def q_d16_paragraph_dedup(spark, sf_dir):
    """CCNet-style paragraph-level exact dedup
    (operators/dedup.paragraph_dedup): 12-word paragraph units,
    corpus-wide first occurrence kept ((doc_id, pos) order), document
    reassembled from survivors — the boilerplate-removal pass CCNet /
    RefinedWeb run before document-level dedup. Two linear shuffles
    (fingerprint window election + doc-id reassembly), no all-pairs
    term; the oracle restates the identical chunking, row_number
    election and ordered reassembly in SQL."""
    from .operators.dedup import paragraph_dedup

    d = load_table(spark, sf_dir, "documents")
    return paragraph_dedup(d, "doc_id", "text", chunk_words=12)


def _pagerank_oracle_sql(
    iters: int, damping: float = 0.85, dangling: bool = False
) -> str:
    """Unrolled-CTE DuckDB twin of operators/graph.pagerank over the
    lg1 host graph: r_{t+1}(v) = (1-d)/N + d·Σ P(u,v)·r_t(u). The
    teleport constant is emitted as the exact repr of the Python double
    ``1.0 - damping`` so both engines fold the identical IEEE value.
    ``dangling=True`` mirrors pagerank(dangling=True): each round adds
    d·D_t/N where D_t = Σ rank over sink nodes, quantized to 12
    decimals in both engines so the match can't hinge on float
    summation order."""
    one_minus_d = repr(1.0 - damping)
    rounds = []
    for t in range(1, iters + 1):
        if dangling:
            rounds.append(f"""
        d{t} AS (
          SELECT round(coalesce(sum(rank), 0), 12) AS dm
          FROM r{t - 1}
          WHERE node NOT IN (SELECT src FROM outw)
        ),
        r{t} AS (
          SELECT node,
                 CAST({one_minus_d} AS DOUBLE) / nn.n
                   + {damping} * (coalesce(c.cin, 0) + d{t}.dm / nn.n)
                     AS rank
          FROM nodes CROSS JOIN nn CROSS JOIN d{t}
          LEFT JOIN (
            SELECT dst, sum(p * rank) AS cin
            FROM pe JOIN r{t - 1} ON r{t - 1}.node = pe.src GROUP BY 1
          ) c ON c.dst = nodes.node
        )""")
            continue
        rounds.append(f"""
        r{t} AS (
          SELECT node,
                 CAST({one_minus_d} AS DOUBLE) / nn.n
                   + {damping} * coalesce(c.cin, 0) AS rank
          FROM nodes CROSS JOIN nn
          LEFT JOIN (
            SELECT dst, sum(p * rank) AS cin
            FROM pe JOIN r{t - 1} ON r{t - 1}.node = pe.src GROUP BY 1
          ) c ON c.dst = nodes.node
        )""")
    return f"""
        WITH a AS (
          SELECT {_URL_SQL} AS url, {_ANCHORS_SQL} AS anchors FROM documents
        ),
        e AS (
          SELECT lower(split_part(split_part(url, '//', 2), '/', 1)) AS src_host,
                 lower(split_part(split_part(
                   unnest(regexp_extract_all(anchors, 'href="([^"]+)"', 1)),
                   '//', 2), '/', 1)) AS dst_host
          FROM a
        ),
        edges AS (
          SELECT src_host AS src, dst_host AS dst, CAST(count(*) AS DOUBLE) AS w
          FROM e GROUP BY 1, 2
        ),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        outw AS (SELECT src, sum(w) AS outw FROM edges GROUP BY 1),
        pe AS (
          SELECT src, dst, w / outw AS p FROM edges JOIN outw USING (src)
        ),
        r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
        {",".join(rounds)}
        SELECT node, round(rank, 9) AS pagerank FROM r{iters}
    """


def q_fr1_frontier(spark, sf_dir):
    """Crawl-frontier prioritization — the web-pipeline step that picks
    what to fetch next. Each page emits its two /l/ outlinks plus an
    article back-link; candidates are normalized (lowercased host,
    trailing-slash strip), anti-joined against the crawled corpus's
    normalized URL set (removing every already-fetched article — the
    anti-join provably fires: all 325 (host, article) combos are
    crawled at any sf), and the survivors are priority-tagged with
    their target host's PageRank via a broadcast join (13 hosts — a
    rank table is always corpus-dwarfed). One distinct shuffle for the
    candidate set; the anti-join broadcasts whichever side is small
    under AQE; no Python anywhere."""
    d = _docs_with_links(spark, sf_dir)
    backlink = F.concat(
        F.lit("https://news"),
        ((F.col("doc_id") * 7 + 3) % 13).cast("string"),
        F.lit(".example.com/article/"),
        (F.col("doc_id") % 25).cast("string"),
    )
    hrefs = d.select(
        F.explode(
            F.array_union(
                F.regexp_extract_all(
                    F.col("anchors"), F.lit(r'href="([^"]+)"'), F.lit(1)
                ),
                F.array(backlink),
            )
        ).alias("href")
    )
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("href")), r"^https?://", ""), r"/$", ""
    )
    cand = hrefs.select(norm.alias("norm_url")).distinct()
    crawled = _docs_with_url(spark, sf_dir).select(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("url")), r"^https?://", ""),
                r"[?#].*$",
                "",
            ),
            r"/$",
            "",
        ).alias("norm_url")
    )
    frontier = cand.join(crawled, "norm_url", "left_anti")
    ranks = q_gr1_pagerank_step(spark, sf_dir).withColumnRenamed("node", "host")
    host = F.substring_index(F.col("norm_url"), "/", 1).alias("host")
    return (
        frontier.select("norm_url", host)
        .join(F.broadcast(ranks), "host")
        .select("norm_url", "host", "pagerank")
    )


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
    from .operators.inference import hashed_weights, score_documents

    d = load_table(spark, sf_dir, "documents")
    return score_documents(d, "doc_id", "text", hashed_weights(spark))


def q_sh1_shard_assign(spark, sf_dir):
    """Deterministic global corpus shuffle → trainer shard manifest
    (operators/sampling.shard_assign): every doc gets a reproducible
    pseudo-random ``(shard, pos)`` address — ``md5(id||salt)`` ordering,
    8 shards, ``row_number`` position within shard. The one shuffle IS
    the shard write's shuffle; ``rand()``/``repartition`` could promise
    neither cross-run nor cross-engine stability."""
    from .operators.sampling import shard_assign

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return shard_assign(d, "doc_id", n_shards=8).select("doc_id", "shard", "pos")


def q_mx1_mixture_upsample(spark, sf_dir):
    """Fractional per-source mixture weighting
    (operators/sampling.mixture_upsample): sources repeat ``base``
    epochs (1-2, a deterministic fixture of the source string) plus one
    extra copy for the hash-selected fraction of docs — the
    LLaMA/Gopher data-recipe sampling proportions, implemented
    exactly-reproducibly (expected copies = the fractional weight,
    same extra copies every run/engine). Map-only: zero shuffle in the
    upsample itself; the census here adds the one verification agg."""
    from .operators.sampling import mixture_upsample

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    up = mixture_upsample(d, "doc_id", "source")
    return up.groupBy("source", "epoch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("sum_ids"),
    )


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


def q_iv2_bm25(spark, sf_dir):
    """BM25 ranked retrieval (operators/index.bm25_scores) for a fixed
    3-term query: per-term tf is a map-side ``size(filter(split))`` —
    the corpus scans ONCE with zero shuffle; (N, avgdl, df) is one
    single-row aggregate broadcast back; top-20 by (rounded score desc,
    id) is TakeOrderedAndProject. The analytical twin of iv1's posting
    build — the shape for relevance-labeling a corpus against a fixed
    probe set."""
    from .operators.index import bm25_scores

    d = load_table(spark, sf_dir, "documents")
    return bm25_scores(d, "doc_id", "text", _BM25_TERMS, top_k=20)


_BM25_TERMS = ["vector", "stream", "merge"]


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


_CMS_PROBES = ["table", "vector", "stream", "the", "nosuchword"]


def q_cm1_count_min(spark, sf_dir):
    """Count-min sketch frequency estimation (operators/sketch.py):
    build the 4×1024 sketch over the token stream (one shuffle that
    map-side-combines to ≤ d·width keys — the reducer never sees the
    vocabulary, unlike the exact census t7), then point-query five
    probe terms and join the exact counts alongside. Engine-exact, not
    just approximate: the md5-derived bucket rule restates verbatim in
    SQL, so est values (including the ≥ exact one-sided overcounts)
    hash-match. The absent probe term pins the coalesce(0) path."""
    from .operators.sketch import cms_build, cms_estimate

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


def q_tk1_bpe_merge(spark, sf_dir):
    """One BPE vocabulary-induction iteration (operators/index.py
    bpe_merge_step): corpus-wide argmax bigram (one map-side-combined
    shuffle, total-order tie-break) broadcasts as a 1-row literal; the
    merge itself is a map-side space-padded replace — the corpus never
    shuffles, so a tokenizer trainer's loop moves one string per
    iteration. Output census: per-doc token counts before/after."""
    from .operators.index import bpe_merge_step

    d = load_table(spark, sf_dir, "documents")
    return bpe_merge_step(d, "doc_id", "text")


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
    from .operators.sketch import hll_build, hll_estimate

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
    from .operators.sampling import weighted_sample

    d = load_table(spark, sf_dir, "documents")
    return weighted_sample(
        d.select("doc_id", "lang", "n_chars"), "doc_id", "n_chars", 100
    )


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
    from .operators.sketch import bloom_build, bloom_probe

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


def q_h1_host_stats(spark, sf_dir):
    """Per-host census over Common-Crawl-style URLs: JVM ``parse_url``
    host extraction (no Python, stays in whole-stage codegen),
    lowercased, then ONE partial+final aggregate on the host key. The
    hot-host distribution this emits is exactly what sizes the salting
    in sj1/pipeline at real scale — at 100 TB it is the first census a
    crawl pipeline runs."""
    d = _docs_with_url(spark, sf_dir)
    host = F.lower(F.parse_url(F.col("url"), F.lit("HOST"))).alias("host")
    return (
        d.select(host, "n_chars", "lang")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


def q_fl2_domain_blocklist(spark, sf_dir):
    """UT1/RefinedWeb-style domain-blocklist filter: hosts get a third
    label on doc_id % 3 == 0 (``cdn.news<k>.example.com``) so the
    blocklist exercises BOTH semantics — exact host and label-boundary
    suffix. The blocked-host set is computed on the distinct-host
    universe (tiny vs the corpus) and broadcast back; the corpus
    lineage is scan → broadcast join (operators/urlfilter.py)."""
    from .operators.urlfilter import mark_blocked

    d = load_table(spark, sf_dir, "documents")
    host = F.lower(
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, F.lit("cdn.")).otherwise(F.lit("")),
            F.lit("news"),
            (F.col("doc_id") % 13).cast("string"),
            F.lit(".example.com"),
        )
    )
    bl = spark.createDataFrame(
        [("news3.example.com",), ("news7.example.com",), ("ads.example.com",)],
        "entry string",
    )
    return mark_blocked(d.select("doc_id", host.alias("host")), bl).select(
        "doc_id", "host", "blocked"
    )


def q_fl4_url_canonicalize(spark, sf_dir):
    """URL canonicalization (operators/urlfilter.canonicalize_url) —
    the normalize-before-anything pass frontier dedup, URL dedup (d8)
    and blocklist matching (fl2) all key on: lowercase scheme+host,
    default-port strip, fragment drop, trailing-slash-normalized path,
    tracking params removed and survivors sorted. One Catalyst
    expression, map-only, zero shuffles (plan-pinned); the DuckDB twin
    shares every regex (RE2-safe by construction). Emits (doc_id,
    url_canon) — the canonical string IS the dup-group key downstream
    stages group on."""
    from .operators.urlfilter import canonicalize_url

    d = _docs_with_url(spark, sf_dir)
    return d.select(
        "doc_id", canonicalize_url(F.col("url")).alias("url_canon")
    )


def q_fl3_robots_rules(spark, sf_dir):
    """robots.txt rule-precedence filter (operators/urlfilter.py
    robots_verdict): longest-prefix wins, allow beats disallow on
    ties, unruled hosts pass. The rule set exercises the spec's
    non-segment-aware prefix subtlety ('/article/1' also matches
    '/article/12/') and the allow-overrides-disallow-on-longer-prefix
    case. Rules broadcast as one array row per host; the verdict is
    map-side (zero corpus Exchange)."""
    from .operators.urlfilter import robots_verdict

    d = _docs_with_url(spark, sf_dir)
    host = F.lower(F.parse_url(F.col("url"), F.lit("HOST")))
    path = F.parse_url(F.col("url"), F.lit("PATH"))
    corpus = d.select("doc_id", host.alias("host"), path.alias("path"))
    rules = spark.createDataFrame(
        [
            ("news1.example.com", "/article/1", False),
            ("news1.example.com", "/article/1/", True),
            ("news2.example.com", "/", False),
            ("news2.example.com", "/article/7/", True),
        ],
        "host string, rule_path string, allow boolean",
    )
    return robots_verdict(corpus, rules).select(
        "doc_id", "host", "path", "allowed"
    )


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


def q_d8_url_dedup(spark, sf_dir):
    """URL-normalization dup census — the web-crawl twin of d1 and the
    first, cheapest dedup pass a crawl pipeline runs (one shuffle on
    the normalized key, no content hashing): strip scheme, query and
    fragment, drop the trailing slash, lowercase, then report groups
    with >1 raw url and the kept (min) doc_id."""
    d = _docs_with_url(spark, sf_dir)
    norm = F.lower(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("url"), "^https?://", ""),
                "[?#].*$",
                "",
            ),
            "/$",
            "",
        )
    ).alias("norm_url")
    return (
        d.select(norm, "doc_id")
        .groupBy("norm_url")
        .agg(
            F.count(F.lit(1)).alias("n_dupes"),
            F.min("doc_id").alias("keeper_doc"),
        )
        .where(F.col("n_dupes") > 1)
    )


def q_u2_latest_state(spark, sf_dir):
    """Keep-latest-per-key compaction — the MERGE/current-state table a
    log pipeline maintains (reference keeps only the newest extract per
    stage dir, main.py's overwrite-on-rerun semantics; here per device/
    user): one row_number window per user, rn=1. Single shuffle on the
    key; at real scale this is the sort-merge compaction an Iceberg
    upsert runs per partition."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.col("ts").alias("last_ts"),
            F.round("value", 2).alias("last_value"),
        )
    )


def q_fn1_funnel(spark, sf_dir):
    """Ordered conversion funnel (signup -> click -> purchase, each step
    strictly AFTER the user's previous step): per-step min-ts chaining —
    three key aggregates + two equi-joins, no window over the whole
    event stream and no pair explosion. The user dimension shrinks at
    every step, so at 100 TB each successive join is smaller than the
    last (and broadcastable once the funnel narrows)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(s, "user_id")
        .where(F.col("ts") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    a = s.agg(F.count(F.lit(1)).alias("n_signup"))
    b = c.agg(F.count(F.lit(1)).alias("n_signup_click"))
    d = p.agg(F.count(F.lit(1)).alias("n_full_funnel"))
    # three 1-row aggregates — the crossJoins are broadcast singletons
    return a.crossJoin(b).crossJoin(d)


def q_r1_retention(spark, sf_dir):
    """Retention cohorts: users grouped by first-seen day, activity
    counted per day offset — THE telemetry aggregate. The cohort dim is
    one row per user (broadcast after AQE at this scale; a co-located
    bucketed join on user_id at real scale), then one partial+final
    aggregate on (cohort_day, day_offset)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    cohort = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(cohort, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day"))
            .cast("long")
            .alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


def q_w8_running_total(spark, sf_dir):
    """Per-user cumulative (unbounded-preceding) running count and sum
    over the event stream — the standard telemetry balance/meter query.
    The window's total order (ts, event_id) fixes the double-sum fold
    order, so Spark and DuckDB accumulate bit-identically (same trick
    as s1's left-to-right dot product); one shuffle + one sort."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_so_far"),
        F.round(F.sum("value").over(w), 2).alias("value_so_far"),
    )


def q_a6_histogram(spark, sf_dir):
    """Fixed-width histogram of the value column (width-5 bins on
    floor(value/5)): integer bin key -> one partial+final aggregate.
    The flooring is exact on both engines (value is a double; floor of
    double/int is IEEE-identical), so the bins are deterministic."""
    ev = load_table(spark, sf_dir, "events")
    bin_ = F.floor(F.col("value") / F.lit(5.0)).cast("long").alias("bin")
    return (
        ev.select(bin_)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


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
    from .operators.sampling import token_budget_select

    return token_budget_select(
        scored,
        "lang",
        "tokens",
        2500,
        [F.desc("n_chars"), F.asc("doc_id")],
    ).select("lang", "doc_id", "tokens", "cum_tokens")


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


def q_iv1_inverted_index(spark, sf_dir):
    """Posting-list build (operators/index.py inverted_index): terms
    whose document frequency lies in the integer-exact relative band
    [3n/5, 4n/5] get their sorted doc-id posting list. The df census
    runs BEFORE the list aggregation so out-of-band (stop-word-grade)
    terms never materialize a posting list on any reducer — the skew
    guard that makes posting builds survive web scale."""
    d = load_table(spark, sf_dir, "documents")
    n = d.count()
    from .operators.index import inverted_index

    return inverted_index(d, "doc_id", "text", n * 3 // 5, n * 4 // 5)


def q_u3_scd2_intervals(spark, sf_dir):
    """SCD2 validity intervals (operators/history.py scd2_intervals):
    per-user event_type change points with [valid_from, valid_to)
    windows, far-future sentinel on the open run. Two windows over ONE
    shuffle+sort (same partitioning and ordering, Catalyst reuses the
    Exchange) — the history twin of u2's keep-latest compaction."""
    from .operators.history import scd2_intervals

    ev = load_table(spark, sf_dir, "events")
    return scd2_intervals(ev, "user_id", "event_type", "ts", ["event_id"])


def q_ng1_top_bigrams(spark, sf_dir):
    """Top-3 word bigrams per language (operators/index.py
    top_ngrams_per_group over functions/text.py word_bigrams): one
    fused zip_with pass builds grams in the scan projection, one
    partial+final count on (lang, gram), and the rk<=3 predicate
    pushes into WindowGroupLimit so shuffle partitions carry only
    their top candidates."""
    from .operators.index import top_ngrams_per_group

    d = load_table(spark, sf_dir, "documents")
    return top_ngrams_per_group(d, "lang", T.word_bigrams(F.col("text")), 3)


def q_w9_session_path(spark, sf_dir):
    """Ordered per-user event-path assembly — the context-assembly
    shape of LLM-training pipelines (concatenate a user/session's
    items in time order into one training sequence). sort_array over
    collect_list(struct(ts,event_id,event_type)) pins the order inside
    the aggregate (no window, ONE shuffle); the struct's (ts, id)
    prefix is a total order so the path string is deterministic."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("ts"), F.col("event_id"), F.col("event_type")
                        )
                    )
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path"),
    )


def q_w10_concurrency(spark, sf_dir):
    """Per-user peak interval concurrency (operators/rangejoin.py
    interval_peak_concurrency): each event opens a half-open 30-minute
    interval; the keyed sweep-line (+1/-1 deltas, running sum over the
    total order (t, delta, id), max) finds the peak without any
    self-join or pair explosion — O(n log n) per key."""
    from .operators.rangejoin import interval_peak_concurrency

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
    )
    return interval_peak_concurrency(
        ev, "user_id", "start_ts", "end_ts", "event_id"
    )


def q_zo1_zorder_stats(spark, sf_dir):
    """Z-order layout census (operators/layout.py): Morton-interleave
    (user_id, day-index) into one key, bucket rows by its top bits —
    each bucket one aligned Z-curve segment / prospective file — and
    report per-bucket min/max windows of BOTH dimensions. The windows
    are the data-skipping proof: tight in x AND y simultaneously,
    which a single-column sort cannot deliver. Pure codegen'd integer
    shift/mask arithmetic + one partial+final aggregate."""
    from .operators.layout import zorder_layout_stats

    ev = load_table(spark, sf_dir, "events")
    return zorder_layout_stats(
        ev,
        F.col("user_id"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast(
            "long"
        ),
        bucket_shift=6,
    )


def q_u4_merge_upsert(spark, sf_dir):
    """MERGE INTO dataflow (operators/merge.py merge_upsert): a
    deterministic change batch (every 7th event corrected with
    value+100, every 997th re-keyed +10M as a backfill insert) merges
    into the events base — matched rows replaced, new keys appended.
    One narrow anti-join on the change KEYS (AQE broadcasts the small
    batch) + UNION ALL: the copy-on-write MERGE shape of Iceberg/
    Delta."""
    from .operators.merge import merge_upsert

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    upd = (
        ev.filter(F.col("event_id") % 7 == 0)
        .withColumn("event_type", F.lit("corrected"))
        .withColumn("value", F.col("value") + 100)
    )
    ins = ev.filter(F.col("event_id") % 997 == 0).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        "ts",
        "user_id",
        F.lit("backfill").alias("event_type"),
        "value",
    )
    return merge_upsert(ev, upd.unionByName(ins), ["event_id"])


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "p1_filter_keyword": q_p1_filter_keyword,
    "p2_filter_severity": q_p2_filter_severity,
    "p3_filter_merge": q_p3_filter_merge,
    "p4_reduce_columns": q_p4_reduce_columns,
    "z1_zip_source": q_z1_zip_source,
    "wc1_warc_source": q_wc1_warc_source,
    "wc2_warc_indexed": q_wc2_warc_indexed,
    "wc3_wet_extract": q_wc3_wet_extract,
    "f3_extract_regex": q_f3_extract_regex,
    "m1_parse_classify": q_m1_parse_classify,
    "m2_critical_routed": q_m2_critical_routed,
    "m3_route_aggregate": q_m3_route_aggregate,
    "j1_broadcast_enrich": q_j1_broadcast_enrich,
    "j2_orders_customer": q_j2_orders_customer,
    "a1_lineitem_pricing": q_a1_lineitem_pricing,
    "u1_union_merge": q_u1_union_merge,
    "d1_dedup_exact": q_d1_dedup_exact,
    "t1_token_stats": q_t1_token_stats,
    "t2_quality_score": q_t2_quality_score,
    "t3_fingerprint": q_t3_fingerprint,
    "s1_cosine_topk": q_s1_cosine_topk,
    "d2_minhash_lsh": q_d2_minhash_lsh,
    "d3_simhash": q_d3_simhash,
    "d5_simhash_hamming": q_d5_simhash_hamming,
    "sm1_source_quota": q_sm1_source_quota,
    "w5_range_join": q_w5_range_join,
    "t8_word_repetition": q_t8_word_repetition,
    "a2_rollup": q_a2_rollup,
    "a3_percentiles": q_a3_percentiles,
    "a7_approx_percentiles": q_a7_approx_percentiles,
    "j3_semi_anti": q_j3_semi_anti,
    "s5_semantic_dedup": q_s5_semantic_dedup,
    "s6_pq_ann": q_s6_pq_ann,
    "pk1_sequence_packing": q_pk1_sequence_packing,
    "d4_ngram_jaccard": q_d4_ngram_jaccard,
    "d6_dup_clusters": q_d6_dup_clusters,
    "d7_passage_dedup": q_d7_passage_dedup,
    "t9_pii_redact": q_t9_pii_redact,
    "t10_unigram_logprob": q_t10_unigram_logprob,
    "s2_embed_neardup": q_s2_embed_neardup,
    "s3_lsh_ann": q_s3_lsh_ann,
    "s4_ivf_ann": q_s4_ivf_ann,
    "t4_lang_id": q_t4_lang_id,
    "t5_rolling_fp": q_t5_rolling_fp,
    "t6_bpe_tokens": q_t6_bpe_tokens,
    "w1_sessionize": q_w1_sessionize,
    "w11_session_window": q_w11_session_window,
    "w2_topk_per_group": q_w2_topk_per_group,
    "w3_tumbling_window": q_w3_tumbling_window,
    "w4_asof_join": q_w4_asof_join,
    "w6_sliding_window": q_w6_sliding_window,
    "w7_event_gaps": q_w7_event_gaps,
    "a5_cube": q_a5_cube,
    "t7_doc_freq": q_t7_doc_freq,
    "mm1_media_meta": q_mm1_media_meta,
    "mm2_frame_sample": q_mm2_frame_sample,
    "mm3_media_features": q_mm3_media_features,
    "mm4_media_resize": q_mm4_media_resize,
    "mm5_png_decode": q_mm5_png_decode,
    "g1_grouped_ols": q_g1_grouped_ols,
    "g2_grouped_agg_median": q_g2_grouped_agg_median,
    "g3_cogroup_asof": q_g3_cogroup_asof,
    "j4_shipping_priority": q_j4_shipping_priority,
    "j5_region_volume": q_j5_region_volume,
    "sp1_train_split": q_sp1_train_split,
    "ct1_contamination": q_ct1_contamination,
    "ct2_split_leakage": q_ct2_split_leakage,
    "fl1_quality_filter": q_fl1_quality_filter,
    "fl2_domain_blocklist": q_fl2_domain_blocklist,
    "fl3_robots_rules": q_fl3_robots_rules,
    "fl4_url_canonicalize": q_fl4_url_canonicalize,
    "cp3_fuzzy_dedup_corpus": q_cp3_fuzzy_dedup_corpus,
    # rows-only (no SQL oracle — stateful streaming; see its docstring)
    "st1_sessionize_stream": q_st1_sessionize_stream,
    # streaming dedup — oracle-checkable (drain-order-invariant output)
    "st2_stream_dedup": q_st2_stream_dedup,
    # bounded-state streaming dedup (watermarked) — same oracle shape
    "st6_stream_dedup_watermark": q_st6_stream_dedup_watermark,
    # streaming windowed agg — oracle-checkable (emitted set = closed windows)
    "st3_stream_window": q_st3_stream_window,
    # stream-stream interval join — oracle-checkable (inner join output
    # equals the batch join; watermarks bound state, not emission)
    "st4_stream_stream_join": q_st4_stream_stream_join,
    "a4_pivot": q_a4_pivot,
    # salted skew join — physical-distribution rewrite, plain-join oracle
    "sj1_salted_skew_join": q_sj1_salted_skew_join,
    # k-means Lloyd step — exact census oracle; mean update pinned in pytest
    "km1_kmeans_step": q_km1_kmeans_step,
    # stream-static enrich — stateless; output equals the batch join
    "st5_stream_static_join": q_st5_stream_static_join,
    # composed corpus build: quality -> langid -> dedup -> split census
    "cp1_corpus_pipeline": q_cp1_corpus_pipeline,
    # URL family: parse_url host census + normalization dedup
    "h1_host_stats": q_h1_host_stats,
    "d8_url_dedup": q_d8_url_dedup,
    # web-graph: href extraction -> host edge census -> PageRank step
    "lg1_link_extract": q_lg1_link_extract,
    "gr1_pagerank_step": q_gr1_pagerank_step,
    "gr2_pagerank": q_gr2_pagerank,
    # mass-conserving PageRank (dangling redistribution) + star CC
    "gr3_pagerank_dangling": q_gr3_pagerank_dangling,
    "d12_cc_star": q_d12_cc_star,
    "d13_substring_spans": q_d13_substring_spans,
    "d14_within_doc_repeats": q_d14_within_doc_repeats,
    "d15_remove_repeats": q_d15_remove_repeats,
    "d16_paragraph_dedup": q_d16_paragraph_dedup,
    "fr1_frontier": q_fr1_frontier,
    "d11_edit_distance": q_d11_edit_distance,
    # training-data plumbing: classifier inference, shard shuffle,
    # mixture upsampling, winnowing fingerprints
    "ml1_quality_classifier": q_ml1_quality_classifier,
    "sh1_shard_assign": q_sh1_shard_assign,
    "mx1_mixture_upsample": q_mx1_mixture_upsample,
    "wn1_winnowing": q_wn1_winnowing,
    "wn2_winnow_overlap": q_wn2_winnow_overlap,
    "iv2_bm25": q_iv2_bm25,
    "rp1_sign_projection": q_rp1_sign_projection,
    "cm1_count_min": q_cm1_count_min,
    "tk1_bpe_merge": q_tk1_bpe_merge,
    # mergeable distinct sketch + weighted corpus subsample
    "hl1_hll_distinct": q_hl1_hll_distinct,
    "sm2_weighted_sample": q_sm2_weighted_sample,
    "bl1_bloom_filter": q_bl1_bloom_filter,
    # keep-latest-per-key compaction (current-state / upsert semantics)
    "u2_latest_state": q_u2_latest_state,
    # ordered conversion funnel + retention cohorts (telemetry analytics)
    "fn1_funnel": q_fn1_funnel,
    "r1_retention": q_r1_retention,
    # cumulative running window + fixed-width histogram
    "w8_running_total": q_w8_running_total,
    "a6_histogram": q_a6_histogram,
    "t11_repetition": q_t11_repetition,
    "t12_bigram_lm": q_t12_bigram_lm,
    "d9_incremental_dedup": q_d9_incremental_dedup,
    "cp2_token_budget": q_cp2_token_budget,
    "d10_incremental_lsh": q_d10_incremental_lsh,
    # posting lists + per-group top n-grams (index family)
    "iv1_inverted_index": q_iv1_inverted_index,
    "ng1_top_bigrams": q_ng1_top_bigrams,
    # SCD2 state history (the change-point twin of u2 keep-latest)
    "u3_scd2_intervals": q_u3_scd2_intervals,
    # ordered context assembly + sweep-line concurrency census
    "w9_session_path": q_w9_session_path,
    "w10_concurrency": q_w10_concurrency,
    # Z-order layout census + MERGE INTO upsert (table-layout family)
    "zo1_zorder_stats": q_zo1_zorder_stats,
    "u4_merge_upsert": q_u4_merge_upsert,
}


# ---------------------------------------------------------------------------
# DuckDB oracles (ANSI SQL over the pre-registered views).
# ---------------------------------------------------------------------------

_CLASSIFY_SQL = """
    CASE WHEN {ip} = '' THEN ''
         WHEN TRY_CAST(string_split({ip}, '.')[1] AS INT) = 10
           OR (TRY_CAST(string_split({ip}, '.')[1] AS INT) = 172
               AND TRY_CAST(string_split({ip}, '.')[2] AS INT) BETWEEN 16 AND 31)
           OR (TRY_CAST(string_split({ip}, '.')[1] AS INT) = 192
               AND TRY_CAST(string_split({ip}, '.')[2] AS INT) = 168)
         THEN 'private' ELSE 'global' END
"""

_ROUTING_RE = r"(\d+\.\d+\.\d+\.\d+)/\d+\s*>\s*(\d+\.\d+\.\d+\.\d+)/\d+"

_M_BASE = f"""
    SELECT event_id, ts, event_type,
           {_MSG_SQL} AS Message
    FROM events
"""

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


ORACLE_SQL: dict[str, str] = {
    "p1_filter_keyword": """
        SELECT doc_id, lang, n_chars FROM documents
        WHERE contains(text, 'spark')
    """,
    "p2_filter_severity": """
        SELECT event_id, user_id, round(value, 2) AS value_r
        FROM events WHERE event_type = 'error'
    """,
    "p3_filter_merge": f"""
        WITH m AS ({_M_BASE})
        SELECT event_id, regexp_extract(Message, 'Severity=(\\w+)', 1) AS Severity
        FROM m
        WHERE regexp_extract(Message, 'Severity=(\\w+)', 1) = 'CRITICAL'
    """,
    "p4_reduce_columns": "SELECT event_id, ts, event_type FROM events",
    "z1_zip_source": """
        SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey,
               n_name,
               CAST(n_regionkey AS VARCHAR) AS n_regionkey,
               'nation.csv' AS src_member,
               '' AS _error
        FROM nation
    """,
    "wc1_warc_source": """
        SELECT 'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
               TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id) AS warc_ts,
               lang AS content_lang,
               text,
               '' AS _error
        FROM documents
    """,
    "wc2_warc_indexed": """
        SELECT 'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
               TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id) AS warc_ts,
               lang AS content_lang,
               text,
               '' AS _error
        FROM documents
    """,
    # wc3: the oracle is the EXPECTED visible text (source text + the
    # entity-decoded suffix), not a twin of the regex cascade — passing
    # proves the extractor actually recovers the page text.
    "wc3_wet_extract": """
        SELECT 'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
               text || ' & more' AS text
        FROM documents
    """,
    "f3_extract_regex": """
        SELECT event_id, regexp_extract(props, '"k": (\\d+)', 1) AS k_str
        FROM events
    """,
    "m1_parse_classify": f"""
        WITH m AS ({_M_BASE}),
        r AS (
          SELECT event_id,
                 regexp_extract(Message, '{_ROUTING_RE}', 1) AS srcIP,
                 regexp_extract(Message, '{_ROUTING_RE}', 2) AS dstIP,
                 regexp_extract(Message, 'protocol=(\\w+)', 1) AS protocol,
                 regexp_extract(Message, 'SeverityLevel=(\\d+)', 1) AS SeverityLevel,
                 regexp_extract(Message, 'Severity=(\\w+)', 1) AS Severity
          FROM m
        )
        SELECT event_id,
               CASE WHEN srcIP <> '' AND dstIP <> '' THEN srcIP || ' > ' || dstIP ELSE '' END AS routing,
               srcIP,
               {_CLASSIFY_SQL.format(ip='srcIP')} AS srcIP_type,
               dstIP,
               {_CLASSIFY_SQL.format(ip='dstIP')} AS dstIP_type,
               protocol, SeverityLevel, Severity
        FROM r
    """,
    "m2_critical_routed": f"""
        WITH m AS ({_M_BASE}),
        r AS (
          SELECT event_id,
                 regexp_extract(Message, '{_ROUTING_RE}', 1) AS srcIP,
                 regexp_extract(Message, '{_ROUTING_RE}', 2) AS dstIP,
                 regexp_extract(Message, 'Severity=(\\w+)', 1) AS Severity
          FROM m WHERE contains(Message, 'observed')
        )
        SELECT event_id,
               CASE WHEN srcIP <> '' AND dstIP <> '' THEN srcIP || ' > ' || dstIP ELSE '' END AS routing,
               {_CLASSIFY_SQL.format(ip='srcIP')} AS srcIP_type,
               {_CLASSIFY_SQL.format(ip='dstIP')} AS dstIP_type,
               Severity
        FROM r WHERE Severity = 'CRITICAL'
    """,
    "m3_route_aggregate": f"""
        WITH m AS ({_M_BASE})
        SELECT regexp_extract(Message, 'Severity=(\\w+)', 1) AS severity,
               CAST(ts AS DATE) AS date,
               count(*) AS n
        FROM m GROUP BY 1, 2
    """,
    "j1_broadcast_enrich": """
        SELECT d.severity, d.severity_level, count(*) AS n,
               round(sum(e.value), 2) AS total_value
        FROM events e
        LEFT JOIN (VALUES
            ('error', 'CRITICAL', 2),
            ('purchase', 'WARNING', 4),
            ('signup', 'INFO', 6),
            ('click', 'NOTICE', 5),
            ('view', 'DEBUG', 7)
        ) AS d(event_type, severity, severity_level)
          ON e.event_type = d.event_type
        GROUP BY 1, 2
    """,
    "j2_orders_customer": """
        SELECT c_mktsegment, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1
    """,
    "a1_lineitem_pricing": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY 1, 2
    """,
    "u1_union_merge": """
        SELECT user_id, count(*) AS n FROM (
            SELECT * FROM events WHERE event_type = 'error'
            UNION ALL
            SELECT * FROM events WHERE event_type = 'purchase'
        ) GROUP BY 1
    """,
    "d1_dedup_exact": """
        SELECT min(doc_id) AS keeper_doc_id, count(*) AS n_copies
        FROM documents GROUP BY text
    """,
    "t1_token_stats": """
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               length(text) AS n_chars_m,
               round(length(text) / len(string_split(text, ' ')), 4) AS avg_token_len
        FROM documents
    """,
    "t2_quality_score": """
        SELECT doc_id, lang,
               round(len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a'))
                     / len(string_split(text, ' ')), 4) AS stopword_ratio,
               CASE WHEN len(string_split(text, ' ')) < 20 THEN 'short'
                    WHEN len(string_split(text, ' ')) < 60 THEN 'medium'
                    ELSE 'long' END AS len_band
        FROM documents
    """,
    "t3_fingerprint": "SELECT doc_id, md5(text) AS fp FROM documents",
    "d2_minhash_lsh": f"""
        {_LSH_CAND_CTE}
        SELECT c.id_a, c.id_b,
               round({D.jaccard_sql('sa.sh', 'sb.sh')}, 6) AS jacc
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b
        WHERE round({D.jaccard_sql('sa.sh', 'sb.sh')}, 6) >= 0.5
    """,
    "d3_simhash": f"""
        SELECT doc_id, {D.simhash_sql('text', 32)} AS simhash32 FROM documents
    """,
    # Connected components as min-reachable-id over the symmetrized +
    # self-looped d2 pair graph (recursive CTE; UNION dedup terminates).
    "d6_dup_clusters": f"""
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
    """,
    "fl2_domain_blocklist": """
        WITH d AS (
          SELECT doc_id,
                 lower(CASE WHEN doc_id % 3 = 0 THEN 'cdn.' ELSE '' END
                       || 'news' || (doc_id % 13)::VARCHAR
                       || '.example.com') AS host
          FROM documents
        ),
        bl(entry) AS (VALUES ('news3.example.com'), ('news7.example.com'),
                             ('ads.example.com')),
        blocked AS (
          SELECT DISTINCT d.host FROM d, bl
          WHERE d.host = bl.entry OR d.host LIKE '%.' || bl.entry
        )
        SELECT d.doc_id, d.host, (b.host IS NOT NULL) AS blocked
        FROM d LEFT JOIN blocked b USING (host)
    """,
    "fl3_robots_rules": """
        WITH d AS (
          SELECT doc_id,
                 'news' || (doc_id % 13)::VARCHAR || '.example.com' AS host,
                 '/article/' || (doc_id % 25)::VARCHAR || '/' AS path
          FROM documents
        ),
        ru(host, rule_path, allow) AS (VALUES
          ('news1.example.com', '/article/1', FALSE),
          ('news1.example.com', '/article/1/', TRUE),
          ('news2.example.com', '/', FALSE),
          ('news2.example.com', '/article/7/', TRUE)
        ),
        c AS (
          SELECT d.doc_id, ru.allow,
                 row_number() OVER (
                   PARTITION BY d.doc_id
                   ORDER BY length(ru.rule_path) DESC, ru.allow DESC,
                            ru.rule_path DESC
                 ) AS rn
          FROM d JOIN ru ON d.host = ru.host
                        AND starts_with(d.path, ru.rule_path)
        )
        SELECT d.doc_id, d.host, d.path, COALESCE(c.allow, TRUE) AS allowed
        FROM d LEFT JOIN (SELECT doc_id, allow FROM c WHERE rn = 1) c
        USING (doc_id)
    """,
    "cp3_fuzzy_dedup_corpus": f"""
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
    """,
    "st4_stream_stream_join": """
        SELECT p.event_id AS p_id, e.event_id AS e_id
        FROM events p JOIN events e
          ON p.event_type = 'purchase' AND e.event_type = 'error'
         AND p.user_id = e.user_id
         AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 60 MINUTE
    """,
    "sj1_salted_skew_join": """
        SELECT d.doc_id, d.source, d.n_chars, s.src_docs, s.src_chars
        FROM documents d
        JOIN (
            SELECT source,
                   count(*) AS src_docs,
                   CAST(sum(n_chars) AS BIGINT) AS src_chars
            FROM documents GROUP BY source
        ) s USING (source)
    """,
    "st5_stream_static_join": """
        SELECT e.event_id, d.severity, d.severity_level
        FROM events e
        JOIN (VALUES
            ('error', 'CRITICAL', 2),
            ('purchase', 'WARNING', 4),
            ('signup', 'INFO', 6),
            ('click', 'NOTICE', 5),
            ('view', 'DEBUG', 7)
        ) AS d(event_type, severity, severity_level)
          ON e.event_type = d.event_type
    """,
    "cp1_corpus_pipeline": f"""
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
    """,
    "km1_kmeans_step": f"""
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
    """,
    "d7_passage_dedup": """
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
    """,
    "t10_unigram_logprob": """
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
    """,
    "t9_pii_redact": f"""
        WITH m AS (
          SELECT event_id,
                 ({_MSG_SQL}) || ' contact=user' || user_id::VARCHAR
                   || '@example.org tel=+1-555-'
                   || lpad((event_id % 10000)::VARCHAR, 4, '0') AS txt
          FROM events
        )
        SELECT event_id,
               {PII.count_sql('txt', PII.EMAIL_RE)} AS n_email,
               {PII.count_sql('txt', PII.PHONE_RE)} AS n_phone,
               {PII.count_sql('txt', PII.IPV4_RE)} AS n_ip,
               {PII.redact_sql('txt')} AS red
        FROM m
    """,
    "d5_simhash_hamming": f"""
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
    """,
    "sm1_source_quota": """
        SELECT doc_id, source, rk FROM (
          SELECT doc_id, source,
                 CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ) AS BIGINT) AS rk
          FROM documents
        ) WHERE rk <= 10
    """,
    "w5_range_join": """
        SELECT e1.event_id,
               count(e2.ts) AS n_prior
        FROM events e1 LEFT JOIN events e2
          ON e2.ts >= e1.ts - INTERVAL 5 MINUTE AND e2.ts < e1.ts
        GROUP BY e1.event_id
    """,
    "a2_rollup": """
        SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n,
               CAST(GROUPING(CAST(ts AS DATE), event_type) AS BIGINT) AS gid
        FROM events
        GROUP BY ROLLUP(CAST(ts AS DATE), event_type)
    """,
    "a3_percentiles": """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.95), 6) AS p95
        FROM events GROUP BY event_type
    """,
    # a7: approx values are engine-specific; the oracle pins the exact
    # percentiles and asserts the rank-error certificates are TRUE —
    # the GK guarantee restated as data, not a cross-engine float race.
    "a7_approx_percentiles": """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.95), 6) AS p95,
               count(*) AS n,
               TRUE AS ok50, TRUE AS ok95
        FROM events GROUP BY event_type
    """,
    "j3_semi_anti": """
        SELECT c_custkey,
               EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
                 AS has_order
        FROM customer c
    """,
    "t8_word_repetition": """
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
    """,
    "d4_ngram_jaccard": f"""
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
    """,
    "s2_embed_neardup": f"""
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
    """,
    "s3_lsh_ann": f"""
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
    """,
    "s4_ivf_ann": f"""
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
    """,
    # s6: PQ twin — identical codebook (4 lowest corpus vec_ids), the
    # same pinned-association L2² dot identity, argmin tie → lowest k,
    # ADC as an ordered left fold (list_reduce over list(... ORDER BY m)
    # == F.aggregate over the m-ascending zip).
    "s6_pq_ann": """
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
    """,
    "st2_stream_dedup": """
        SELECT DISTINCT md5(text) AS fp FROM documents
    """,
    "st6_stream_dedup_watermark": """
        SELECT DISTINCT md5(text) AS fp FROM documents
    """,
    "st3_stream_window": """
        SELECT date_trunc('hour', ts) AS win_start, event_type,
               count(*) AS n
        FROM events
        GROUP BY 1, 2
        HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR
               <= (SELECT max(ts) - INTERVAL 1 SECOND FROM events)
    """,
    "j4_shipping_priority": """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < '1998-01-01'
          AND l_shipdate > '1998-01-01'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "j5_region_volume": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= '1996-01-01' AND o_orderdate < '1999-01-01'
        GROUP BY 1
    """,
    "sp1_train_split": """
        SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split:42'), 1, 2) < '0d' THEN 'test'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split:42'), 1, 2) < '1a' THEN 'val'
                    ELSE 'train' END AS split,
               lang,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY 1, 2
    """,
    "ct1_contamination": """
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
    """,
    "ct2_split_leakage": f"""
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
    """,
    "fl1_quality_filter": f"""
        SELECT {T.quality_rule_sql('text', 'n_chars')} AS rule,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY 1
    """,
    "a4_pivot": """
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click')    AS n_click,
               count(*) FILTER (WHERE event_type = 'error')    AS n_error,
               count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
               count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
               count(*) FILTER (WHERE event_type = 'view')     AS n_view
        FROM events GROUP BY user_id
    """,
    "s5_semantic_dedup": f"""
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
    """,
    "pk1_sequence_packing": """
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
    """,
    "t4_lang_id": f"""
        SELECT doc_id, lang, {T.lang_id_sql('text')} AS pred_lang FROM documents
    """,
    "t5_rolling_fp": f"""
        SELECT doc_id, {T.rolling_hash_sql('text')} AS fp_roll FROM documents
    """,
    "t6_bpe_tokens": f"""
        SELECT doc_id, {T.bpe_token_count_sql('text')} AS n_bpe FROM documents
    """,
    "w1_sessionize": """
        WITH g AS (
          SELECT user_id,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                          > 1800 * 1000000
                      THEN 1 ELSE 0 END AS ns
          FROM events
        )
        -- CAST: DuckDB sums INTEGER into HUGEINT, which pandas renders as
        -- float64 (56.0) while Spark returns bigint (56) -- identical values,
        -- divergent hash repr. BIGINT matches Spark's sum-of-int result type.
        SELECT user_id, CAST(sum(ns) AS BIGINT) AS n_sessions FROM g GROUP BY 1
    """,
    # w11: session_window's merge is INCLUSIVE at the boundary (an
    # exact-gap event still merges — pinned by experiment in
    # tests/test_funnel_retention.py), so the island test is the same
    # strict > as w1's; end = last ts + gap.
    "w11_session_window": """
        WITH g AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                          > 1800 * 1000000
                      THEN 1 ELSE 0 END AS ns
          FROM events
        ),
        s AS (
          SELECT user_id, ts,
                 sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
          FROM g
        )
        SELECT user_id,
               min(ts) AS sess_start,
               max(ts) + INTERVAL 30 MINUTE AS sess_end,
               count(*) AS n_events
        FROM s GROUP BY user_id, sid
    """,
    "w2_topk_per_group": """
        WITH j AS (
          SELECT c_mktsegment, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY c_mktsegment
                                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders JOIN customer ON o_custkey = c_custkey
        )
        SELECT c_mktsegment, o_orderkey, round(o_totalprice, 2) AS price
        FROM j WHERE rn <= 3
    """,
    "mm1_media_meta": """
        SELECT doc_id, octet_length(text::BLOB) AS n_bytes, md5(text) AS fp_md5
        FROM documents
    """,
    # mm4: factor-4 mean pooling restated with ord() — byte == codepoint
    # for the ASCII corpus; all-integer, so values match exactly.
    "mm4_media_resize": """
        SELECT doc_id,
               list_transform(range(least(16, length(text) // 4)), i ->
                 CAST((ord(substr(text, CAST(i*4+1 AS INT), 1))
                     + ord(substr(text, CAST(i*4+2 AS INT), 1))
                     + ord(substr(text, CAST(i*4+3 AS INT), 1))
                     + ord(substr(text, CAST(i*4+4 AS INT), 1))) // 4 AS INT)
               ) AS pooled,
               CAST(length(text) // 4 AS BIGINT) AS n_pooled
        FROM documents
    """,
    # g1: same exact-integer moments, same pinned association order as
    # the applyInPandas kernel (operators/grouped.ols_residuals) — the
    # doubles are bit-identical before the shared round(…, 6).
    "g1_grouped_ols": """
        WITH m AS (
          SELECT source, count(*) AS n, sum(doc_id) AS sx,
                 sum(n_chars) AS sy, sum(doc_id * n_chars) AS sxy,
                 sum(doc_id * doc_id) AS sxx
          FROM documents GROUP BY source
        ),
        f AS (
          SELECT source,
                 CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
                 (CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
          FROM m
        )
        SELECT d.doc_id, d.source,
               round(CAST(d.n_chars AS DOUBLE)
                     - (f.intercept + f.slope * CAST(d.doc_id AS DOUBLE)),
                     6) AS resid
        FROM documents d JOIN f USING (source)
    """,
    # g2: lower median = the element at 1-based rank (n+1)//2; the
    # VALUE at that rank is well-defined no matter how row_number
    # breaks ties between equal n_chars.
    "g2_grouped_agg_median": """
        WITH r AS (
          SELECT source, n_chars,
                 row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
                 count(*) OVER (PARTITION BY source) AS cnt
          FROM documents
        )
        SELECT source, n_chars AS med_chars, cnt AS n_docs
        FROM r WHERE rn = (cnt + 1) // 2
    """,
    "g3_cogroup_asof": """
        WITH j AS (
          SELECT e.event_id, e.user_id, o.o_orderkey,
                 row_number() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
          FROM events e
          JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        )
        SELECT event_id, user_id, o_orderkey AS last_orderkey
        FROM j WHERE rn = 1
    """,
    # mm2: the frame slices restated on the ASCII text — step and count
    # mirror sample_frames exactly (step = max(1, len // 4), k < min(4,
    # len), frame k = bytes [k*step, k*step+step)).
    "mm2_frame_sample": """
        WITH p AS (
          SELECT doc_id, text,
                 greatest(1, length(text) // 4) AS step,
                 least(4, length(text)) AS nf
          FROM documents WHERE length(text) > 0
        ),
        k AS (SELECT unnest(range(4)) AS fi)
        SELECT p.doc_id,
               CAST(k.fi AS INT) AS frame_idx,
               md5(substr(p.text, CAST(k.fi * p.step + 1 AS INT),
                          CAST(p.step AS INT))) AS frame_md5,
               CAST(length(substr(p.text, CAST(k.fi * p.step + 1 AS INT),
                                  CAST(p.step AS INT))) AS INT) AS frame_bytes
        FROM p JOIN k ON k.fi < p.nf
    """,
    # mm3: md5-digest bytes / 256 — hex pairs decoded by strpos
    # arithmetic; every value is an exact dyadic fraction, so no
    # rounding is needed for cross-engine equality.
    "mm3_media_features": """
        SELECT doc_id,
               list_transform(range(8), i ->
                 (CAST(strpos('0123456789abcdef',
                              substr(md5(text), CAST(i*2+1 AS INT), 1)) - 1
                       AS DOUBLE) * 16
                  + (strpos('0123456789abcdef',
                            substr(md5(text), CAST(i*2+2 AS INT), 1)) - 1)
                 ) / 256.0
               ) AS feature
        FROM documents
    """,
    # mm5: the oracle restates the 8 image statistics from the pixel
    # closed form (doc_id*31 + 7i) mod 256 — it never sees PNG bytes,
    # so a match proves the stdlib encode→decode chain recovers every
    # pixel exactly (all five scanline filters are in the cycle).
    "mm5_png_decode": """
        SELECT doc_id,
               [10.0, 16.0, 1.0, mn, mx, me, fs, ls] AS feature
        FROM (
          SELECT d.doc_id AS doc_id,
                 CAST(MIN((d.doc_id*31 + 7*t.i) % 256) AS DOUBLE) AS mn,
                 CAST(MAX((d.doc_id*31 + 7*t.i) % 256) AS DOUBLE) AS mx,
                 CAST(SUM((d.doc_id*31 + 7*t.i) % 256) // 160 AS DOUBLE) AS me,
                 CAST((d.doc_id*31) % 256 AS DOUBLE) AS fs,
                 CAST((d.doc_id*31 + 7*159) % 256 AS DOUBLE) AS ls
          FROM documents d, range(160) t(i)
          WHERE d.doc_id % 5 = 0
          GROUP BY d.doc_id
        )
    """,
    "w3_tumbling_window": """
        SELECT date_trunc('hour', ts) AS win_start, event_type,
               count(*) AS n, round(sum(value), 2) AS total_value
        FROM events GROUP BY 1, 2
    """,
    "w6_sliding_window": """
        WITH hop AS (
          SELECT time_bucket(INTERVAL '30 minutes', ts) AS win_start,
                 event_type, value
          FROM events
          UNION ALL
          SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
                 event_type, value
          FROM events
        )
        SELECT win_start, event_type, count(*) AS n,
               round(sum(value), 2) AS total_value
        FROM hop GROUP BY 1, 2
    """,
    "w7_event_gaps": """
        WITH g AS (
          SELECT user_id,
                 epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 )) AS gap_us
          FROM events
        )
        SELECT user_id, count(*) AS n_gaps,
               CAST(min(gap_us) AS BIGINT) AS min_gap_us,
               CAST(max(gap_us) AS BIGINT) AS max_gap_us,
               CAST(sum(gap_us) AS BIGINT) AS total_gap_us
        FROM g WHERE gap_us IS NOT NULL GROUP BY user_id
    """,
    "a5_cube": """
        SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(GROUPING(CAST(ts AS DATE), event_type) AS BIGINT) AS gid,
               count(*) AS n
        FROM events
        GROUP BY CUBE(CAST(ts AS DATE), event_type)
    """,
    "w4_asof_join": """
        WITH j AS (
          SELECT e.event_id, e.user_id, o.o_orderkey,
                 row_number() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
          FROM events e
          JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        )
        SELECT event_id, user_id, o_orderkey AS last_orderkey
        FROM j WHERE rn = 1
    """,
    "t7_doc_freq": """
        SELECT token, count(*) AS df FROM (
          SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
          FROM documents
        ) GROUP BY token
        ORDER BY df DESC, token ASC LIMIT 50
    """,
    "s1_cosine_topk": """
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
    """,
    "h1_host_stats": f"""
        WITH u AS (SELECT {_URL_SQL} AS url, n_chars, lang FROM documents)
        SELECT lower(split_part(split_part(url, '//', 2), '/', 1)) AS host,
               count(*) AS n_pages,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        FROM u GROUP BY 1
    """,
    "d8_url_dedup": f"""
        WITH u AS (SELECT {_URL_SQL} AS url, doc_id FROM documents),
        n AS (
          SELECT lower(regexp_replace(regexp_replace(regexp_replace(
                   url, '^https?://', ''), '[?#].*$', ''), '/$', '')) AS norm_url,
                 doc_id
          FROM u
        )
        SELECT norm_url, count(*) AS n_dupes, min(doc_id) AS keeper_doc
        FROM n GROUP BY 1 HAVING count(*) > 1
    """,
    "lg1_link_extract": f"""
        WITH a AS (
          SELECT {_URL_SQL} AS url, {_ANCHORS_SQL} AS anchors FROM documents
        ),
        e AS (
          SELECT lower(split_part(split_part(url, '//', 2), '/', 1)) AS src_host,
                 lower(split_part(split_part(
                   unnest(regexp_extract_all(anchors, 'href="([^"]+)"', 1)),
                   '//', 2), '/', 1)) AS dst_host
          FROM a
        )
        SELECT src_host, dst_host, count(*) AS n_links
        FROM e GROUP BY 1, 2
    """,
    "gr1_pagerank_step": f"""
        WITH a AS (
          SELECT {_URL_SQL} AS url, {_ANCHORS_SQL} AS anchors FROM documents
        ),
        e AS (
          SELECT lower(split_part(split_part(url, '//', 2), '/', 1)) AS src_host,
                 lower(split_part(split_part(
                   unnest(regexp_extract_all(anchors, 'href="([^"]+)"', 1)),
                   '//', 2), '/', 1)) AS dst_host
          FROM a
        ),
        edges AS (
          SELECT src_host AS src, dst_host AS dst, CAST(count(*) AS DOUBLE) AS w
          FROM e GROUP BY 1, 2
        ),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        outw AS (SELECT src, sum(w) AS outw FROM edges GROUP BY 1),
        contrib AS (
          SELECT dst, sum(w / outw) AS cin
          FROM edges JOIN outw USING (src) GROUP BY 1
        )
        SELECT node,
               round(0.15 / nn.n + 0.85 / nn.n * coalesce(c.cin, 0), 9) AS pagerank
        FROM nodes CROSS JOIN nn LEFT JOIN contrib c ON c.dst = nodes.node
    """,
    "gr2_pagerank": _pagerank_oracle_sql(_PR_ITERS),
    "gr3_pagerank_dangling": _pagerank_oracle_sql(_PR_ITERS, dangling=True),
    "fr1_frontier": f"""
        WITH a AS (
          SELECT doc_id, {_URL_SQL} AS url, {_ANCHORS_SQL} AS anchors
          FROM documents
        ),
        hrefs AS (
          SELECT unnest(regexp_extract_all(anchors, 'href="([^"]+)"', 1)) AS href
          FROM a
          UNION ALL
          SELECT 'https://news' || ((doc_id * 7 + 3) % 13)::VARCHAR
                   || '.example.com/article/' || (doc_id % 25)::VARCHAR
          FROM a
        ),
        cand AS (
          SELECT DISTINCT regexp_replace(regexp_replace(
                   lower(href), '^https?://', ''), '/$', '') AS norm_url
          FROM hrefs
        ),
        crawled AS (
          SELECT DISTINCT regexp_replace(regexp_replace(regexp_replace(
                   lower(url), '^https?://', ''), '[?#].*$', ''), '/$', '')
                 AS norm_url
          FROM a
        ),
        frontier AS (
          SELECT norm_url FROM cand
          WHERE norm_url NOT IN (SELECT norm_url FROM crawled)
        ),
        e AS (
          SELECT lower(split_part(split_part(url, '//', 2), '/', 1)) AS src_host,
                 lower(split_part(split_part(
                   unnest(regexp_extract_all(anchors, 'href="([^"]+)"', 1)),
                   '//', 2), '/', 1)) AS dst_host
          FROM a
        ),
        edges AS (
          SELECT src_host AS src, dst_host AS dst, CAST(count(*) AS DOUBLE) AS w
          FROM e GROUP BY 1, 2
        ),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        outw AS (SELECT src, sum(w) AS outw FROM edges GROUP BY 1),
        contrib AS (
          SELECT dst, sum(w / outw) AS cin
          FROM edges JOIN outw USING (src) GROUP BY 1
        ),
        rankt AS (
          SELECT node,
                 round(0.15 / nn.n + 0.85 / nn.n * coalesce(c.cin, 0), 9)
                   AS pagerank
          FROM nodes CROSS JOIN nn LEFT JOIN contrib c ON c.dst = nodes.node
        )
        SELECT split_part(f.norm_url, '/', 1) AS host, f.norm_url, r.pagerank
        FROM frontier f
        JOIN rankt r ON r.node = split_part(f.norm_url, '/', 1)
    """,
    "d11_edit_distance": f"""
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
    """,
    "ml1_quality_classifier": f"""
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
    """,
    "sh1_shard_assign": """
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
    """,
    "mx1_mixture_upsample": """
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
    """,
    "wn1_winnowing": f"""
        WITH f AS (
          {T.winnow_sql('documents', 'doc_id', 'text')}
        )
        SELECT doc_id, len(fps)::BIGINT AS n_fps,
               list_min(fps) AS fp_min, list_max(fps) AS fp_max,
               coalesce(list_sum(fps), 0)::BIGINT AS fp_sum
        FROM f
    """,
    "iv2_bm25": f"""
        SELECT _id AS doc_id, score FROM (
          {IX.bm25_sql('documents', 'doc_id', 'text', _BM25_TERMS, top_k=20)}
        )
    """,
    "rp1_sign_projection": f"""
        SELECT vec_id,
               {S.sign_projection_sql('embedding', out_dim=16)} AS proj
        FROM embeddings
    """,
    "cm1_count_min": f"""
        {SK.cms_sql('documents', 'text', _CMS_PROBES, depth=4, width=1024)}
    """,
    "tk1_bpe_merge": f"""
        {IX.bpe_merge_sql('documents', 'doc_id', 'text')}
    """,
    "hl1_hll_distinct": f"""
        SELECT e.est_hll, e.registers_hit, e.sum_scaled, x.exact_distinct
        FROM (
          {SK.hll_sql("SELECT CAST(user_id AS VARCHAR) || ':' || CAST(CAST(ts AS DATE) AS VARCHAR) AS v FROM events", m=1024)}
        ) e,
        (
          SELECT count(DISTINCT CAST(user_id AS VARCHAR) || ':' ||
                       CAST(CAST(ts AS DATE) AS VARCHAR))::BIGINT AS exact_distinct
          FROM events
        ) x
    """,
    "bl1_bloom_filter": f"""
        {SK.bloom_sql(
            "SELECT DISTINCT text AS v FROM documents WHERE doc_id % 97 = 0",
            "SELECT doc_id, text, COALESCE(text IN (SELECT text FROM documents WHERE doc_id % 97 = 0), FALSE) AS exact_hit FROM documents",
            ["doc_id", "exact_hit"],
            "text",
            m_bits=64,
            k=2,
        )}
    """,
    "sm2_weighted_sample": f"""
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE n_chars > 0
        ORDER BY {SAMP.weighted_sample_sql('doc_id', 'n_chars')} DESC, doc_id
        LIMIT 100
    """,
    "wn2_winnow_overlap": f"""
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
    """,
    "u2_latest_state": """
        WITH r AS (
          SELECT user_id, event_id, event_type, ts, value,
                 row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        )
        SELECT user_id, event_id AS last_event_id, event_type AS last_type,
               ts AS last_ts, round(value, 2) AS last_value
        FROM r WHERE rn = 1
    """,
    "fn1_funnel": """
        WITH s AS (
          SELECT user_id, min(ts) AS s_ts FROM events
          WHERE event_type = 'signup' GROUP BY 1
        ),
        c AS (
          SELECT e.user_id, min(e.ts) AS c_ts
          FROM events e JOIN s USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > s.s_ts GROUP BY 1
        ),
        p AS (
          SELECT e.user_id, min(e.ts) AS p_ts
          FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY 1
        )
        SELECT (SELECT count(*) FROM s) AS n_signup,
               (SELECT count(*) FROM c) AS n_signup_click,
               (SELECT count(*) FROM p) AS n_full_funnel
    """,
    "r1_retention": """
        WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
        SELECT c.cohort_day,
               CAST(date_diff('day', c.cohort_day, d.day) AS BIGINT) AS day_offset,
               count(DISTINCT d.user_id) AS n_active
        FROM d JOIN c USING (user_id)
        GROUP BY 1, 2
    """,
    "w8_running_total": """
        SELECT user_id, event_id,
               count(*) OVER w AS n_so_far,
               round(sum(value) OVER w, 2) AS value_so_far
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "a6_histogram": """
        SELECT CAST(floor(value / 5.0) AS BIGINT) AS bin, count(*) AS n
        FROM events GROUP BY 1
    """,
    "t11_repetition": """
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
    """,
    "d9_incremental_dedup": """
        WITH f AS (
          SELECT doc_id, source, md5(text) AS fp FROM documents
        ),
        corpus AS (SELECT DISTINCT fp FROM f WHERE doc_id % 5 < 3),
        batch AS (SELECT * FROM f WHERE doc_id % 5 >= 3),
        fresh AS (SELECT b.* FROM batch b ANTI JOIN corpus c USING (fp)),
        w AS (SELECT fp, min(doc_id) AS doc_id FROM fresh GROUP BY 1)
        SELECT fr.fp, fr.doc_id, fr.source
        FROM fresh fr SEMI JOIN w ON fr.fp = w.fp AND fr.doc_id = w.doc_id
    """,
    "cp2_token_budget": """
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
    """,
    "d10_incremental_lsh": f"""
        {_LSH_CAND_CTE}
        SELECT id_a, id_b FROM cand
        WHERE id_a % 5 >= 3 OR id_b % 5 >= 3
    """,
    "iv1_inverted_index": """
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
    """,
    "ng1_top_bigrams": """
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
    """,
    "u3_scd2_intervals": """
        WITH o AS (
          SELECT user_id, event_type, ts, event_id,
                 lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS prev
          FROM events
        ),
        c AS (
          SELECT user_id, event_type, ts, event_id FROM o
          WHERE prev IS NULL OR prev <> event_type
        )
        SELECT user_id, event_type, ts AS valid_from,
               coalesce(lead(ts) OVER (
                          PARTITION BY user_id ORDER BY ts, event_id
                        ),
                        TIMESTAMP '9999-12-31 00:00:00') AS valid_to
        FROM c
    """,
    "w9_session_path": """
        SELECT user_id,
               count(*) AS n_events,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM events GROUP BY user_id
    """,
    "w10_concurrency": """
        WITH d AS (
          SELECT user_id AS k, ts AS t, 1 AS d, event_id AS id FROM events
          UNION ALL
          SELECT user_id, ts + INTERVAL 30 MINUTE, -1, event_id FROM events
        ),
        r AS (
          SELECT k, sum(d) OVER (
            PARTITION BY k ORDER BY t, d, id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
          ) AS live
          FROM d
        )
        SELECT k AS user_id, CAST(max(live) AS BIGINT) AS peak
        FROM r GROUP BY k
    """,
    "zo1_zorder_stats": """
        WITH e AS (
          SELECT user_id AS x0,
                 date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS y0
          FROM events
        ),
        m AS (SELECT x0, y0, x0 & 65535 AS x, y0 & 65535 AS y FROM e),
        s1 AS (SELECT x0, y0, (x | (x << 8)) & 16711935 AS x,
                      (y | (y << 8)) & 16711935 AS y FROM m),
        s2 AS (SELECT x0, y0, (x | (x << 4)) & 252645135 AS x,
                      (y | (y << 4)) & 252645135 AS y FROM s1),
        s3 AS (SELECT x0, y0, (x | (x << 2)) & 858993459 AS x,
                      (y | (y << 2)) & 858993459 AS y FROM s2),
        s4 AS (SELECT x0, y0, (x | (x << 1)) & 1431655765 AS x,
                      (y | (y << 1)) & 1431655765 AS y FROM s3),
        z AS (SELECT x0, y0, (x | (y << 1)) >> 6 AS z_bucket FROM s4)
        SELECT z_bucket, count(*) AS n_rows,
               min(x0) AS x_min, max(x0) AS x_max,
               CAST(min(y0) AS BIGINT) AS y_min,
               CAST(max(y0) AS BIGINT) AS y_max
        FROM z GROUP BY 1
    """,
    "u4_merge_upsert": """
        WITH base AS (
          SELECT event_id, ts, user_id, event_type, value FROM events
        ),
        chg AS (
          SELECT event_id, ts, user_id,
                 'corrected' AS event_type, value + 100 AS value
          FROM base WHERE event_id % 7 = 0
          UNION ALL
          SELECT event_id + 10000000, ts, user_id, 'backfill', value
          FROM base WHERE event_id % 997 = 0
        )
        SELECT * FROM base
        WHERE event_id NOT IN (SELECT event_id FROM chg)
        UNION ALL
        SELECT * FROM chg
    """,
}

# d12 produces the identical labelling as d6 (same pair graph, same
# component-minimum contract) via a different distributed algorithm —
# one recursive-CTE oracle checks both.
ORACLE_SQL["d12_cc_star"] = ORACLE_SQL["d6_dup_clusters"]

# d13: staged-CTE twin of operators/dedup.exact_substring_spans —
# stride-1 word 8-grams (0-based pos), doc-frequency cap, pair join on
# the gram string, gaps-and-islands run merge on the alignment diagonal
# (within a (a, b, diag) group each pos_a occurs once, so
# pos_a - row_number() labels maximal consecutive runs).
ORACLE_SQL["d13_substring_spans"] = """
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
"""

# d14: staged-CTE twin of operators/dedup.within_doc_repeated_spans —
# doc-local stride-1 word 5-grams, per-(doc,gram) occurrence cap,
# self-join restricted to pos_a < pos_b, islands on the offset delta.
ORACLE_SQL["d14_within_doc_repeats"] = """
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
"""

# d15: d14's span CTEs + removal — positions of every later occurrence
# explode to a per-doc drop set, surviving words re-join in order.
ORACLE_SQL["d15_remove_repeats"] = """
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
"""

# d16: identical chunking (12-word windows), identical first-occurrence
# election (row_number over the paragraph md5, (doc_id, pos) order) and
# ordered reassembly, restated in SQL. COALESCE('') matches Spark's
# concat_ws over an empty survivor set.
ORACLE_SQL["d16_paragraph_dedup"] = """
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
"""

# fl4: the canonicalization twin is generated by the SAME helper module
# (urlfilter.canonicalize_url_sql) so both engines share every regex.
from .operators.urlfilter import canonicalize_url_sql as _canon_sql

ORACLE_SQL["fl4_url_canonicalize"] = f"""
    SELECT doc_id, {_canon_sql(_URL_SQL)} AS url_canon
    FROM documents
"""

# t12: identical arithmetic order — log(0.7*(cb/c1) + 0.3*((c2+1)/(T+V)))
# over exact integer counts; per-doc mean rounded 6 (t10 convention).
ORACLE_SQL["t12_bigram_lm"] = """
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
"""

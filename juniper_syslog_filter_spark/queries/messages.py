"""Reference-pipeline queries (p*, f3, m*, t9): the reference's keyword
filter → parse → classify → severity route, expressed relationally.

The m* queries synthesize the reference's syslog message grammar
deterministically from ``events`` with pure integer arithmetic
(:data:`_MSG_SQL` and its Spark twin :func:`_msg_col`), then run the
pipeline's own F1→F7 chain (``with_message_fields`` → ``classify_ips``),
oracle-checked end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen import load_table
from ..driver_queries import query
from ..functions import parse as P
from ..functions import pii as PII
from ..functions.ip import classify_ips
from ..operators.filters import filter_and_merge_severity
from ..operators.project import reduce_columns
from ..session import spread_small_input


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
    # The message-synth + extract chain is CPU-bound; the sf-dir events
    # table is ONE small single-row-group parquet file, i.e. one input
    # split, which would serialize the whole chain onto one core. The
    # chain itself stays map-only.
    ev = spread_small_input(load_table(spark, sf_dir, "events"))
    return ev.withColumn("Message", _msg_col())


_CLASSIFY_SQL = """
    CASE WHEN {ip} = '' THEN ''
         WHEN TRY_CAST(string_split({ip}, '.')[1] AS INT) = 10
           OR (TRY_CAST(string_split({ip}, '.')[1] AS INT) = 172
               AND TRY_CAST(string_split({ip}, '.')[2] AS INT) BETWEEN 16 AND 31)
           OR (TRY_CAST(string_split({ip}, '.')[1] AS INT) = 192
               AND TRY_CAST(string_split({ip}, '.')[2] AS INT) = 168)
         THEN 'private' ELSE 'global' END
"""


_M_BASE = f"""
    SELECT event_id, ts, event_type,
           {_MSG_SQL} AS Message
    FROM events
"""


@query(oracle="""
        SELECT doc_id, lang, n_chars FROM documents
        WHERE contains(text, 'spark')
    """)
def q_p1_filter_keyword(spark, sf_dir):
    """P1 keyword filter (modules/filter_keyword.py): case-sensitive
    literal contains over documents.text."""
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").contains("spark"))
        .select("doc_id", "lang", "n_chars")
    )


@query(oracle="""
        SELECT event_id, user_id, round(value, 2) AS value_r
        FROM events WHERE event_type = 'error'
    """)
def q_p2_filter_severity(spark, sf_dir):
    """P2 equality filter (modules/filter_critical.py) on events."""
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select("event_id", "user_id", F.round("value", 2).alias("value_r"))
    )


@query(oracle=f"""
        WITH m AS ({_M_BASE})
        SELECT event_id, regexp_extract(Message, 'Severity=(\\w+)', 1) AS Severity
        FROM m
        WHERE regexp_extract(Message, 'Severity=(\\w+)', 1) = 'CRITICAL'
    """)
def q_p3_filter_merge(spark, sf_dir):
    """P3 filter_and_merge (modules/filter_critical_and_merge.py:30-127):
    severity equality filter + merge to a single output partition (the
    reference concatenates survivors into one CSV)."""
    df = _events_with_msg(spark, sf_dir).select(
        "event_id", P.extract_severity_expr(F.col("Message")).alias("Severity")
    )
    return filter_and_merge_severity(df, "CRITICAL")


@query(oracle="SELECT event_id, ts, event_type FROM events")
def q_p4_reduce_columns(spark, sf_dir):
    """P4 positional projection (modules/reduce_columns.py) keep [0,1,3]."""
    return reduce_columns(load_table(spark, sf_dir, "events"), [0, 1, 3])


@query(oracle="""
        SELECT event_id, regexp_extract(props, '"k": (\\d+)', 1) AS k_str
        FROM events
    """)
def q_f3_extract_regex(spark, sf_dir):
    """F3-style regexp_extract (modules/extract_protocol.py:31 shape) over
    the events JSON props column; no-match → ''."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).alias("k_str"),
    )


@query(oracle=f"""
        WITH m AS ({_M_BASE}),
        r AS (
          SELECT event_id,
                 regexp_extract(Message, '{P.ROUTING_PATTERN}', 1) AS srcIP,
                 regexp_extract(Message, '{P.ROUTING_PATTERN}', 2) AS dstIP,
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
    """)
def q_m1_parse_classify(spark, sf_dir):
    """Reference pipeline F1→F7 relationally over synthesized messages:
    routing extract, IP split, private/global classify, protocol +
    severity extracts — '' conventions throughout."""
    df = _events_with_msg(spark, sf_dir).select("event_id", "Message")
    return classify_ips(P.with_message_fields(df)).drop("Message")


@query(oracle=f"""
        WITH m AS ({_M_BASE}),
        r AS (
          SELECT event_id,
                 regexp_extract(Message, '{P.ROUTING_PATTERN}', 1) AS srcIP,
                 regexp_extract(Message, '{P.ROUTING_PATTERN}', 2) AS dstIP,
                 regexp_extract(Message, 'Severity=(\\w+)', 1) AS Severity
          FROM m WHERE contains(Message, 'observed')
        )
        SELECT event_id,
               CASE WHEN srcIP <> '' AND dstIP <> '' THEN srcIP || ' > ' || dstIP ELSE '' END AS routing,
               {_CLASSIFY_SQL.format(ip='srcIP')} AS srcIP_type,
               {_CLASSIFY_SQL.format(ip='dstIP')} AS dstIP_type,
               Severity
        FROM r WHERE Severity = 'CRITICAL'
    """)
def q_m2_critical_routed(spark, sf_dir):
    """Phases 1-10 composed: keyword filter → parse → classify →
    severity filter (the reference's canonical CLI path, run.py:42-433)."""
    df = _events_with_msg(spark, sf_dir).filter(F.col("Message").contains("observed"))
    out = P.with_message_fields(df.select("event_id", "Message"))
    return classify_ips(out.filter(F.col("Severity") == "CRITICAL")).select(
        "event_id", "routing", "srcIP_type", "dstIP_type", "Severity"
    )


@query(oracle=f"""
        WITH m AS ({_M_BASE})
        SELECT regexp_extract(Message, 'Severity=(\\w+)', 1) AS severity,
               CAST(ts AS DATE) AS date,
               count(*) AS n
        FROM m GROUP BY 1, 2
    """)
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


@query(oracle=f"""
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
    """)
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

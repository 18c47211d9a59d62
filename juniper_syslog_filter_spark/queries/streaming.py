"""Structured Streaming queries (st*): each drains a file-source stream
over an sf table with ``availableNow`` into parquet and reads the
result back (:func:`_drain`).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from ..driver_queries import query
from ..streaming import sessionize_stream
from .common import _SEV_CASES


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
    back on the caller's session.

    Session-level confs are not inherited by ``newSession()``, so every
    runtime-modifiable conf of the caller is copied (the time zone, for
    one, matters to st3's window/timestamp_ntz round-trip); only the
    shuffle width then differs. The session is not stopped: it shares
    the caller's SparkContext, and ``stop()`` on it would stop that."""
    s = spark.newSession()
    for key, value in spark.conf.getAll.items():
        if spark.conf.isModifiable(key):
            s.conf.set(key, value)
    s.conf.set("spark.sql.shuffle.partitions", str(n))
    return s


def _drain(spark, sf_dir, tables, build, schema=None):
    """Stream each sf table in ``tables`` through ``build(ss, *streams)``
    (``ss`` is the :func:`_stream_session` the plan must be built on),
    drain the plan to parquet with ``availableNow``, and read the output
    back on the caller's session — with ``schema`` when given, so an
    output with no rows still reads back."""
    tmp = tempfile.mkdtemp(prefix="stream_")
    ss = _stream_session(spark)
    streams = []
    for i, table in enumerate(tables):
        path = f"{sf_dir}/{table}.parquet"
        # FileStreamSource requires a directory source; the testdata
        # table is a single file — expose it through a symlinked
        # directory (no copy), one per stream.
        src = f"{tmp}/src{i}"
        os.makedirs(src)
        os.symlink(os.path.abspath(path), f"{src}/{table}.parquet")
        in_schema = spark.read.parquet(path).schema
        streams.append(ss.readStream.schema(in_schema).parquet(src))
    (
        build(ss, *streams).writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(f"{tmp}/out")


# st2 and st6 emit the same distinct fingerprint set.
_DISTINCT_FP_SQL = """
        SELECT DISTINCT md5(text) AS fp FROM documents
    """


@query(oracle=None)
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

    def plan(ss, stream):
        # testdata parquet stores ts as TIMESTAMP_NTZ (watermarks require
        # TIMESTAMP) and bigint user_id (SESSION_SCHEMA keys by string).
        events = stream.select(
            F.col("user_id").cast("string").alias("user_id"),
            F.col("ts").cast("timestamp").alias("ts"),
        )
        return sessionize_stream(
            events, gap_minutes=30, watermark_delay="1 second"
        )

    return _drain(spark, sf_dir, ["events"], plan)


@query(oracle=_DISTINCT_FP_SQL)
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

    def plan(ss, stream):
        return stream.select(
            F.md5(F.col("text").cast("binary")).alias("fp")
        ).dropDuplicates(["fp"])

    return _drain(spark, sf_dir, ["documents"], plan)


@query(oracle=_DISTINCT_FP_SQL)
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
    ts = F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(
        secs=F.col("doc_id").cast("double")
    )

    def plan(ss, stream):
        return (
            stream.select(
                F.md5(F.col("text").cast("binary")).alias("fp"), ts.alias("ts")
            )
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["fp"])
            .select("fp")
        )

    return _drain(spark, sf_dir, ["documents"], plan)


@query(oracle="""
        SELECT date_trunc('hour', ts) AS win_start, event_type,
               count(*) AS n
        FROM events
        GROUP BY 1, 2
        HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR
               <= (SELECT max(ts) - INTERVAL 1 SECOND FROM events)
    """)
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

    def plan(ss, stream):
        return (
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

    out = _drain(spark, sf_dir, ["events"], plan)
    # session tz is UTC → ntz cast is value-preserving; matches w3's
    # (and the oracle's) naive-timestamp win_start.
    return out.select(
        F.col("win_start").cast("timestamp_ntz").alias("win_start"),
        "event_type",
        "n",
    )


@query(oracle="""
        SELECT p.event_id AS p_id, e.event_id AS e_id
        FROM events p JOIN events e
          ON p.event_type = 'purchase' AND e.event_type = 'error'
         AND p.user_id = e.user_id
         AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 60 MINUTE
    """)
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

    def plan(ss, a, b):
        p = (
            a.where(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("p_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").cast("timestamp").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 second")
        )
        e = (
            b.where(F.col("event_type") == "error")
            .select(
                F.col("event_id").alias("e_id"),
                F.col("user_id").alias("e_user"),
                F.col("ts").cast("timestamp").alias("e_ts"),
            )
            .withWatermark("e_ts", "1 second")
        )
        return p.join(
            e,
            (F.col("p_user") == F.col("e_user"))
            & (F.col("e_ts") >= F.col("p_ts"))
            & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 60 MINUTES")),
            "inner",
        ).select("p_id", "e_id")

    return _drain(
        spark, sf_dir, ["events", "events"], plan,
        schema="p_id long, e_id long",
    )


@query(oracle="""
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
    """)
def q_st5_stream_static_join(spark, sf_dir):
    """STREAMING stream-static enrich: the events stream joined to the
    static severity dimension — j1's lookup enrich as a continuous
    ingest stage. Stream-static inner equi-joins are STATELESS (each
    micro-batch joins against the static snapshot; nothing is buffered,
    no watermark needed), so output = the batch join exactly and the
    oracle is plain SQL. The dim broadcasts inside every micro-batch —
    the same per-batch broadcast a 100 TB/day enrich would use."""

    def plan(ss, stream):
        # the static side must live on the SAME session as the stream —
        # cross-session joins are rejected.
        dim = ss.createDataFrame(
            [(et, sev, lvl) for et, sev, lvl in _SEV_CASES],
            "event_type string, severity string, severity_level int",
        )
        return stream.join(F.broadcast(dim), "event_type", "inner").select(
            "event_id", "severity", "severity_level"
        )

    return _drain(
        spark, sf_dir, ["events"], plan,
        schema="event_id long, severity string, severity_level int",
    )

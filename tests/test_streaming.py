"""Structured Streaming tests: availableNow drain equals the batch
result; re-run processes only newly-arrived files (exactly-once file
source); windowed aggregate matches a batch oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from juniper_syslog_filter_spark.datagen import generate_pages, severity_dim, device_dim
from juniper_syslog_filter_spark.enrich import enrich
from juniper_syslog_filter_spark.functions.parse import parse_pages
from juniper_syslog_filter_spark.streaming import (
    run_stream_once,
    windowed_severity_counts,
)


@pytest.fixture()
def pages_dir(spark, tmp_path):
    path = str(tmp_path / "pages")
    generate_pages(spark, 2000, num_partitions=4).write.mode("overwrite").parquet(path)
    return path


def test_stream_drain_matches_batch(spark, tmp_path, pages_dir):
    out = str(tmp_path / "out")
    res = run_stream_once(spark, pages_dir, out)
    batch_n = parse_pages(spark.read.parquet(pages_dir)).count()
    assert res["rows_routed"] == batch_n > 0


def test_stream_that_routes_no_rows_counts_zero(spark, tmp_path, pages_dir):
    """A drain whose keyword matches nothing writes no parquet file; the
    read-back takes the routed frame's schema instead of inferring one."""
    out = str(tmp_path / "out")
    res = run_stream_once(spark, pages_dir, out, keyword="NO_SUCH_KEYWORD_XYZ")
    assert res == {"rows_routed": 0}


def test_stream_session_copies_the_callers_runtime_conf(spark):
    """The streaming session carries every runtime conf the caller set,
    not just the time zone; only the shuffle width is its own. The caller
    is a new session, so no other test sees the conf."""
    from juniper_syslog_filter_spark.queries.streaming import _stream_session

    caller = spark.newSession()
    caller.conf.set("spark.sql.caseSensitive", "true")
    caller.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    ss = _stream_session(caller, n=3)
    assert ss.conf.get("spark.sql.caseSensitive") == "true"
    assert ss.conf.get("spark.sql.session.timeZone") == "Asia/Kolkata"
    assert ss.conf.get("spark.sql.shuffle.partitions") == "3"
    assert caller.conf.get("spark.sql.shuffle.partitions") != "3"


def test_stream_resume_processes_only_delta(spark, tmp_path, pages_dir):
    out = str(tmp_path / "out")
    first = run_stream_once(spark, pages_dir, out)
    # no new files → second drain adds nothing
    again = run_stream_once(spark, pages_dir, out)
    assert again["rows_routed"] == first["rows_routed"]
    # new files arriving → only they are processed on the next drain
    generate_pages(spark, 1000, num_partitions=2).write.mode("append").parquet(pages_dir)
    third = run_stream_once(spark, pages_dir, out)
    expect = parse_pages(spark.read.parquet(pages_dir)).count()
    assert third["rows_routed"] == expect > first["rows_routed"]


def test_sessionize_stream_matches_batch_oracle(spark, tmp_path):
    """applyInPandasWithState sessionization == a pandas batch oracle.

    A sentinel user's far-future event drives the watermark past every
    real session's (last + gap) timeout, so all real sessions close —
    either in-batch (gap exceeded) or via the event-time timeout path —
    while the sentinel's own still-open session is the only one held
    back."""
    import datetime as dt

    from juniper_syslog_filter_spark.streaming import sessionize_stream

    t0 = dt.datetime(2025, 6, 1, 12, 0, 0)

    def at(minutes, seconds=0):
        return t0 + dt.timedelta(minutes=minutes, seconds=seconds)

    rows = [
        # u1: one session of 3, then a >30min gap, then a session of 1
        ("u1", at(0)), ("u1", at(10)), ("u1", at(20)), ("u1", at(51)),
        # u2: exactly 30:00 gap → SAME session (strictly-greater test)
        ("u2", at(0)), ("u2", at(30)),
        # u3: 30:00.000001-style gap → new session (one microsecond over)
        ("u3", at(0)), ("u3", at(30, 0.000001)),
        # sentinel pushes the watermark far past every timeout above
        ("zz", at(60 * 24)),
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(rows, "user_id string, ts timestamp").coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("user_id string, ts timestamp").parquet(src)
    sessions = sessionize_stream(stream, gap_minutes=30, watermark_delay="1 second")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM sess").collect()
    }
    expect = {
        ("u1", at(0), at(20), 3),
        ("u1", at(51), at(51), 1),
        ("u2", at(0), at(30), 2),
        ("u3", at(0), at(0), 1),
        ("u3", at(30, 0.000001), at(30, 0.000001), 1),
    }
    assert got == expect


def test_windowed_counts_match_batch_oracle(spark, pages_dir):
    # window() semantics validated on the static frame (same expression
    # the streaming path uses).
    records = enrich(
        parse_pages(spark.read.parquet(pages_dir)),
        severity_dim(spark),
        device_dim(spark),
    )
    got = {
        (r.window_start, r.severity, r.lang): r.n
        for r in windowed_severity_counts(records).collect()
    }
    oracle = {
        (r.ws, r.Severity, r.lang): r.n
        for r in records.groupBy(
            F.date_trunc("hour", "warc_ts").alias("ws"), "Severity", "lang"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == oracle and len(got) > 0


def test_table_sink_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch table sink: replaying the SAME epoch (the crash
    window between table write and checkpoint commit) must REPLACE its
    batch partition, not append duplicates; a new epoch appends."""
    from juniper_syslog_filter_spark.streaming import make_batch_writer

    path = str(tmp_path / "sink_t")
    wb = make_batch_writer(path, partition_cols=["event_type"])
    b0 = spark.createDataFrame(
        [(1, "click"), (2, "view")], "event_id: long, event_type: string"
    )
    wb(b0, 0)
    assert spark.read.parquet(path).count() == 2
    # replay epoch 0 (same batch_id) -> same rows, no duplicates
    wb(b0, 0)
    assert spark.read.parquet(path).count() == 2
    # a genuinely new epoch appends
    b1 = spark.createDataFrame([(3, "click")], "event_id: long, event_type: string")
    wb(b1, 1)
    got = spark.read.parquet(path)
    assert got.count() == 3
    assert got.select("_batch_id").distinct().count() == 2


def test_table_sink_stream_drain(spark, tmp_path, pages_dir):
    """End-to-end: stream pages -> parse -> table sink via foreachBatch;
    row count equals the batch parse, and a second drain over the same
    checkpoint writes nothing new."""
    from juniper_syslog_filter_spark.streaming import (
        read_pages_stream,
        start_table_sink,
    )

    sink = str(tmp_path / "sink_e2e")
    ckpt = str(tmp_path / "ckpt_e2e")
    parsed = parse_pages(read_pages_stream(spark, pages_dir))
    q = start_table_sink(parsed, sink, ckpt)
    q.awaitTermination()
    want = parse_pages(spark.read.parquet(pages_dir)).count()
    assert spark.read.parquet(sink).count() == want
    # re-drain: no new files -> no new rows
    q2 = start_table_sink(
        parse_pages(read_pages_stream(spark, pages_dir)), sink, ckpt
    )
    q2.awaitTermination()
    assert spark.read.parquet(sink).count() == want

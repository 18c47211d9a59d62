"""Funnel (fn1) and retention-cohort (r1) semantics on hand-built
fixtures with known drop-off — the sf tables are too converged (every
user completes the funnel) to distinguish ordered from unordered
counting, which is exactly the bug class these pin."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from juniper_syslog_filter_spark import driver_queries as DQ
from juniper_syslog_filter_spark.queries import windows

SF = "/root/testdata/sf0.001"


def _with_fixture(spark, rows, fn):
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    df = df.withColumn("event_id", F.monotonically_increasing_id()).withColumn(
        "value", F.lit(1.0)
    )
    orig = windows.load_table
    try:
        windows.load_table = lambda spark_, sf_, name: df  # noqa: ARG005
        return fn()
    finally:
        windows.load_table = orig


def _t(h):
    return dt.datetime(2024, 1, 1, h)


def test_funnel_requires_strict_step_order(spark):
    rows = [
        # u1: full ordered funnel
        (1, "signup", _t(1)), (1, "click", _t(2)), (1, "purchase", _t(3)),
        # u2: purchase BEFORE any click -> stops after signup
        (2, "signup", _t(1)), (2, "purchase", _t(2)),
        # u3: click BEFORE signup -> the click must not count
        (3, "click", _t(1)), (3, "signup", _t(2)),
        # u4: never signs up -> invisible to every step
        (4, "click", _t(1)), (4, "purchase", _t(2)),
    ]
    got = _with_fixture(
        spark, rows, lambda: DQ.QUERIES["fn1_funnel"](spark, SF).collect()
    )[0]
    assert (got["n_signup"], got["n_signup_click"], got["n_full_funnel"]) == (3, 1, 1)


def test_funnel_is_monotone_on_real_table(spark):
    got = DQ.QUERIES["fn1_funnel"](spark, SF).collect()[0]
    assert got["n_signup"] >= got["n_signup_click"] >= got["n_full_funnel"]


def test_retention_offsets_from_first_seen_day(spark):
    d0, d1 = dt.datetime(2024, 1, 1, 5), dt.datetime(2024, 1, 2, 5)
    rows = [
        (1, "view", d0), (1, "view", d1), (1, "click", d1),  # cohort d0
        (2, "view", d1),  # cohort d1
    ]
    got = _with_fixture(
        spark, rows, lambda: DQ.QUERIES["r1_retention"](spark, SF).collect()
    )
    cells = {(r["cohort_day"].isoformat(), r["day_offset"]): r["n_active"] for r in got}
    assert cells == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 1): 1,
        ("2024-01-02", 0): 1,
    }


def test_retention_day0_equals_cohort_size(spark):
    """Every user is active on their own first-seen day, so the offset-0
    column must sum to the number of distinct users."""
    rows = DQ.QUERIES["r1_retention"](spark, SF).collect()
    ev = spark.read.parquet(f"{SF}/events.parquet")
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n_active"] for r in rows if r["day_offset"] == 0) == n_users


def test_running_total_final_row_equals_group_totals(spark):
    """The last cumulative row per user must equal the user's plain
    aggregate — ties the window fold to the groupBy the rest of the
    suite already trusts."""
    rows = DQ.QUERIES["w8_running_total"](spark, SF).collect()
    ev = spark.read.parquet(f"{SF}/events.parquet")
    finals = {}
    for r in rows:  # max n_so_far per user is the final cumulative row
        cur = finals.get(r["user_id"])
        if cur is None or r["n_so_far"] > cur["n_so_far"]:
            finals[r["user_id"]] = r
    want = {
        r["user_id"]: r
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .collect()
    }
    assert len(finals) == len(want)
    for uid, fin in finals.items():
        assert fin["n_so_far"] == want[uid]["n"]
        # cumulative fold rounds at the END row; equal up to the cent
        assert abs(fin["value_so_far"] - want[uid]["total"]) < 0.02


def test_histogram_bins_partition_the_table(spark):
    rows = DQ.QUERIES["a6_histogram"](spark, SF).collect()
    ev = spark.read.parquet(f"{SF}/events.parquet")
    assert sum(r["n"] for r in rows) == ev.count()
    assert len({r["bin"] for r in rows}) == len(rows)


def test_w11_session_window_inclusive_gap_boundary(spark):
    """Pins session_window's boundary by experiment: an event at
    EXACTLY gap seconds after the previous one (i.e. at the current
    window's end) still MERGES — only a strictly greater gap starts a
    new session. w11's oracle therefore uses the same strict-> island
    test as w1. Constructed data, since the synthetic events table may
    contain no exact-1800.000000s gap to exercise the boundary."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 7, "2024-01-01 00:00:00"),
         (2, 7, "2024-01-01 00:30:00"),          # exactly gap -> merges
         (3, 7, "2024-01-01 01:00:00.000001")],  # 1 us beyond -> new
        "event_id long, user_id long, ts string",
    ).select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"))
    sw = F.session_window(F.col("ts"), "30 minutes")
    out = sorted(
        (r.start, r.n) for r in df.groupBy(sw.alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("start"), F.col("n").alias("n"))
        .collect()
    )
    assert [n for _, n in out] == [2, 1]

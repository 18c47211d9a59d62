"""Window and event-sequence queries (w*, fn1, r1): sessionize, top-k per
group, tumbling / sliding / session windows, gaps, range joins, running
totals, session paths, concurrency, funnel and retention cohorts.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..datagen import load_table
from ..driver_queries import query
from ..operators.rangejoin import interval_peak_concurrency, prior_window_count


@query(oracle="""
        SELECT e1.event_id,
               count(e2.ts) AS n_prior
        FROM events e1 LEFT JOIN events e2
          ON e2.ts >= e1.ts - INTERVAL 5 MINUTE AND e2.ts < e1.ts
        GROUP BY e1.event_id
    """)
def q_w5_range_join(spark, sf_dir):
    """Banded time-range self-join: per event, the count of events in
    the preceding 5 minutes (half-open) — the equi-bin + residual-filter
    form of an inequality join (no BroadcastNestedLoop)."""
    ev = load_table(spark, sf_dir, "events")
    return prior_window_count(ev, "event_id", "ts", window_sec=300, out_col="n_prior")


@query(oracle="""
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
    """)
def q_w1_sessionize(spark, sf_dir):
    """Window-function sessionization: 30-min-gap sessions per user over
    events; returns per-user session counts."""
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


# w11: session_window's merge is INCLUSIVE at the boundary (an
# exact-gap event still merges — pinned by experiment in
# tests/test_funnel_retention.py), so the island test is the same
# strict > as w1's; end = last ts + gap.
@query(oracle="""
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
    """)
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


@query(oracle="""
        SELECT date_trunc('hour', ts) AS win_start, event_type,
               count(*) AS n, round(sum(value), 2) AS total_value
        FROM events GROUP BY 1, 2
    """)
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


@query(oracle="""
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
    """)
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


@query(oracle="""
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
    """)
def q_w7_event_gaps(spark, sf_dir):
    """LAG-based inter-event gaps: per user, the time since their
    previous event (epoch-second delta), aggregated into per-user
    gap stats. One window sort per user partition + one aggregate —
    the standard funnel/engagement cadence block."""
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


@query(oracle="""
        WITH j AS (
          SELECT c_mktsegment, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY c_mktsegment
                                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders JOIN customer ON o_custkey = c_custkey
        )
        SELECT c_mktsegment, o_orderkey, round(o_totalprice, 2) AS price
        FROM j WHERE rn <= 3
    """)
def q_w2_topk_per_group(spark, sf_dir):
    """Top-3 orders by price per market segment (row_number window)."""
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


@query(oracle="""
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
    """)
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


@query(oracle="""
        WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
        SELECT c.cohort_day,
               CAST(date_diff('day', c.cohort_day, d.day) AS BIGINT) AS day_offset,
               count(DISTINCT d.user_id) AS n_active
        FROM d JOIN c USING (user_id)
        GROUP BY 1, 2
    """)
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


@query(oracle="""
        SELECT user_id, event_id,
               count(*) OVER w AS n_so_far,
               round(sum(value) OVER w, 2) AS value_so_far
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """)
def q_w8_running_total(spark, sf_dir):
    """Per-user cumulative (unbounded-preceding) running count and sum
    over the event stream — the standard telemetry balance/meter query.
    The window's total order (ts, event_id) fixes the double-sum fold
    order, so Spark and DuckDB accumulate bit-identically (same trick
    as s1's left-to-right dot product); one shuffle + one sort."""
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


@query(oracle="""
        SELECT user_id,
               count(*) AS n_events,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM events GROUP BY user_id
    """)
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


@query(oracle="""
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
    """)
def q_w10_concurrency(spark, sf_dir):
    """Per-user peak interval concurrency (operators/rangejoin.py
    interval_peak_concurrency): each event opens a half-open 30-minute
    interval; the keyed sweep-line (+1/-1 deltas, running sum over the
    total order (t, delta, id), max) finds the peak without any
    self-join or pair explosion — O(n log n) per key."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
    )
    return interval_peak_concurrency(
        ev, "user_id", "start_ts", "end_ts", "event_id"
    )

"""Joins, aggregates and table-history queries (j*, a*, u*, sj1, g*, w4,
zo1): broadcast / shuffled / semi-anti / as-of / salted joins, grouping
sets and percentiles, grouped pandas UDFs, keep-latest / SCD2 / MERGE
INTO history and the Z-order layout census.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..datagen import load_table
from ..driver_queries import query
from ..operators.asof import asof_join
from ..operators.grouped import (
    cogroup_asof, group_count_udf, lower_median_udf, ols_residuals,
)
from ..operators.history import scd2_intervals
from ..operators.layout import zorder_layout_stats
from ..operators.merge import merge_upsert
from ..operators.skewjoin import salted_join
from .common import _SEV_CASES


# w4 (as-of join) and g3 (cogrouped as-of) emit the same rows.
_ASOF_SQL = """
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
    """


@query(oracle="""
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
    """)
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


@query(oracle="""
        SELECT c_mktsegment, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1
    """)
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


@query(oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY 1, 2
    """)
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


@query(oracle="""
        SELECT user_id, count(*) AS n FROM (
            SELECT * FROM events WHERE event_type = 'error'
            UNION ALL
            SELECT * FROM events WHERE event_type = 'purchase'
        ) GROUP BY 1
    """)
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


@query(oracle="""
        SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n,
               CAST(GROUPING(CAST(ts AS DATE), event_type) AS BIGINT) AS gid
        FROM events
        GROUP BY ROLLUP(CAST(ts AS DATE), event_type)
    """)
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


@query(oracle="""
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.95), 6) AS p95
        FROM events GROUP BY event_type
    """)
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


# a7: approx values are engine-specific; the oracle pins the exact
# percentiles and asserts the rank-error certificates are TRUE —
# the GK guarantee restated as data, not a cross-engine float race.
@query(oracle="""
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.95), 6) AS p95,
               count(*) AS n,
               TRUE AS ok50, TRUE AS ok95
        FROM events GROUP BY event_type
    """)
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


@query(oracle="""
        SELECT c_custkey,
               EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
                 AS has_order
        FROM customer c
    """)
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


@query(oracle="""
        SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(GROUPING(CAST(ts AS DATE), event_type) AS BIGINT) AS gid,
               count(*) AS n
        FROM events
        GROUP BY CUBE(CAST(ts AS DATE), event_type)
    """)
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


@query(oracle=_ASOF_SQL)
def q_w4_asof_join(spark, sf_dir):
    """As-of join (operators/asof.py): each event picks the user's
    latest order at-or-before the event time (ties → greatest orderkey)
    via the union-sort-window shape — one shuffle, no pair explosion."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders")
    out = asof_join(
        ev, orders,
        left_key="user_id", right_key="o_custkey",
        left_ts="ts", right_ts="o_orderdate",
        payload_cols=["o_orderkey"], tie_col="o_orderkey",
    )
    return out.select("event_id", "user_id", F.col("o_orderkey").alias("last_orderkey"))


@query(oracle="""
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click')    AS n_click,
               count(*) FILTER (WHERE event_type = 'error')    AS n_error,
               count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
               count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
               count(*) FILTER (WHERE event_type = 'view')     AS n_view
        FROM events GROUP BY user_id
    """)
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


# g1: same exact-integer moments, same pinned association order as
# the applyInPandas kernel (operators/grouped.ols_residuals) — the
# doubles are bit-identical before the shared round(…, 6).
@query(oracle="""
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
    """)
def q_g1_grouped_ols(spark, sf_dir):
    """Grouped-MAP applyInPandas surface (operators/grouped.py):
    per-source OLS fit of n_chars ~ doc_id, emitting residuals. The
    kernel's moments are exact int64 sums and every float derives via
    pinned-order divisions, so the SQL twin restating the same moment
    expressions is bit-identical before the shared round."""
    d = load_table(spark, sf_dir, "documents")
    out = ols_residuals(d, "source", "doc_id", "n_chars", "doc_id")
    return out.select("doc_id", "source", F.round("resid", 6).alias("resid"))


# g2: lower median = the element at 1-based rank (n+1)//2; the
# VALUE at that rank is well-defined no matter how row_number
# breaks ties between equal n_chars.
@query(oracle="""
        WITH r AS (
          SELECT source, n_chars,
                 row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
                 count(*) OVER (PARTITION BY source) AS cnt
          FROM documents
        )
        SELECT source, n_chars AS med_chars, cnt AS n_docs
        FROM r WHERE rn = (cnt + 1) // 2
    """)
def q_g2_grouped_agg_median(spark, sf_dir):
    """Grouped-AGGREGATE pandas_udf surface: per-source LOWER median of
    n_chars (an element of the data — exact in int64) computed by a
    Series→scalar Arrow UDF. Spark disallows mixing group-agg pandas
    UDFs with built-in aggregates in one agg (INVALID_PANDAS_UDF_
    PLACEMENT), so the row count rides as a second pandas aggregate."""
    med = lower_median_udf()
    cnt = group_count_udf()
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        med("n_chars").alias("med_chars"),
        cnt("n_chars").alias("n_docs"),
    )


@query(oracle=_ASOF_SQL)
def q_g3_cogroup_asof(spark, sf_dir):
    """COGROUP applyInPandas surface: the w4 as-of semantics (each
    event picks the user's latest order at-or-before its timestamp,
    ties → greatest orderkey) executed as a per-user pandas merge_asof
    over cogrouped frames — both sides shuffle once on user_id and
    each user's pair of frames streams through one kernel call."""
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


@query(oracle="""
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
    """)
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


@query(oracle="""
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
    """)
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


@query(oracle="""
        SELECT d.doc_id, d.source, d.n_chars, s.src_docs, s.src_chars
        FROM documents d
        JOIN (
            SELECT source,
                   count(*) AS src_docs,
                   CAST(sum(n_chars) AS BIGINT) AS src_chars
            FROM documents GROUP BY source
        ) s USING (source)
    """)
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


@query(oracle="""
        WITH r AS (
          SELECT user_id, event_id, event_type, ts, value,
                 row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        )
        SELECT user_id, event_id AS last_event_id, event_type AS last_type,
               ts AS last_ts, round(value, 2) AS last_value
        FROM r WHERE rn = 1
    """)
def q_u2_latest_state(spark, sf_dir):
    """Keep-latest-per-key compaction — the MERGE/current-state table a
    log pipeline maintains (reference keeps only the newest extract per
    stage dir, main.py's overwrite-on-rerun semantics; here per device/
    user): one row_number window per user, rn=1. Single shuffle on the
    key; at real scale this is the sort-merge compaction an Iceberg
    upsert runs per partition."""
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


@query(oracle="""
        SELECT CAST(floor(value / 5.0) AS BIGINT) AS bin, count(*) AS n
        FROM events GROUP BY 1
    """)
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


@query(oracle="""
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
    """)
def q_u3_scd2_intervals(spark, sf_dir):
    """SCD2 validity intervals (operators/history.py scd2_intervals):
    per-user event_type change points with [valid_from, valid_to)
    windows, far-future sentinel on the open run. Two windows over ONE
    shuffle+sort (same partitioning and ordering, Catalyst reuses the
    Exchange) — the history twin of u2's keep-latest compaction."""
    ev = load_table(spark, sf_dir, "events")
    return scd2_intervals(ev, "user_id", "event_type", "ts", ["event_id"])


@query(oracle="""
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
    """)
def q_zo1_zorder_stats(spark, sf_dir):
    """Z-order layout census (operators/layout.py): Morton-interleave
    (user_id, day-index) into one key, bucket rows by its top bits —
    each bucket one aligned Z-curve segment / prospective file — and
    report per-bucket min/max windows of BOTH dimensions. The windows
    are the data-skipping proof: tight in x AND y simultaneously,
    which a single-column sort cannot deliver. Pure codegen'd integer
    shift/mask arithmetic + one partial+final aggregate."""
    ev = load_table(spark, sf_dir, "events")
    return zorder_layout_stats(
        ev,
        F.col("user_id"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast(
            "long"
        ),
        bucket_shift=6,
    )


@query(oracle="""
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
    """)
def q_u4_merge_upsert(spark, sf_dir):
    """MERGE INTO dataflow (operators/merge.py merge_upsert): a
    deterministic change batch (every 7th event corrected with
    value+100, every 997th re-keyed +10M as a backfill insert) merges
    into the events base — matched rows replaced, new keys appended.
    One narrow anti-join on the change KEYS (AQE broadcasts the small
    batch) + UNION ALL: the copy-on-write MERGE shape of Iceberg/
    Delta."""
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

"""URL-family driver queries: parse_url host census (h1), URL
normalization dedup (d8), and keep-latest-per-key compaction (u2).
Semantics are pinned against the closed-form structure of the
synthesized url column (queries/web._URL_SQL): host = doc_id mod 13
(case folded), normalized url = (doc_id mod 13, doc_id mod 25), so ids
exactly 325 apart — and only those — collide after normalization."""

from __future__ import annotations

from pyspark.sql import functions as F

from juniper_syslog_filter_spark.driver_queries import QUERIES

SF = "/root/testdata/sf0.001"  # 500 documents, 1000 events


def test_h1_hosts_lowercased_and_complete(spark):
    rows = QUERIES["h1_host_stats"](spark, SF).collect()
    hosts = {r["host"] for r in rows}
    assert hosts == {f"news{i}.example.com" for i in range(13)}
    assert all(h == h.lower() for h in hosts)
    assert sum(r["n_pages"] for r in rows) == 500


def test_d8_dup_groups_are_exactly_ids_325_apart(spark):
    rows = QUERIES["d8_url_dedup"](spark, SF).collect()
    # 500 docs, collision period lcm(13, 25) = 325 -> ids 0..174 each
    # pair with id+325; nothing else collides.
    assert len(rows) == 175
    assert all(r["n_dupes"] == 2 for r in rows)
    assert {r["keeper_doc"] for r in rows} == set(range(175))


def test_d8_normalization_strips_case_query_fragment_slash(spark, monkeypatch):
    df = spark.createDataFrame(
        [(0, "x"), (325, "y")], "doc_id long, source string"
    ).withColumn("n_chars", F.lit(1)).withColumn("lang", F.lit("en"))
    # route the fixture through the same synthesis + census
    from juniper_syslog_filter_spark.queries import web

    monkeypatch.setattr(web, "load_table", lambda spark_, sf_, name: df)
    out = QUERIES["d8_url_dedup"](spark, SF).collect()
    assert len(out) == 1
    assert out[0]["norm_url"] == "news0.example.com/article/0"
    assert out[0]["n_dupes"] == 2 and out[0]["keeper_doc"] == 0


def test_u2_one_row_per_user_and_it_is_the_latest(spark):
    out = QUERIES["u2_latest_state"](spark, SF)
    rows = out.collect()
    ev = spark.read.parquet(f"{SF}/events.parquet")
    assert len(rows) == ev.select("user_id").distinct().count()
    # spot-check one user against the brute-force max
    uid = rows[0]["user_id"]
    latest = (
        ev.where(F.col("user_id") == uid)
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .first()
    )
    got = next(r for r in rows if r["user_id"] == uid)
    assert got["last_event_id"] == latest["event_id"]
    assert got["last_ts"] == latest["ts"]


def test_u2_plan_has_windowgrouplimit_and_one_shuffle(spark):
    """The rn=1 filter must push a per-partition group-limit below the
    shuffle (WindowGroupLimit), and the whole compaction is ONE key
    exchange — the property that makes it viable as a per-partition
    Iceberg upsert at 100 TB."""
    df = QUERIES["u2_latest_state"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange") <= 1


def test_h1_host_extraction_stays_jvm_side(spark):
    plan = (
        QUERIES["h1_host_stats"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan and "ArrowEval" not in plan


# ---------------------------------------------------------------------------
# fl2 — domain blocklist (operators/urlfilter.py)
# ---------------------------------------------------------------------------


def test_host_suffixes_label_boundaries(spark):
    from juniper_syslog_filter_spark.operators.urlfilter import host_suffixes

    row = spark.range(1).select(
        host_suffixes(F.lit("cdn.news.example.com")).alias("s")
    ).collect()[0]
    assert row.s == ["cdn.news.example.com", "news.example.com", "example.com", "com"]


def test_blocklist_exact_and_suffix_not_substring(spark):
    """'example.com' in the blocklist blocks the host itself and any
    subdomain, but NOT 'notexample.com' (label boundary, not substring
    suffix)."""
    from juniper_syslog_filter_spark.operators.urlfilter import mark_blocked

    corpus = spark.createDataFrame(
        [(1, "example.com"), (2, "cdn.example.com"), (3, "notexample.com"),
         (4, "example.com.evil.org"), (5, "ok.org")],
        "doc_id long, host string",
    )
    bl = spark.createDataFrame([("example.com",)], "entry string")
    got = {r.doc_id: r.blocked for r in mark_blocked(corpus, bl).collect()}
    assert got == {1: True, 2: True, 3: False, 4: False, 5: False}


def test_fl2_blocked_set_matches_closed_form(spark):
    """news3/news7 hosts block exactly doc_id % 13 in {3, 7}, both the
    bare host and the cdn.-prefixed variant (suffix semantics); the
    ads.example.com entry matches nothing."""
    rows = QUERIES["fl2_domain_blocklist"](spark, SF).collect()
    assert len(rows) == 500
    for r in rows:
        assert r.blocked == (r.doc_id % 13 in (3, 7)), r


def test_fl2_corpus_side_is_broadcast_join_only(spark):
    """The corpus lineage must not shuffle: blocked hosts are derived
    on the distinct-host universe and broadcast back."""
    plan = QUERIES["fl2_domain_blocklist"](spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    import re

    # the only hash Exchange allowed is on the host-universe branch
    # (distinct over hosts); the corpus key never partitions.
    assert not re.search(r"Exchange hashpartitioning\(doc_id", plan), plan[:2000]


# ---------------------------------------------------------------------------
# fl3 — robots.txt rule precedence (operators/urlfilter.robots_verdict)
# ---------------------------------------------------------------------------


def _robots(spark, corpus_rows, rule_rows):
    from juniper_syslog_filter_spark.operators.urlfilter import robots_verdict

    corpus = spark.createDataFrame(corpus_rows, "doc_id long, host string, path string")
    rules = spark.createDataFrame(rule_rows, "host string, rule_path string, allow boolean")
    return {r.doc_id: r.allowed for r in robots_verdict(corpus, rules).collect()}


def test_robots_longest_prefix_wins_and_is_not_segment_aware(spark):
    got = _robots(
        spark,
        [(1, "h", "/article/1/"), (2, "h", "/article/12/"), (3, "h", "/other/")],
        [("h", "/article/1", False), ("h", "/article/1/", True)],
    )
    # /article/1/ matches both rules -> longest (the allow) wins;
    # /article/12/ matches only the bare prefix -> disallowed (the spec's
    # non-segment-aware subtlety); /other/ matches nothing -> allowed.
    assert got == {1: True, 2: False, 3: True}


def test_robots_allow_beats_disallow_on_length_tie(spark):
    got = _robots(
        spark,
        [(1, "h", "/a/x")],
        [("h", "/a/", False), ("h", "/a/", True)],
    )
    assert got == {1: True}


def test_robots_unruled_host_allowed(spark):
    got = _robots(spark, [(1, "nowhere", "/x")], [("h", "/", False)])
    assert got == {1: True}


def test_fl3_corpus_side_stays_map_side(spark):
    plan = QUERIES["fl3_robots_rules"](spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    import re

    assert not re.search(r"Exchange hashpartitioning\(doc_id", plan), plan[:2000]


def test_canonicalize_url_edges(spark):
    """Port stripping is scheme-aware, params sort, tracking params
    vanish, paths normalize, fragments drop — hand-pinned expectations,
    and the DuckDB twin produces the identical strings."""
    import duckdb

    from juniper_syslog_filter_spark.operators.urlfilter import (
        canonicalize_url,
        canonicalize_url_sql,
    )

    cases = [
        ("HTTP://Example.COM:80/a/b/?z=2&utm_source=x&a=1#frag",
         "http://example.com/a/b?a=1&z=2"),
        ("https://News.example.com:443/", "https://news.example.com/"),
        ("https://news.example.com:8443/x", "https://news.example.com:8443/x"),
        ("http://example.com:8080/", "http://example.com:8080/"),
        ("https://example.com", "https://example.com/"),
        ("https://example.com/?utm_medium=a&utm_term=b", "https://example.com/"),
        ("https://example.com/a///", "https://example.com/a"),
        ("https://example.com/a?fbclid=1&gclid=2&ref=h&b=1",
         "https://example.com/a?b=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]

    con = duckdb.connect()
    for u, want in cases:
        (dv,) = con.execute(
            f"SELECT {canonicalize_url_sql('u')} FROM (SELECT ? AS u)", [u]
        ).fetchone()
        assert dv == want, (u, dv, want)


def test_canonicalize_url_fragment_question_mark(spark):
    """Review finding: a '?' inside the fragment (SPA hash routes) must
    NOT be treated as the query separator — both engines."""
    import duckdb

    from juniper_syslog_filter_spark.operators.urlfilter import (
        canonicalize_url,
        canonicalize_url_sql,
    )

    cases = [
        ("https://site.com/#/search?q=x", "https://site.com/"),
        ("https://site.com/p?a=1#/r?b=2", "https://site.com/p?a=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()]
    assert got == [w for _, w in cases]
    con = duckdb.connect()
    for u, want in cases:
        (dv,) = con.execute(
            f"SELECT {canonicalize_url_sql('u')} FROM (SELECT ? AS u)", [u]
        ).fetchone()
        assert dv == want, (u, dv, want)

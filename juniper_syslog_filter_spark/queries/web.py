"""Web and link-graph queries (h1, d8, fl2-fl4, lg1, gr*, fr1) over
Common-Crawl-style URLs synthesized deterministically from
``documents`` (the same strings in both engines): host census, URL
normalization dedup, block lists, robots rules, canonicalization, link
extraction, PageRank and the crawl frontier.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..datagen import load_table
from ..driver_queries import query
from ..operators.graph import pagerank, pagerank_step
from ..operators.urlfilter import (
    canonicalize_url, canonicalize_url_sql, mark_blocked, robots_verdict,
)


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


_PR_ITERS = 5


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


@query(oracle=f"""
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
    """)
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


@query(oracle=f"""
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
    """)
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


@query(oracle=_pagerank_oracle_sql(_PR_ITERS))
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


@query(oracle=_pagerank_oracle_sql(_PR_ITERS, dangling=True))
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


@query(oracle=f"""
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
    """)
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


@query(oracle=f"""
        WITH u AS (SELECT {_URL_SQL} AS url, n_chars, lang FROM documents)
        SELECT lower(split_part(split_part(url, '//', 2), '/', 1)) AS host,
               count(*) AS n_pages,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        FROM u GROUP BY 1
    """)
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


@query(oracle="""
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
    """)
def q_fl2_domain_blocklist(spark, sf_dir):
    """UT1/RefinedWeb-style domain-blocklist filter: hosts get a third
    label on doc_id % 3 == 0 (``cdn.news<k>.example.com``) so the
    blocklist exercises BOTH semantics — exact host and label-boundary
    suffix. The blocked-host set is computed on the distinct-host
    universe (tiny vs the corpus) and broadcast back; the corpus
    lineage is scan → broadcast join (operators/urlfilter.py)."""
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


@query(oracle=f"""
    SELECT doc_id, {canonicalize_url_sql(_URL_SQL)} AS url_canon
    FROM documents
""")
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
    d = _docs_with_url(spark, sf_dir)
    return d.select(
        "doc_id", canonicalize_url(F.col("url")).alias("url_canon")
    )


@query(oracle="""
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
    """)
def q_fl3_robots_rules(spark, sf_dir):
    """robots.txt rule-precedence filter (operators/urlfilter.py
    robots_verdict): longest-prefix wins, allow beats disallow on
    ties, unruled hosts pass. The rule set exercises the spec's
    non-segment-aware prefix subtlety ('/article/1' also matches
    '/article/12/') and the allow-overrides-disallow-on-longer-prefix
    case. Rules broadcast as one array row per host; the verdict is
    map-side (zero corpus Exchange)."""
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


@query(oracle=f"""
        WITH u AS (SELECT {_URL_SQL} AS url, doc_id FROM documents),
        n AS (
          SELECT lower(regexp_replace(regexp_replace(regexp_replace(
                   url, '^https?://', ''), '[?#].*$', ''), '/$', '')) AS norm_url,
                 doc_id
          FROM u
        )
        SELECT norm_url, count(*) AS n_dupes, min(doc_id) AS keeper_doc
        FROM n GROUP BY 1 HAVING count(*) > 1
    """)
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

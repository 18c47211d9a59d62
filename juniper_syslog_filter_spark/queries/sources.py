"""Source and media queries (z1, wc*, mm*): ZIP-of-CSV and WARC ingest
over deterministic fixtures built from the sf tables, WET text
extraction, and the multimodal metadata / frame / feature / resize /
PNG-decode operators.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile
from datetime import datetime, timedelta

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..datagen import load_table
from ..driver_queries import query
from ..functions import text as T
from ..operators.multimodal import (
    extract_features, media_metadata, resize_media, sample_frames,
)
from ..sources.warc_source import (
    http_body, http_response_bytes, read_warc, read_warc_indexed,
    warc_record_bytes, write_warc_file,
)
from ..sources.zip_source import extract_zip_csvs


_NATION_COLS = ["n_nationkey", "n_name", "n_regionkey"]


def _zip_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic ZIP-of-CSV fixture derived from the nation table
    (25 rows) — the S1/S2 source format the reference consumes
    (modules/extract.py:22-170). Content is a pure function of the
    table, so the DuckDB twin reads the same rows from parquet."""
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


# wc1 and wc2 read the same fixture into the same rows.
_WARC_ROWS_SQL = """
        SELECT 'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
               TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id) AS warc_ts,
               lang AS content_lang,
               text,
               '' AS _error
        FROM documents
    """


@query(oracle="""
        SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey,
               n_name,
               CAST(n_regionkey AS VARCHAR) AS n_regionkey,
               'nation.csv' AS src_member,
               '' AS _error
        FROM nation
    """)
def q_z1_zip_source(spark, sf_dir):
    """S1/S2 ZIP source through the distributed binaryFile+mapInPandas
    reader (sources/zip_source.py): all member fields read as strings
    with the reference's ''-for-missing convention; src_zip is dropped
    (it is a temp path) but src_member and the _error channel are kept."""
    fixture = _zip_fixture_dir(spark, sf_dir)
    out = extract_zip_csvs(spark, fixture, columns=_NATION_COLS)
    return out.select(*_NATION_COLS, "src_member", "_error")


@query(oracle=_WARC_ROWS_SQL)
def q_wc1_warc_source(spark, sf_dir):
    """Common-Crawl-style WARC ingest (sources/warc_source.py): four
    .warc.gz archives (one gzip member per record) → binaryFile scan →
    Content-Length-driven record parse in mapInPandas → HTTP envelope
    strip → one row per page. The in-task record_types filter drops
    warcinfo records before the Arrow boundary; warc_ts and the
    WARC-Identified-Content-Language header round-trip. This is the
    ingest that would populate the north-star pages table."""
    fixture = _warc_fixture_dir(spark, sf_dir)
    recs = read_warc(spark, fixture, record_types=["response"])
    return recs.select(
        "url",
        "warc_ts",
        "content_lang",
        F.decode(http_body(F.col("content")), "UTF-8").alias("text"),
        "_error",
    )


# wc3: the oracle is the EXPECTED visible text (source text + the
# entity-decoded suffix), not a twin of the regex cascade — passing
# proves the extractor actually recovers the page text.
@query(oracle="""
        SELECT 'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
               text || ' & more' AS text
        FROM documents
    """)
def q_wc3_wet_extract(spark, sf_dir):
    """WET generation — the text-extraction pass a crawl pipeline runs
    over raw HTML (functions/text.html_to_text): WARC response records
    wrapping realistic page shells (tags, an entity, a script block
    whose content must VANISH, not survive tag-stripping) → HTTP
    envelope strip → regex cascade to visible text. The oracle states
    the expected TEXT directly from the documents table, so the check
    proves true recovery, not just twin agreement. All JVM regexp —
    map-only, zero Python after the archive parse."""
    fixture = _warc_fixture_dir(spark, sf_dir, wrap_html=True)
    recs = read_warc(spark, fixture, record_types=["response"])
    html = F.decode(http_body(F.col("content")), "UTF-8")
    return recs.select("url", T.html_to_text(html).alias("text"))


@query(oracle=_WARC_ROWS_SQL)
def q_wc2_warc_indexed(spark, sf_dir):
    """CDX ranged-read WARC ingest (sources/warc_source.read_warc_indexed):
    the tiny offset index scans distributed, (file, offset, length)
    triples repartition across the cluster, and each task seeks into
    its archive and reads ONLY its gzip member — record-level
    parallelism independent of archive count (the Common-Crawl CDX
    pattern; on object stores the seek becomes a ranged GET). Same
    fixture and same oracle as wc1."""
    fixture = _warc_fixture_dir(spark, sf_dir)
    recs = read_warc_indexed(spark, fixture, record_types=["response"])
    return recs.select(
        "url",
        "warc_ts",
        "content_lang",
        F.decode(http_body(F.col("content")), "UTF-8").alias("text"),
        "_error",
    )


@query(oracle="""
        SELECT doc_id, octet_length(text::BLOB) AS n_bytes, md5(text) AS fp_md5
        FROM documents
    """)
def q_mm1_media_meta(spark, sf_dir):
    """Multimodal plumbing: documents.text treated as an opaque binary
    media column; metadata (byte length, md5) extracted batch-wise in an
    Arrow-vectorized mapInPandas (operators/multimodal.py)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    return media_metadata(d, id_col="doc_id", content_col="content")


# mm4: factor-4 mean pooling restated with ord() — byte == codepoint
# for the ASCII corpus; all-integer, so values match exactly.
@query(oracle="""
        SELECT doc_id,
               list_transform(range(least(16, length(text) // 4)), i ->
                 CAST((ord(substr(text, CAST(i*4+1 AS INT), 1))
                     + ord(substr(text, CAST(i*4+2 AS INT), 1))
                     + ord(substr(text, CAST(i*4+3 AS INT), 1))
                     + ord(substr(text, CAST(i*4+4 AS INT), 1))) // 4 AS INT)
               ) AS pooled,
               CAST(length(text) // 4 AS BIGINT) AS n_pooled
        FROM documents
    """)
def q_mm4_media_resize(spark, sf_dir):
    """Multimodal RESIZE step (operators/multimodal.resize_media):
    factor-4 mean pooling over the raw bytes — area-average downscaling
    of a single channel, codec-free, all-integer (floor division, no
    float racing). The DuckDB twin restates the pooling with ord() over
    the ASCII text (byte == codepoint for this corpus)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    return resize_media(d, factor=4, max_out=16)


# mm2: the frame slices restated on the ASCII text — step and count
# mirror sample_frames exactly (step = max(1, len // 4), k < min(4,
# len), frame k = bytes [k*step, k*step+step)).
@query(oracle="""
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
    """)
def q_mm2_frame_sample(spark, sf_dir):
    """Multimodal 1→N expansion: video-style frame sampling over the
    opaque binary column (operators/multimodal.sample_frames) — the
    mapInPandas table-function shape a real decoder plugs into. Frames
    are byte slices (step = len // 4), fingerprinted per frame; the
    DuckDB twin restates the slice arithmetic on the ASCII text (char
    length == byte length), so the md5s value-match."""
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


# mm3: md5-digest bytes / 256 — hex pairs decoded by strpos
# arithmetic; every value is an exact dyadic fraction, so no
# rounding is needed for cross-engine equality.
@query(oracle="""
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
    """)
def q_mm3_media_features(spark, sf_dir):
    """Multimodal decode→featurize batch pipeline
    (operators/multimodal.extract_features): the deterministic
    content-addressed stand-in featurizer (md5-digest bytes / 256 —
    every value an exact dyadic fraction, so float32 storage and the
    DuckDB double twin agree bit-for-bit with NO rounding step). The
    Arrow batch shape and schema are exactly what a real CLIP/codec
    extractor would use; only the kernel body is the declared stub."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    return extract_features(d).select("doc_id", "feature")


# mm5: the oracle restates the 8 image statistics from the pixel
# closed form (doc_id*31 + 7i) mod 256 — it never sees PNG bytes,
# so a match proves the stdlib encode→decode chain recovers every
# pixel exactly (all five scanline filters are in the cycle).
@query(oracle="""
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
    """)
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

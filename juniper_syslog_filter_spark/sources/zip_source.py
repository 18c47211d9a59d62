"""S1/S2 — ZIP-of-CSVs source (reference modules/extract.py:22-170).

The reference loops ZIPs single-threaded: open archive, read each
``*.csv`` member with pandas, rewrite to disk, delete the archive.
Spark reads ``.csv.gz`` natively but not ``.zip``, so the rebuild is:

    binaryFile scan (one row per archive) → mapInPandas unzip+parse →
    one output row per CSV record

which distributes per-ARCHIVE: each task decompresses whole archives,
so parallelism = number of zips (the reference's 24 hourly files → 24
tasks). Web-scale inputs are many small archives (Common Crawl WARCs),
which is exactly this shape — but when the archive count is BELOW the
cluster parallelism (one huge nightly zip), ``extract_zip_csvs``
switches to a per-MEMBER fan-out: a listing pass reads only each
archive's central directory, the (zip, member) pairs are exploded and
repartitioned across the cluster, and each task seeks directly to its
one member (ZIP members are independently deflate-compressed, so a
member read costs O(member), not O(archive)). Paths must be
task-readable for that mode (file:/ here; a DFS fuse mount or
NFS at scale) — otherwise the per-archive path is used regardless.
The choice follows from the archive count and the path schemes alone.

Error isolation mirrors extract_all_zips (modules/extract.py:147-161):
a corrupt archive or non-CSV member yields an error row (zip path +
message) instead of failing the job; callers split good/bad on
``_error``.
"""

from __future__ import annotations

import io
import zipfile
from typing import Iterator
from urllib.parse import unquote, urlparse

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

# Reference stage-1 columns (scripts/genarate_logs.py header).
SYSLOG_COLUMNS = [
    "Timestamp", "Hostname", "AppName", "SeverityLevel", "Severity", "LogType", "Message",
]


def _local_path(path: str) -> str | None:
    """file:-scheme URI → filesystem path; None for any other scheme."""
    if path.startswith("file:"):
        return unquote(urlparse(path).path)
    return None


def _err_frame(cols: list[str], zpath: str, member: str, msg: str) -> pd.DataFrame:
    out = pd.DataFrame({c: [""] for c in cols})
    out["src_zip"] = zpath
    out["src_member"] = member
    out["_error"] = msg
    return out


def _empty_frame(cols: list[str]) -> pd.DataFrame:
    """Typed empty frame — keeps the schema when a partition is empty."""
    return pd.DataFrame(
        {c: pd.Series(dtype=object) for c in [*cols, "src_zip", "src_member", "_error"]}
    )


def _parse_member(cols: list[str], zpath: str, name: str, raw: bytes) -> pd.DataFrame:
    """One CSV member → rows (or an error row). All member fields read
    as strings with ``keep_default_na=False`` — the reference's exact
    read convention (modules/split_ip.py:70): empty stays ``""``,
    never NaN/null."""
    try:
        df = pd.read_csv(io.BytesIO(raw), dtype=str, keep_default_na=False)
        missing = [c for c in cols if c not in df.columns]
        if missing:
            return _err_frame(cols, zpath, name, f"missing columns: {missing}")
        out = df[cols].copy()
    except Exception as e:  # noqa: BLE001 - per-member isolation
        return _err_frame(cols, zpath, name, str(e))
    out["src_zip"] = zpath
    out["src_member"] = name
    out["_error"] = ""
    return out


def _out_schema(cols: list[str]) -> str:
    return (
        ", ".join(f"`{c}` string" for c in cols)
        + ", src_zip string, src_member string, _error string"
    )


def extract_zip_csvs(
    spark: SparkSession,
    zip_glob: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """Distributed S1/S2: every ``*.csv`` member of every matched ZIP →
    rows. Output = member columns + lineage (``src_zip``, ``src_member``)
    + ``_error`` ('' when clean).

    The per-member fan-out runs when the matched archive count is below
    ``sc.defaultParallelism`` AND every path is file:-scheme; otherwise
    the per-archive blob path runs (one task per zip, no second read).
    The choice costs one metadata-only job (binaryFile prunes
    ``content`` when only ``path`` is selected).
    """
    cols = columns or SYSLOG_COLUMNS
    schema = _out_schema(cols)

    src = spark.read.format("binaryFile").option("pathGlobFilter", "*.zip").load(zip_glob)

    # Metadata-only scan: content is pruned when unselected.
    paths = [r.path for r in src.select("path").collect()]
    locals_ = [_local_path(p) for p in paths]
    if paths and all(locals_) and len(paths) < spark.sparkContext.defaultParallelism:
        return _extract_per_member(spark, cols, schema, list(zip(paths, locals_)))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for zpath, blob in zip(pdf["path"], pdf["content"]):
                try:
                    zf = zipfile.ZipFile(io.BytesIO(blob))
                    members = [n for n in zf.namelist() if n.lower().endswith(".csv")]
                    if not members:
                        yield _err_frame(cols, zpath, "", "no csv members")
                        continue
                except zipfile.BadZipFile as e:
                    yield _err_frame(cols, zpath, "", f"bad zip: {e}")
                    continue
                for name in sorted(members):
                    try:
                        raw = zf.read(name)
                    except Exception as e:  # noqa: BLE001 - per-member isolation
                        yield _err_frame(cols, zpath, name, str(e))
                        continue
                    yield _parse_member(cols, zpath, name, raw)
        yield _empty_frame(cols)

    return src.select("path", "content").mapInPandas(run, schema=schema)


def _extract_per_member(
    spark: SparkSession,
    cols: list[str],
    schema: str,
    paths: list[tuple[str, str]],
) -> DataFrame:
    """Single-archive fan-out: driver lists members from each archive's
    central directory (cheap — this mode only triggers when archive
    count < parallelism, so the driver opens at most a handful of
    files), then (zip, member) pairs repartition across the cluster and
    each task reads ONLY its member via a seek into the archive."""
    pairs: list[tuple[str, str, str]] = []  # (uri, local, member)
    driver_errs: list[pd.DataFrame] = []
    for uri, lp in paths:
        try:
            with zipfile.ZipFile(lp) as zf:
                members = sorted(
                    n for n in zf.namelist() if n.lower().endswith(".csv")
                )
            if not members:
                driver_errs.append(_err_frame(cols, uri, "", "no csv members"))
                continue
        except zipfile.BadZipFile as e:
            driver_errs.append(_err_frame(cols, uri, "", f"bad zip: {e}"))
            continue
        except OSError as e:
            driver_errs.append(_err_frame(cols, uri, "", str(e)))
            continue
        pairs.extend((uri, lp, m) for m in members)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for uri, lp, member in zip(pdf["uri"], pdf["lp"], pdf["member"]):
                try:
                    with zipfile.ZipFile(lp) as zf:
                        raw = zf.read(member)
                except Exception as e:  # noqa: BLE001 - per-member isolation
                    yield _err_frame(cols, uri, member, str(e))
                    continue
                yield _parse_member(cols, uri, member, raw)
        yield _empty_frame(cols)

    n_tasks = max(1, min(spark.sparkContext.defaultParallelism, len(pairs)))
    out = (
        spark.createDataFrame(pairs, "uri string, lp string, member string")
        .repartition(n_tasks)
        .mapInPandas(run, schema=schema)
    ) if pairs else spark.createDataFrame([], schema)
    if driver_errs:
        errs = pd.concat(driver_errs, ignore_index=True)
        out = out.unionByName(spark.createDataFrame(errs, schema=schema))
    return out

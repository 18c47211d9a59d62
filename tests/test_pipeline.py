"""End-to-end pipeline tests: per-sink counts vs a pandas oracle, routed
row-set equality, aggregate==sink-count invariant, idempotent resume."""

from __future__ import annotations

import datetime
import glob
import re
import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from juniper_syslog_filter_spark.checkpoint import CheckpointTable
from juniper_syslog_filter_spark.datagen import (
    device_dim,
    gen_pages_pandas,
    severity_dim,
    write_pages,
)
from juniper_syslog_filter_spark.enrich import enrich_severity
from juniper_syslog_filter_spark.functions import parse as P
from juniper_syslog_filter_spark.functions.ip import classify_ip_address
from juniper_syslog_filter_spark.pipeline import run_pipeline

N = 2000


def _oracle(pdf: pd.DataFrame, keyword=None, severity=None) -> pd.DataFrame:
    """Independent pandas re-implementation of parse→enrich→route."""
    rows = []
    block = re.compile(P.LOG_BLOCK_PATTERN)
    for _, r in pdf.iterrows():
        m = block.search(r["html"].decode("utf-8"))
        if not m:
            continue
        msg = m.group(4)
        if keyword is not None and keyword not in msg:
            continue
        rt = re.search(P.ROUTING_PATTERN, msg)
        sev = re.search(P.SEVERITY_PATTERN, msg)
        sev = sev.group(1) if sev else ""
        if severity is not None and sev != severity:
            continue
        rows.append(
            {
                "url": r["url"],
                "lang": r["lang"],
                "date": pd.Timestamp(r["warc_ts"]).date(),
                "Severity": sev,
                "srcIP": rt.group(1) if rt else "",
                "dstIP": rt.group(2) if rt else "",
                "srcIP_type": classify_ip_address(rt.group(1) if rt else ""),
                "dstIP_type": classify_ip_address(rt.group(2) if rt else ""),
            }
        )
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    write_pages(spark, path, N, seed=42, num_partitions=6)
    return path


def test_pipeline_counts_and_rowsets(spark, pages_path, tmp_path):
    out = str(tmp_path / "out")
    res = run_pipeline(spark, pages_path, out)
    oracle = _oracle(gen_pages_pandas(np.arange(N), seed=42))

    assert res.rows_routed == len(oracle)

    routed = spark.read.parquet(res.routed_path)
    # routed-row set equality (north rule): compare sorted url sets + IP types.
    got = routed.select("url", "Severity", "srcIP_type", "dstIP_type").toPandas()
    got = got.sort_values("url").reset_index(drop=True)
    exp = oracle[["url", "Severity", "srcIP_type", "dstIP_type"]].sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)

    # aggregate == per-sink counts, exactly (north rule).
    agg = spark.read.parquet(res.agg_path).toPandas()
    exp_agg = (
        oracle.groupby(["Severity", "lang", "date"]).size().reset_index(name="n")
    )
    merged = agg.merge(
        exp_agg,
        left_on=["severity", "lang", "date"],
        right_on=["Severity", "lang", "date"],
        how="outer",
        suffixes=("_got", "_exp"),
    )
    assert (merged["n_got"] == merged["n_exp"]).all()
    # and the physical sink partitions carry the same counts
    sink_counts = routed.groupBy("Severity", "lang").count().collect()
    exp_sink = oracle.groupby(["Severity", "lang"]).size().to_dict()
    for r in sink_counts:
        assert exp_sink[(r.Severity, r.lang)] == r["count"]


def _files_per_sink(routed_path: str) -> dict[tuple[str, str], int]:
    counts: dict[tuple[str, str], int] = {}
    for f in glob.glob(f"{routed_path}/batch=*/Severity=*/lang=*/*.parquet"):
        sev, lang = (part.split("=", 1)[1] for part in f.split("/")[-3:-1])
        counts[(sev, lang)] = counts.get((sev, lang), 0) + 1
    return counts


def test_route_sizes_writers_by_sink_bytes(spark, pages_path, tmp_path):
    """AQE sizes the fan-out writers: at the default advisory partition
    size every (Severity, lang) sink is one file; once the largest sink
    outgrows a lowered advisory size it is split across map-output
    ranges into several files. Per-sink row counts match the oracle
    either way."""
    oracle = _oracle(gen_pages_pandas(np.arange(N), seed=42))
    exp_sink = oracle.groupby(["Severity", "lang"]).size().to_dict()

    def sink_rows(res):
        routed = spark.read.parquet(res.routed_path)
        return {(r.Severity, r.lang): r["count"] for r in routed.groupBy("Severity", "lang").count().collect()}

    res = run_pipeline(spark, pages_path, str(tmp_path / "default"))
    files = _files_per_sink(res.routed_path)
    assert set(files) == set(exp_sink)
    assert set(files.values()) == {1}
    assert sink_rows(res) == exp_sink

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        res = run_pipeline(spark, pages_path, str(tmp_path / "split"))
    finally:
        spark.conf.set(key, old)
    files = _files_per_sink(res.routed_path)
    largest = max(exp_sink, key=exp_sink.get)
    assert files[largest] > 1
    assert sink_rows(res) == exp_sink


def test_keyword_and_severity_params(spark, pages_path, tmp_path):
    out = str(tmp_path / "out_kw")
    res = run_pipeline(
        spark, pages_path, out, keyword="RT_IDP_ATTACK", severity_filter="CRITICAL"
    )
    oracle = _oracle(
        gen_pages_pandas(np.arange(N), seed=42),
        keyword="RT_IDP_ATTACK",
        severity="CRITICAL",
    )
    assert res.rows_routed == len(oracle)
    routed = spark.read.parquet(res.routed_path)
    assert routed.count() == len(oracle)
    assert set(r.url for r in routed.select("url").collect()) == set(oracle["url"])


def test_idempotent_resume(spark, pages_path, tmp_path):
    out = str(tmp_path / "out_resume")
    res1 = run_pipeline(spark, pages_path, out)
    total = spark.read.parquet(res1.routed_path).count()

    # Second run: nothing pending → no-op, no duplicates.
    res2 = run_pipeline(spark, pages_path, out)
    assert res2.units_processed == 0
    assert spark.read.parquet(res1.routed_path).count() == total

    # Lineage rows exist with per-unit metrics.
    log = spark.read.parquet(f"{out}/_checkpoint")
    assert log.count() == res1.units_processed
    assert log.agg(F.sum("rows_routed")).collect()[0][0] == total


def test_crash_between_write_and_commit_replaces_not_duplicates(
    spark, pages_path, tmp_path
):
    """The idempotency protocol's crash window (checkpoint.py:9-19): a
    batch that dies AFTER the fan-out write but BEFORE the checkpoint
    commit must be replaced, never duplicated, on re-run — the pending
    set is unchanged, so the deterministic batch id recurs, and the
    uncommitted batch's partitions are deleted before it is rewritten."""
    import os

    out = str(tmp_path / "out_crash")
    res1 = run_pipeline(spark, pages_path, out)
    total = spark.read.parquet(res1.routed_path).count()
    assert total == res1.rows_routed

    # Simulate the crash: sink data landed, commit file(s) never did.
    commits = glob.glob(f"{out}/_checkpoint/*.parquet")
    assert commits, "expected at least one commit file"
    for c in commits:
        os.remove(c)

    res2 = run_pipeline(spark, pages_path, out)
    assert res2.units_processed == res1.units_processed  # full replay
    assert res2.batch_id == res1.batch_id  # deterministic batch key
    # Replaced, not duplicated: exactly N rows, and agg matches the sink.
    assert spark.read.parquet(res2.routed_path).count() == total
    agg_total = spark.read.parquet(res2.agg_path).agg(F.sum("n")).collect()[0][0]
    assert agg_total == total


def test_incremental_new_files_only(spark, tmp_path):
    """New files appended to the source are processed as their own batch;
    old batches are untouched (idempotent, no duplication)."""
    src = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    from juniper_syslog_filter_spark.datagen import generate_pages

    generate_pages(spark, 500, seed=42, num_partitions=2).write.mode("overwrite").parquet(src)
    res1 = run_pipeline(spark, src, out)
    n1 = spark.read.parquet(f"{out}/routed").count()

    generate_pages(spark, 300, seed=7, num_partitions=1).write.mode("append").parquet(src)
    res2 = run_pipeline(spark, src, out)
    assert res2.units_processed >= 1
    n2 = spark.read.parquet(f"{out}/routed").count()
    assert n2 == n1 + res2.rows_routed
    # Aggregates across batches sum to the sink total.
    agg_total = (
        spark.read.parquet(f"{out}/agg").agg(F.sum("n")).collect()[0][0]
    )
    assert agg_total == n2


def _append_pages(spark, src: str, n: int, seed: int) -> None:
    from juniper_syslog_filter_spark.datagen import generate_pages

    generate_pages(spark, n, seed=seed, num_partitions=1).write.mode("append").parquet(src)


def _sink_totals(spark, out: str) -> tuple[int, int]:
    routed = spark.read.parquet(f"{out}/routed").count()
    agg = spark.read.parquet(f"{out}/agg").agg(F.sum("n")).collect()[0][0]
    return routed, agg


def test_listing_skips_uncommitted_files(spark, tmp_path):
    """A writer's ``_temporary`` attempt file and a dot-prefixed
    in-progress file are not part of the table: the resume listing names
    exactly the files a directory read does, and the run routes exactly
    the rows a directory read yields."""
    import os
    import shutil
    from urllib.parse import urlparse

    from juniper_syslog_filter_spark.checkpoint import list_parquet_files
    from juniper_syslog_filter_spark.pipeline import build_routed

    src = str(tmp_path / "pages")
    _append_pages(spark, src, 500, seed=42)
    _append_pages(spark, src, 300, seed=7)
    a, b = sorted(glob.glob(f"{src}/*.parquet"))
    attempt = f"{src}/_temporary/0/_temporary/attempt_0"
    os.makedirs(attempt)
    shutil.copy(a, f"{attempt}/{os.path.basename(a)}")
    shutil.copy(b, f"{src}/.{os.path.basename(b)}")

    def paths(urls):
        return {urlparse(u).path for u in urls}

    listed = paths(f for f, _ in list_parquet_files(spark, src))
    assert listed == paths(spark.read.parquet(src).inputFiles())
    res = run_pipeline(spark, src, str(tmp_path / "out"))
    assert res.units_processed == 2
    assert res.rows_routed == build_routed(spark, spark.read.parquet(src)).count()


def test_crash_then_new_file_replaces_not_duplicates(spark, tmp_path):
    """A run dies after its sink writes and before its commit, then a
    new file arrives: the re-run's pending set (hence batch id) differs,
    and the crashed batch's partitions must not survive beside it."""
    import os

    src, out = str(tmp_path / "pages"), str(tmp_path / "out")
    _append_pages(spark, src, 500, seed=42)
    run_pipeline(spark, src, out)
    for c in glob.glob(f"{out}/_checkpoint/*.parquet"):
        os.remove(c)
    _append_pages(spark, src, 300, seed=7)

    res = run_pipeline(spark, src, out)
    assert res.units_processed == 2
    assert _sink_totals(spark, out) == (res.rows_routed, res.rows_routed)


def test_full_rerun_over_grown_input_replaces_not_duplicates(spark, tmp_path):
    """``--full`` reprocesses every unit, committed or not: the earlier
    batches' partitions must not survive beside the full batch, and a
    later incremental run still finds everything committed."""
    src, out = str(tmp_path / "pages"), str(tmp_path / "out")
    _append_pages(spark, src, 500, seed=42)
    run_pipeline(spark, src, out)
    _append_pages(spark, src, 300, seed=7)

    res = run_pipeline(spark, src, out, incremental=False)
    assert res.units_processed == 2
    assert _sink_totals(spark, out) == (res.rows_routed, res.rows_routed)
    log = CheckpointTable(spark, f"{out}/_checkpoint").committed()
    assert {b for b, _ in log} == {res.batch_id} and len(log) == 2
    assert run_pipeline(spark, src, out).units_processed == 0
    assert _sink_totals(spark, out) == (res.rows_routed, res.rows_routed)


def test_full_rerun_crash_leaves_every_unit_pending(spark, tmp_path, monkeypatch):
    """``--full`` dies in its routed write, after the committed batches'
    partitions were deleted: the next incremental run must redo every
    unit, not find them committed and leave the sinks empty."""
    import juniper_syslog_filter_spark.pipeline as pl
    from juniper_syslog_filter_spark.pipeline import build_routed

    src, out = str(tmp_path / "pages"), str(tmp_path / "out")
    _append_pages(spark, src, 500, seed=42)
    run_pipeline(spark, src, out)
    _append_pages(spark, src, 300, seed=7)

    real = pl.route_repartition
    crash = F.expr("raise_error('crash in the routed write')")
    monkeypatch.setattr(pl, "route_repartition", lambda df: real(df).filter(crash.isNull()))
    with pytest.raises(Exception, match="crash in the routed write"):
        run_pipeline(spark, src, out, incremental=False)
    monkeypatch.undo()

    res = run_pipeline(spark, src, out)
    assert res.units_processed == 2
    expected = build_routed(spark, spark.read.parquet(src)).count()
    assert res.rows_routed == expected
    assert _sink_totals(spark, out) == (expected, expected)


def test_stray_directory_in_an_older_batch_leaves_the_next_run_alone(spark, tmp_path):
    """The read-back behind the aggregate and the lineage lists only the
    batch this run wrote: a stray directory level inside an older
    committed batch is never listed, so its partition names cannot
    conflict with the sink's."""
    import os
    import shutil

    src, out = str(tmp_path / "pages"), str(tmp_path / "out")
    _append_pages(spark, src, 500, seed=42)
    first = run_pipeline(spark, src, out)
    part = sorted(glob.glob(f"{out}/routed/batch={first.batch_id}/Severity=*/lang=en/*.parquet"))[0]
    stray = os.path.join(os.path.dirname(part), "extra=1")
    os.makedirs(stray)
    shutil.copy(part, stray)
    _append_pages(spark, src, 300, seed=7)

    res = run_pipeline(spark, src, out)
    assert res.units_processed == 1 and res.rows_routed > 0
    assert sum(r["rows_routed"] for r in res.lineage) == res.rows_routed
    agg = spark.read.parquet(f"{out}/agg/batch={res.batch_id}").agg(F.sum("n")).collect()[0][0]
    assert agg == res.rows_routed


def test_run_starts_no_spark_job_before_the_route(spark, tmp_path, monkeypatch):
    """Everything before the routed write is driver-side: listing, the
    log read, the batch deletes and the plan. The pages are read by their
    declared schema, so no job infers it from parquet footers."""
    import juniper_syslog_filter_spark.pipeline as pl

    src = str(tmp_path / "pages")
    _append_pages(spark, src, 500, seed=42)
    started = []

    def stop(df):
        started.append(_job_ids(spark) - before)
        raise RuntimeError("stop at the route")

    monkeypatch.setattr(pl, "route_repartition", stop)
    before = _job_ids(spark)
    with pytest.raises(RuntimeError, match="stop at the route"):
        run_pipeline(spark, src, str(tmp_path / "out"))
    assert started == [set()]


def test_unicode_digit_ip_classified_like_python(spark):
    """The routing pattern matches any Unicode decimal digit, so a parsed
    srcIP can be Arabic-Indic; its type is what Python's ``int()``-based
    classifier answers."""
    from juniper_syslog_filter_spark.datagen import PAGES_SCHEMA
    from juniper_syslog_filter_spark.pipeline import build_routed

    msg = "RT_IDP_ATTACK: observed ١٠.٠.٠.١/5 > 8.8.8.٨/80 protocol=tcp Severity=CRITICAL"
    html = f'<pre class="log">t host1.example.com a {msg}</pre>'.encode()
    pages = spark.createDataFrame(
        [("u", datetime.datetime(2025, 4, 28), html, "", "en")], PAGES_SCHEMA
    )
    rows = build_routed(spark, pages).select("srcIP", "srcIP_type", "dstIP", "dstIP_type").collect()
    assert [tuple(r) for r in rows] == [
        ("١٠.٠.٠.١", classify_ip_address("١٠.٠.٠.١"), "8.8.8.٨", classify_ip_address("8.8.8.٨"))
    ]
    assert rows[0].srcIP_type == "private"


def test_enrich_severity_dim(spark):
    df = spark.createDataFrame(
        [("CRITICAL",), ("DEBUG",), ("",)], "Severity string"
    )
    out = enrich_severity(df, severity_dim(spark)).collect()
    got = {r.Severity: (r.severity_class, r.severity_level_ref) for r in out}
    assert got["CRITICAL"] == ("critical-band", 2)
    assert got["DEBUG"] == ("info-band", 7)
    assert got[""] == ("", None)


def test_dimension_rows_and_types(spark):
    """Both enrich dimensions hold exactly the rows, names and types of
    the driver-side lists they were once created from."""
    from juniper_syslog_filter_spark import SEVERITIES, SEVERITY_CLASS

    sev = severity_dim(spark)
    assert sev.dtypes == [
        ("severity", "string"), ("severity_level", "int"), ("severity_class", "string")
    ]
    assert [tuple(r) for r in sev.collect()] == [
        (name, lvl, SEVERITY_CLASS[name]) for name, lvl in SEVERITIES.items()
    ]
    dev = device_dim(spark)
    assert dev.dtypes == [("hostname", "string"), ("site", "string"), ("model", "string")]
    assert [tuple(r) for r in dev.collect()] == [
        (f"host{i}.example.com", f"site-{i % 10}", f"srx-{i % 3 + 1}00") for i in range(1000)
    ]
    assert device_dim(spark, 7).count() == 7


def test_checkpoint_fresh_dir_is_empty_and_log_round_trips(spark, tmp_path):
    ckpt = CheckpointTable(spark, str(tmp_path / "_checkpoint"))
    assert ckpt.completed_units() == set()
    assert not (tmp_path / "_checkpoint").exists()
    ckpt.commit([
        {"batch_id": "b1", "unit": "file:/p/a.parquet", "rows_parsed": 3, "rows_routed": 3},
        {"batch_id": "b1", "unit": "file:/p/b.parquet"},
    ])
    ckpt.commit([{"batch_id": "b2", "unit": "file:/p/c.parquet"}])
    assert ckpt.completed_units() == {"file:/p/a.parquet", "file:/p/b.parquet", "file:/p/c.parquet"}


@pytest.fixture
def viewfs_root(spark, tmp_path):
    """``tmp_path`` mounted as ``viewfs://<name>/data``: a filesystem
    scheme other than ``file`` that needs no cluster. Hadoop caches one
    FileSystem per scheme and authority, so every test mounts under a
    fresh name."""
    name = uuid.uuid4().hex
    spark.sparkContext._jsc.hadoopConfiguration().set(
        f"fs.viewfs.mounttable.{name}.link./data", "file://" + str(tmp_path)
    )
    return f"viewfs://{name}/data"


def _job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_checkpoint_log_on_viewfs_starts_no_spark_job(spark, viewfs_root):
    """On a non-``file`` scheme the log is read, committed and cleared
    through the Hadoop FileSystem alone, exactly as on a local path."""
    ckpt = CheckpointTable(spark, f"{viewfs_root}/_checkpoint")
    before = _job_ids(spark)
    ckpt.commit([{"batch_id": "b1", "unit": "u/a"}, {"batch_id": "b1", "unit": "u/b"}])
    ckpt.commit([{"batch_id": "b2", "unit": "u/c"}])
    assert ckpt.committed() == {("b1", "u/a"), ("b1", "u/b"), ("b2", "u/c")}
    ckpt.clear()
    assert ckpt.committed() == set()
    assert _job_ids(spark) == before


def test_rerun_on_viewfs_is_noop_without_spark_job(spark, viewfs_root, tmp_path):
    """A re-run with nothing pending lists the input and reads the log
    driver-side, so it starts no Spark job on any filesystem."""
    _append_pages(spark, str(tmp_path / "pages"), 500, seed=42)
    src, out = f"{viewfs_root}/pages", f"{viewfs_root}/out"
    res1 = run_pipeline(spark, src, out)
    assert res1.units_processed == 1

    before = _job_ids(spark)
    assert run_pipeline(spark, src, out).units_processed == 0
    assert _job_ids(spark) == before
    assert _sink_totals(spark, out) == (res1.rows_routed, res1.rows_routed)

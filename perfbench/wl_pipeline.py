"""The pipeline workloads: ``pipeline.run_pipeline`` over a generated
pages table (parse → enrich → route → aggregate), with a driver-local
oracle for the routed rows and per-layer probes for the traced run."""

from __future__ import annotations

import io
import os
import re
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter
from contextlib import redirect_stdout
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import noop, now_ms, plan_counts
from eventlog import EventLog, is_python_node
from juniper_syslog_filter_spark.checkpoint import CheckpointTable, list_parquet_files
from juniper_syslog_filter_spark.datagen import gen_pages_pandas
from juniper_syslog_filter_spark.functions import parse as P
from juniper_syslog_filter_spark.pipeline import build_routed, run_pipeline

# 32k pages in 8 files: about 29k records for pipeline_full and about 440
# routed rows for pipeline_selective. A pass takes 3-5 s on 4 vCPU, most
# of it per-job Spark overhead (24k pages measured the same wall and CPU),
# so two workloads of 22 runs each fit the benchmark's time budget.
PAGES = 32_000
FILES = 8
SELECTIVE = ("RT_IDP_ATTACK", "CRITICAL")
PROBE_REPS = 2

_PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
_PHASE = re.compile(r"^\[jsf-phase\] (.+): ([0-9.]+)s$")


@dataclass
class Pages:
    path: str
    frames: list
    n: int
    bytes: int


def make_pages(path: str, seed: int, n: int = PAGES, files: int = FILES) -> Pages:
    """The pages table of ``datagen.write_pages`` (same rows: every field
    derives from the row id and seed alone), written with pyarrow from
    the driver so no Spark time goes to generating inputs."""
    os.makedirs(path)
    bounds = np.linspace(0, n, files + 1).astype(np.int64)
    frames = []
    for i in range(files):
        pdf = gen_pages_pandas(np.arange(bounds[i], bounds[i + 1]), seed=seed)
        table = pa.table(
            {
                "url": pdf["url"],
                "warc_ts": pa.array(pdf["warc_ts"].values.astype("datetime64[us]")).cast(
                    _PAGES_SCHEMA.field("warc_ts").type
                ),
                "html": pdf["html"],
                "text": pdf["text"],
                "lang": pdf["lang"],
            },
            schema=_PAGES_SCHEMA,
        )
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))
        frames.append(pdf)
    return Pages(path, frames, n, _tree_bytes(path))


def oracle(pages: Pages, keyword, severity) -> Counter:
    """Routed-row count per (Severity, lang, date), computed with Python
    ``re`` page by page, independent of the Spark plan."""
    block = re.compile(P.LOG_BLOCK_PATTERN)
    sev_re = re.compile(P.SEVERITY_PATTERN)
    out: Counter = Counter()
    for pdf in pages.frames:
        dates = pdf["warc_ts"].dt.date
        for html, lang, date in zip(pdf["html"], pdf["lang"], dates):
            m = block.search(html.decode("utf-8"))
            if not m:
                continue
            msg = m.group(4)
            if keyword is not None and keyword not in msg:
                continue
            s = sev_re.search(msg)
            sev = s.group(1) if s else ""
            if severity is not None and sev != severity:
                continue
            out[(sev, lang, date)] += 1
    return out


def check_output(out_dir: str, rows_routed: int, expect: Counter) -> list[str]:
    """Problems found in one pass's sinks (empty list: correct)."""
    problems = []
    total = sum(expect.values())
    if rows_routed != total:
        problems.append(f"rows_routed {rows_routed} != oracle {total}")
    con = duckdb.connect()
    try:
        opts = "hive_partitioning=true, hive_types_autocast=false"
        routed = dict(
            ((s, l), n)
            for s, l, n in con.execute(
                f"SELECT Severity, lang, count(*) FROM read_parquet("
                f"'{out_dir}/routed/**/*.parquet', {opts}) GROUP BY ALL"
            ).fetchall()
        )
        agg = con.execute(
            f"SELECT severity, lang, date, n FROM read_parquet("
            f"'{out_dir}/agg/**/*.parquet', {opts})"
        ).fetchall()
    finally:
        con.close()
    per_sink: Counter = Counter()
    for (s, l, _), n in expect.items():
        per_sink[(s, l)] += n
    if routed != dict(per_sink):
        problems.append("routed rows per (Severity, lang) differ from the oracle")
    agg_counts = Counter({(s, l, d): n for s, l, d, n in agg})
    if agg_counts != expect:
        problems.append("agg counts per (severity, lang, date) differ from the oracle")
    agg_sink: Counter = Counter()
    for (s, l, _), n in agg_counts.items():
        agg_sink[(s, l)] += n
    if dict(agg_sink) != routed:
        problems.append("agg counts per (severity, lang) differ from routed rows per sink")
    return problems


@dataclass
class PassRecord:
    wall_s: float
    t0_ms: float
    t1_ms: float
    result: object
    phases: dict  # phase label -> (start, end) in epoch ms


class _PhaseClock(io.TextIOBase):
    """Stdout stand-in that stamps each ``[jsf-phase]`` line as it is
    written: the program prints one right as each phase ends, so the
    stamps give the phase boundaries at full clock precision."""

    def __init__(self):
        self.marks: list[tuple[float, str]] = []

    def write(self, s: str) -> int:
        m = _PHASE.match(s.strip())
        if m:
            self.marks.append((now_ms(), m.group(1)))
        return len(s)


def run_pass(spark, pages: Pages, out_dir: str, keyword, severity, phases: bool) -> PassRecord:
    """One ``run_pipeline`` call from the same disk state: the previous
    pass's sinks and checkpoint are deleted first (not timed)."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.environ["JSF_TRACE_PHASES"] = "1" if phases else "0"
    clock = _PhaseClock()
    t0_ms = now_ms()
    t0 = time.perf_counter()
    with redirect_stdout(clock):
        res = run_pipeline(spark, pages.path, out_dir, keyword=keyword, severity_filter=severity)
    wall = time.perf_counter() - t0
    t1_ms = now_ms()
    spans, start = {}, t0_ms
    for end, label in clock.marks:
        spans[label] = (start, end)
        start = end
    return PassRecord(wall, t0_ms, t1_ms, res, spans)


def _tree_bytes(path: str, suffix: str = ".parquet") -> int:
    total = 0
    for root, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names if n.endswith(suffix))
    return total


def _count_files(path: str, suffix: str = ".parquet") -> int:
    return sum(
        1 for _, _, names in os.walk(path) for n in names if n.endswith(suffix)
    )


def _median_wall(fn, reps: int = PROBE_REPS) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def layers(spark, pages: Pages, keyword, severity, last: PassRecord, out_dir: str, work: str):
    """Per-layer metrics. ``last`` is a pass run with phase lines on whose
    sinks are still on disk. Returns the metrics measured now and a
    function that adds the ones read from the finished event log."""
    res = last.result
    m: dict[str, float] = {}

    m["checkpoint.units"] = res.units_processed
    m["checkpoint.list_s"] = _median_wall(lambda: list_parquet_files(spark, pages.path))
    m["checkpoint.read_s"] = _median_wall(
        lambda: CheckpointTable(spark, f"{out_dir}/_checkpoint").completed_units()
    )
    probe = CheckpointTable(spark, os.path.join(work, "checkpoint_probe"))
    m["checkpoint.commit_s"] = _median_wall(lambda: probe.commit(res.lineage))

    batch = pages.frames[0]
    kernel_s = _median_wall(lambda: P.parse_records_pandas(batch, keyword=keyword))
    m["parse.kernel_rows_per_s"] = len(batch) / kernel_s

    def read():
        return spark.read.parquet(pages.path)

    m["parse.scan_s"] = _median_wall(
        lambda: noop(read().select("url", "warc_ts", "html", "lang"))
    )
    m["parse.pages_s"] = _median_wall(
        lambda: noop(P.parse_pages(read(), keyword=keyword, with_lineage=True))
    )
    routed = lambda: build_routed(  # noqa: E731
        spark, read(), keyword=keyword, severity_filter=severity, with_lineage=True
    )
    m["enrich.s"] = _median_wall(lambda: noop(routed())) - m["parse.pages_s"]
    m["enrich.broadcasts"] = plan_counts(routed())["broadcasts"]

    def phase_s(label: str) -> float:
        t0, t1 = last.phases[label]
        return (t1 - t0) / 1e3

    m["pipeline.plan_build_s"] = phase_s("plan-build")
    m["pipeline.fanout_write_s"] = phase_s("fanout-write")
    m["pipeline.aggregate_s"] = phase_s("aggregate")
    m["pipeline.lineage_s"] = phase_s("lineage")
    m["pipeline.files_written"] = _count_files(res.routed_path)

    # The fan-out write job's tasks are the scan, prefilter, Python
    # parse, enrich, route shuffle and the partitioned write.
    w0, w1 = last.phases["fanout-write"]

    def from_log(log: EventLog) -> dict[str, float]:
        w = log.window(w0, w1)
        return {
            "parse.pages_scanned": w.sql_metric(
                lambda n: n.startswith("Scan parquet"), "number of output rows"
            ),
            "parse.python_in_rows": w.python_in_rows(),
            "parse.records_out": w.sql_metric(is_python_node, "number of output rows"),
            "parse.python_run_s": w.sql_metric(is_python_node, "time to run Python workers")
            / 1e3,
            "parse.to_python_bytes": w.sql_metric(
                is_python_node, "data sent to Python workers"
            ),
            "pipeline.route_shuffle_bytes": w.shuffle_write_bytes(),
            "pipeline.route_task_skew": w.post_shuffle_skew(),
        }

    return m, from_log


class PipelineWorkload:
    """``pipeline_full`` (no keyword, no severity) or ``pipeline_selective``
    (keyword and severity prefilter) over one generated pages table."""

    def __init__(self, name: str, seed: int, work: str):
        self.keyword, self.severity = SELECTIVE if name == "pipeline_selective" else (None, None)
        self.seed = seed
        self.work = work
        self.out_dir = os.path.join(work, "out")
        self.attempted = 0
        self.failed = 0
        self.last: PassRecord | None = None

    def prepare(self) -> None:
        self.pages = make_pages(os.path.join(self.work, "pages"), self.seed)
        self.expect = oracle(self.pages, self.keyword, self.severity)

    def _pass(self, spark, phases: bool) -> PassRecord | None:
        self.attempted += 1
        try:
            rec = run_pass(spark, self.pages, self.out_dir, self.keyword, self.severity, phases)
            problems = check_output(self.out_dir, rec.result.rows_routed, self.expect)
        except Exception:  # noqa: BLE001 - count the failure, keep measuring
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        for p in problems:
            print(f"pipeline: {p}", file=sys.stderr)
        if problems:
            self.failed += 1
            return None
        self.out_ratio = (
            _tree_bytes(rec.result.routed_path) + _tree_bytes(rec.result.agg_path)
        ) / self.pages.bytes
        if phases:
            self.last = rec
        return rec

    def cold_pass(self, spark) -> float | None:
        rec = self._pass(spark, phases=False)
        return rec.wall_s if rec else None

    def timed_pass(self, spark, traced: bool):
        rec = self._pass(spark, phases=traced)
        return (rec.wall_s, rec.t0_ms, rec.t1_ms) if rec else None

    def e2e(self, setup_s: float, pass_s: float, cpu_s: float):
        """Gated metrics and the ones only printed. ``pass_s`` and
        ``cpu_s``: median wall and median host CPU (driver JVM plus Python
        workers) of one steady pass."""
        gated = {
            "setup_s": (setup_s, "s"),
            "pages_per_cpu_s": (self.pages.n / cpu_s, "1/s"),
            "out_bytes_per_in_byte": (self.out_ratio, "ratio"),
        }
        return gated, {"pages_per_s": (self.pages.n / pass_s, "1/s")}

    def layers(self, spark):
        if self.last is None:
            self._pass(spark, phases=True)
        if self.last is None:
            return {}, lambda log: {}
        return layers(
            spark, self.pages, self.keyword, self.severity, self.last, self.out_dir, self.work
        )

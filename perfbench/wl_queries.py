"""The query_mix workload: seven contract queries, one per operator
module, over fixed tables; each checked against its DuckDB twin."""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import duckdb

from common import noop, now_ms, plan_counts
from eventlog import EventLog
from juniper_syslog_filter_spark.driver_queries import ORACLE_SQL, QUERIES

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
MIX = [
    "m1_parse_classify",  # JVM regex parse twins
    "d16_paragraph_dedup",  # operators.dedup
    "t8_word_repetition",  # functions.text
    "s1_cosine_topk",  # operators.similarity
    "gr2_pagerank",  # operators.graph
    "st3_stream_window",  # streaming
    "j5_region_volume",  # join planning
]


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Order-insensitive form: columns sorted by name, floats rounded to
    6 places, rows sorted (the contract checker's normalisation)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [
        tuple(round(r[i], 6) if isinstance(r[i], float) else r[i] for i in order)
        for r in rows
    ]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def check_against_oracle(results: dict[str, tuple[list[str], list[tuple]]]) -> dict[str, str]:
    """Problems per query name; a query missing from the dict matched."""
    con = duckdb.connect()
    problems = {}
    try:
        for name in sorted(os.listdir(DATA_DIR)):
            if name.endswith(".parquet"):
                path = os.path.join(DATA_DIR, name)
                con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
        for q, (scols, srows) in results.items():
            try:
                res = con.execute(ORACLE_SQL[q])
            except duckdb.Error as e:
                problems[q] = f"oracle failed: {e}"
                continue
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            if sorted(scols) != sorted(dcols):
                problems[q] = f"columns {sorted(scols)} != {sorted(dcols)}"
            elif len(srows) != len(drows):
                problems[q] = f"rows {len(srows)} != {len(drows)}"
            elif normalize(srows, scols) != normalize(drows, dcols):
                problems[q] = "values differ"
    finally:
        con.close()
    return problems


@dataclass
class MixPass:
    walls: dict[str, float] = field(default_factory=dict)
    windows: dict[str, tuple[float, float]] = field(default_factory=dict)
    plans: dict[str, dict[str, int]] = field(default_factory=dict)
    results: dict[str, tuple[list[str], list[tuple]]] = field(default_factory=dict)

    @property
    def total_s(self) -> float:
        return sum(self.walls.values())


class QueryMix:
    def __init__(self, tmp_dir: str):
        self.tmp_dir = tmp_dir
        self.attempted = 0
        self.failed = 0
        self.last: MixPass | None = None

    def prepare(self) -> None:
        pass

    def _run(self, spark, collect: bool, plans: bool) -> MixPass | None:
        """One pass over the mix. The streaming query's scratch files are
        removed after the pass (not timed), so each pass starts from the
        same disk state."""
        mp = MixPass()
        ok = True
        before = set(os.listdir(self.tmp_dir))
        for q in MIX:
            self.attempted += 1
            t0_ms = now_ms()
            t0 = time.perf_counter()
            try:
                df = QUERIES[q](spark, DATA_DIR)
                if plans:
                    mp.plans[q] = plan_counts(df)
                if collect:
                    mp.results[q] = (df.columns, [tuple(r) for r in df.collect()])
                else:
                    noop(df)
            except Exception:  # noqa: BLE001 - count the failure, keep measuring
                traceback.print_exc(file=sys.stderr)
                self.failed += 1
                ok = False
                continue
            mp.walls[q] = time.perf_counter() - t0
            mp.windows[q] = (t0_ms, now_ms())
        for name in set(os.listdir(self.tmp_dir)) - before:
            shutil.rmtree(os.path.join(self.tmp_dir, name), ignore_errors=True)
        return mp if ok else None

    def cold_pass(self, spark) -> float | None:
        """The first pass collects every result for the oracle check; its
        wall is billed to set-up, the check is not."""
        mp = self._run(spark, collect=True, plans=False)
        if mp is None:
            return None
        problems = check_against_oracle(mp.results)
        self.attempted += len(mp.results)
        for q, why in problems.items():
            print(f"query_mix: {q} does not match its oracle: {why}", file=sys.stderr)
        self.failed += len(problems)
        return mp.total_s if not problems else None

    def timed_pass(self, spark, traced: bool):
        mp = self._run(spark, collect=False, plans=traced)
        if mp is None:
            return None
        if traced:
            self.last = mp
        first = min(w[0] for w in mp.windows.values())
        last = max(w[1] for w in mp.windows.values())
        return mp.total_s, first, last

    def e2e(self, setup_s: float, pass_s: float, cpu_s: float):
        """Gated metrics and the ones only printed (see PipelineWorkload)."""
        return {"setup_s": (setup_s, "s"), "query_mix_s": (pass_s, "s")}, {"cpu_s": (cpu_s, "s")}

    def layers(self, spark):
        """Per-query metrics of the last traced pass (one is run here if
        this session has none, e.g. under a pipeline workload)."""
        if self.last is None:
            self.timed_pass(spark, traced=True)
        mp = self.last
        m: dict[str, float] = {}
        if mp is None:
            return m, lambda log: {}
        for q in MIX:
            m[f"query.{q}.s"] = mp.walls[q]
            for k, v in mp.plans[q].items():
                m[f"query.{q}.{k}"] = v

        def from_log(log: EventLog) -> dict[str, float]:
            out = {}
            for q in MIX:
                w = log.window(*mp.windows[q])
                out[f"query.{q}.shuffle_bytes"] = w.shuffle_write_bytes()
                out[f"query.{q}.task_skew"] = w.post_shuffle_skew()
            return out

        return m, from_log


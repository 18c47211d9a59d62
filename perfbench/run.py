"""Layered benchmark for juniper_syslog_filter_spark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload pipeline_full --seed 1 --seconds 10 --trace 0

Workloads:

* ``pipeline_full``: ``pipeline.run_pipeline`` with no keyword and no
  severity over a generated pages table: ~90% of pages go through the
  Arrow transfer, the Python regex kernel, the route shuffle and the
  fan-out write.
* ``pipeline_selective``: the same table with ``keyword="RT_IDP_ATTACK"``
  and ``severity_filter="CRITICAL"``: ~4% of pages pass the JVM
  prefilter; scan, prefilter and the per-batch serial tail dominate.
* ``query_mix``: seven contract queries, one per operator module, over
  the fixed tables in ``perfbench/data/sf0.01``, each to the ``noop``
  sink; read-only. Run by hand: a fresh JVM spends ~40 s on its cold
  pass, too long for the repeated gated runs.

One run starts one Spark session on ``local[nproc]``. ``setup_s`` is the
session start plus the warm-up: one cold pass and two more untimed
passes while the JIT is still warming. Timed passes then repeat for
``--seconds`` (at least three). ``pages_per_cpu_s`` divides the input
pages by the median host CPU time (driver JVM plus Python workers) of a
timed pass. The wall-clock ``pages_per_s`` is printed beside it but not
gated: on a shared 4-vCPU host, noisy neighbours moved it by 20-26%
between runs, and CPU time by 6-13%. Each pass starts from the same
disk state (the previous pass's output is deleted, untimed). Outputs
are checked outside the timed region: pipeline sinks against a
driver-local oracle, each query against its DuckDB twin; a failed or
wrong operation counts in ``failed``.

``--trace 1`` turns on Spark's event log and prints the per-layer
metrics instead: it times each layer by calling its public functions,
reads stage, task and SQL metrics from the event log and counts plan
nodes, all from outside the package. Every traced run reports every
layer, so a pipeline workload also runs the query mix once.

Output: one JSON line of host facts (nproc, MemAvailable, versions,
seed, CPU steal and host CPU per pass), then one
``<workload> <metric> = <value> <unit>`` line per metric (untraced run;
these add ``pages_per_s`` and ``error_rate``), and last one JSON object
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import zipfile
from dataclasses import dataclass

import hostinfo

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "juniper_syslog_filter_spark"
WORKLOADS = ("pipeline_full", "pipeline_selective", "query_mix")
# The JIT keeps warming after the first pass: host CPU per pass fell by
# a quarter (pipeline_full) to a third (pipeline_selective) over the
# next passes on 4 vCPU. Two untimed passes follow the cold one; all
# three are billed to set-up. More would not fit the benchmark's time
# budget under CPU steal.
EXTRA_WARM_PASSES = 2
MIN_PASSES = 3
MIN_TRACED_PASSES = 4
DEADLINE_S = 175  # a run must end within 180 s
DRIVER_MEMORY = "3g"


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _zip_package(dest: str) -> str:
    """Package the program for the Python workers, as ``spark-submit
    --py-files`` would; workers do not inherit the driver's sys.path."""
    path = os.path.join(dest, f"{PACKAGE}.zip")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, ROOT))
    return path


def _isolate(work: str) -> None:
    """Keep every file the run writes (Python, JVM and Spark scratch)
    inside ``work``."""
    tmp_py = os.path.join(work, "tmp")
    tmp_jvm = os.path.join(work, "tmp-jvm")
    for d in (tmp_py, tmp_jvm):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp_py
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp_jvm} -XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _kill_tree(pid: int) -> None:
    for p in reversed(hostinfo.tree(pid)):
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.jvm_pid = None
        self.pyfile = None

    def start_session(self, trace: bool) -> float:
        from pyspark import SparkContext

        from juniper_syslog_filter_spark.session import build_session

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if trace:
            self.log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.log_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.log_dir}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        n = hostinfo.nproc()
        t0 = time.perf_counter()
        self.spark = build_session(
            app_name=f"perfbench-{self.args.workload}", master=f"local[{n}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.sparkContext.addPyFile(self.pyfile)
        start_s = time.perf_counter() - t0
        self.jvm_pid = SparkContext._gateway.proc.pid
        return start_s

    def stop_session(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            self.spark.stop()
            gw.shutdown()
        finally:
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - fall back to a kill
                    _kill_tree(proc.pid)
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_build", f"perfbench-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(args, work)

    def deadline() -> None:
        print(f"perfbench: run exceeded {DEADLINE_S}s, aborting", file=sys.stderr, flush=True)
        if run.jvm_pid:
            _kill_tree(run.jvm_pid)
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    timer = threading.Timer(DEADLINE_S, deadline)
    timer.daemon = True
    timer.start()
    try:
        _isolate(work)
        run.pyfile = _zip_package(work)
        return _measure(run)
    finally:
        timer.cancel()
        shutil.rmtree(work, ignore_errors=True)


def _workload(name: str, seed: int, work: str):
    if name == "query_mix":
        from wl_queries import QueryMix

        return QueryMix(os.environ["TMPDIR"])
    from wl_pipeline import PipelineWorkload

    return PipelineWorkload(name, seed, work)


@dataclass
class Pass:
    wall_s: float
    t0_ms: float
    t1_ms: float
    traced: bool
    steal_pct: float
    host_cpu_s: float
    gc_s: float


def _jvm_gc_s(spark) -> float:
    """Collection time of every JVM garbage collector (JMX), in seconds."""
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mgmt.getGarbageCollectorMXBeans()) / 1e3


def _timed_passes(run: Run, wl, seconds: float, trace: bool) -> list[Pass]:
    """Passes until ``seconds`` have gone by (at least MIN_PASSES). In a
    traced run the passes go plain, traced, traced, plain, ... (traced:
    the program's phase lines, or the plan fingerprints, are on), so the
    cost of that tracing is not confounded with the JIT still warming."""
    passes = []
    t_end = time.perf_counter() + seconds
    least = MIN_TRACED_PASSES if trace else MIN_PASSES
    i = 0
    while i < least or time.perf_counter() < t_end:
        traced = trace and i % 4 in (1, 2)
        st0, cpu0, gc0 = (
            hostinfo.cpu_ticks(), hostinfo.tree_cpu_s(run.jvm_pid), _jvm_gc_s(run.spark)
        )
        got = wl.timed_pass(run.spark, traced)
        st1, cpu1, gc1 = (
            hostinfo.cpu_ticks(), hostinfo.tree_cpu_s(run.jvm_pid), _jvm_gc_s(run.spark)
        )
        if got is not None:
            wall, t0_ms, t1_ms = got
            passes.append(
                Pass(wall, t0_ms, t1_ms, traced, hostinfo.steal_pct(st0, st1), cpu1 - cpu0,
                     gc1 - gc0)
            )
        i += 1
    return passes


def _measure(run: Run) -> int:
    args = run.args
    trace = bool(args.trace)
    facts = hostinfo.static_facts(args.seed)
    wl = _workload(args.workload, args.seed, run.work)
    wl.prepare()  # inputs and oracle: not billed
    others = []

    start_s = run.start_session(trace)
    facts["spark"] = run.spark.version
    facts["java"] = run.spark.sparkContext._jvm.System.getProperty("java.version")
    layer_m: dict[str, float] = {}
    resolvers = []
    try:
        # Memory is sampled in the traced run only, so the gated run has
        # no sampling thread competing with the driver for the GIL.
        mem = hostinfo.MemSampler(run.jvm_pid) if trace else contextlib.nullcontext()
        with mem:
            warm_up = wl.cold_pass(run.spark)
            warm = [wl.timed_pass(run.spark, False) for _ in range(EXTRA_WARM_PASSES)]
            if warm_up is not None and None not in warm:
                warm_up += sum(w[0] for w in warm)
            passes = _timed_passes(run, wl, args.seconds, trace)
            if trace:
                # Every traced run reports every layer: a pipeline
                # workload also runs the query mix once, and query_mix
                # runs one pipeline_full pass, for the other layers.
                other_dir = os.path.join(run.work, "other")
                os.makedirs(other_dir)
                others.append(
                    _workload(
                        "pipeline_full" if args.workload == "query_mix" else "query_mix",
                        args.seed,
                        other_dir,
                    )
                )
                others[0].prepare()
                for w in (wl, *others):
                    m, f = w.layers(run.spark)
                    layer_m.update(m)
                    resolvers.append(f)
    finally:
        run.stop_session()

    attempted = wl.attempted + sum(w.attempted for w in others)
    failed = wl.failed + sum(w.failed for w in others)
    if warm_up is None or not passes:
        print("perfbench: no successful pass to report", file=sys.stderr)
        return 1

    facts["warm_up_s"] = round(warm_up, 4)
    facts["passes"] = [
        {"wall_s": round(p.wall_s, 4), "traced": p.traced, "steal_pct": round(p.steal_pct, 2),
         "host_cpu_s": round(p.host_cpu_s, 3)}
        for p in passes
    ]
    print(json.dumps({"host": facts}))

    if not trace:
        metrics, shown = wl.e2e(
            start_s + warm_up,
            statistics.median(p.wall_s for p in passes),
            statistics.median(p.host_cpu_s for p in passes),
        )
        shown["error_rate"] = (failed / attempted, "ratio")
        for k, (v, unit) in {**metrics, **shown}.items():
            print(f"{args.workload} {k} = {v:.6g} {unit}")
        out = {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()}
    else:
        from eventlog import EventLog

        log = EventLog.load(run.log_dir)
        for f in resolvers:
            layer_m.update(f(log))
        plain = [p.wall_s for p in passes if not p.traced]
        traced = [p.wall_s for p in passes if p.traced]
        layer_m["session.start_s"] = start_s
        layer_m["session.warm_pass_s"] = warm_up
        if plain and traced:
            layer_m["trace.pass_s"] = statistics.median(plain)
            layer_m["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
        layer_m["host.peak_pss_mb"] = mem.peak / 2**20
        layer_m["host.cores_busy"] = statistics.median(p.host_cpu_s / p.wall_s for p in passes)
        layer_m["spark.gc_s"] = statistics.mean(p.gc_s for p in passes)
        engines = [log.window(p.t0_ms, p.t1_ms).engine() for p in passes]
        for k in engines[0]:
            layer_m[f"spark.{k}"] = statistics.mean(e[k] for e in engines)
        out = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(layer_m.items())}
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}
        )
    )
    return 0


def _unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("skew", "cpu_per_run", "per_in_byte", "cores_busy")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())

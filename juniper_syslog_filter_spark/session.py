"""SparkSession factory with scale-oriented defaults.

The reference is a single process with zero intra-job parallelism
(SURVEY.md §4.2); every knob here exists to make the same dataflow scale
linearly with executors: AQE (runtime coalesce + skew-join split), Arrow
for the pandas-UDF kernels, and a shuffle-partition count sized to the
local core count (on a real cluster: 2-3x total executor cores).
:func:`spread_small_input` is the one small-input fan-out guard the
Python kernels share.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _default_driver_memory() -> str:
    """Pick a heap that fits the host: half of MemAvailable, clamped to
    [2g, 24g]. 24 g is the measured sweet spot on the 128 GiB bench VM
    (see the extraJavaOptions comment below), but hard-coding it breaks
    ``build_session()`` on any host with less RAM — -Xms pre-commits the
    whole heap. $SPARK_DRIVER_MEMORY (read per call, not at import)
    overrides."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    avail_gb = None
    try:
        with open("/proc/meminfo", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) // (1024 * 1024)
                    break
    except OSError:
        pass
    if avail_gb is None:
        return "4g"
    return f"{max(2, min(24, avail_gb // 2))}g"


def build_session(
    app_name: str = "juniper-syslog-filter-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else all
    cores). On a real cluster you'd omit master and let spark-submit set
    it; everything else carries over unchanged.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = max(8, n)
    # Resolve the heap BEFORE building conf: -Xms must equal -Xmx (see
    # the extraJavaOptions comment below), so an extra_conf override of
    # spark.driver.memory has to flow into both settings.
    driver_mem = (extra_conf or {}).get("spark.driver.memory", _default_driver_memory())

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # The route's REBALANCE relies on AQE, which is on by default.
        # AQE coalesces post-shuffle partitions by BYTE size — a bad cost
        # proxy for CPU-heavy Arrow/pandas kernel stages, where it was
        # measured collapsing an explicit repartition(32) ahead of a
        # mapInPandas onto one core (2.6x whole-query slowdown). 64k
        # still merges genuinely tiny shuffles but keeps parallelism for
        # anything a Python kernel would chew on.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for pandas UDFs (text, dedup, source kernels) — batched
        # columnar exchange instead of per-row pickling.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Local mode: driver == executor == one JVM. Two measured
        # pathologies at local[32] on this (VM) host, both fatal to
        # scaling: (a) an 8g heap with 32 task threads GC-thrashes (2.6x
        # SLOWDOWN going 8→32 cores at 1M rows); (b) first-touch page
        # faults on lazy heap growth are host-assisted and brutally slow
        # here (~8 s/GB) — 32 threads pile up at ~95% system time (a 1s
        # job measured 22-32s). Fix: fixed-size heap (-Xms=-Xmx) +
        # transparent huge pages — 2 MiB faults cut the host-exit count
        # 512x (measured: 13s → 0.5-2.6s for the same job once warm;
        # -XX:+AlwaysPreTouch would eliminate faults entirely but costs
        # ~200s at startup on this host). On a real cluster this is
        # spark.executor.memory + the same extraJavaOptions.
        .config("spark.driver.memory", driver_mem)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+UseTransparentHugePages",
        )
        # Commit algorithm v2: task output moves to the destination at
        # task commit instead of a serial driver-side rename pass at job
        # commit — the fan-out write produces at least one file per sink
        # (more where AQE splits a large one), so v1's driver loop is a
        # measurable serial tail.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def spread_small_input(df: DataFrame) -> DataFrame:
    """``df`` repartitioned to the cluster's default parallelism when it
    has fewer partitions. A small table read from one parquet file
    arrives as ONE partition, which would serialize a CPU-bound kernel
    onto a single core. At real scale the scan already has >=
    defaultParallelism splits and ``df`` comes back unchanged (no
    shuffle inserted)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df

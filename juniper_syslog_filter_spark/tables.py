"""Table layer: Iceberg when the runtime is present, parquet otherwise.

The north rule targets Iceberg tables, but the Spark build this project
runs on ships no iceberg-spark-runtime jar, so the streaming table sink
(``streaming.make_batch_writer``) writes through this thin seam instead
of hard-coding either format; the batch pipeline writes its parquet
sinks itself. On a cluster with Iceberg configured (catalog
``spark_catalog`` or any custom catalog), pass ``catalog.db.table``
identifiers and the same calls become Iceberg DSv2 writes — partitioned,
snapshot-isolated, with ``overwritePartitions()`` replacing a replayed
streaming epoch's partition (``streaming.start_table_sink``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .checkpoint import _fs_path, _rename


def have_iceberg(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the classpath."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001 - Py4J raises wrapped JVM errors
        return False


def _is_path(identifier: str) -> bool:
    return "/" in identifier or identifier.startswith("file:")


def write_table(
    df: DataFrame,
    identifier: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite_partitions",
) -> None:
    """Write a table by identifier (Iceberg) or path (parquet fallback).

    ``mode``: 'overwrite_partitions' (idempotent batch replace),
    'append', or 'replace' (full overwrite).
    """
    spark = df.sparkSession
    partition_cols = partition_cols or []
    if not _is_path(identifier) and have_iceberg(spark):
        from pyspark.sql.functions import col

        writer = df.writeTo(identifier)
        if partition_cols:
            writer = writer.partitionedBy(*[col(c) for c in partition_cols])
        if mode == "append":
            writer.append()
        elif mode == "replace":
            writer.createOrReplace()
        else:
            writer.overwritePartitions()
        return
    # Parquet path fallback: dynamic partition overwrite ≈ overwritePartitions,
    # set on this write only so later overwrites in the session stay static.
    w = df.write.mode("append" if mode == "append" else "overwrite")
    if mode == "overwrite_partitions":
        w = w.option("partitionOverwriteMode", "dynamic")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(identifier)


def read_table(spark: SparkSession, identifier: str) -> DataFrame:
    if not _is_path(identifier) and have_iceberg(spark):
        return spark.read.table(identifier)
    return spark.read.parquet(identifier)


def compact_table(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_bytes)`` files. Returns the new file
    count.

    Why it exists: an incremental pipeline (checkpointed batches,
    streaming sinks) accretes files per micro-batch/unit; at 100 TB a
    table of millions of KB-sized files makes every scan pay
    open/footer costs and floods the driver's file listing. Compaction
    is the standing maintenance job. On Iceberg the same operation is
    ``rewrite_data_files`` (snapshot-isolated); this parquet-path
    variant rewrites into a sibling directory and swaps it in with two
    directory renames through the Hadoop FileSystem (any scheme), so a
    concurrent reader sees the old or the new listing, never a mix.

    The reference's cleanup stage (modules/cleanup_temp.py:19-63)
    deletes consumed inputs; under lazy evaluation nothing to delete
    remains, and THIS is what storage management means instead.
    """
    import math

    fs, p = _fs_path(spark, path)
    n_files = max(1, math.ceil(fs.getContentSummary(p).getLength() / target_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compact"
    df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    path_cls = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    old = path_cls(path.rstrip("/") + "__old")
    _rename(fs, p, old)
    _rename(fs, path_cls(tmp), p)
    fs.delete(old, True)
    return n_files


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: str | list[str],
    n_buckets: int,
    sort_cols: str | list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist a catalog table hash-bucketed (and optionally sorted) on
    the join/aggregation key — the north rule's "bucketed by url hash".

    Why this matters at 100 TB: a shuffle moves the ENTIRE fact table
    across the network every time two tables join on a key; bucketing
    pays that cost ONCE at write time and every later equi-join or
    groupBy on ``bucket_cols`` between same-bucketed tables runs with
    zero Exchange (pinned in tests/test_tables.py). ``sort_cols`` gives
    within-file run ordering (row-group min/max pruning, merge locality);
    note Spark 3+ no longer propagates it as plan output ordering by
    default (SPARK-28595 — multi-file buckets made that unsound), so a
    cheap per-task Sort remains before a sort-merge join. Bucket count is
    a layout contract: pick it from target bytes/bucket at full scale
    (e.g. 100 TB / 512 MB ≈ 200k buckets), and keep it IDENTICAL across
    tables meant to co-join — Spark only elides the shuffle when bucket
    specs match. On Iceberg the same declaration is the
    ``bucket(n, col)`` partition transform; this writer covers the
    session-catalog/parquet runtime in this sandbox.
    """
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else bucket_cols
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else sort_cols
        w = w.sortBy(*sort_cols)
    if path:
        # external table — bucketing metadata still lands in the catalog
        w = w.option("path", path)
    w.saveAsTable(table_name)

"""Checkpoint / lineage table: idempotent incremental processing.

The reference's progress durability is "consume one ZIP, then DELETE it"
(run.py:75-103, modules/cleanup_temp.py:19-63) — at-most-once and
destructive. Here the same intent is a small parquet-backed registry:
one row per processed work unit (input file) per run batch, carrying
per-partition lineage and row/byte metrics (north rule).

Idempotency protocol (SURVEY §7.4.5):

1. work units = input data files (stable paths);
2. pending = listed files minus ``completed_units()``;
3. a batch id is the sha1 of the sorted pending list → deterministic;
4. sink writes append ``batch=<id>`` partitions, and before writing a
   run deletes every sink batch with no committed lineage row: those
   units are pending again, so a crashed batch is *replaced*, never
   duplicated, even when new input files change the pending set and
   with it the batch id. ``--full`` first deletes the log itself, so
   every batch is uncommitted and a crash at any later point leaves
   every unit pending;
5. the checkpoint append is the final step — its absence is the signal
   to redo the batch.
"""

from __future__ import annotations

import glob
import hashlib
import os

from pyspark.sql import SparkSession

LOG_SCHEMA = (
    "batch_id string, unit string, bytes_in long, rows_parsed long, "
    "rows_routed long, stage string, committed_at timestamp"
)


class CheckpointTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def committed(self) -> set[tuple[str, str]]:
        """(batch_id, unit) of every committed lineage row, read the way
        :meth:`commit` writes them: driver-side with pyarrow on a local
        path (no Spark job in the serial tail), else a Spark read that
        names LOG_SCHEMA so nothing is inferred. A fresh output dir has
        no log yet."""
        local = _local_path(self.path)
        if local is not None:
            import pyarrow.parquet as pq

            rows: set[tuple[str, str]] = set()
            for f in glob.glob(os.path.join(local, "*.parquet")):
                t = pq.read_table(f, columns=["batch_id", "unit"])
                rows.update(zip(t["batch_id"].to_pylist(), t["unit"].to_pylist()))
            return rows
        fs, p = _fs_path(self.spark, self.path)
        if not fs.exists(p):
            return set()
        log = self.spark.read.schema(LOG_SCHEMA).parquet(self.path)
        return {(r.batch_id, r.unit) for r in log.select("batch_id", "unit").distinct().collect()}

    def completed_units(self) -> set[str]:
        """Units with a committed lineage row."""
        return {u for _, u in self.committed()}

    def clear(self) -> None:
        """Delete every lineage row: each commit file goes whole, so a
        crash part-way leaves the log a set of complete commits."""
        fs, p = _fs_path(self.spark, self.path)
        fs.delete(p, True)

    def commit(self, rows: list[dict]) -> None:
        """Atomic-enough append: one small parquet file per commit.

        Written driver-side with pyarrow — the registry is tiny (one row
        per input file), and a full Spark job for it measured 2-5 s of
        pure serial tail per pipeline run. Local-path only fallback: on
        a remote FS (hdfs:/s3a:) it goes through a 1-task Spark write.
        """
        import datetime

        now = datetime.datetime.now(datetime.timezone.utc)
        cols = {
            "batch_id": [r["batch_id"] for r in rows],
            "unit": [r["unit"] for r in rows],
            "bytes_in": [int(r.get("bytes_in", 0)) for r in rows],
            "rows_parsed": [int(r.get("rows_parsed", 0)) for r in rows],
            "rows_routed": [int(r.get("rows_routed", 0)) for r in rows],
            "stage": [r.get("stage", "pipeline") for r in rows],
            "committed_at": [now] * len(rows),
        }
        local = _local_path(self.path)
        if local is None:
            data = list(zip(*cols.values()))
            self.spark.createDataFrame(data, LOG_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(self.path)
            return
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(local, exist_ok=True)
        table = pa.table(
            {
                **{k: v for k, v in cols.items() if k != "committed_at"},
                # spark-compatible timestamp[us] (NTZ would also read fine)
                "committed_at": pa.array(cols["committed_at"], pa.timestamp("us", tz="UTC")),
            }
        )
        # Write-temp + rename: the commit must be atomically present or
        # absent (the resume protocol's only invariant). A direct write
        # interrupted mid-flight would leave a truncated commit-*.parquet
        # that poisons every later log read. The dot-prefixed temp name
        # is also invisible to Spark/pyarrow directory listings.
        final = os.path.join(local, f"commit-{uuid.uuid4().hex}.parquet")
        tmp = os.path.join(local, f".{os.path.basename(final)}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, final)  # atomic on POSIX


def batch_id_for(units: list[str]) -> str:
    h = hashlib.sha1()
    for u in sorted(units):
        h.update(u.encode("utf-8"))
        h.update(b"\x00")
    return h.hexdigest()[:16]


def _local_path(path: str) -> str | None:
    """The local filesystem path of ``path``; None on a remote FS."""
    if path.startswith("file:"):
        return path[len("file:"):]
    return None if "://" in path else path


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path``, via the JVM gateway — works
    for any Hadoop-compatible filesystem (local, HDFS, s3a), not just
    local disk."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def _hidden(name: str) -> bool:
    """A path component Spark's directory reader skips: ``_temporary``
    task attempts, ``_SUCCESS``, dot-prefixed in-progress files. A
    ``_``-prefixed name with ``=`` is a partition directory."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def list_parquet_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(file_path, size) for every committed data file under a parquet
    table path: exactly the files ``spark.read.parquet(path)`` reads, so
    no hidden component below the root names an uncommitted file."""
    fs, p = _fs_path(spark, path)
    root = len(fs.makeQualified(p).toString())
    out: list[tuple[str, int]] = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        fp = st.getPath().toString()
        if fp.endswith(".parquet") and not any(map(_hidden, fp[root:].split("/"))):
            out.append((fp, st.getLen()))
    return sorted(out)


def delete_batches(spark: SparkSession, table_path: str, keep: set[str]) -> None:
    """Delete every ``batch=<id>`` partition of a sink table whose id is
    not in ``keep``: one listing of the table root, no Spark job."""
    fs, p = _fs_path(spark, table_path)
    if not fs.exists(p):
        return
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("batch=") and name[len("batch="):] not in keep:
            fs.delete(st.getPath(), True)

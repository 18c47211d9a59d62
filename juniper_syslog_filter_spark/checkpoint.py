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

import hashlib

from pyspark.sql import SparkSession


class CheckpointTable:
    """The lineage log: one parquet file per commit in a directory, read
    and written driver-side through the Hadoop FileSystem, so every
    scheme (``file:``, ``hdfs:``, ``s3a:``) takes the same path and no
    Spark job runs in the serial tail."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def committed(self) -> set[tuple[str, str]]:
        """(batch_id, unit) of every committed lineage row: each visible
        ``.parquet`` file of the log directory, read whole. A fresh
        output dir has no log yet."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        fs, p = _fs_path(self.spark, self.path)
        if not fs.exists(p):
            return set()
        rows: set[tuple[str, str]] = set()
        for st in fs.listStatus(p):
            f = st.getPath()
            name = f.getName()
            if _hidden(name) or not name.endswith(".parquet"):
                continue
            stream = fs.open(f)
            try:
                data = stream.readAllBytes()
            finally:
                stream.close()
            t = pq.read_table(pa.BufferReader(data), columns=["batch_id", "unit"])
            rows.update(zip(t["batch_id"].to_pylist(), t["unit"].to_pylist()))
        return rows

    def completed_units(self) -> set[str]:
        """Units with a committed lineage row."""
        return {u for _, u in self.committed()}

    def clear(self) -> None:
        """Delete every lineage row: each commit file goes whole, so a
        crash part-way leaves the log a set of complete commits."""
        fs, p = _fs_path(self.spark, self.path)
        fs.delete(p, True)

    def commit(self, rows: list[dict]) -> None:
        """Append one small parquet file holding ``rows``.

        The registry is tiny (one row per input file), so it is encoded
        driver-side with pyarrow; a Spark job for it measured 2-5 s of
        pure serial tail per pipeline run. Write-temp + rename: the
        commit must be atomically present or absent (the resume
        protocol's only invariant), and the dot-prefixed temp name is
        invisible to :meth:`committed` and Spark's directory reader.
        """
        import datetime
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        now = datetime.datetime.now(datetime.timezone.utc)
        table = pa.table(
            {
                "batch_id": pa.array([r["batch_id"] for r in rows], pa.string()),
                "unit": pa.array([r["unit"] for r in rows], pa.string()),
                "bytes_in": pa.array([int(r.get("bytes_in", 0)) for r in rows], pa.int64()),
                "rows_parsed": pa.array([int(r.get("rows_parsed", 0)) for r in rows], pa.int64()),
                "rows_routed": pa.array([int(r.get("rows_routed", 0)) for r in rows], pa.int64()),
                "stage": pa.array([r.get("stage", "pipeline") for r in rows], pa.string()),
                # Spark reads timestamp[us, UTC] as its TIMESTAMP type
                "committed_at": pa.array([now] * len(rows), pa.timestamp("us", tz="UTC")),
            }
        )
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf)
        fs, p = _fs_path(self.spark, self.path)
        path_cls = self.spark.sparkContext._jvm.org.apache.hadoop.fs.Path
        name = f"commit-{uuid.uuid4().hex}.parquet"
        tmp = path_cls(p, f".{name}.tmp")
        out = fs.create(tmp, False)
        try:
            out.write(buf.getvalue().to_pybytes())
        finally:
            out.close()
        _rename(fs, tmp, path_cls(p, name))


def batch_id_for(units: list[str]) -> str:
    h = hashlib.sha1()
    for u in sorted(units):
        h.update(u.encode("utf-8"))
        h.update(b"\x00")
    return h.hexdigest()[:16]


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path``, via the JVM gateway — works
    for any Hadoop-compatible filesystem (local, HDFS, s3a), not just
    local disk."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def _rename(fs, src, dst) -> None:
    """``fs.rename`` that raises where Hadoop returns false."""
    if not fs.rename(src, dst):
        raise OSError(f"rename {src} -> {dst} failed")


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

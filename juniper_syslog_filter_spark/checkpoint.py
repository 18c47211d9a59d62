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
4. sink writes are keyed by ``batch=<id>`` partition values under
   dynamic partition-overwrite, so a crashed batch is *replaced*, never
   duplicated, when the same pending set is reprocessed;
5. the checkpoint append is the final step — its absence is the signal
   to redo the (overwrite-safe) batch.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.utils import AnalysisException

LOG_SCHEMA = (
    "batch_id string, unit string, bytes_in long, rows_parsed long, "
    "rows_routed long, stage string, committed_at timestamp"
)


class CheckpointTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read_log(self) -> DataFrame | None:
        try:
            return self.spark.read.parquet(self.path)
        except AnalysisException:
            return None

    def completed_units(self) -> set[str]:
        log = self.read_log()
        if log is None:
            return set()
        return {r.unit for r in log.select("unit").distinct().collect()}

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
        path = self.path
        if "://" in path and not path.startswith("file:"):
            data = list(zip(*cols.values()))
            self.spark.createDataFrame(data, LOG_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(path)
            return
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        local = path[len("file:"):] if path.startswith("file:") else path
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
        # that poisons every later read_log(). The dot-prefixed temp name
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


def list_parquet_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(file_path, size) for every data file under a parquet table path.

    Uses the Hadoop FS API via the JVM gateway — works for any Hadoop-
    compatible filesystem (local, HDFS, s3a), not just local disk.
    """
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    out: list[tuple[str, int]] = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        fp = st.getPath().toString()
        if fp.endswith(".parquet"):
            out.append((fp, st.getLen()))
    return sorted(out)

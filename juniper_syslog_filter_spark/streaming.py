"""Structured Streaming surface: the same parse→enrich→route dataflow
over an unbounded file source.

The reference's only "streaming" is the Phase-1 consume-one-ZIP-and-
delete loop (run.py:75-103) — a hand-rolled at-most-once file queue.
Structured Streaming's file source is its principled replacement:
exactly-once tracking of processed files in the checkpoint log (the
streaming analogue of our batch CheckpointTable), automatic discovery of
new files, and the identical transformation chain — ``parse_pages`` and
``enrich`` are reused verbatim, since mapInPandas and stream-static
broadcast joins are both streaming-capable.

Late data: the windowed aggregate applies a watermark on ``warc_ts``;
closed windows are emitted append-mode (no updates to published rows —
what a downstream Iceberg sink needs).

Scale notes: the file source lists incrementally (maxFilesPerTrigger
bounds micro-batch size → bounded executor memory at any input rate);
state for the windowed agg is per (window, Severity, lang) — tiny. The
fan-out parquet sink partitions by the same route keys as the batch
path.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .datagen import PAGES_SCHEMA, device_dim, severity_dim
from .enrich import enrich
from .functions.parse import parse_pages
from .pipeline import ROUTE_KEYS


def read_pages_stream(
    spark: SparkSession,
    pages_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming scan of a pages directory (parquet file source)."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(pages_path)


def stream_routed(
    spark: SparkSession,
    pages: DataFrame,
    keyword: str | None = None,
    severity_filter: str | None = None,
) -> DataFrame:
    """parse→enrich over a streaming pages frame — same operators as the
    batch path (pipeline.build_routed), minus file-path lineage (the
    streaming checkpoint log owns per-file progress instead)."""
    records = parse_pages(pages, keyword=keyword, with_lineage=False)
    out = enrich(records, severity_dim(spark), device_dim(spark))
    if severity_filter is not None:
        out = out.filter(F.col("Severity") == severity_filter)
    return out


def windowed_severity_counts(
    records: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Event-time windowed per-sink counts with late-data bound — the
    streaming twin of pipeline.aggregate_counts."""
    return (
        records.withWatermark("warc_ts", watermark_delay)
        .groupBy(
            F.window("warc_ts", window_duration).alias("win"),
            F.col("Severity").alias("severity"),
            F.col("lang"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            "severity",
            "lang",
            "n",
        )
    )


def start_routed_sink(
    routed: DataFrame,
    output_path: str,
    checkpoint_path: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Fan-out parquet sink partitioned by the route keys; exactly-once
    via the streaming checkpoint + file-sink manifest."""
    writer = (
        routed.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy(*ROUTE_KEYS)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def make_batch_writer(identifier: str, partition_cols: list[str] | None = None):
    """Build the ``foreachBatch`` function for :func:`start_table_sink` —
    exposed separately so tests can drive the replay path directly."""
    from .tables import write_table

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df.withColumn("_batch_id", F.lit(batch_id))
        write_table(
            out,
            identifier,
            (partition_cols or []) + ["_batch_id"],
            mode="overwrite_partitions",
        )

    return write_batch


def start_table_sink(
    df: DataFrame,
    identifier: str,
    checkpoint_path: str,
    partition_cols: list[str] | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """``foreachBatch`` → table sink with batch-id idempotency — the
    exactly-once streaming-to-TABLE pattern (file sinks get a manifest
    for free; arbitrary table writes do not).

    foreachBatch is at-least-once: a crash between the table write and
    the checkpoint commit replays the SAME epoch with the SAME
    ``batch_id``. Writes are made idempotent by partitioning the output
    on ``_batch_id`` and using dynamic partition overwrite
    (``tables.write_table`` → Iceberg ``overwritePartitions`` on a real
    catalog), so a replayed epoch REPLACES its own partition instead of
    appending duplicates — the streaming analogue of the batch
    checkpoint protocol (checkpoint.py docstring, step 4).
    """
    writer = df.writeStream.foreachBatch(
        make_batch_writer(identifier, partition_cols)
    ).option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


SESSION_SCHEMA = (
    "user_id string, session_start timestamp, session_end timestamp, n_events long"
)
_SESSION_STATE_SCHEMA = "start long, last long, n long"  # micros since epoch


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark_delay: str = "2 hours",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Custom STATEFUL streaming operator via ``applyInPandasWithState``:
    30-min-gap sessionization per user — the streaming twin of the w1
    batch query (queries/windows.q_w1_sessionize; same strictly-greater
    microsecond gap test), but emitting full (start, end, n_events)
    session rows as they CLOSE instead of a final per-user count.

    Per micro-batch and key: sort the batch's event times, fold them
    into the open session carried in state, emit every session whose
    gap was exceeded, keep the still-open one in state with an
    EVENT-TIME timeout at ``last + gap`` — when the watermark passes
    that, the session provably cannot extend (any older event would be
    late beyond the watermark and dropped), so the timeout path closes
    and emits it. State per key is three longs — bounded regardless of
    input rate; skew lands on the shuffle by ``user_col``, the same key
    the batch twin shuffles on.
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        def emit(sessions: list[tuple[int, int, int]]) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "user_id": [key[0]] * len(sessions),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in sessions],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in sessions],
                    "n_events": [n for _, _, n in sessions],
                }
            )

        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield emit([(start, last, n)])
            return

        ts: list[int] = []
        for pdf in pdfs:
            # .tolist() → plain Python ints: GroupState round-trips state
            # through JSON, which rejects numpy scalars.
            ts.extend(pdf[ts_col].to_numpy().astype("datetime64[us]").astype("int64").tolist())
        ts.sort()
        start: Any
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        closed: list[tuple[int, int, int]] = []
        for t in ts:
            if start is None:
                start, last, n = t, t, 1
            elif t - last > gap_us:  # strictly greater — w1's gap test
                closed.append((start, last, n))
                start, last, n = t, t, 1
            else:
                last, n = max(last, t), n + 1
        state.update((start, last, n))
        # Event-time timeout: fires once the watermark passes last+gap.
        state.setTimeoutTimestamp((last + gap_us) // 1000)
        if closed:
            yield emit(closed)

    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(F.col(user_col))
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_stream_once(
    spark: SparkSession,
    pages_path: str,
    output_dir: str,
    keyword: str | None = None,
    severity_filter: str | None = None,
) -> dict[str, int]:
    """Drain all currently-available input (availableNow) through the
    routed sink; returns row counts per sink stage. Re-running after new
    files arrive processes only the delta (checkpoint log) — the
    streaming counterpart of pipeline.run_pipeline's resume."""
    pages = read_pages_stream(spark, pages_path)
    routed = stream_routed(
        spark, pages, keyword=keyword, severity_filter=severity_filter
    )
    q = start_routed_sink(
        routed, f"{output_dir}/routed", f"{output_dir}/_ckpt_routed"
    )
    q.awaitTermination()
    n_routed = spark.read.parquet(f"{output_dir}/routed").count()
    return {"rows_routed": n_routed}

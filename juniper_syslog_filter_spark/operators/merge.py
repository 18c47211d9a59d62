"""MERGE INTO (upsert) as a dataflow.

:func:`merge_upsert` replaces matched base rows with their change rows
and inserts unmatched ones: one left-anti join on the change keys plus
UNION ALL, so no change payload crosses the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def merge_upsert(base: DataFrame, changes: DataFrame, key_cols: list[str]) -> DataFrame:
    """MERGE INTO semantics as a dataflow: WHEN MATCHED THEN UPDATE
    (the change row replaces the base row wholesale), WHEN NOT MATCHED
    THEN INSERT. ``changes`` must carry at most one row per key (the
    caller compacts multi-change batches with keep-latest first — see
    operators/history.scd2_intervals' sibling u2 compaction).

    Shape: one left-anti join of base against the change KEYS (narrow
    projection — no change payload crosses the shuffle) + UNION ALL.
    Under AQE the anti side broadcasts whenever the change batch is
    small relative to the base — the common case for incremental
    upserts, making the whole MERGE map-side. This is the copy-on-write
    MERGE dataflow inside Iceberg/Delta; against a real Iceberg
    catalog, tables.write_table's overwritePartitions gives the
    transactional commit, and only partitions containing matched keys
    need rewriting.
    """
    survivors = base.join(
        changes.select(*key_cols), on=key_cols, how="left_anti"
    )
    return survivors.unionByName(changes)

"""Salted equi-join — explicit skew mitigation for hot keys.

The north rule demands "partitioning / shuffle / skew handled
explicitly": a shuffle join on a power-law key (web corpora: host,
source crawl, language) sends EVERY row of the hottest key to one
reducer, and at 100 TB that task runs for hours while the rest of the
cluster idles. Spark's two built-in answers — broadcast (only if one
side fits in executor memory) and AQE skew-join splitting (post-shuffle,
only for sort-merge joins it can split) — leave a gap: a shuffle-hash
join of a skewed fact against a dim too big to broadcast. Salting closes
it ahead of time, at plan-build:

* **Fact side**: add ``_salt = pmod(xxhash64(entropy_col), n_salts)`` —
  a DETERMINISTIC spread derived from a row-unique column, so the same
  input always lands in the same subtask (reruns are stable, unlike
  ``rand()`` salts, and the checkpoint/lineage protocol stays
  replayable).
* **Dim side**: explode each row into ``n_salts`` copies, one per salt
  value (dim grows ×``n_salts`` — choose ``n_salts`` ≈ hot-key rows ÷
  target-partition rows, NOT the cluster width).
* Join on ``(key, _salt)``: the hottest key now occupies ``n_salts``
  shuffle partitions instead of one. Output rows are exactly the plain
  join's rows — salting rewrites the PHYSICAL distribution only, which
  is why the driver oracle for ``sj1`` is the unsalted SQL join.

The reference repo has no joins at all (SURVEY.md §2.6); this operator
belongs to the added web-scale family. The pipeline's fan-out write
needs no salt: its ``REBALANCE`` exchange lets AQE split a large sink
at run time (``pipeline.route_repartition``).

100-TB notes: prefer ``broadcast(dim)`` when the dim fits — salting
costs a dim blow-up and a wider exchange. When neither side broadcasts,
salt only the keys that NEED it (split fact into hot/cold by a count
sketch, salt the hot slice, union) — this module's uniform variant is
the simple building block; the hot/cold split composes from two calls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    entropy_col: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Join ``fact`` to ``dim`` on ``on`` with the hot keys spread over
    ``n_salts`` shuffle partitions.

    ``entropy_col``: a fact column that varies within a key (row id,
    timestamp) — the deterministic salt source. The dim side always
    carries a ``shuffle_hash`` hint: a tiny dim would otherwise be
    auto-broadcast, which needs no salting and would make the
    demonstration vacuous, and on real skewed-vs-big-dim workloads it is
    what you would hit anyway once the dim exceeds the broadcast
    threshold.
    """
    keys = [on] if isinstance(on, str) else list(on)
    f = fact.withColumn(
        SALT_COL,
        F.pmod(F.xxhash64(F.col(entropy_col)), F.lit(n_salts)).cast("int"),
    )
    d = dim.withColumn(
        SALT_COL,
        F.explode(F.array(*[F.lit(i) for i in range(n_salts)])),
    ).hint("shuffle_hash")
    return f.join(d, keys + [SALT_COL], how).drop(SALT_COL)

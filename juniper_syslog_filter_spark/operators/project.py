"""Projection operators (SURVEY.md §2.2 P4, §1.3 column-order contract).

Column-order contract: every reference stage inserts its new columns at
a documented position — right before ``Message`` (modules/
extract_routing.py:89-95 et al.), or right after the column it derives
from (srcIP/dstIP after routing, modules/split_ip.py; each ``*_type``
after its IP, modules/classify_ip.py). :func:`insert_columns` is that one
rule; the parse, the IP classifier, the per-module stages and the m*
queries all place their columns through it. Catalyst does not care about
order; downstream CSV consumers and the reference's tests do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def insert_columns(
    df: DataFrame, named_cols: dict[str, Column], after: str | None = None
) -> DataFrame:
    """``df`` with ``named_cols`` (name → expression over ``df``) placed
    in order right after the column ``after``; with no ``after``, right
    before ``Message``, or last if there is no ``Message``. A column of
    ``df`` with one of the new names is replaced, not duplicated. One
    projection."""
    rest = [c for c in df.columns if c not in named_cols]
    if after is not None:
        i = rest.index(after) + 1
    elif "Message" in rest:
        i = rest.index("Message")
    else:
        i = len(rest)
    new = [col.alias(name) for name, col in named_cols.items()]
    return df.select(*rest[:i], *new, *rest[i:])


def reduce_columns(df: DataFrame, keep_columns: list[int]) -> DataFrame:
    """P4 (modules/reduce_columns.py:22-107): positional projection with
    bounds checks. Catalyst prunes columns automatically; this exists for
    the explicit output-schema contract (default reference indices
    ``[0, 1, 2, 6]`` keep Timestamp, Hostname, AppName, Message)."""
    n = len(df.columns)
    bad = [i for i in keep_columns if i < 0 or i >= n]
    if bad:
        raise IndexError(f"keep_columns out of range {bad} for {n} columns")
    return df.select(*[df.columns[i] for i in keep_columns])

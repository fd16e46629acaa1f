"""Stream filters F1–F3 (SURVEY.md §2).

All three are plain Catalyst predicates — they get pushed into the parquet
scan (`PushedFilters` in .explain), so at 100 TB the dropped rows are never
materialized past the reader.

F1 denylist   — reference lib/oplog/tail.go:620-627
F2 system/config namespaces — reference lib/oplog/processor.go:34-43
F3 op type    — reference lib/oplog/tail.go:686-764 (default-drop :763-764)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def filter_ops(df: DataFrame, ops: tuple[str, ...] = ("i", "u", "d")) -> DataFrame:
    """F3: only insert/update/delete pass; commands and unknowns drop."""
    return df.where(F.col("op").isin(*ops))


def filter_system_namespaces(df: DataFrame) -> DataFrame:
    """F2: drop ``system.``-prefixed paths (index builds) and the ``config``
    repo (internal metadata)."""
    return df.where(
        (~F.col("path").startswith("system.")) & (F.col("repo") != F.lit("config"))
    )


def filter_denylist(df: DataFrame, denylist: tuple[str, ...]) -> DataFrame:
    """F1 for a static, config-sized denylist: an IN-list predicate (pushed
    down to the scan — cheaper than any join)."""
    if not denylist:
        return df
    return df.where(~F.col("repo").isin(*denylist))


def apply_all_filters(
    df: DataFrame, denylist: tuple[str, ...] = ()
) -> DataFrame:
    return filter_denylist(filter_system_namespaces(filter_ops(df)), denylist)

"""Batch replay: change-event log → final table state (SURVEY.md §7.1 M1).

The whole-log batch expression of the delivery semantics — the plan Catalyst
sees is scan(pushed filters) → single hash-aggregate (map-side partial) →
project. One shuffle total, on the document key. This is also the oracle-side
of the streaming engine's parity tests: streaming apply must converge to the
same state batch replay produces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..operators.filters import apply_all_filters
from ..operators.lww import lww_collapse
from .. import sources  # noqa: F401  (package coherence)


def final_state(
    events: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """(repo, path, commit, lang, content, content_sha256, last_ts,
    last_tx_idx) for every live (non-deleted) key."""
    ev = apply_all_filters(events, cfg.denylist)
    extra = [c for c in ("stars",) if c in events.columns]
    ev = ev.select("repo", "path", "ts", "tx_idx", "op", "commit", "lang", "content", *extra)
    winners = lww_collapse(ev, key=("repo", "path"))
    live = winners.where(F.col("op") != F.lit("d"))
    return live.select(
        "repo",
        "path",
        "commit",
        "lang",
        "content",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        *extra,
        F.col("ts").alias("last_ts"),
        F.col("tx_idx").alias("last_tx_idx"),
    )


def replay_events_path(
    spark: SparkSession,
    events_path: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    events = spark.read.parquet(events_path)
    return final_state(events, cfg)

"""Last-writer-wins collapse per key — the engine's core reduction (B2).

Reference semantics (SURVEY.md §2.2): all events for one key apply in total
order (ts, tx_idx); identical (key, ts, tx_idx) applies once
(lib/redispub/publisher.go:41-62, key format :315-317). Collapsing a batch to
one winner per key *is* the combination of dedup + ordered apply for
after-image CDC: the winner's state is the state after applying the whole
batch in order.

Scale notes:
  * ``max_by(payload_struct, order_struct)`` is a hash aggregate with
    map-side partial aggregation — each map task emits at most one candidate
    per key, so a hot key receives one row per upstream partition at the
    reducer, not its full event volume — the explicit hot-key mitigation, with
    no salted second reduce (that would add a full exchange + sort for no
    tighter bound).
  * Exact duplicates collapse for free: max_by picks one of the identical
    rows, which is the reference's "apply once" outcome.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..timestamps import total_order_col

#: payload columns carried through the reduction (everything but the key)
_META = ("ts", "tx_idx", "op")


def _payload_cols(df: DataFrame, key: tuple[str, ...]) -> list[str]:
    return [c for c in df.columns if c not in key]


def lww_collapse(
    df: DataFrame, key: tuple[str, ...] = ("repo", "path")
) -> DataFrame:
    """One winning row per key: the event with the greatest (ts, tx_idx).

    Output columns: key..., then the winner's payload columns (same names).
    """
    payload = _payload_cols(df, key)
    order = total_order_col(F.col("ts"), F.col("tx_idx"))
    win = F.max_by(F.struct(*[F.col(c) for c in payload]), order).alias("_w")
    out = df.groupBy(*key).agg(win)
    return out.select(*key, *[F.col(f"_w.{c}").alias(c) for c in payload])


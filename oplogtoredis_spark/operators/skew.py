"""Salted join for hot-key skew — the explicit mitigation for the join
regime AQE's skew-join splitting and broadcast can't cover: a dimension
too large to broadcast, joined on keys whose distribution is pathological
(one repo owning half the events — the north rule's "hot repos" case).

Mechanics: every FACT row gets a salt in [0, n_salts) (derived from a
row-unique id — the salt value never affects the RESULT, only which
reducer the row lands on, so each of a hot key's rows spreads over
n_salts reducers); the DIMENSION is replicated once per salt value and
the join runs on (key..., salt). Each fact row meets exactly the one
replica carrying its salt, so multiplicities — and therefore the result —
equal the plain join's, row for row (the oracle computes the plain join).
Cost: dimension ×n_salts (bounded, dimension-sized); payoff: the hot
key's reduce work parallelizes n_salts-ways.

This complements the engine's other skew lever: the LWW merge's map-side
partial max_by (operators/lww.py, streaming/lake.py) bounds AGGREGATION
skew to one row per map task per key; this operator handles JOIN skew,
where no partial aggregate can pre-collapse a hot key's rows.

Reference analogue: the reference shards its publish fan-out by a hash
parallelism key (lib/redispub — routing.py's R1/R2); salting is the same
idea applied to a shuffle reducer instead of a Redis connection.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

_SALT = "_otr_salt"


def salted_join(
    big: DataFrame,
    dim: DataFrame,
    key_cols: Sequence[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """``big JOIN dim ON key_cols`` with the hot-key reduce spread over
    ``n_salts`` reducers. ``how``: "inner" or "left" (each big row carries
    exactly one salt, so left-join multiplicities are preserved too).

    Output columns: big's columns followed by dim's non-key columns —
    identical to the plain join."""
    if n_salts < 2:
        raise ValueError(f"n_salts must be >= 2, got {n_salts}")
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    if not key_cols:
        raise ValueError("key_cols must name at least one column")
    overlap = set(big.columns) & {_SALT}
    if overlap or _SALT in dim.columns:
        raise ValueError(f"inputs must not carry the internal column {_SALT}")
    keys = list(key_cols)
    salted_big = big.withColumn(
        _SALT,
        F.pmod(
            F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts)
        ).cast("int"),
    )
    replicated = dim.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn(_SALT, F.col(_SALT).cast("int"))
    out = salted_big.join(replicated, [*keys, _SALT], how)
    return out.drop(_SALT)

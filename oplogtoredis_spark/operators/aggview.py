"""Incrementally-maintained aggregate view over a CDC lake changelog —
retraction algebra (the Materialize / Flink-SQL materialized-GROUP-BY
posture) on top of ``LakeTable.changes``.

The view is ``SELECT group_cols, count(*), sum(value_expr) FROM lake
[WHERE pred] GROUP BY group_cols`` kept up to date WITHOUT rescanning the
lake: each catch-up step reads the net changelog between the last-followed
snapshot and the current one, turns it into signed contributions
(insert/update_postimage → +1, delete/update_preimage → −1 — the preimage
rows are exactly the retractions), and folds them into the stored view
with a UNION + one groupBy (no join anywhere). A group whose row count
reaches zero leaves the view.

Only self-decomposable aggregates are maintained: COUNT and SUM (and
anything derivable — mean = sum/count). MIN/MAX are deliberately absent:
they are not retractable (deleting the current max needs the runner-up,
i.e. a per-group rescan), which is the textbook boundary of
retraction-based view maintenance; a min/max view should be a windowed
recompute instead.

Determinism: values are folded in e4 FIXED POINT (``floor(expr * 1e4 +
0.5)`` as long) so sums are integer — order-independent, overflow-checked by
ANSI mode, and bit-identical in the DuckDB oracle.

Scale: the per-step changelog read is O(changed buckets) (LakeTable.changes
prunes via the manifest diff); the signed aggregation is one partial-agg'd
shuffle over the change rows; the stored view is O(groups) — rewriting it
per step is the scale-correct choice (a grouped view of a 100 TB fact
table is MBs). Idempotent replay: the view version IS the lake snapshot
version; a crash between the state write and the marker advance rewrites
the same deterministic state. That follow protocol (pinned first read,
changelog step, fold, guard, versioned commit) is the lake-follower
core's ``LakeView`` (operators/follow.py); this module holds the algebra.

Reference analogue: downstream Redis consumers keeping counters from the
publish stream (lib/redispub/publisher.go:41-62) — here the counter set is
maintained transactionally from the table's own changelog instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .follow import LakeView


class IncrementalAggView(LakeView):
    """A persisted (group_cols → n_rows, sum_e4) view following a LakeTable.

    ``value_expr`` is a SQL expression over the lake row (e.g.
    ``"length(content)"``); ``where`` optionally filters rows BEFORE
    aggregation — evaluated per change row, so a row whose update moves it
    across the predicate boundary retracts/contributes exactly once.
    """

    _SUMS = ("n_rows", "sum_e4")
    _GUARD = (
        "IncrementalAggView: negative folded count — changelog retracted a"
        " row never added",
        None,
    )
    _COUNT = "groups"

    def __init__(
        self,
        base_dir: str,
        group_cols: tuple[str, ...] | list[str],
        value_expr: str,
        where: str | None = None,
    ):
        super().__init__(base_dir, "group_cols", group_cols)
        self.group_cols = tuple(group_cols)
        self.value_expr = value_expr
        self.where = where

    def read(self, spark: SparkSession) -> DataFrame:
        """(group_cols..., n_rows, sum_e4) at the followed version."""
        return self._state(spark)

    def summary(self, spark: SparkSession) -> DataFrame:
        """Reader-facing shape: (group_cols..., n_rows, value_sum)."""
        return self.read(spark).select(
            *self.group_cols,
            "n_rows",
            (F.col("sum_e4") / F.lit(10000.0)).alias("value_sum"),
        )

    def _signed(self, rows: DataFrame, sign_col) -> DataFrame:
        """(group_cols..., n_rows, sum_e4) signed contributions."""
        if self.where is not None:
            rows = rows.where(F.expr(self.where))
        # floor(x*1e4 + 0.5), the codebase's e4 convention — identical
        # half-handling in Spark and DuckDB (round() differs on halves).
        val_e4 = F.floor(
            F.expr(self.value_expr) * F.lit(10000.0) + F.lit(0.5)
        ).cast("long")
        return (
            rows.select(
                *self.group_cols,
                sign_col.alias("_sign"),
                val_e4.alias("_v"),
            )
            .groupBy(*self.group_cols)
            .agg(
                F.sum("_sign").alias("n_rows"),
                F.sum(F.col("_sign") * F.col("_v")).alias("sum_e4"),
            )
        )


class IncrementalDistinctView(LakeView):
    """Exact COUNT(DISTINCT expr) per group, incrementally maintained from
    the lake changelog — the aggregate retraction alone CANNOT maintain
    (knowing a value left the group says nothing about whether another row
    still carries it). The textbook answer, used here: keep REFERENCE
    COUNTS per (group, value); a value's refcount hitting zero removes it,
    and the distinct count per group is the number of live refs.

    State cost is the honest price of exactness: O(distinct (group, value)
    pairs) — this is why engines ship HLL for the approximate case
    (operators/profile.py, analytics.distinct_count); this operator is the
    exact counterpart for group×value domains that fit (dimension-keyed
    views, not free-text). The per-epoch fold is the shared LakeView fold
    over (state ∪ signed changes) — no join; a bucketed layout makes the
    rewrite O(changed buckets). A negative refcount fails loudly.
    """

    _SUMS = ("_refs",)
    _GUARD = ("negative refcount for value ", "_val")
    _COUNT = "refs"

    def __init__(
        self,
        base_dir: str,
        group_cols: tuple[str, ...] | list[str],
        distinct_expr: str,
        where: str | None = None,
    ):
        super().__init__(base_dir, "group_cols", group_cols, ("_val",))
        self.group_cols = tuple(group_cols)
        self.distinct_expr = distinct_expr
        self.where = where

    def refs(self, spark: SparkSession) -> DataFrame:
        """(group_cols..., _val, _refs) live reference counts."""
        return self._state(spark)

    def read(self, spark: SparkSession) -> DataFrame:
        """(group_cols..., n_distinct) — the maintained view."""
        return self.refs(spark).groupBy(*self.group_cols).agg(
            F.count(F.lit(1)).alias("n_distinct")
        )

    def _signed(self, rows: DataFrame, sign_col) -> DataFrame:
        if self.where is not None:
            rows = rows.where(F.expr(self.where))
        return (
            rows.select(
                *self.group_cols,
                F.expr(self.distinct_expr).cast("string").alias("_val"),
                sign_col.alias("_sign"),
            )
            # SQL COUNT(DISTINCT expr) ignores NULLs — a NULL value must
            # not hold a refcount group (it would count as a distinct
            # value, diverging from the documented semantics)
            .where(F.col("_val").isNotNull())
            .groupBy(*self.group_cols, "_val")
            .agg(F.sum("_sign").alias("_refs"))
        )

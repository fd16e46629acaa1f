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
the same deterministic state.

Reference analogue: downstream Redis consumers keeping counters from the
publish stream (lib/redispub/publisher.go:41-62) — here the counter set is
maintained transactionally from the table's own changelog instead.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..streaming.lake import footer_rows


class IncrementalAggView:
    """A persisted (group_cols → n_rows, sum_e4) view following a LakeTable.

    ``value_expr`` is a SQL expression over the lake row (e.g.
    ``"length(content)"``); ``where`` optionally filters rows BEFORE
    aggregation — evaluated per change row, so a row whose update moves it
    across the predicate boundary retracts/contributes exactly once.
    """

    def __init__(
        self,
        base_dir: str,
        group_cols: tuple[str, ...] | list[str],
        value_expr: str,
        where: str | None = None,
    ):
        if not group_cols:
            raise ValueError("group_cols must name at least one column")
        self._dir = base_dir
        self._marker = os.path.join(base_dir, "_VIEW.json")
        self.group_cols = tuple(group_cols)
        self.value_expr = value_expr
        self.where = where
        os.makedirs(base_dir, exist_ok=True)

    # ---------------- state ----------------
    def followed_lake_version(self) -> int:
        """Last lake snapshot folded into the view (-1 = never)."""
        if not os.path.exists(self._marker):
            return -1
        with open(self._marker) as f:
            return json.load(f)["lake_version"]

    def _state_dir(self, version: int) -> str:
        return os.path.join(self._dir, f"v{version:08d}")

    def read(self, spark: SparkSession) -> DataFrame:
        """(group_cols..., n_rows, sum_e4) at the followed version."""
        v = self.followed_lake_version()
        if v < 0:
            raise ValueError("view has never followed the lake")
        return spark.read.parquet(self._state_dir(v))

    def summary(self, spark: SparkSession) -> DataFrame:
        """Reader-facing shape: (group_cols..., n_rows, value_sum)."""
        return self.read(spark).select(
            *self.group_cols,
            "n_rows",
            (F.col("sum_e4") / F.lit(10000.0)).alias("value_sum"),
        )

    # ---------------- maintenance ----------------
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

    def follow_lake(self, spark: SparkSession, table) -> dict:
        """Catch the view up to ``table``'s current snapshot. First follow
        aggregates the live read; later follows fold only the net
        changelog. Returns {"lake_version", "groups"} (or
        {"up_to_date": True})."""
        from_v = self.followed_lake_version()
        to_v = table.current_version()
        if to_v <= from_v:
            return {"lake_version": from_v, "up_to_date": True}
        if from_v < 0:
            # PIN the first read to the snapshotted version: a concurrent
            # HA-twin commit between current_version() and the read action
            # would otherwise fold v+1's rows into state stamped as v —
            # the next follow then re-applies changes(v, v+1) and
            # double-counts forever (the enrich.py pinning discipline)
            contrib = self._signed(table.read(spark, version=to_v), F.lit(1))
        else:
            ch = table.changes(spark, from_v, to_v)
            sign = F.when(
                F.col("_change_type").isin("insert", "update_postimage"),
                F.lit(1),
            ).otherwise(F.lit(-1))
            contrib = self._signed(ch, sign)
            contrib = self.read(spark).unionByName(contrib)
        new = (
            contrib.groupBy(*self.group_cols)
            .agg(F.sum("n_rows").alias("n_rows"), F.sum("sum_e4").alias("sum_e4"))
            # a NEGATIVE folded count is a broken changelog (a retraction
            # for a row never added) — fail like the sibling views instead
            # of silently committing corrupted state; == 0 is the normal
            # retire-the-group case
            .withColumn(
                "n_rows",
                F.when(
                    F.assert_true(
                        F.col("n_rows") >= 0,
                        "IncrementalAggView: negative folded count — "
                        "changelog retracted a row never added",
                    ).isNull(),
                    F.col("n_rows"),
                ),
            )
            .where(F.col("n_rows") > 0)
        )
        out = self._state_dir(to_v)
        tmp = out + ".inprogress"
        shutil.rmtree(tmp, ignore_errors=True)
        new.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
        n_groups = footer_rows(out)
        meta = {"lake_version": to_v, "groups": n_groups}
        mt = self._marker + ".tmp"
        with open(mt, "w") as f:
            json.dump(meta, f)
        os.replace(mt, self._marker)
        # retire superseded state (the marker is the commit point)
        for d in os.listdir(self._dir):
            if d.startswith("v") and d != f"v{to_v:08d}" and os.path.isdir(
                os.path.join(self._dir, d)
            ):
                shutil.rmtree(os.path.join(self._dir, d), ignore_errors=True)
        return meta


class IncrementalDistinctView:
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
    views, not free-text). The per-epoch fold is union + ONE groupBy over
    (state ∪ signed changes) — no join; a bucketed layout makes the
    rewrite O(changed buckets). A NEGATIVE refcount can only mean the
    changelog violated its contract (a retraction for a row never added)
    and fails loudly JVM-side via assert_true at write time — never
    silently clamped.

    Same commit discipline as IncrementalAggView: state version = lake
    snapshot version, crash-rewrite idempotent, superseded versions
    retired after the marker advances.
    """

    def __init__(
        self,
        base_dir: str,
        group_cols: tuple[str, ...] | list[str],
        distinct_expr: str,
        where: str | None = None,
    ):
        if not group_cols:
            raise ValueError("group_cols must name at least one column")
        self._dir = base_dir
        self._marker = os.path.join(base_dir, "_VIEW.json")
        self.group_cols = tuple(group_cols)
        self.distinct_expr = distinct_expr
        self.where = where
        os.makedirs(base_dir, exist_ok=True)

    followed_lake_version = IncrementalAggView.followed_lake_version
    _state_dir = IncrementalAggView._state_dir

    def refs(self, spark: SparkSession) -> DataFrame:
        """(group_cols..., _val, _refs) live reference counts."""
        v = self.followed_lake_version()
        if v < 0:
            raise ValueError("view has never followed the lake")
        return spark.read.parquet(self._state_dir(v))

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

    def follow_lake(self, spark: SparkSession, table) -> dict:
        from_v = self.followed_lake_version()
        to_v = table.current_version()
        if to_v <= from_v:
            return {"lake_version": from_v, "up_to_date": True}
        if from_v < 0:
            # pinned first read — see IncrementalAggView.follow_lake
            contrib = self._signed(table.read(spark, version=to_v), F.lit(1))
        else:
            ch = table.changes(spark, from_v, to_v)
            sign = F.when(
                F.col("_change_type").isin("insert", "update_postimage"),
                F.lit(1),
            ).otherwise(F.lit(-1))
            contrib = self.refs(spark).unionByName(self._signed(ch, sign))
        new = (
            contrib.groupBy(*self.group_cols, "_val")
            .agg(F.sum("_refs").alias("_refs"))
            # contract guard BEFORE the zero-filter: a negative refcount is
            # a broken changelog, not an empty value — fail, don't clamp
            .withColumn(
                "_refs",
                F.when(
                    F.assert_true(
                        F.col("_refs") >= 0,
                        F.concat(
                            F.lit("negative refcount for value "),
                            F.col("_val"),
                        ),
                    ).isNull(),
                    F.col("_refs"),
                ),
            )
            .where(F.col("_refs") > 0)
        )
        out = self._state_dir(to_v)
        tmp = out + ".inprogress"
        shutil.rmtree(tmp, ignore_errors=True)
        new.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
        meta = {"lake_version": to_v, "refs": footer_rows(out)}
        mt = self._marker + ".tmp"
        with open(mt, "w") as f:
            json.dump(meta, f)
        os.replace(mt, self._marker)
        for d in os.listdir(self._dir):
            if d.startswith("v") and d != f"v{to_v:08d}" and os.path.isdir(
                os.path.join(self._dir, d)
            ):
                shutil.rmtree(os.path.join(self._dir, d), ignore_errors=True)
        return meta

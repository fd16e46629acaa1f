"""Incrementally-maintained INVERTED INDEX over a CDC lake changelog —
the retraction algebra of ``operators/aggview.py`` applied to postings.

A search index over a mutable corpus is the canonical expensive derived
state: full recompute re-tokenizes 100 TB per refresh. Term frequencies
are self-decomposable (a token occurrence count is an abelian sum), so the
index maintains incrementally from ``LakeTable.changes`` exactly like a
GROUP BY view: each catch-up step tokenizes ONLY the net change rows,
turns insert/update_postimage rows into +1-per-token-occurrence
contributions and delete/update_preimage rows into -1 retractions, and
folds them into the stored postings with a UNION + one groupBy (no join).
A (doc, token) whose tf reaches zero leaves the index; a NEGATIVE tf can
only mean the changelog violated its contract (a retraction for content
never indexed) and fails loudly JVM-side — never silently clamped.

Tokenization is ``operators/text.tokens`` (lowercase, whitespace split) —
byte-identical to the batch index in ``operators/retrieval.py``, so the
maintained index converges to ``postings()``/``index_stats()`` over the
live state after every fold (pinned in tests/test_indexview.py).

Scale: the per-step work is O(changed rows x tokens-per-doc) + one
partial-agg'd shuffle over the signed postings; the stored index rewrite
is O(index), which is the honest cost of an exact index without a
key-partitioned store — a bucketed state layout would make it O(changed
buckets), the same evolution path as IncrementalDistinctView. Catch-up
reads are O(changed buckets) via the manifest diff in LakeTable.changes.

Reference analogue: downstream consumers of the publish stream keeping
a search index warm (lib/redispub/publisher.go:41-62 fan-out) — here the
index follows the table's own transactional changelog instead, so a
replayed epoch folds as a no-op (view version IS the lake snapshot
version).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..streaming.lake import footer_rows
from .aggview import IncrementalAggView
from .text import tokens


class IncrementalIndexView:
    """Persisted postings ``(id_cols..., token, tf)`` following a LakeTable.

    ``text_col`` names the lake column to tokenize; ``where`` optionally
    gates rows BEFORE tokenization (evaluated per change row, so a row
    whose update crosses the predicate boundary retracts/contributes
    exactly once — the aggview discipline).
    """

    def __init__(
        self,
        base_dir: str,
        id_cols: tuple[str, ...] | list[str] = ("repo", "path"),
        text_col: str = "content",
        where: str | None = None,
    ):
        if not id_cols:
            raise ValueError("id_cols must name at least one column")
        self._dir = base_dir
        self._marker = os.path.join(base_dir, "_VIEW.json")
        self.id_cols = tuple(id_cols)
        self.text_col = text_col
        self.where = where
        os.makedirs(base_dir, exist_ok=True)

    followed_lake_version = IncrementalAggView.followed_lake_version
    _state_dir = IncrementalAggView._state_dir

    # ---------------- reads ----------------
    def postings(self, spark: SparkSession) -> DataFrame:
        """(id_cols..., token, tf) at the followed version."""
        v = self.followed_lake_version()
        if v < 0:
            raise ValueError("index has never followed the lake")
        return spark.read.parquet(self._state_dir(v))

    def stats(self, spark: SparkSession) -> DataFrame:
        """(token, n_docs, total_tf) — the inverted-index summary, the same
        shape as retrieval.index_stats (posting-list sizes)."""
        return self.postings(spark).groupBy("token").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tf").alias("total_tf"),
        )

    # ---------------- maintenance ----------------
    def _signed(self, rows: DataFrame, sign_col) -> DataFrame:
        """(id_cols..., token, tf) signed token-occurrence counts."""
        if self.where is not None:
            rows = rows.where(F.expr(self.where))
        toks = rows.select(
            *self.id_cols,
            sign_col.alias("_sign"),
            F.explode(
                F.filter(
                    tokens(F.lower(F.col(self.text_col))), lambda x: x != ""
                )
            ).alias("token"),
        )
        return toks.groupBy(*self.id_cols, "token").agg(
            F.sum("_sign").alias("tf")
        )

    def follow_lake(self, spark: SparkSession, table) -> dict:
        """Catch the index up to ``table``'s current snapshot. First follow
        tokenizes the live read; later follows fold only the net
        changelog. Idempotent: replaying a fold rewrites the same
        deterministic state at the same version."""
        from_v = self.followed_lake_version()
        to_v = table.current_version()
        if to_v <= from_v:
            return {"lake_version": from_v, "up_to_date": True}
        if from_v < 0:
            # pinned first read: an HA-twin commit between
            # current_version() and the read action would otherwise fold
            # rows stamped under the WRONG version and double-count on the
            # next changelog fold (see IncrementalAggView.follow_lake)
            contrib = self._signed(table.read(spark, version=to_v), F.lit(1))
        else:
            ch = table.changes(spark, from_v, to_v)
            sign = F.when(
                F.col("_change_type").isin("insert", "update_postimage"),
                F.lit(1),
            ).otherwise(F.lit(-1))
            contrib = self.postings(spark).unionByName(
                self._signed(ch, sign)
            )
        new = (
            contrib.groupBy(*self.id_cols, "token")
            .agg(F.sum("tf").alias("tf"))
            # contract guard BEFORE the zero-filter: a negative tf is a
            # broken changelog (retraction without prior add) — fail loud
            .withColumn(
                "tf",
                F.when(
                    F.assert_true(
                        F.col("tf") >= 0,
                        F.concat(
                            F.lit("negative tf for token "), F.col("token")
                        ),
                    ).isNull(),
                    F.col("tf"),
                ),
            )
            .where(F.col("tf") > 0)
        )
        out = self._state_dir(to_v)
        tmp = out + ".inprogress"
        shutil.rmtree(tmp, ignore_errors=True)
        new.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
        meta = {"lake_version": to_v, "postings": footer_rows(out)}
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

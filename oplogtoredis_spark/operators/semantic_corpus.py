"""Incremental SEMANTIC dedup (SemDeDup) over a stream of embedding changes.

``semdedup_keep`` (operators/dedup.py) is the batch recompute: cluster the
corpus, keep — per cluster — only vectors with no smaller-id cluster-mate at
rounded cosine ≥ τ. The production job is INCREMENTAL: each CDC epoch
delivers a bounded batch of new/changed/deleted embeddings (documents get
re-embedded, retracted, added), and the keep set must converge to exactly
what the batch recompute would produce — without re-scoring the unaffected
part of the corpus. This is the semantic sibling of
``IncrementalCorpus`` (exact-hash dedup) and reuses its state discipline.

The coarse quantizer is FROZEN at first fit — the IVF-index posture
(a 100 TB vector index does not retrain its centroids per insert; it
re-fits offline and rebuilds). Centroids come from the deterministic
sampled-Lloyd build (``ivf_centroids``) over the FIRST epoch's batch and
are persisted in a json sidecar, so restarts and the DuckDB oracle see the
identical model. Batch-parity therefore holds whenever the batch
operator's centroid sample (the corpus's 256 smallest live ids) matches
the fitted sample — the parity tests and the driver query construct their
epochs that way; a drifted sample degrades RECALL of the prune, never
correctness of the fold.

State: two append-only LWW delta logs kept by the lake-follower core
(operators/follow.py ``EpochLog``, shared with incremental_corpus):

  members/e{epoch}/  (epoch, op a|d, doc_id, cid, vec, nrm)
                     every live embedding with its frozen-model cluster id;
                     vec/nrm ride along so re-election never needs a second
                     store.
  keep/e{epoch}/     (epoch, op a|d, doc_id, cid) — the OUTPUT keep set.

Incrementality invariant (what makes an epoch O(affected), not O(corpus)):
under the frozen quantizer, an epoch can only change keep-status within the
CLUSTERS it touches — the cids its upserts land in plus the previous cids
of every batched doc_id. Keep seats are re-elected only inside that
affected cid set (the same within-cluster smaller-id-wins rule as the
batch operator), and keep deltas are emitted only for (doc_id, cid) pairs
that actually flipped. Untouched clusters contribute zero delta rows
(pinned in tests/test_semantic_corpus.py).

100 TB notes: the per-epoch joins are keyed on doc_id (folded state, LWW
window) and cid (re-election self-join — Σ|affected cluster|², SemDeDup's
defining bound, with n_centroids scaled so clusters stay bounded); the
affected-cid semi-joins broadcast a bounded set. Reference parity: this is
a CDC *consumer* composition — the ordered per-key delivery it relies on is
exactly the reference's publish guarantee (oplogtoredis README "ordered
within a document"), the same contract streaming/history.py builds on.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .follow import EpochLog

MEMBER_SCHEMA = (
    "epoch long, op string, doc_id long, cid int, vec array<double>, nrm double"
)
KEEP_SCHEMA = "epoch long, op string, doc_id long, cid int"
_VEC_TYPE = "array<double>"


class SemanticCorpus(EpochLog):
    """SemDeDup keep-set maintained epoch-by-epoch; after any number of
    epochs, ``kept(spark)`` equals the batch ``semdedup_keep`` over the
    live embeddings (given a stable centroid sample — see module doc).

    ``apply_epoch`` takes ``(doc_id long, embedding array, op 'u'|'d')``;
    a 'u' with a NULL embedding fails loudly JVM-side naming the doc_id.
    ``follow_lake`` decodes the embedding as ``from_json(content,
    array<double>)`` (the reference's publish payload IS a JSON document —
    lib/redispub/publisher.go:41-62): an UNDECODABLE content decodes to
    NULL and trips the same guard, so a corrupt vector never silently
    drops."""

    _LOGS = {
        "members": (MEMBER_SCHEMA, "member_delta_rows"),
        "keep": (KEEP_SCHEMA, "keep_delta_rows"),
    }

    def __init__(
        self,
        path: str,
        threshold: float = 0.4,
        n_centroids: int = 8,
        sample_per_centroid: int = 32,
    ):
        super().__init__(path)
        self._model = os.path.join(path, "centroids.json")
        self.threshold = threshold
        self.n_centroids = n_centroids
        self.sample_per_centroid = sample_per_centroid
        if os.path.exists(self._model):
            with open(self._model) as f:
                cfg = json.load(f)["config"]
            mine = [threshold, n_centroids, sample_per_centroid]
            if cfg != mine:
                raise ValueError(
                    f"SemanticCorpus at {path} was fitted with "
                    f"(threshold, n_centroids, sample_per_centroid)={cfg}; "
                    f"got {mine} — parameters are frozen with the model"
                )

    def members(self, spark: SparkSession) -> DataFrame:
        """(doc_id, cid, vec) of every live embedding."""
        return self._fold(spark, "members").select("doc_id", "cid", "vec")

    def kept(self, spark: SparkSession) -> DataFrame:
        """The output keep set: (doc_id, cid) — the incremental equivalent
        of ``semdedup_keep`` over the live corpus."""
        return self._fold(spark, "keep").select("doc_id", "cid")

    # ---------------- frozen coarse quantizer ----------------
    def _fit_or_load_centroids(self, spark: SparkSession, up: DataFrame):
        """Centroid table (cid, ce, cenorm). Fitted ONCE from the first
        epoch's upserts via the deterministic sampled-Lloyd build, then
        persisted as a json sidecar (bounded: n_centroids rows) so every
        later epoch, restart, and the oracle see the identical model."""
        if os.path.exists(self._model):
            with open(self._model) as f:
                rows = json.load(f)["centroids"]
            return spark.createDataFrame(
                [(r["cid"], r["ce"], r["cenorm"]) for r in rows],
                "cid int, ce array<double>, cenorm double",
            )
        from .similarity import ivf_centroids

        if up.isEmpty():
            raise ValueError(
                "first SemanticCorpus epoch has no upserts — cannot fit "
                "the coarse quantizer (provide embeddings in epoch 1)"
            )
        cents = ivf_centroids(
            up, "doc_id", "vec", self.n_centroids, self.sample_per_centroid
        ).collect()
        payload = {
            "config": [self.threshold, self.n_centroids, self.sample_per_centroid],
            "centroids": [
                {"cid": r["cid"], "ce": list(r["ce"]), "cenorm": r["cenorm"]}
                for r in sorted(cents, key=lambda r: r["cid"])
            ],
        }
        tmp = self._model + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, self._model)
        return self._fit_or_load_centroids(spark, up)

    # ---------------- epoch step ----------------
    def _lake_payload(self):
        return F.from_json(F.col("content"), _VEC_TYPE).alias("embedding")

    def _epoch_deltas(
        self, spark: SparkSession, batch: DataFrame, epoch: int
    ) -> tuple[list[DataFrame], list[DataFrame]]:
        """The epoch's member and keep deltas. Work is bounded by the batch
        and its affected clusters."""
        from .similarity import _dot, _norm, _sim

        # the batch feeds FOUR branches (upserts, prev-cid lookup, next-
        # state anti-join, deletes) — persist it once so a lake-changelog
        # batch doesn't re-run the bucket-diff scan per branch
        batch = batch.persist()
        up = batch.where(F.col("op") != "d").select(
            "doc_id",
            F.when(
                F.col("embedding").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("SemanticCorpus: NULL embedding for doc_id "),
                        F.col("doc_id").cast("string"),
                    )
                ).cast(_VEC_TYPE),
            )
            .otherwise(F.col("embedding").cast(_VEC_TYPE))
            .alias("vec"),
        )
        cents = self._fit_or_load_centroids(spark, up)

        # assign upserts under the frozen model; the vector is CARRIED
        # through the max_by aggregation (doc_id never a join key)
        j = (
            up.withColumn("nrm", _norm(F.col("vec")))
            .withColumnsRenamed({"vec": "cv", "nrm": "cnorm"})
            .crossJoin(F.broadcast(cents))
            .select(
                "doc_id",
                "cid",
                _sim("cv", "ce", "cnorm", "cenorm").alias("sim"),
                "cv",
                "cnorm",
            )
        )
        new_rows = (
            j.groupBy("doc_id")
            .agg(
                F.max_by(
                    F.col("cid"), F.struct(F.col("sim"), -F.col("cid"))
                ).alias("cid"),
                F.any_value("cv").alias("vec"),
                F.any_value("cnorm").alias("nrm"),
            )
            .persist()
        )

        members_prev = self._fold(spark, "members").persist()

        # the incrementality boundary: clusters this epoch can affect
        prev_of_batch = members_prev.join(
            batch.select("doc_id"), "doc_id"
        ).select("cid")
        affected = (
            new_rows.select("cid").union(prev_of_batch).distinct().persist()
        )

        members_next = members_prev.select(
            "doc_id", "cid", "vec", "nrm"
        ).join(batch.select("doc_id"), "doc_id", "left_anti").unionByName(
            new_rows
        )

        # keep-seat re-election WITHIN affected clusters only: the batch
        # operator's rule (no smaller-id cluster-mate at rounded cos >= tau)
        aff = members_next.join(F.broadcast(affected), "cid").persist()
        # Re-election strategy (guide §3.1, §4.2): the pair product is
        # Σ|affected cluster|² rows keyed on cid, whose cardinality is the
        # (small) affected-cluster count. Under the n_centroids gate the
        # affected member set is bounded (the exact memory posture of the
        # broadcast join this replaces), so the election runs as the
        # vectorized blocked-BLAS kernel (dedup.semdedup_elect_vectorized):
        # each vector crosses the Python boundary once, the ~25 M-pair
        # product at sf1.0 is a handful of matmuls, and parallelism comes
        # from row-block work units (exempt from _epoch_shuffle_scale's
        # linear-row clamp — the quadratic re-election is the one epoch
        # job whose work is NOT linear in state rows). Past a
        # cid-cardinality threshold the plain equality join parallelizes
        # by itself — same scale-adaptive decision as semdedup_keep's.
        if self.n_centroids <= 4096:
            from .dedup import semdedup_elect_vectorized

            keep_next = semdedup_elect_vectorized(
                aff.select("doc_id", "cid", "vec", "nrm"),
                self.threshold,
                id_out="doc_id",
            )
        else:
            a = aff.select(
                "cid",
                F.col("doc_id").alias("id_a"),
                F.col("vec").alias("va"),
                F.col("nrm").alias("na"),
            )
            b = aff.select(
                "cid",
                F.col("doc_id").alias("id_b"),
                F.col("vec").alias("vb"),
                F.col("nrm").alias("nb"),
            )
            dups = (
                a.join(b, "cid")
                .where(F.col("id_a") < F.col("id_b"))
                .where(
                    F.round(
                        _dot(F.col("va"), F.col("vb"))
                        / (F.col("na") * F.col("nb")),
                        4,
                    )
                    >= F.lit(self.threshold)
                )
                .select(F.col("id_b").alias("doc_id"))
                .distinct()
            )
            keep_next = aff.select("doc_id", "cid").join(
                dups, "doc_id", "left_anti"
            )

        # keep_next and keep_prev_aff each feed BOTH flip branches below —
        # persist them so the election kernel and the keep-log fold run
        # once per epoch, not once per branch (measured r6: ~1 s/epoch of
        # re-evaluated mapInPandas + fold at sf1.0)
        keep_next = keep_next.persist()
        keep_prev_aff = (
            self._fold(spark, "keep")
            .select("doc_id", "cid")
            .join(F.broadcast(affected), "cid")
            .persist()
        )
        # flips only: an 'a' when the (doc_id, cid) seat is new or moved,
        # a 'd' when a previously-kept doc lost its seat everywhere
        keep_adds = keep_next.join(keep_prev_aff, ["doc_id", "cid"], "left_anti")
        keep_dels = keep_prev_aff.join(
            keep_next, "doc_id", "left_anti"
        ).select("doc_id")

        gone = batch.where(F.col("op") == "d").select("doc_id")
        member_delta = new_rows.select(
            F.lit(epoch).alias("epoch"),
            F.lit("a").alias("op"),
            "doc_id",
            "cid",
            "vec",
            "nrm",
        ).unionByName(
            gone.select(
                F.lit(epoch).alias("epoch"),
                F.lit("d").alias("op"),
                "doc_id",
                F.lit(None).cast("int").alias("cid"),
                F.lit(None).cast(_VEC_TYPE).alias("vec"),
                F.lit(None).cast("double").alias("nrm"),
            )
        )
        keep_delta = keep_adds.select(
            F.lit(epoch).alias("epoch"), F.lit("a").alias("op"), "doc_id", "cid"
        ).unionByName(
            keep_dels.select(
                F.lit(epoch).alias("epoch"),
                F.lit("d").alias("op"),
                "doc_id",
                F.lit(None).cast("int").alias("cid"),
            )
        )
        return (
            [member_delta, keep_delta],
            [batch, new_rows, members_prev, affected, aff, keep_next,
             keep_prev_aff],
        )

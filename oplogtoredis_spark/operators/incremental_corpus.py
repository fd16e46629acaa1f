"""Incremental corpus pipeline over a lake of document changes.

``corpus_pipeline`` (__spark_entry__.py) is the nightly FULL recompute:
quality gate → exact dedup (smallest-id survivor per content hash) → chunk →
deterministic split. The real nightly job is INCREMENTAL (VERDICT r4 #5):
each CDC epoch delivers a bounded batch of new/changed/deleted documents,
and the corpus state must converge to exactly what the batch recompute
would produce — without touching the unaffected part of the corpus.

The state is two append-only delta logs under one directory (the same
merge-on-read discipline as streaming/lake.py, specialized to this job):

  members/e{epoch}/   (epoch, op a|d, doc_id, content_hash, text)
                      membership of every quality-KEPT document, LWW per
                      doc_id by epoch — the dedup ledger. Text rides along
                      so survivor re-election never needs a second store.
  chunks/e{epoch}/    (epoch, op a|d, doc_id, split, chunk_idx, n_tokens)
                      the pipeline OUTPUT, LWW per doc_id by epoch; a 'd'
                      row retires a document's chunks wholesale.

Incrementality invariant (what makes this O(batch), not O(corpus)):
an epoch can only change survivorship within the hash groups it TOUCHES —
the content hashes of its upserts plus the previous hashes of every batched
doc_id. Survivors are re-elected only inside that affected set (min doc_id
among kept members, the batch pipeline's rule), and chunk deltas are
emitted only for documents whose survivorship actually flipped. Unaffected
hash groups contribute zero rows to the epoch's deltas (pinned in
tests/test_incremental_corpus.py).

Split stability is free by construction: hash_split is a pure function of
doc_id (operators/sampling.py), so membership never migrates as the corpus
grows — the incremental and batch splits agree without any coordination.

100 TB notes: every epoch-step join is an equality join keyed on doc_id or
content_hash against the folded state; on a bucketed layout both are
storage-partitioned (no wide shuffle), and the affected-hash semi-join is a
broadcast (one epoch touches a bounded hash set). The fold itself is the
same single max_by collapse the MoR lake read runs; ``compact()`` bounds
the delta count exactly like LakeTable.compact. Correctness of the commit
protocol under concurrency is LakeTable's job — this operator demonstrates
the incremental ALGEBRA and stores state with plain versioned parquet plus
an applied-epoch marker for idempotent replay.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..session import scoped_shuffle_partitions
from ..streaming.lake import footer_rows
from .sampling import hash_split
from .text import chunk_documents, quality_filter

_EDIR_RE = re.compile(r"^e(\d{6})$")
_STAGING_SUFFIX = "_compact_staging"


def _recover_compact(base: str) -> None:
    """Finish (or garbage-collect) a compact() that crashed mid-promotion.
    A staging dir carrying Spark's ``_SUCCESS`` marker holds the COMPLETE
    fold of every epoch ≤ its number, so the correct recovery is to finish
    what compact started: remove the remaining original e-dirs ≤ that
    epoch and promote the staging dir. A marker-less staging dir is an
    incomplete fold — swept as garbage, never obeyed (the same discipline
    as the lake's ``_live_dirs``). Driver-side listdir only."""
    if not os.path.isdir(base):
        return
    for d in sorted(os.listdir(base)):
        if not d.endswith(_STAGING_SUFFIX):
            continue
        stage = os.path.join(base, d)
        if not os.path.exists(os.path.join(stage, "_SUCCESS")):
            shutil.rmtree(stage)
            continue
        se = int(d[1 : len(d) - len(_STAGING_SUFFIX)])
        for other in os.listdir(base):
            m = _EDIR_RE.match(other)
            if m and int(m.group(1)) <= se:
                shutil.rmtree(os.path.join(base, other))
        os.replace(stage, os.path.join(base, f"e{se:06d}"))


def _applied_delta_dirs(base: str, applied: set[int]) -> list[str]:
    """The delta dirs a fold may read: exactly the epochs the marker says
    are APPLIED. Gating on the marker makes epoch application atomic to
    readers AND to replays — a crash between the delta write and the
    marker update leaves an orphan e-dir that is invisible to the next
    fold, so re-applying that epoch computes its flips against the true
    previous state and overwrites the orphan wholesale (without the gate,
    the half-applied rows would fold into "previous" state and the replay
    would emit an EMPTY delta, silently losing the epoch). Name-anchored
    (``e`` + 6 digits) so compact staging dirs never leak into a fold."""
    _recover_compact(base)
    out = []
    for d in sorted(os.listdir(base)):
        m = _EDIR_RE.match(d)
        if m and int(m.group(1)) in applied:
            out.append(os.path.join(base, d))
    return out


MEMBER_SCHEMA = (
    "epoch long, op string, doc_id long, content_hash string, text string"
)
CHUNK_SCHEMA = (
    "epoch long, op string, doc_id long, split string, chunk_idx int,"
    " n_tokens int"
)


class IncrementalCorpus:
    """Exact-dedup corpus state maintained epoch-by-epoch; after any number
    of epochs, ``chunks(spark)`` equals the batch recompute over the final
    document state (the driver's ``incremental_corpus_pipeline`` oracle)."""

    def __init__(
        self,
        path: str,
        min_tokens: int = 20,
        min_alpha_ratio: float = 0.55,
        min_quality: float = 0.5,
        langs: tuple[str, ...] = ("en",),
        chunk_tokens: int = 40,
        overlap: int = 8,
    ):
        self.path = path
        self._members_dir = os.path.join(path, "members")
        self._chunks_dir = os.path.join(path, "chunks")
        self._marker = os.path.join(path, "_applied.json")
        self.gate = dict(
            min_tokens=min_tokens,
            min_alpha_ratio=min_alpha_ratio,
            min_quality=min_quality,
            langs=langs,
        )
        self.chunk_tokens = chunk_tokens
        self.overlap = overlap
        os.makedirs(self._members_dir, exist_ok=True)
        os.makedirs(self._chunks_dir, exist_ok=True)

    # ---------------- state read (MoR fold) ----------------
    def applied_epochs(self) -> list[int]:
        if not os.path.exists(self._marker):
            return []
        with open(self._marker) as f:
            return json.load(f)["epochs"]

    def _delta_dirs(self, base: str) -> list[str]:
        return _applied_delta_dirs(base, set(self.applied_epochs()))

    def _fold(self, spark: SparkSession, base: str, schema: str) -> DataFrame:
        """LWW per doc_id by epoch over all delta dirs: the rows of each
        document's HIGHEST epoch stand; a 'd' at that epoch retires it.
        One shuffle keyed on doc_id — on a doc_id-bucketed layout a real
        cluster keeps this storage-partitioned (no wide exchange)."""
        dirs = self._delta_dirs(base)
        if not dirs:
            return spark.createDataFrame([], schema)
        d = spark.read.schema(schema).parquet(*dirs)
        w = Window.partitionBy("doc_id")
        return (
            d.withColumn("_maxe", F.max("epoch").over(w))
            .where((F.col("epoch") == F.col("_maxe")) & (F.col("op") == "a"))
            .drop("_maxe")
        )

    def members(self, spark: SparkSession) -> DataFrame:
        """(doc_id, content_hash, text) of every quality-kept live doc."""
        return self._fold(spark, self._members_dir, MEMBER_SCHEMA).select(
            "doc_id", "content_hash", "text"
        )

    def chunks(self, spark: SparkSession) -> DataFrame:
        """The pipeline output: (doc_id, split, chunk_idx, n_tokens) for the
        current survivors — the incremental equivalent of corpus_pipeline."""
        return self._fold(spark, self._chunks_dir, CHUNK_SCHEMA).select(
            "doc_id", "split", "chunk_idx", "n_tokens"
        )

    # ---------------- epoch step ----------------
    _ROWS_PER_PARTITION = 50_000

    def _epoch_shuffle_scale(self, spark: SparkSession):
        """Scope one epoch's (eager) jobs to a width that tracks the
        corpus state: ``max(4, state_rows / 50k + 4)`` partitions, with
        state_rows from parquet footers. An epoch step runs ~10 small
        shuffles (fold window, affected-set distinct, survivor elections,
        flip joins); a 100 TB state keeps the session's full width."""
        state_rows = sum(
            footer_rows(d)
            for base in (self._members_dir, self._chunks_dir)
            for d in self._delta_dirs(base)
        )
        return scoped_shuffle_partitions(
            spark, max(4, state_rows // self._ROWS_PER_PARTITION + 4)
        )

    def apply_epoch(
        self,
        spark: SparkSession,
        batch: DataFrame,
        epoch: int,
        _extra_meta: dict | None = None,
    ) -> dict:
        """Apply one change batch: (doc_id long, text string, op 'u'|'d'),
        at most one row per doc_id (collapse upstream — the CDC lake's LWW
        merge already guarantees this for lake-sourced deltas).

        Work is bounded by the batch and its affected hash groups; returns
        counters for observability. Idempotent per epoch (marker replay);
        an epoch BELOW the latest applied one is rejected loudly — its
        rows would be written but immediately lose the LWW fold, a silent
        no-op the caller would misread as success."""
        applied = self.applied_epochs()
        if epoch in applied:
            return {"skipped_replay": True}
        if applied and epoch < max(applied):
            raise ValueError(
                f"epoch {epoch} is below the latest applied epoch "
                f"{max(applied)} — its rows would lose the LWW fold; "
                "replay only the exact epochs already applied"
            )

        # the batch feeds FOUR branches (gate, prev-hash lookup, next-state
        # anti-join, removals) — persist it once so a lake-changelog batch
        # doesn't re-run the bucket-diff scan per branch; the folded state
        # and the batch's kept rows likewise each feed THREE branches
        batch = batch.persist()
        members_prev = self.members(spark).persist()

        up = batch.where(F.col("op") != "d").select("doc_id", "text")
        kept, _rej = quality_filter(up, **self.gate)
        new_rows = kept.select(
            "doc_id", F.sha2(F.col("text"), 256).alias("content_hash"), "text"
        ).persist()
        # removals: explicit deletes + upserts that now FAIL the gate (a doc
        # whose text degraded must leave the dedup ledger)
        gone = batch.select("doc_id").join(
            new_rows.select("doc_id"), "doc_id", "left_anti"
        )

        # the incrementality boundary: hash groups this epoch can affect
        prev_of_batch = members_prev.join(
            batch.select("doc_id"), "doc_id"
        ).select("content_hash")
        affected = (
            new_rows.select("content_hash").union(prev_of_batch).distinct()
        ).persist()

        members_next = members_prev.join(
            batch.select("doc_id"), "doc_id", "left_anti"
        ).unionByName(new_rows)

        # survivor re-election WITHIN affected groups only (broadcast: one
        # epoch touches a bounded hash set)
        def _survivors(m: DataFrame) -> DataFrame:
            return (
                m.join(F.broadcast(affected), "content_hash")
                .groupBy("content_hash")
                .agg(
                    F.min("doc_id").alias("doc_id"),
                    F.min_by("text", "doc_id").alias("text"),
                )
            )

        old_s = _survivors(members_prev).select(
            "content_hash", F.col("doc_id").alias("old_id")
        )
        new_s = _survivors(members_next).select(
            "content_hash", F.col("doc_id").alias("new_id"), "text"
        )
        flips = old_s.join(new_s, "content_hash", "full_outer")
        add_docs = flips.where(
            F.col("new_id").isNotNull()
            & (F.col("old_id").isNull() | (F.col("old_id") != F.col("new_id")))
        ).select(F.col("new_id").alias("doc_id"), "text").persist()
        # retire old survivors that lost the seat — unless the same doc is
        # being re-added this epoch (its add rows replace wholesale)
        del_ids = (
            flips.where(
                F.col("old_id").isNotNull()
                & (F.col("new_id").isNull() | (F.col("old_id") != F.col("new_id")))
            )
            .select(F.col("old_id").alias("doc_id"))
            .join(add_docs.select("doc_id"), "doc_id", "left_anti")
        )

        chunked = hash_split(
            chunk_documents(
                add_docs, chunk_tokens=self.chunk_tokens, overlap=self.overlap
            ),
            "doc_id",
        )
        chunk_adds = chunked.select(
            F.lit(epoch).alias("epoch"),
            F.lit("a").alias("op"),
            "doc_id",
            "split",
            "chunk_idx",
            "n_tokens",
        )
        chunk_dels = del_ids.select(
            F.lit(epoch).alias("epoch"),
            F.lit("d").alias("op"),
            "doc_id",
            F.lit(None).cast("string").alias("split"),
            F.lit(None).cast("int").alias("chunk_idx"),
            F.lit(None).cast("int").alias("n_tokens"),
        )
        member_delta = new_rows.select(
            F.lit(epoch).alias("epoch"), F.lit("a").alias("op"),
            "doc_id", "content_hash", "text",
        ).unionByName(
            gone.select(
                F.lit(epoch).alias("epoch"), F.lit("d").alias("op"), "doc_id",
                F.lit(None).cast("string").alias("content_hash"),
                F.lit(None).cast("string").alias("text"),
            )
        )

        mdir = os.path.join(self._members_dir, f"e{epoch:06d}")
        cdir = os.path.join(self._chunks_dir, f"e{epoch:06d}")
        try:
            # every job of this epoch (the persists materialize inside the
            # first write) runs at data-scaled parallelism. The two delta
            # writes are independent sinks (the applied-epoch marker below
            # is the only commit point), so they run CONCURRENTLY (guide
            # §2.6 — overlap independent jobs): the second write's stages
            # back-fill the cores the first write's tail leaves idle, and
            # the shared persisted branches materialize exactly once
            # (Spark serializes concurrent materialization of one cached
            # plan internally).
            with self._epoch_shuffle_scale(spark):
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=2) as pool:
                    f1 = pool.submit(
                        lambda: member_delta.write.mode("overwrite").parquet(mdir)
                    )
                    f2 = pool.submit(
                        lambda: chunk_adds.unionByName(chunk_dels)
                        .write.mode("overwrite")
                        .parquet(cdir)
                    )
                    f1.result()
                    f2.result()
        finally:
            for df in (batch, members_prev, new_rows, affected, add_docs):
                df.unpersist()

        epochs = self.applied_epochs() + [epoch]
        meta = {"epochs": epochs}
        if os.path.exists(self._marker):
            with open(self._marker) as f:
                meta = {**json.load(f), "epochs": epochs}
        # extra keys (e.g. follow_lake's lake_version) land in the SAME
        # os.replace as the epoch list — a crash can never record the
        # epoch without its lake watermark (or vice versa)
        meta.update(_extra_meta or {})
        tmp = self._marker + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._marker)
        return {
            "epoch": epoch,
            # driver-side footer metadata, not Spark jobs (same discipline
            # as LakeTable's per-bucket lineage counts)
            "member_delta_rows": footer_rows(mdir),
            "chunk_delta_rows": footer_rows(cdir),
        }

    # ---------------- follow a CDC lake (changelog-driven epochs) -------
    def followed_lake_version(self) -> int:
        """Last lake snapshot this corpus has folded in (-1 = never)."""
        if not os.path.exists(self._marker):
            return -1
        with open(self._marker) as f:
            return json.load(f).get("lake_version", -1)

    def follow_lake(
        self, spark: SparkSession, table, repo: str | None = None
    ) -> dict:
        """Catch this corpus up to ``table``'s current snapshot using the
        NET changelog (LakeTable.changes) — the real nightly shape: the CDC
        lake is the system of record, and the training-corpus state follows
        it WITHOUT rescanning the corpus or the table (cost is
        O(changed buckets) for the diff + O(batch) for the epoch fold).

        Document mapping: a corpus document rides the lake as
        ``path = str(doc_id), content = text`` (optionally under one
        ``repo``). insert/update_postimage rows become corpus upserts,
        delete rows become corpus deletes; update_preimage rows carry no
        new state and are dropped. The corpus epoch number IS the lake
        snapshot version, so replays are idempotent via the same marker
        that guards apply_epoch, and interleaved follow/apply_epoch use is
        rejected rather than silently misordered.

        Validity follows time travel: the last-followed snapshot's data
        dirs must still be retained (expire_snapshots keep window).
        """
        from_v = self.followed_lake_version()
        to_v = table.current_version()
        if any(e > to_v for e in self.applied_epochs()):
            raise ValueError(
                "corpus holds epochs beyond the lake's current version — "
                "don't mix follow_lake with manual apply_epoch numbering"
            )
        if from_v < 0:
            # first follow: everything currently live is one insert epoch
            base = table.read(spark)
            if repo is not None:
                base = base.where(F.col("repo") == repo)
            batch = base.select(
                F.col("path").cast("long").alias("doc_id"),
                F.col("content").alias("text"),
                F.lit("u").alias("op"),
            )
        elif to_v <= from_v:
            return {"lake_version": from_v, "up_to_date": True}
        else:
            ch = table.changes(spark, from_v, to_v)
            if repo is not None:
                ch = ch.where(F.col("repo") == repo)
            batch = ch.where(F.col("_change_type") != "update_preimage").select(
                F.col("path").cast("long").alias("doc_id"),
                F.col("content").alias("text"),
                F.when(F.col("_change_type") == "delete", F.lit("d"))
                .otherwise(F.lit("u"))
                .alias("op"),
            )
        stats = self.apply_epoch(
            spark, batch, epoch=to_v, _extra_meta={"lake_version": to_v}
        )
        stats["lake_version"] = to_v
        return stats

    # ---------------- maintenance ----------------
    def compact(self, spark: SparkSession) -> None:
        """Fold all deltas into one base per log (bounds the per-read delta
        scan exactly like LakeTable.compact). Winning epochs are preserved
        per row so later epochs keep LWW semantics."""
        if not self.applied_epochs():
            return
        with self._epoch_shuffle_scale(spark):
            self._compact_inner(spark)

    def _compact_inner(self, spark: SparkSession) -> None:
        last = max(self.applied_epochs())
        for base, schema in (
            (self._members_dir, MEMBER_SCHEMA),
            (self._chunks_dir, CHUNK_SCHEMA),
        ):
            dirs = self._delta_dirs(base)
            if not dirs:
                continue
            folded = (
                spark.read.schema(schema)
                .parquet(*dirs)
                .withColumn("_maxe", F.max("epoch").over(Window.partitionBy("doc_id")))
                .where((F.col("epoch") == F.col("_maxe")) & (F.col("op") == "a"))
                .drop("_maxe")
            )
            out = os.path.join(base, f"e{last:06d}_compact_staging")
            folded.write.mode("overwrite").parquet(out)
            # orphan e-dirs from a crashed, never-replayed epoch are
            # garbage (invisible to folds since the applied gate) — sweep
            applied = set(self.applied_epochs())
            for d in os.listdir(base):
                m = _EDIR_RE.match(d)
                if m and int(m.group(1)) not in applied:
                    shutil.rmtree(os.path.join(base, d))
            # promotion is crash-safe: _recover_compact finishes it from
            # the _SUCCESS-marked staging if we die anywhere below
            for d in dirs:
                shutil.rmtree(d)
            os.replace(out, os.path.join(base, f"e{last:06d}"))

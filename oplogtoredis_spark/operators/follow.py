"""The lake-follower core: one consumer protocol for every operator that
keeps derived state in step with a ``LakeTable``.

A follower pins the lake snapshot it folds (``current_version()`` is read
once), reads the rows that changed between its marker and that snapshot
(``changelog``), folds them into its own state, and commits state and
marker together; a replayed step is a no-op. Two state shapes share it:

* ``LakeView`` — a versioned retraction view (the aggregate, distinct and
  index views). Change rows become signed contributions, folded into the
  previous state with a UNION + one groupBy (no join) and written as
  ``v{version}`` state; the ``_VIEW.json`` marker is the commit point.
* ``EpochLog`` — two append-only delta logs, LWW per ``doc_id`` by epoch
  (the incremental corpora). Each follow is one epoch numbered by the lake
  version; the ``_applied.json`` marker lists the applied epochs and
  carries the lake watermark, both written in one ``os.replace``.

The operator modules keep only their algebra: what a change row
contributes to a view, and how an epoch's two delta frames are derived.

Reference analogue: every downstream destination consumes the same
publish stream and keeps its own dedup position
(lib/redispub/publisher.go:41-62, main.go:67-139); here each follower's
marker is its position in the lake's changelog.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..session import scoped_shuffle_partitions
from ..streaming.lake import footer_rows


def changelog(spark: SparkSession, table, from_v: int, to_v: int) -> DataFrame:
    """The lake rows a follower at ``from_v`` folds to reach ``to_v``, with
    ``_change_type``. A first follow (``from_v < 0``) reads the snapshot
    PINNED at ``to_v`` and labels every row ``insert``: an HA-twin commit
    landing between ``current_version()`` and the read action would
    otherwise fold ``to_v + 1``'s rows into state stamped ``to_v``, and the
    next follow would apply them again (the enrich.py pinning discipline).
    Later follows read the net changelog ``table.changes(from_v, to_v)``."""
    if from_v < 0:
        return table.read(spark, version=to_v).withColumn(
            "_change_type", F.lit("insert")
        )
    return table.changes(spark, from_v, to_v)


def _read_marker(path: str) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def _write_marker(path: str, meta: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, path)


class LakeFollower:
    """The follow step shared by both state shapes. Subclasses set
    ``_marker`` and supply ``_fold_changes``."""

    _marker: str

    def followed_lake_version(self) -> int:
        """Last lake snapshot folded into this state (-1 = never)."""
        return _read_marker(self._marker).get("lake_version", -1)

    def _check_lake(self, to_v: int) -> None:
        """Reject state that cannot follow the lake at ``to_v``."""

    def _follow(self, spark: SparkSession, table, repo: str | None = None) -> dict:
        from_v = self.followed_lake_version()
        to_v = table.current_version()
        self._check_lake(to_v)
        if to_v <= from_v:
            return {"lake_version": from_v, "up_to_date": True}
        rows = changelog(spark, table, from_v, to_v)
        if repo is not None:
            rows = rows.where(F.col("repo") == repo)
        return self._fold_changes(spark, rows, from_v, to_v)


class LakeView(LakeFollower):
    """A persisted retraction view following a LakeTable: state keyed by
    ``_keys`` with the abelian sums ``_SUMS``, at the lake version it
    reflects.

    Subclasses supply ``_signed(rows, sign)``: the change rows mapped to
    ``(*_keys, *_SUMS)`` contributions under the ``sign`` column (+1 for
    insert/update_postimage, −1 for delete/update_preimage — the preimage
    rows are exactly the retractions). The first of ``_SUMS`` is the
    guarded count: a NEGATIVE folded count can only mean the changelog
    violated its contract (a retraction for a row never added) and fails
    loudly JVM-side via ``assert_true``, checked BEFORE the zero-filter
    that retires a key — never silently clamped.

    Idempotent replay: the view version IS the lake snapshot version; a
    crash between the state write and the marker advance rewrites the same
    deterministic state, and superseded versions are retired after the
    marker advances.
    """

    #: summed state columns; the first is the guarded count
    _SUMS: tuple[str, ...]
    #: negative-count error: (message, column appended to it, or None)
    _GUARD: tuple[str, str | None]
    #: return-dict key of the committed state's row count
    _COUNT: str

    def __init__(self, base_dir: str, cols_arg: str, cols, key_suffix=()):
        if not cols:
            raise ValueError(f"{cols_arg} must name at least one column")
        self._dir = base_dir
        self._marker = os.path.join(base_dir, "_VIEW.json")
        self._keys = (*cols, *key_suffix)
        os.makedirs(base_dir, exist_ok=True)

    def follow_lake(self, spark: SparkSession, table) -> dict:
        """Catch the view up to ``table``'s current snapshot. The first
        follow folds the pinned live read; later follows fold only the net
        changelog. Returns {"lake_version", <row count>} (or
        {"up_to_date": True})."""
        return self._follow(spark, table)

    def _state_dir(self, version: int) -> str:
        return os.path.join(self._dir, f"v{version:08d}")

    def _state(self, spark: SparkSession) -> DataFrame:
        v = self.followed_lake_version()
        if v < 0:
            raise ValueError("view has never followed the lake")
        return spark.read.parquet(self._state_dir(v))

    def _next_state(
        self, spark: SparkSession, rows: DataFrame, from_v: int
    ) -> DataFrame:
        """Previous state ∪ the signed change rows, folded by one groupBy."""
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1))
        contrib = self._signed(rows, sign)
        if from_v >= 0:
            contrib = self._state(spark).unionByName(contrib)
        count = self._SUMS[0]
        msg, named = self._GUARD
        if named is not None:
            msg = F.concat(F.lit(msg), F.col(named))
        return (
            contrib.groupBy(*self._keys)
            .agg(*[F.sum(c).alias(c) for c in self._SUMS])
            .withColumn(
                count,
                F.when(
                    F.assert_true(F.col(count) >= 0, msg).isNull(),
                    F.col(count),
                ),
            )
            .where(F.col(count) > 0)
        )

    def _fold_changes(
        self, spark: SparkSession, rows: DataFrame, from_v: int, to_v: int
    ) -> dict:
        out = self._state_dir(to_v)
        tmp = out + ".inprogress"
        shutil.rmtree(tmp, ignore_errors=True)
        self._next_state(spark, rows, from_v).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
        meta = {"lake_version": to_v, self._COUNT: footer_rows(out)}
        _write_marker(self._marker, meta)
        # retire superseded state (the marker is the commit point)
        for d in os.listdir(self._dir):
            p = os.path.join(self._dir, d)
            if d.startswith("v") and p != out and os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
        return meta


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


class EpochLog(LakeFollower):
    """State kept as two append-only delta logs under ``path`` (merge-on-
    read, the discipline of streaming/lake.py specialized to per-doc
    state): ``{log}/e{epoch:06d}/`` holds one epoch's ``(epoch, op a|d,
    doc_id, ...)`` rows, and a read folds each log LWW per ``doc_id`` by
    epoch.

    Subclasses supply ``_LOGS`` (log name → (schema, stats key), in write
    order), ``_lake_payload()`` (the batch column decoded from a lake row's
    ``content``) and ``_epoch_deltas`` (one delta frame per log).
    """

    #: log name -> (schema, apply_epoch stats key)
    _LOGS: dict[str, tuple[str, str]]
    _ROWS_PER_PARTITION = 50_000

    def __init__(self, path: str):
        self.path = path
        self._marker = os.path.join(path, "_applied.json")
        for name in self._LOGS:
            os.makedirs(self._log_dir(name), exist_ok=True)

    # ---------------- state read (MoR fold) ----------------
    def applied_epochs(self) -> list[int]:
        return _read_marker(self._marker).get("epochs", [])

    def _log_dir(self, name: str) -> str:
        return os.path.join(self.path, name)

    def _delta_dirs(self, name: str) -> list[str]:
        return _applied_delta_dirs(self._log_dir(name), set(self.applied_epochs()))

    def _fold(
        self, spark: SparkSession, name: str, dirs: list[str] | None = None
    ) -> DataFrame:
        """A ``max(epoch)`` window per ``doc_id`` over the log's applied
        delta dirs: the rows of each document's HIGHEST epoch stand, and a
        'd' at that epoch retires it. One shuffle keyed on doc_id — on a
        doc_id-bucketed layout a real cluster keeps this storage-
        partitioned (no wide exchange)."""
        schema = self._LOGS[name][0]
        dirs = self._delta_dirs(name) if dirs is None else dirs
        if not dirs:
            return spark.createDataFrame([], schema)
        w = Window.partitionBy("doc_id")
        return (
            spark.read.schema(schema)
            .parquet(*dirs)
            .withColumn("_maxe", F.max("epoch").over(w))
            .where((F.col("epoch") == F.col("_maxe")) & (F.col("op") == "a"))
            .drop("_maxe")
        )

    # ---------------- epoch step ----------------
    def _epoch_shuffle_scale(self, spark: SparkSession):
        """Scope one epoch's (eager) jobs to a width that tracks the
        state: ``max(4, state_rows / 50k + 4)`` partitions, with
        state_rows from parquet footers. An epoch step runs ~10 small
        shuffles (fold window, affected-set distinct, elections, flip
        joins); a 100 TB state keeps the session's full width."""
        state_rows = sum(
            footer_rows(d) for name in self._LOGS for d in self._delta_dirs(name)
        )
        return scoped_shuffle_partitions(
            spark, max(4, state_rows // self._ROWS_PER_PARTITION + 4)
        )

    def _epoch_deltas(
        self, spark: SparkSession, batch: DataFrame, epoch: int
    ) -> tuple[list[DataFrame], list[DataFrame]]:
        """(one delta frame per log in ``_LOGS`` order, the frames it
        persisted — unpersisted once the deltas are written)."""
        raise NotImplementedError

    def apply_epoch(self, spark: SparkSession, batch: DataFrame, epoch: int) -> dict:
        """Apply one change batch ``(doc_id long, <payload>, op 'u'|'d')``,
        at most one row per doc_id (collapse upstream — the CDC lake's LWW
        merge already guarantees this for lake-sourced deltas).

        Returns counters for observability. Idempotent per epoch (marker
        replay); an epoch BELOW the latest applied one is rejected loudly —
        its rows would be written but immediately lose the LWW fold, a
        silent no-op the caller would misread as success."""
        return self._apply(spark, batch, epoch)

    def _apply(
        self,
        spark: SparkSession,
        batch: DataFrame,
        epoch: int,
        lake_version: int | None = None,
    ) -> dict:
        applied = self.applied_epochs()
        if epoch in applied:
            return {"skipped_replay": True}
        if applied and epoch < max(applied):
            raise ValueError(
                f"epoch {epoch} is below the latest applied epoch "
                f"{max(applied)} — its rows would lose the LWW fold; "
                "replay only the exact epochs already applied"
            )
        deltas, cached = self._epoch_deltas(spark, batch, epoch)
        dirs = [os.path.join(self._log_dir(n), f"e{epoch:06d}") for n in self._LOGS]
        try:
            # every job of this epoch (the persists materialize inside the
            # first write) runs at data-scaled parallelism. The two delta
            # writes are independent sinks (the marker below is the only
            # commit point), so they run CONCURRENTLY (guide §2.6 — overlap
            # independent jobs): the second write's stages back-fill the
            # cores the first write's tail leaves idle, and the shared
            # persisted branches materialize exactly once (Spark serializes
            # concurrent materialization of one cached plan internally).
            with self._epoch_shuffle_scale(spark), ThreadPoolExecutor(
                max_workers=len(dirs)
            ) as pool:
                futs = [
                    pool.submit(df.write.mode("overwrite").parquet, d)
                    for df, d in zip(deltas, dirs)
                ]
                for f in futs:
                    f.result()
        finally:
            for df in cached:
                df.unpersist()
        # the lake watermark lands in the SAME os.replace as the epoch
        # list — a crash can never record one without the other
        meta = _read_marker(self._marker)
        meta["epochs"] = meta.get("epochs", []) + [epoch]
        if lake_version is not None:
            meta["lake_version"] = lake_version
        _write_marker(self._marker, meta)
        # driver-side footer metadata, not Spark jobs (same discipline as
        # LakeTable's per-bucket lineage counts)
        stats = {"epoch": epoch}
        for (_, key), d in zip(self._LOGS.values(), dirs):
            stats[key] = footer_rows(d)
        return stats

    # ---------------- follow a CDC lake (changelog-driven epochs) -------
    def follow_lake(
        self, spark: SparkSession, table, repo: str | None = None
    ) -> dict:
        """Catch this state up to ``table``'s current snapshot using the
        NET changelog (LakeTable.changes) — the CDC lake is the system of
        record, and the derived state follows it WITHOUT rescanning either
        side (O(changed buckets) for the diff + O(batch) for the epoch).

        Document mapping: a document rides the lake as ``path =
        str(doc_id)``, its payload in ``content`` (optionally under one
        ``repo``). insert/update_postimage rows become upserts, delete rows
        become deletes; update_preimage rows carry no new state and are
        dropped. The epoch number IS the lake snapshot version, and the
        lake watermark is written in the same atomic marker update as the
        epoch; replays are idempotent, and interleaving follow_lake with
        manually numbered apply_epoch is rejected rather than silently
        misordered. With ``repo=None`` the caller asserts paths are
        globally unique across repos — the lake key is (repo, path) but
        doc_id is path alone, so a cross-repo path collision would violate
        apply_epoch's one-row-per-doc_id contract.

        Validity follows time travel: the last-followed snapshot's data
        dirs must still be retained (expire_snapshots keep window).
        """
        return self._follow(spark, table, repo)

    def _check_lake(self, to_v: int) -> None:
        if any(e > to_v for e in self.applied_epochs()):
            raise ValueError(
                "corpus holds epochs beyond the lake's current version — "
                "don't mix follow_lake with manual apply_epoch numbering"
            )

    def _fold_changes(
        self, spark: SparkSession, rows: DataFrame, from_v: int, to_v: int
    ) -> dict:
        batch = rows.where(F.col("_change_type") != "update_preimage").select(
            F.col("path").cast("long").alias("doc_id"),
            self._lake_payload(),
            F.when(F.col("_change_type") == "delete", F.lit("d"))
            .otherwise(F.lit("u"))
            .alias("op"),
        )
        stats = self._apply(spark, batch, to_v, lake_version=to_v)
        stats["lake_version"] = to_v
        return stats

    # ---------------- maintenance ----------------
    def compact(self, spark: SparkSession) -> None:
        """Fold all deltas into one base per log (bounds the per-read delta
        scan exactly like LakeTable.compact). Winning epochs are preserved
        per row so later epochs keep LWW semantics."""
        applied = set(self.applied_epochs())
        if not applied:
            return
        last = max(applied)
        with self._epoch_shuffle_scale(spark):
            for name in self._LOGS:
                base = self._log_dir(name)
                dirs = self._delta_dirs(name)
                if not dirs:
                    continue
                out = os.path.join(base, f"e{last:06d}{_STAGING_SUFFIX}")
                self._fold(spark, name, dirs).write.mode("overwrite").parquet(out)
                # orphan e-dirs from a crashed, never-replayed epoch are
                # garbage (invisible to folds since the applied gate) — sweep
                for d in os.listdir(base):
                    m = _EDIR_RE.match(d)
                    if m and int(m.group(1)) not in applied:
                        shutil.rmtree(os.path.join(base, d))
                # promotion is crash-safe: _recover_compact finishes it from
                # the _SUCCESS-marked staging if we die anywhere below
                for d in dirs:
                    shutil.rmtree(d)
                os.replace(out, os.path.join(base, f"e{last:06d}"))

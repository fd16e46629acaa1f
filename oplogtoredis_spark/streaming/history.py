"""Streaming SCD2 history maintenance over the CDC lake.

`operators/scd.py` derives a history table from a COMPLETE changelog; this
module maintains the same table incrementally, one micro-batch at a time,
composed with the lake so no state is kept twice:

  - the LAKE is the open tail: its live row per key (``last_ts``) IS the
    key's current open version — exactly what `merge_batch` already
    maintains for the apply stream;
  - the history log is APPEND-ONLY CLOSED intervals: each epoch appends
    (a) the intra-batch closed versions (a batch with k changes to one key
    closes k-1 of them internally — plain `scd2_history` on the batch) and
    (b) one cross-epoch close per touched key: the pre-epoch open version,
    closed at the key's FIRST in-batch change time. The pre-epoch snapshot
    is pinned to one lake version for the whole epoch (same discipline as
    streaming/enrich.py), so an HA twin committing mid-epoch cannot tear
    the close set. The snapshot is scanned ONCE per epoch: the redelivery
    guard and the close set both ride a single join.

Per-epoch work is O(batch) + one equality join of the batch against the
pinned snapshot (broadcastable batch side), on top of the merge the
stream already does. Nothing ever rescans or rewrites history: closed
intervals are immutable facts, which is what makes append-only correct.

Read consistency: an epoch's directory becomes VISIBLE only once the
lake records that epoch as applied — :func:`read_history` filters e-dirs
by the lake's applied-epoch watermark and by their ``_SUCCESS`` marker.
A reader therefore never sees the torn state "close row written, merge
not yet committed": every read is epoch-atomic, and a crash between the
history write and the merge leaves the half-written epoch invisible
until its retry commits.

Replay safety: a redelivered epoch is skipped entirely when the lake
already recorded it (`epoch_applied`); a RETRY of a half-failed epoch
(history written, merge not committed) rewrites the SAME epoch directory
deterministically — the epoch's close set is a pure function of (batch,
pre-epoch snapshot), and the snapshot cannot have advanced if the merge
never committed. History is therefore written BEFORE the merge commits.

Delivery contract: per-key order with AT-LEAST-ONCE delivery — the
reference engine's guarantee (SURVEY.md §2 B2/§2.2; lib/redispub orders
publishes per key, and resume replays a window). Redeliveries are
absorbed exactly the way the lake's MERGE predicate absorbs them: exact
in-batch duplicates collapse, and a cross-epoch arrival at-or-before a
key's open OR TOMBSTONED ``(last_ts, last_tx_idx)`` is dropped — the
guard compares against tombstones too (``include_deleted=True``), just
like the merge, so a replay of changes older than a delete can never
re-fold into the log. ``late="error"`` opts into failing loud on any
at-or-before arrival for strictly-ordered feeds. Within a batch, any
arrival order is fine — `scd2_history` sorts.

Rows the merge would quarantine (null repo/path/ts/op — the deadletter
predicate in lake.py) are excluded from the fold for the same reason the
lake excludes them: they can neither order nor route, and history must
never record an entity the lake does not serve.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..operators.scd import scd2_history
from .lake import LakeTable

KEYS = ("repo", "path")
ATTRS = ("commit", "lang", "content")
_EPOCH_DIR = "e{:08d}"
_E_RE = re.compile(r"^e(\d{8})$")
_C_RE = re.compile(r"^c(\d{8})_(\d{8})$")


def make_history_applier(
    table_path: str,
    history_dir: str,
    epoch_ns: str = "",
    merge_mode: str = "cow",
    late: str = "absorb",
    compact_min_dirs: int = 0,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch factory: maintain lake + SCD2 history log together.

    Returns an applier that, per micro-batch of envelope rows (repo, path,
    ts, tx_idx, op, commit, lang, content): appends the epoch's closed
    intervals to ``history_dir`` and then merges the batch into the lake.
    Read the combined table with :func:`read_history`.

    ``compact_min_dirs`` > 0 self-compacts the log whenever the live dir
    count reaches the threshold — after the epoch's merge, inside the
    stream's own loop, so the single-compactor discipline holds for free
    (the lake runner's ``compact_min_deltas`` posture).
    """
    if late not in ("absorb", "error"):
        raise ValueError(f"late must be absorb|error: {late!r}")
    lake = LakeTable(table_path)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if lake.epoch_applied(epoch_ns, batch_id):
            return  # full replay of an applied epoch: history already written
        spark = batch_df.sparkSession
        v = lake.current_version()
        # ONE pinned scan serves both the redelivery guard (tombstones
        # INCLUDED — the merge predicate compares against them, so a
        # replay of pre-delete changes must not re-fold) and the close
        # set (live rows only, via the carried `deleted` flag).
        prev = lake.read(spark, include_deleted=True, version=v).select(
            *KEYS,
            *[F.col(a).alias(f"_p_{a}") for a in ATTRS],
            "last_ts",
            "last_tx_idx",
            "deleted",
        )

        cols = [*KEYS, "ts", "tx_idx", "op", *ATTRS]
        # Mirror the merge's deadletter predicate (lake.py dl_reason):
        # rows without the identity can neither order nor route — the
        # lake quarantines them, so history must not record them either.
        b = batch_df.select(*cols).where(
            F.col("repo").isNotNull()
            & F.col("path").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("tx_idx").isNotNull()
            & F.col("op").isNotNull()
        )
        joined = b.join(prev, on=list(KEYS), how="left")
        # Collapse exact in-batch duplicate deliveries AFTER the key join:
        # a row_number window keyed on (KEYS, ts, tx_idx) is satisfied by
        # the join's (KEYS) hash partitioning (a clustering-superset), so
        # the dedup costs a sort instead of the extra full batch shuffle a
        # pre-join dropDuplicates paid (guide §2.4 — share one exchange).
        # That saving assumes a shuffle join: when Spark broadcasts the
        # pinned lake snapshot (a small table), the batch is not shuffled by
        # KEYS, so the window adds the full batch shuffle the pre-join
        # dropDuplicates paid anyway — the same cost, not a saving.
        # Duplicate deliveries are identical rows, so which copy survives
        # is value-irrelevant (same contract as dropDuplicates).
        joined = (
            joined.withColumn(
                "_dup_rn",
                F.row_number().over(
                    Window.partitionBy(*KEYS, "ts", "tx_idx").orderBy(*KEYS)
                ),
            )
            .where(F.col("_dup_rn") == 1)
            .drop("_dup_rn")
        )
        newer = F.col("last_ts").isNull() | (
            (F.col("ts") > F.col("last_ts"))
            | (
                (F.col("ts") == F.col("last_ts"))
                & (F.col("tx_idx") > F.col("last_tx_idx"))
            )
        )
        if late == "error":
            # embed the guard in the ts projection (a filter would be
            # pushed below it and never evaluate the offending rows)
            eff = joined.withColumn(
                "ts",
                F.when(newer, F.col("ts")).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "history: cross-epoch arrival at-or-before "
                                "the open version of key ("
                            ),
                            *[F.col(k) for k in KEYS],
                            F.lit(
                                ") — late='error' demands strict per-key "
                                "ordered delivery; use late='absorb' (the "
                                "default) for at-least-once feeds"
                            ),
                        )
                    ).cast("long")
                ),
            )
        else:
            eff = joined.where(newer)
        # both the in-batch fold and the close set read eff: materialize
        # once so the pinned snapshot is scanned once per epoch
        eff = eff.persist()
        try:
            in_batch = scd2_history(
                eff,
                keys=list(KEYS),
                attrs=list(ATTRS),
                ts="ts",
                tiebreak="tx_idx",
                op="op",
                compress=False,
            ).where(F.col("valid_to").isNotNull())

            # cross-epoch closes: the pre-epoch OPEN version of every key
            # with effective changes, closed at the key's first change.
            # The prev columns ride the join — constant per key.
            closes = (
                eff.where(F.col("last_ts").isNotNull() & ~F.col("deleted"))
                .groupBy(*KEYS)
                .agg(
                    F.min(F.struct("ts", "tx_idx")).alias("_f"),
                    *[F.any_value(f"_p_{a}").alias(a) for a in ATTRS],
                    F.any_value("last_ts").alias("valid_from"),
                )
                .select(
                    *KEYS, *ATTRS, "valid_from", F.col("_f.ts").alias("valid_to")
                )
            )

            closed = in_batch.drop("is_current").unionByName(closes)
            # overwrite (not append): a retried half-failed epoch rewrites
            # the same deterministic rows instead of duplicating them
            closed.write.mode("overwrite").parquet(
                os.path.join(history_dir, _EPOCH_DIR.format(batch_id))
            )
        finally:
            eff.unpersist()
        lake.merge_batch(
            batch_df, batch_id, epoch_ns=epoch_ns, merge_mode=merge_mode
        )
        if compact_min_dirs and len(
            _live_dirs(history_dir, lake.applied_max(epoch_ns))
        ) >= compact_min_dirs:
            compact_history(spark, table_path, history_dir, epoch_ns=epoch_ns)

    return apply


def _committed(d: str) -> bool:
    return os.path.exists(os.path.join(d, "_SUCCESS"))


def _live_dirs(history_dir: str, applied_max: int | None = None) -> list[str]:
    """The log dirs a reader should scan: the highest-watermark COMMITTED
    compacted dir (``c{lo}_{hi}`` with a ``_SUCCESS`` marker) plus every
    committed epoch dir above its watermark (and, when ``applied_max`` is
    given, at-or-below the lake's applied-epoch watermark — an e-dir whose
    merge has not committed yet is invisible, which is what makes reads
    epoch-atomic). Naming + markers carry the consistency: a compaction
    that crashed mid-write leaves a marker-less c-dir that nobody trusts,
    and one that crashed after its write but before removing the folded
    e-dirs leaves both — readers ignore e-dirs at-or-below the c-dir's
    watermark, so nothing double-counts."""
    try:
        names = os.listdir(history_dir)
    except FileNotFoundError:
        return []
    compacted = sorted(
        (
            n
            for n in names
            if _C_RE.match(n) and _committed(os.path.join(history_dir, n))
        ),
        key=lambda n: int(n.split("_")[1]),
    )
    hi = -1
    out = []
    if compacted:
        best = compacted[-1]
        hi = int(best.split("_")[1])
        out.append(os.path.join(history_dir, best))
    for n in sorted(names):
        if not _E_RE.match(n):
            continue
        num = int(n[1:])
        if num <= hi:
            continue
        if applied_max is not None and num > applied_max:
            continue  # merge not committed: epoch invisible (torn-read guard)
        d = os.path.join(history_dir, n)
        if _committed(d):
            out.append(d)
    return out


def compact_history(
    spark: SparkSession,
    table_path: str,
    history_dir: str,
    epoch_ns: str = "",
) -> int:
    """Fold the log's live dirs into one ``c{lo}_{hi}`` dir and remove the
    folded ones — the small-files bound for a long-running stream (the
    append-only log otherwise accrues one directory per epoch). Closed
    intervals are immutable, so compaction is a pure rewrite: the read
    view is identical before, during, and after (naming + marker
    discipline in :func:`_live_dirs`; only epochs the LAKE has applied are
    folded, so an in-flight or crashed epoch can never be baked into a
    c-dir prematurely). Run it BETWEEN epochs from the stream's own loop
    (the lake's maybe_compact posture). Also sweeps leftovers of a crashed
    prior compaction: superseded or marker-less c-dirs, and e-dirs already
    folded under the live watermark. Returns the number of dirs folded.

    The fold coalesces to one file — right for the log sizes a single
    stream accrues between compactions; a petabyte deployment would
    target a file size instead (Iceberg's rewrite_data_files posture)."""
    import shutil

    mx = LakeTable(table_path).applied_max(epoch_ns)
    live = _live_dirs(history_dir, applied_max=mx)
    live_names = {os.path.basename(d) for d in live}
    watermark = -1
    for n in live_names:
        if n.startswith("c"):
            watermark = int(n.split("_")[1])
    try:
        for n in os.listdir(history_dir):
            if n in live_names:
                continue
            full = os.path.join(history_dir, n)
            if _C_RE.match(n):
                # superseded by the live c-dir, or marker-less garbage
                # from a crashed compaction write — either way stale
                shutil.rmtree(full)
            elif _E_RE.match(n) and int(n[1:]) <= watermark:
                # already folded into the live c-dir (a retried epoch may
                # have rewritten it with identical rows) — stale
                shutil.rmtree(full)
            # e-dirs ABOVE the watermark that are not live (unapplied or
            # marker-less: an in-flight/crashed epoch) are left alone —
            # their retry owns them
    except FileNotFoundError:
        pass
    if len(live) < 2:
        return 0
    names = [os.path.basename(d) for d in live]
    lo = int(names[0].split("_")[0][1:]) if names[0][0] == "c" else int(names[0][1:])
    hi = int(names[-1][1:])
    target = os.path.join(history_dir, f"c{lo:08d}_{hi:08d}")
    spark.read.parquet(*live).coalesce(1).write.mode("overwrite").parquet(target)
    for d in live:
        shutil.rmtree(d)
    return len(live)


def read_history(
    spark: SparkSession, table_path: str, history_dir: str, epoch_ns: str = ""
) -> DataFrame:
    """The full SCD2 view: appended closed intervals UNION the lake's live
    rows as the open versions. Equals ``scd2_history(all effectively
    applied changes, compress=False)`` — pinned in tests/test_history.py.
    Epoch-atomic: an e-dir is included only once the lake recorded its
    epoch as applied (see module docstring)."""
    lake = LakeTable(table_path)
    open_rows = lake.read(spark).select(
        *KEYS,
        *ATTRS,
        F.col("last_ts").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    dirs = _live_dirs(history_dir, applied_max=lake.applied_max(epoch_ns))
    if dirs:
        closed = spark.read.parquet(*dirs).select(*open_rows.columns)
        out = closed.unionByName(open_rows)
    else:
        out = open_rows
    return out.withColumn("is_current", F.col("valid_to").isNull())

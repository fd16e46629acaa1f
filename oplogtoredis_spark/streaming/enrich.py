"""Per-epoch enrichment of an event stream against the CDC lake.

The canonical CDC-consumer composition: the lake IS the materialized
lookup dimension (the reference's Redis subscribers maintain exactly this
per-key latest-state view from the published feed — lib/redispub orders
publishes per key so they can). Each micro-batch left-joins to the lake's
last COMMITTED snapshot, pinned to ONE version for the whole epoch:

  - epoch-snapshot consistency — an HA twin (or any concurrent writer)
    committing mid-epoch cannot tear the view; every row of the batch sees
    the same state version, recorded per row as ``<prefix>version``;
  - read-your-commits ordering when composed with the apply stream —
    events the lake applied in epoch N enrich the batches of epoch >= N+1,
    never "some rows of N" (the classic dual-write anomaly this avoids is
    half a batch joining pre-commit state and half post-commit).

Scale shape: the join is an EQUALITY join on the lake's key. When the
snapshot's on-disk bytes are under ``broadcast_max_bytes`` the state side
is broadcast (map-side hash join — the event batch never shuffles); above
it, a shuffled hash/sort-merge join on the same key the lake is bucketed
by, which a storage-partitioned reader co-locates. The size check is
driver-side file metadata (no Spark job, same discipline as the
incremental-corpus footer counts).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, functions as F

from .lake import LakeTable


def make_enrich_applier(
    table_path: str,
    write: Callable[[DataFrame, int], None],
    on: Sequence[str],
    prefix: str = "s_",
    broadcast_max_bytes: int = 32 << 20,
    how: str = "left",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch factory: join each micro-batch to the lake's current
    committed state and hand the enriched frame to ``write(df, batch_id)``.

    Output columns: the batch's unchanged, plus every non-key lake column
    as ``prefix + name`` (NULL where the key has no lake row yet) and
    ``<prefix>version`` = the snapshot version this epoch joined against.

    ``how`` is ``left`` (keep every event) or ``inner`` (drop events with
    no state row).
    """
    if how not in ("left", "inner"):
        raise ValueError(f"how must be left|inner: {how!r}")
    lake = LakeTable(table_path)
    keys = list(on)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # Pin the WHOLE epoch to the version read here — read(version=...)
        # resolves the manifest once, so a concurrent commit advancing
        # CURRENT mid-epoch is invisible to this batch.
        v = lake.current_version()
        state = lake.read(spark, version=v)
        # exclude the lake's own bookkeeping from the payload: 'deleted'
        # is constant-false after the read filter (dead broadcast bytes
        # per epoch, and it shadows a legitimate batch column of the same
        # prefixed name in the clash check)
        payload = [
            c for c in state.columns if c not in keys and c != "deleted"
        ]
        if "version" in payload:
            # the stamp column would silently OVERWRITE the prefixed lake
            # payload of the same name (out_cols is a set — the collision
            # dedups away instead of tripping the clash guard below)
            raise ValueError(
                f"enrich: the lake carries a 'version' payload column — "
                f"it collides with the {prefix}version snapshot stamp; "
                "rename the lake column or the prefix"
            )
        out_cols = {prefix + c for c in payload} | {f"{prefix}version"}
        clash = out_cols & set(batch_df.columns)
        if clash:
            raise ValueError(
                f"enrich: batch already carries {sorted(clash)} — the join "
                f"would be ambiguous (or silently overwrite); pick another "
                f"prefix than {prefix!r}"
            )
        dim = state.select(
            *keys, *[F.col(c).alias(prefix + c) for c in payload]
        )
        if lake.snapshot_bytes(v) <= broadcast_max_bytes:
            dim = F.broadcast(dim)
        out = batch_df.join(dim, on=keys, how=how).withColumn(
            f"{prefix}version", F.lit(v)
        )
        write(out, batch_id)

    return apply

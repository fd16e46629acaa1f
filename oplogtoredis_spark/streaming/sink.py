"""The upsert-sink protocol — the seam where LakeTable ↔ Iceberg swap.

The streaming runner (runner.py) and the delivery-semantics tests depend
ONLY on this surface, so moving from the built-in parquet+manifest
``LakeTable`` to a real Iceberg table on a cluster is a one-file change: an
implementation whose methods delegate to Iceberg SQL. The mapping per
method:

========================  ====================================================
protocol method           Iceberg implementation
========================  ====================================================
``merge_batch``           ``MERGE INTO tgt USING src ON tgt.repo=src.repo AND
                          tgt.path=src.path WHEN MATCHED AND (src.last_ts,
                          src.last_tx_idx) > (tgt.last_ts, tgt.last_tx_idx)
                          THEN UPDATE ... WHEN NOT MATCHED THEN INSERT``;
                          the epoch identity (``epoch_ns:batch_id``) goes to
                          the snapshot summary properties, and the replay
                          check reads the latest snapshot's properties —
                          exactly how Iceberg's own Spark streaming sink
                          implements idempotent epoch commits. Tombstones =
                          the same ``deleted`` flag column (or a real DELETE
                          with a positional-delete file).
``read``                  ``spark.table(name)`` (+ ``.where(~deleted)``);
                          bucket pruning = Iceberg's ``bucket(N, repo||path)``
                          partition transform + runtime filtering.
``applied_batch_ids`` /   latest snapshot summary properties
``epoch_applied``         (bounded — Iceberg snapshots age out the same way
                          the manifest's replay window does).
``compact``               ``CALL catalog.system.rewrite_data_files`` with a
                          tombstone-age delete filter.
``expire_snapshots``      ``CALL catalog.system.expire_snapshots``.
``lineage``               a side table / the snapshot history API.
========================  ====================================================

``LakeTable`` (lake.py) is the standalone implementation shipped here (this
sandbox carries no Iceberg jars); ``InMemorySink`` below is a second,
structurally different implementation used by the contract tests to pin the
runner to the protocol rather than to LakeTable internals.
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession, functions as F


@runtime_checkable
class UpsertSink(Protocol):
    """What a CDC upsert target must provide (see module docstring for the
    Iceberg mapping of each method)."""

    def merge_batch(
        self,
        batch: DataFrame,
        batch_id: int,
        extra_payload_cols: tuple[str, ...] = (),
        epoch_ns: str = "",
    ) -> dict: ...

    def read(
        self,
        spark: SparkSession,
        include_deleted: bool = False,
        buckets: list[int] | None = None,
    ) -> DataFrame: ...

    def epoch_applied(self, epoch_ns: str, batch_id: int) -> bool: ...

    def lineage(self) -> list[dict]: ...


class InMemorySink:
    """Driver-side reference sink: the same delivery semantics (idempotent
    epoch replay skip, per-key LWW with (ts, tx_idx) total order, tombstoned
    deletes) over a plain dict. NOT for production — it exists so the
    contract tests prove the runner/foreachBatch wiring depends only on the
    UpsertSink protocol, not on LakeTable's manifest format.
    """

    _REGISTRY: dict[str, "InMemorySink"] = {}

    def __init__(self, path: str):
        # path-keyed singleton: callers may construct the sink any number
        # of times for one path (the runner builds one per stream; ad-hoc
        # callers may build one per batch), so state must outlive an instance
        self.path = path
        inst = self._REGISTRY.setdefault(path, self)
        self.__dict__ = inst.__dict__
        if not hasattr(self, "state"):
            self.state: dict[tuple, dict] = {}
            self.applied: set[str] = set()
            self._lineage: list[dict] = []

    def epoch_applied(self, epoch_ns: str, batch_id: int) -> bool:
        return f"{epoch_ns}:{batch_id}" in self.applied

    def merge_batch(
        self,
        batch: DataFrame,
        batch_id: int,
        extra_payload_cols: tuple[str, ...] = (),
        epoch_ns: str = "",
    ) -> dict:
        epoch_key = f"{epoch_ns}:{batch_id}"
        if self.epoch_applied(epoch_ns, batch_id):
            self._lineage.append({"epoch_key": epoch_key, "skipped_replay": True})
            return {"skipped_replay": True}
        rows = batch.toPandas().to_dict("records")
        applied = 0
        for r in sorted(rows, key=lambda r: (r["ts"], r["tx_idx"])):
            key = (r["repo"], r["path"])
            cur = self.state.get(key)
            if cur and (cur["last_ts"], cur["last_tx_idx"]) >= (r["ts"], r["tx_idx"]):
                continue  # dedup hit / older event
            import hashlib

            content = r.get("content")
            self.state[key] = {
                "repo": r["repo"],
                "path": r["path"],
                "commit": r.get("commit"),
                "lang": r.get("lang"),
                "content": content,
                "content_sha256": (
                    hashlib.sha256(content.encode()).hexdigest()
                    if content is not None
                    else None
                ),
                "last_ts": r["ts"],
                "last_tx_idx": int(r["tx_idx"]),
                "deleted": r["op"] == "d",
                **{c: r.get(c) for c in extra_payload_cols},
            }
            applied += 1
        self.applied.add(epoch_key)
        stats = {"epoch_key": epoch_key, "applied": applied, "rows_out": len(self.state)}
        self._lineage.append(stats)
        return stats

    def read(
        self,
        spark: SparkSession,
        include_deleted: bool = False,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        import pandas as pd

        from ..sources.schemas import TARGET_SCHEMA

        cols = [f.name for f in TARGET_SCHEMA.fields if f.name != "bucket"]
        rows = [
            {c: v.get(c) for c in cols}
            for v in self.state.values()
            if include_deleted or not v["deleted"]
        ]
        schema = "struct<" + ",".join(
            f"{f.name}:{f.dataType.simpleString()}"
            for f in TARGET_SCHEMA.fields
            if f.name != "bucket"
        ) + ">"
        if not rows:
            return spark.createDataFrame([], schema)
        return spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema)

    def lineage(self) -> list[dict]:
        return list(self._lineage)

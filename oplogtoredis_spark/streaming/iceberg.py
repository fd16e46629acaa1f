"""IcebergSinkPlanner — the UpsertSink → Iceberg mapping, emitted as SQL.

This sandbox ships no Iceberg jars, so the swap promised by
``streaming/sink.py`` cannot be EXECUTED here — but it can be PLANNED: this
sink implements the UpsertSink protocol in dry-run mode, emitting the exact
SQL/procedure text a cluster deployment runs per method, so the mapping is
pinned by golden tests instead of living only in a docstring
(test_sink_protocol.py). Replaces the reference's Lua-scripted atomic
check-and-publish (/root/reference/lib/redispub/publisher.go:41-62).

Per-method mapping (matches the table in sink.py):

  merge_batch       MERGE INTO with the LWW predicate expanded to ANSI SQL
                    (tuple compare (ts, tx_idx) > (ts, tx_idx) is not SQL)
                    + the epoch identity recorded as a snapshot-summary
                    commit property (Iceberg CommitMetadata — the same
                    mechanism Iceberg's own Spark streaming sink uses for
                    idempotent epoch commits)
  epoch_applied     read the latest snapshot's summary properties
                    (metadata table query — no data scan)
  read              SELECT with the tombstone filter
  compact           rewrite_data_files + tombstone-age DELETE
  expire_snapshots  expire_snapshots procedure
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: identity + ordering columns fixed by the merge semantics
_KEY = ("repo", "path")
_ORDER = ("last_ts", "last_tx_idx")


class IcebergSinkPlanner:
    """Plan-only UpsertSink: records the SQL each call would execute against
    an Iceberg catalog. Epoch bookkeeping is simulated in memory (on a real
    cluster it reads snapshot summaries); no data moves."""

    def __init__(self, table: str, catalog: str = "iceberg"):
        self.table = table
        self.catalog = catalog
        self.plans: list[dict] = []
        self._applied: set[str] = set()

    # ---------------- protocol ----------------
    def epoch_applied(self, epoch_ns: str, batch_id: int) -> bool:
        self.plans.append(
            {
                "op": "epoch_check",
                "sql": (
                    f"SELECT summary['otr.epoch-key'] AS epoch_key\n"
                    f"FROM {self.catalog}.{self.table}.snapshots\n"
                    f"ORDER BY committed_at DESC LIMIT 1"
                ),
            }
        )
        return f"{epoch_ns}:{batch_id}" in self._applied

    def merge_batch(
        self,
        batch: DataFrame,
        batch_id: int,
        extra_payload_cols: tuple[str, ...] = (),
        epoch_ns: str = "",
    ) -> dict:
        epoch_key = f"{epoch_ns}:{batch_id}"
        if self.epoch_applied(epoch_ns, batch_id):
            return {"skipped_replay": True}
        payload = ["commit", "lang", "content", *extra_payload_cols]
        data_cols = [
            *payload,
            "content_sha256",
            "last_ts",
            "last_tx_idx",
            "deleted",
        ]
        newer = (
            f"(s.last_ts > t.last_ts OR "
            f"(s.last_ts = t.last_ts AND s.last_tx_idx > t.last_tx_idx))"
        )
        set_clause = ",\n    ".join(f"t.{c} = s.{c}" for c in data_cols)
        all_cols = [*_KEY, *data_cols]
        src_select = ",\n      ".join(
            [
                *(_KEY),
                *payload,
                "sha2(content, 256) AS content_sha256",
                "ts AS last_ts",
                "CAST(tx_idx AS INT) AS last_tx_idx",
                "op = 'd' AS deleted",
            ]
        )
        merge_sql = (
            f"MERGE INTO {self.catalog}.{self.table} t\n"
            f"USING (\n"
            f"  SELECT {', '.join(_KEY)}, w.* FROM (\n"
            f"    SELECT {', '.join(_KEY)},\n"
            f"           max_by(struct({', '.join(data_cols)}),\n"
            f"                  struct(last_ts, last_tx_idx)) AS w\n"
            f"    FROM (\n"
            f"      SELECT\n      {src_select}\n"
            f"      FROM otr_batch_{batch_id}\n"
            f"    )\n"
            f"    GROUP BY {', '.join(_KEY)}\n"
            f"  )\n"
            f") s\n"
            f"ON " + " AND ".join(f"t.{k} = s.{k}" for k in _KEY) + "\n"
            f"WHEN MATCHED AND {newer} THEN UPDATE SET\n    {set_clause}\n"
            f"WHEN NOT MATCHED THEN INSERT ({', '.join(all_cols)})\n"
            f"  VALUES ({', '.join('s.' + c for c in all_cols)})"
        )
        self.plans.append(
            {
                "op": "merge",
                "view": f"batch.createOrReplaceTempView('otr_batch_{batch_id}')",
                "sql": merge_sql,
                # snapshot-summary epoch property: how Iceberg's own Spark
                # streaming sink makes epoch commits idempotent
                "commit_properties": {"otr.epoch-key": epoch_key},
                "api": (
                    "CommitMetadata.withCommitProperties("
                    f"{{'otr.epoch-key': '{epoch_key}'}}, () -> spark.sql(merge), "
                    "RuntimeException.class)"
                ),
            }
        )
        self._applied.add(epoch_key)
        return {"planned": True, "epoch_key": epoch_key, "sql": merge_sql}

    def mor_ddl(self) -> str:
        """The Iceberg v2 table properties that switch this table to
        merge-on-read — the cluster-side twin of
        LakeTable.merge_batch(merge_mode="mor"): row-level changes land as
        delete files + new data files instead of rewriting whole data files,
        and compaction folds them back (compact() emits the matching
        rewrite procedures)."""
        return (
            f"ALTER TABLE {self.catalog}.{self.table} SET TBLPROPERTIES (\n"
            f"  'format-version' = '2',\n"
            f"  'write.delete.mode' = 'merge-on-read',\n"
            f"  'write.update.mode' = 'merge-on-read',\n"
            f"  'write.merge.mode' = 'merge-on-read'\n"
            f")"
        )

    def set_merge_mode(self, mode: str) -> dict:
        """Record the DDL that flips the table's write mode ('cow'/'mor')."""
        if mode == "mor":
            sql = self.mor_ddl()
        else:
            sql = (
                f"ALTER TABLE {self.catalog}.{self.table} SET TBLPROPERTIES (\n"
                f"  'write.delete.mode' = 'copy-on-write',\n"
                f"  'write.update.mode' = 'copy-on-write',\n"
                f"  'write.merge.mode' = 'copy-on-write'\n"
                f")"
            )
        self.plans.append({"op": "set_merge_mode", "mode": mode, "sql": sql})
        return {"planned": True, "sql": sql}

    def read_sql(self, include_deleted: bool = False) -> str:
        where = "" if include_deleted else "\nWHERE NOT deleted"
        return f"SELECT * FROM {self.catalog}.{self.table}{where}"

    def read(self, spark, include_deleted: bool = False, buckets=None):
        """Plan-only: records the read SQL (bucket pruning is Iceberg's
        bucket(N, ...) partition transform + runtime filtering — no manual
        bucket list) and returns None; a cluster implementation returns
        spark.sql(...)."""
        self.plans.append({"op": "read", "sql": self.read_sql(include_deleted)})
        return None

    def compact(self, spark=None, drop_tombstones_older_than_ts: int = 0) -> dict:
        sqls = [
            (
                f"DELETE FROM {self.catalog}.{self.table}\n"
                f"WHERE deleted AND last_ts < {drop_tombstones_older_than_ts}"
            ),
            (
                f"CALL {self.catalog}.system.rewrite_data_files("
                f"table => '{self.table}')"
            ),
            # MoR delta fold: merge-on-read delete files accumulated by v2
            # row-level writes are compacted away alongside the data rewrite
            # (LakeTable.compact's bucket_deltas clear is the same act)
            (
                f"CALL {self.catalog}.system.rewrite_position_delete_files("
                f"table => '{self.table}')"
            ),
        ]
        self.plans.append({"op": "compact", "sql": "\n;\n".join(sqls)})
        return {"planned": True}

    def expire_snapshots(self, keep_last: int = 3) -> int:
        self.plans.append(
            {
                "op": "expire_snapshots",
                "sql": (
                    f"CALL {self.catalog}.system.expire_snapshots("
                    f"table => '{self.table}', retain_last => {keep_last})"
                ),
            }
        )
        return 0

    def lineage(self) -> list[dict]:
        return list(self.plans)

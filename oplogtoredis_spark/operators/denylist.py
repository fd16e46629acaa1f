"""Denylist control plane (reference H2, SURVEY.md §2).

The reference keeps a denylist of database names in an in-memory sync.Map,
write-through to Postgres, mutated over an HTTP CRUD API and consulted on
every oplog entry (/root/reference/lib/denylist/http.go:22-144,
pg.go:32-79, applied in lib/oplog/tail.go:620-627).

Spark-native re-expression: a tiny file-backed control table (atomic JSON
snapshot, same commit discipline as the lake manifest) that the streaming
job re-reads at the start of every micro-batch — so runtime CRUD takes
effect on the next batch, exactly like the reference's mid-stream denylist
test (integration-tests/acceptance/denylist_oplog_test.go:12-75). The CRUD
surface is plain methods (the HTTP layer of the reference is transport, not
semantics); persistence survives restart like the Postgres write-through
(denylist_persistence_test.go:15-75).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, functions as F


class DenylistStore:
    """Persistent, atomically-updated denylist of repo names."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def _read(self) -> set[str]:
        if not os.path.exists(self.path):
            return set()
        with open(self.path) as f:
            return set(json.load(f))

    def _write(self, entries: set[str]) -> None:
        tmp = self.path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(sorted(entries), f)
        os.replace(tmp, self.path)

    # --- CRUD (the reference's GET/PUT/DELETE /denylist[/:id]) ---
    def list(self) -> list[str]:
        return sorted(self._read())

    def add(self, entry: str) -> bool:
        """Returns True if newly added (reference PUT → 201/409 semantics)."""
        entries = self._read()
        if entry in entries:
            return False
        entries.add(entry)
        self._write(entries)
        return True

    def remove(self, entry: str) -> bool:
        entries = self._read()
        if entry not in entries:
            return False
        entries.discard(entry)
        self._write(entries)
        return True

    # --- data-plane application ---
    def filter(self, df: DataFrame, col: str = "repo") -> DataFrame:
        """Anti-filter re-evaluated at call time (per micro-batch)."""
        entries = self.list()
        if not entries:
            return df
        return df.where(~F.col(col).isin(*entries))

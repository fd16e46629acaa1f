"""Routing derivations T2/T3/T8/T9/R1 (SURVEY.md §2) — all native expressions.

Includes a bit-exact re-expression of the reference's parallelism-key hash:
``sha256(database)``, last 8 bytes interpreted little-endian as a signed
int64 (/root/reference/lib/oplog/processor.go:89-97). Golden value pinned by
the reference's own test: hash("foo") == -5843589418109203719
(/root/reference/lib/oplog/processor_test.go:18-19).

The hash is built from sha2 + string slicing + conv — pure Catalyst
expressions, fully codegen'd, no UDF.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, functions as F

_TWO63 = Decimal(9223372036854775808)  # 2**63
_TWO64 = Decimal(18446744073709551616)  # 2**64


def sha256_le_int64(col: Column) -> Column:
    """Signed int64 from the LAST 8 bytes of sha256(col), little-endian.

    hex chars 49..64 are the last 8 bytes big-endian; little-endian means
    reversing the byte (2-hex-char) order: positions 63,61,..,49.
    """
    hexs = F.sha2(col, 256)
    le_hex = F.concat(*[F.substring(hexs, 63 - 2 * i, 2) for i in range(8)])
    unsigned = F.conv(le_hex, 16, 10).cast("decimal(20,0)")
    signed = F.when(unsigned >= F.lit(_TWO63), unsigned - F.lit(_TWO64)).otherwise(
        unsigned
    )
    return signed.cast("long")


def parallelism_key(repo_col: Column) -> Column:
    """T9: the per-database ordering-unit hash (processor.go:89-97,115)."""
    return sha256_le_int64(repo_col)


def assign_to_shard(key_col: Column, shard_count: int) -> Column:
    """R1: ((k % n) + n) % n — non-negative shard of a possibly-negative key
    (/root/reference/lib/oplog/tail.go:786-788). Spark's pmod IS this."""
    return F.pmod(key_col, F.lit(shard_count)).cast("int")


def bucket_for(repo_col: Column, path_col: Column, n_buckets: int) -> Column:
    """Storage bucket of a document key: pmod(xxhash64(repo, path), B).

    xxhash64 runs JVM-side in codegen; this is the engine's HashPartitioning
    analogue of the reference's assignToShard write routing
    (/root/reference/lib/oplog/tail.go:309-317).
    """
    return F.pmod(F.xxhash64(repo_col, path_col), F.lit(n_buckets)).cast("int")


def split_namespace(ns_col: Column) -> tuple[Column, Column]:
    """T2: "db.coll.sub" → (db, "coll.sub") — SplitN(2) semantics
    (/root/reference/lib/oplog/tail.go:769-779). A namespace with no dot has
    collection == ''."""
    parts = F.split(ns_col, r"\.", 2)
    db = F.get(parts, 0)
    coll = F.coalesce(F.get(parts, 1), F.lit(""))
    return db, coll


def doc_id(df_cols_op: Column, o_id: Column, o2_id: Column) -> Column:
    """T3: updates take _id from o2, everything else from o
    (/root/reference/lib/oplog/tail.go:702-707)."""
    return F.when(df_cols_op == F.lit("u"), o2_id).otherwise(o_id)


def channels(ns_col: Column, id_col: Column) -> Column:
    """T8: every event routes to the collection-wide channel and the
    document-specific channel "<ns>::<id>"
    (/root/reference/lib/oplog/processor.go:99-109)."""
    return F.array(ns_col, F.concat(ns_col, F.lit("::"), id_col))

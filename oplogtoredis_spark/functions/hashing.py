"""Portable deterministic hashing — identical values in Spark SQL and DuckDB.

The training-data operators (dedup, LSH, fingerprinting) need hash functions
whose VALUES the DuckDB oracle can reproduce exactly, so the driver's
value-hash comparison holds. ``xxhash64`` is Spark-only, so the portable
primitive is sha256 → first 15 hex chars → int64 (60 bits, always positive):

  Spark : conv(substring(sha2(s, 256), 1, 15), 16, 10)::long
  DuckDB: ('0x' || substr(sha256(s), 1, 15))::BIGINT

Derived permutation hashes for MinHash use fixed affine constants
(a_i * h + b_i) mod p over the base hash — plain int64 arithmetic, identical
in both engines (a_i*h fits: a < 2^20, h < 2^31 after the mod below).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: Mersenne prime 2^31 - 1 — keeps products inside int64
MERSENNE31 = 2_147_483_647

#: fixed MinHash permutation constants (seeded once, never regenerate)
MINHASH_A = [
    873191, 510093, 269029, 979807, 120971, 693913, 341411, 115249,
    438521, 705673, 921763, 184081, 564341, 318437, 754913, 992129,
]
MINHASH_B = [
    97931, 851021, 323129, 609463, 247099, 771043, 139901, 482837,
    914219, 550631, 201559, 838289, 466193, 102701, 735509, 369197,
]
N_MINHASH = len(MINHASH_A)


def portable_hash64(col: Column) -> Column:
    """Positive int64 hash of a string, reproducible in DuckDB."""
    return F.conv(F.substring(F.sha2(col, 256), 1, 15), 16, 10).cast("long")


def portable_hash64_sql(expr: str) -> str:
    """The DuckDB-side rendering of portable_hash64 for oracle_sql strings."""
    return f"(('0x' || substr(sha256({expr}), 1, 15))::BIGINT)"


def portable_hash31(col: Column) -> Column:
    """Hash reduced mod 2^31-1 (safe operand for affine permutations)."""
    return portable_hash64(col) % F.lit(MERSENNE31)


def minhash_perm(h31: Column, i: int) -> Column:
    """i-th permutation hash: (a_i * h + b_i) mod p."""
    return (F.lit(MINHASH_A[i]) * h31 + F.lit(MINHASH_B[i])) % F.lit(MERSENNE31)

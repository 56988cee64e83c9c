"""Portable deterministic hashing.

Cross-engine differential testing needs a hash that is bit-identical in
Spark and DuckDB. Neither engine's native hash matches the other
(Spark: Murmur3/xxhash64; DuckDB: its own), so we derive a 60-bit
integer from md5 (both engines implement standard md5 over UTF-8):

  Spark : CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)
  DuckDB: CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)

15 hex chars = 60 bits, always positive, fits a BIGINT exactly. The
same primitive seeds the MinHash permutations ((a*h + b) mod p) and the
SimHash bit decomposition in operators.dedup, keeping every sketch
oracle-checkable.

md5 is ~2x slower than xxhash64 per byte but both run JVM-side inside
whole-stage codegen; at 100 TB the scan dominates, and determinism
across engines is worth far more than the delta. A production deploy
can swap in xxhash64 via HASH_EXPR without touching operator logic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^61 - 1: modulus for MinHash permutation arithmetic.
# (a*h + b) stays within int128? No — Spark/DuckDB BIGINT is 64-bit, so
# permutations use (a XOR h) * small_prime % p style updates that cannot
# overflow 63 bits; see operators.dedup.
MERSENNE_61 = (1 << 61) - 1


def portable_hash64(col: Column | str) -> Column:
    """60-bit non-negative deterministic hash of a string column.

    Spark side of the portable hash; DuckDB side is
    ``portable_hash64_sql``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def portable_hash64_sql(expr: str) -> str:
    """DuckDB SQL emitting the identical hash for the same input."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def portable_hash64_second(col: Column | str) -> Column:
    """Second independent 60-bit hash from the SAME md5 digest (hex
    chars 16-30). One md5 invocation yields (h1, h2) for double
    hashing: h_j = (h1 + j*h2) mod 2^61-1 — j independent hash
    functions for the price of one digest, with j*h2 <= 7*(2^60-1)
    staying safely under the int64 overflow line both engines share."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 16, 15), 16, 10).cast("bigint")


def portable_hash64_second_sql(expr: str) -> str:
    """DuckDB twin of ``portable_hash64_second``."""
    return f"CAST('0x' || substr(md5({expr}), 16, 15) AS BIGINT)"

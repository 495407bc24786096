"""Deterministic cross-engine hashing primitives.

Spark's xxhash64/murmur and DuckDB's hash() disagree, so every hash the
oracle needs to reproduce is built from md5 (identical in both engines):
take the first 15 hex chars (60 bits, always positive in int64).

Spark:   CAST(CONV(SUBSTR(MD5(x), 1, 15), 16, 10) AS BIGINT)
DuckDB:  CAST('0x' || SUBSTR(MD5(x), 1, 15) AS BIGINT)

MinHash permutations use the classic universal-hash family
h_i(x) = (a_i * x + b_i) mod p over the Mersenne prime p = 2^31 - 1;
operands stay < 2^62 so ANSI-mode int64 arithmetic cannot overflow.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

MERSENNE_31 = 2_147_483_647  # 2^31 - 1


def md5_long(col: Column) -> Column:
    """60-bit non-negative hash of a string column, oracle-reproducible."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    """DuckDB SQL rendering of md5_long over an expression string."""
    return f"CAST('0x' || SUBSTR(MD5({expr}), 1, 15) AS BIGINT)"


def md5_long_spark_sql(expr: str) -> str:
    """Spark SQL rendering of md5_long over an expression string, for
    plans built from one parsed SQL string instead of chained Columns."""
    return f"CAST(CONV(SUBSTR(MD5({expr}), 1, 15), 16, 10) AS BIGINT)"


def _perm_constants(n_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Fixed (a, b) pairs < p for the permutation family. Deterministic:
    generated by iterating a splitmix-style LCG from the seed (no runtime
    randomness, so Spark and the SQL oracle agree on the constants)."""
    pairs = []
    state = seed
    for _ in range(n_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (MERSENNE_31 - 1) + 1  # a in [1, p-1]
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_31            # b in [0, p-1]
        pairs.append((a, b))
    return pairs


def perm_hash(h: Column, a: int, b: int) -> Column:
    """(a * (h mod p) + b) mod p — one MinHash permutation, overflow-safe."""
    return (F.lit(a) * (h % F.lit(MERSENNE_31)) + F.lit(b)) % F.lit(MERSENNE_31)


def perm_hash_sql(h_expr: str, a: int, b: int) -> str:
    return f"(({a} * (({h_expr}) % {MERSENNE_31}) + {b}) % {MERSENNE_31})"


# Admission-scramble constants: fold an integer key through a modular
# multiply (exact integer math, sign-stable on NON-NEGATIVE operands,
# identical on both engines) so a capped bucket admits a deterministic
# pseudo-random sample instead of "the lowest keys". Canonical home for
# the one (MOD1, MULT, MOD2) triple — plans/reports.py interpolates
# them into its oracle SQL and operators/dedup.py uses them for the
# banded-joiner bucket cap; keep ONE definition so the copies cannot
# drift (r6 review finding). Callers with possibly-NEGATIVE keys must
# fold with pmod first (Spark % keeps the dividend's sign).
SCRAMBLE_MOD1 = 1048573
SCRAMBLE_MULT = 2654435761
SCRAMBLE_MOD2 = 1000003

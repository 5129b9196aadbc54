"""Shared deterministic hashing, computable identically in Spark and DuckDB.

Everything downstream (fingerprints, MinHash, SimHash, LSH banding) needs a
hash both engines agree on bit-for-bit so the driver's oracle comparison
stays exact. ``xxhash64``/``hash`` are engine-specific; md5 is not:

    Spark : CAST(conv(substr(md5(s), 1, 14), 16, 10) AS BIGINT)
    DuckDB: CAST('0x' || substr(md5(s), 1, 14) AS BIGINT)

14 hex chars = 56 bits, so values fit a signed 64-bit int with headroom for
the affine re-hashing used by MinHash permutations.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 56-bit hash domain; affine permutations run over the Mersenne-31 field so
# a*(x%P) stays below 2^62 — BIGINT-safe in both engines (Spark 4's ANSI mode
# *throws* on silent 64-bit overflow, so headroom is correctness, not style).
HASH_BITS = 56
MERSENNE_31 = (1 << 31) - 1  # affine permutation modulus
ROLL_MOD = 1_000_000_007  # rolling-hash modulus (acc*31 + h56 < 2^57, safe)


def h56(col: Column) -> Column:
    """56-bit integer hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 14), 16, 10).cast("long")


def h56_sql(expr: str) -> str:
    """The identical hash as DuckDB SQL over ``expr``."""
    return f"CAST('0x' || substr(md5({expr}), 1, 14) AS BIGINT)"


def affine_sql(a: int, b: int, x_expr: str) -> str:
    """Affine permutation h(x) = (a*(x%P) + b) % P over Mersenne-31, as SQL
    text that Spark and DuckDB parse alike."""
    return f"(({a} * (({x_expr}) % {MERSENNE_31}) + {b}) % {MERSENNE_31})"


def perm_params(n: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for n hash permutations. Derived from a
    fixed linear congruential sequence — no RNG state, reproducible anywhere
    (including inside SQL strings baked at module import)."""
    params = []
    state = seed
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (MERSENNE_31 - 1)) + 1  # a in [1, P-1]
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_31  # b in [0, P-1]
        params.append((a, b))
    return params

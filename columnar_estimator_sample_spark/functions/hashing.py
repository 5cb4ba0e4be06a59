"""Portable deterministic hashing.

The reference's only hash is feature-hashing of categorical strings into
NDV*5 buckets (/root/reference/trainer.py:262-267). The engine needs
hashing in many more places (exact dedup, MinHash, SimHash, LSH band
bucketing), and the driver's correctness gate demands that the DuckDB
oracle reproduce the SAME values — so instead of Spark's murmur3 (``F.hash``,
not available in DuckDB) every portable hash is built on md5, which both
engines implement identically:

    h64(s) = int(hex(md5(s))[:15], 16)   -- 60 bits, fits int64, >= 0

For pure-Spark hot paths where oracle parity is not needed (e.g. shuffle
salting), prefer ``F.xxhash64`` — it's JVM-side and cheaper; the md5 path
is the *portable* one.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1; with a,b < P and x < P, a*x+b < 2^62 fits int64
# in both engines, and nonnegative % nonnegative is nonnegative in both.
MERSENNE_P = 2_147_483_647


def h64(col: Column) -> Column:
    """60-bit nonnegative integer hash of a string column via md5."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def sql_h64(expr: str) -> str:
    """DuckDB twin of :func:`h64`."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def minhash_params(k: int, seed: int = 7) -> tuple[list[int], list[int]]:
    """Deterministic (a, b) coefficient lists for k universal hash
    functions h_i(x) = (a_i*x + b_i) mod P.  Plain LCG so the oracle SQL
    can embed the same literals."""
    a, b = [], []
    state = seed
    for _ in range(k):
        state = (state * 1_103_515_245 + 12_345) % MERSENNE_P
        a.append(state | 1)  # odd, nonzero
        state = (state * 1_103_515_245 + 12_345) % MERSENNE_P
        b.append(state)
    return a, b

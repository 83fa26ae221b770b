"""Deterministic 60-bit hashing shared by dedup/similarity operators.

Built on md5 because it is bit-identical in Spark and DuckDB (the
oracle), unlike xxhash64/murmur which differ per engine.  The first 15
hex chars (60 bits) fit a signed BIGINT in both engines.

At 100 TB scale md5 is ~2× slower than xxhash64; swap
:func:`hash64` for ``F.xxhash64`` when oracle parity is not required —
every caller takes the hash function as an injectable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash64(col: Column, seed: int | str | None = None) -> Column:
    """60-bit deterministic hash of a string column (optionally seeded)."""
    s = col if seed is None else F.concat_ws("|", F.lit(str(seed)), col)
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def hash64_sql(expr: str, seed: int | str | None = None) -> str:
    """DuckDB twin of :func:`hash64` (same bits)."""
    s = expr if seed is None else f"'{seed}' || '|' || {expr}"
    return f"CAST('0x' || substr(md5({s}), 1, 15) AS BIGINT)"


#: Mersenne prime 2^31 - 1: universal-hash modulus for permutation
#: families.  ``a*(h % P) + b`` with a,b < P stays under 2^62 — no
#: int64 overflow in either engine.
PERM_P = 2_147_483_647


def perm_coeffs(k: int) -> list[tuple[int, int]]:
    """k deterministic (a, b) pairs for the universal-hash family.

    Derived from fixed multiplicative constants (Knuth / Weyl), not a
    RNG, so Spark code and oracle SQL regenerate identical values.
    """
    out = []
    for j in range(k):
        a = (2 * j + 1) * 2_654_435_761 % PERM_P
        b = (j * 40_503 * 65_537 + 17) % PERM_P
        out.append((a, b))
    return out


def perm_hash(h: Column, a: int, b: int) -> Column:
    """j-th permutation of a base hash: ``(a*(h % P) + b) % P``."""
    return (F.lit(a) * (h % F.lit(PERM_P)) + F.lit(b)) % F.lit(PERM_P)

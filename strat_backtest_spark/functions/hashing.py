"""Deterministic, engine-portable hashing primitives.

Everything here is exact 64-bit integer arithmetic expressible in both
Spark SQL and ANSI-ish SQL (DuckDB), so dedup/similarity operators can
be validated hash-for-hash against an external oracle — and, at 100 TB,
recomputed anywhere without coordinating a hash-seed service.

Scheme: a native md5's 60-bit prefix reduced mod P = 1e9+7;
universal-hash family ``h_i(x) = (aᵢ·x + bᵢ) mod P`` with fixed odd
multipliers. All intermediates < 2^63 — no overflow
on either engine.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

P = 1_000_000_007

# fixed hash family (deterministic; index i = i-th permutation)
def perm_params(k: int) -> list[tuple[int, int]]:
    return [((2 * i + 1) * 104_729 % P, (i * 7_919 + 13) % P) for i in range(k)]


def md5_hash(col: str | Column) -> Column:
    """Native md5 → 60-bit prefix → mod P, LongType in [0, P).

    md5 is JVM-native on Spark (no per-character lambda
    interpretation, which a polynomial codepoint hash folded in SQL
    needs — ~100× slower on long token streams) and byte-identical in every engine with an
    md5() builtin, so the oracle mirror is exact. 15 hex chars = 60
    bits < 2^63, so the hex parse never overflows a signed long."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10).cast("long") % P
    )


def md5_hash_sql(expr: str) -> str:
    """The same md5-prefix hash as DuckDB SQL over a string expression."""
    return f"(('0x' || substring(md5({expr}), 1, 15))::BIGINT % {P})"

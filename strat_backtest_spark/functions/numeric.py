"""Numeric parity helpers.

The oracle mirrors round floating scores with DuckDB ``round()``,
which rounds the float64 BINARY value half-away-from-zero.
``np.round`` is banker's half-to-even — a score landing exactly on a
.5 tie at the rounded digit would round the other way and flip a
``>= threshold`` filter against the oracle. Any numpy code whose
rounded output feeds a DUCKDB-oracle-checked comparison or column
must round through this helper instead.

Caveat: this is binary-value HALF_UP, i.e. DuckDB semantics. Spark
``F.round`` on DOUBLE routes through ``BigDecimal.valueOf`` (the
SHORTEST DECIMAL REPRESENTATION), so it can disagree with both numpy
and DuckDB at representation ties: ``F.round(lit(2.675), 2)`` gives
2.68 (BigDecimal sees the string "2.675") while the binary value of
2.675 is just below the true tie and rounds to 2.67 here and in
DuckDB. Outputs compared against a Spark-side ``F.round`` (rather
than a DuckDB oracle) must NOT use this helper — keep those JVM-side.
"""

from __future__ import annotations

import numpy as np


def round_half_up_spark_expr(col_sql: str, decimals: int) -> str:
    """Spark-SQL text of binary-value HALF_UP as pure IEEE ops
    (signum/abs/floor/mul/div), so the SAME expression evaluated by
    DuckDB (:func:`round_half_up_sql`) on a bit-identical input
    produces a bit-identical output. Needed where magnitudes get large
    enough (>= ~1e10) that one double ULP is comparable to the rounding
    unit and Spark ``F.round``'s shortest-decimal BigDecimal path
    visibly disagrees with DuckDB ``round()`` — e.g. the compounding
    band-strategy net-worth curve.

    Above 2^53 the scaled value has no fractional part, so DuckDB's
    double-typed ``floor`` is the identity there; Spark's ``FLOOR``
    returns LONG (which would clamp at 2^63 for degenerate metrics like
    a ^255-compounded sharpe), so the same branch is taken explicitly
    and the op sequence stays engine-identical. All fractional literals
    carry the ``D`` double suffix so ANSI mode cannot read them as
    DECIMAL.

    ``col_sql`` is any Spark-SQL expression text; in a Column context
    wrap the result in ``F.expr``. Text rather than stacked Columns: a
    20-column ``selectExpr`` projection is one py4j round-trip plus a
    JVM-side parse instead of ~40 round-trips per column. Bit parity
    with DuckDB across the magnitude range is pinned by
    tests/test_kernel_oracle.py."""
    scale = f"{float(10.0 ** decimals)!r}D"
    y = f"((abs({col_sql}) * {scale}) + 0.5D)"
    fl = (
        f"CASE WHEN ({y} < 9007199254740992.0D) "
        f"THEN CAST(FLOOR({y}) AS DOUBLE) ELSE {y} END"
    )
    return f"((signum({col_sql}) * {fl}) / {scale})"


def round_half_up_sql(expr: str, decimals: int) -> str:
    """The DuckDB-side twin of :func:`round_half_up_spark_expr`:
    identical operation sequence, identical IEEE results."""
    scale = repr(10.0 ** decimals)
    return f"sign({expr}) * floor((abs({expr}) * {scale}) + 0.5) / {scale}"


def round_half_up(x: np.ndarray, decimals: int) -> np.ndarray:
    """Element-wise round-half-away-from-zero on the binary float64
    value, matching DuckDB ``round()`` (sign-aware: HALF_UP on
    negatives rounds -2.5 to -3, where ``np.floor(x + 0.5)`` alone
    would give -2). See the module docstring for why this is NOT
    always identical to Spark ``F.round`` on doubles."""
    scale = 10.0 ** decimals
    return np.sign(x) * np.floor(np.abs(x) * scale + 0.5) / scale

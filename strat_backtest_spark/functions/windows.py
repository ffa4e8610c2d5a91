"""Window / time-series function library (SURVEY.md §2.5 W1-W11).

Each helper is a pure Column-in / Column-out (or DataFrame transform)
replicating the pandas semantics the reference relies on — with the
null-handling quirks made explicit:

- pandas ``rolling(n).mean()`` yields NaN for the first n-1 rows
  (min_periods=n): replicated with a row-count guard (W1).
- pandas ``shift(1)`` yields NaN at the head; comparisons against NaN
  are False: callers get the null and decide (W2).
- cumprod has no Spark builtin: ``exp(sum(log))`` for positive inputs,
  with a sign-aware general fallback (W5).

Every window is explicitly ordered — Spark has no implicit row order
(SURVEY.md §4.2). All helpers partition by ``ticker`` (and optionally
``run_id``) so a thousand-ticker, million-row-per-ticker table
computes each series independently with no cross-partition traffic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec, functions as F


def ticker_window(*extra_keys: str, order_col: str = "date") -> WindowSpec:
    """Per-ticker, date-ordered window — the engine's standard frame."""
    return Window.partitionBy("ticker", *extra_keys).orderBy(order_col)


def _cum(w: WindowSpec) -> WindowSpec:
    return w.rowsBetween(Window.unboundedPreceding, Window.currentRow)


def ticker_window_sql(*extra_keys: str, order_col: str = "date") -> str:
    """Spark-SQL OVER-clause text twin of :func:`ticker_window` — for
    selectExpr-built plans (one JVM parse instead of a py4j round-trip
    per Column op; trees identical, pinned by the r15 tests)."""
    keys = ", ".join(["ticker", *extra_keys])
    return f"PARTITION BY {keys} ORDER BY {order_col}"


def rolling_mean_sql(col_sql: str, n: int, w_sql: str | None = None) -> str:
    """Spark-SQL text twin of :func:`rolling_mean` (W1 — null until n
    observations). Parses to the identical tree."""
    w = w_sql if w_sql is not None else ticker_window_sql()
    start = f"{n - 1} PRECEDING" if n > 1 else "CURRENT ROW"
    frame = f"{w} ROWS BETWEEN {start} AND CURRENT ROW"
    return (
        f"CASE WHEN (count({col_sql}) OVER ({frame}) >= {n})"
        f" THEN avg({col_sql}) OVER ({frame}) END"
    )


def rolling_mean(col: str | Column, n: int, w: WindowSpec) -> Column:
    """W1 — pandas ``rolling(n).mean()`` parity (custom_strats.py:38-39):
    null until n observations exist (min_periods defaults to the window
    size in pandas)."""
    c = F.col(col) if isinstance(col, str) else col
    frame = w.rowsBetween(-(n - 1), 0)
    return F.when(F.count(c).over(frame) >= n, F.avg(c).over(frame))


def lag(col: str | Column, w: WindowSpec, offset: int = 1) -> Column:
    """W2 — ``shift(offset)`` (custom_strats.py:47-48)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lag(c, offset).over(w)


def pct_change(col: str | Column, w: WindowSpec) -> Column:
    """W3 — ``pct_change()`` (finance_data.py:38-39; strats.py:730).

    A zero base yields NULL (try_divide), not pandas' ±inf: under
    ANSI (Spark 4 default) a raw division would abort the whole job on
    one zero row, and NULL propagates through downstream aggregates
    exactly like the NaN the reference's pandas stats silently skip."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_divide(c, F.lag(c, 1).over(w)) - 1


def cum_sum(col: str | Column, w: WindowSpec) -> Column:
    """W4 — running sum (strats.py:570-571)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c).over(_cum(w))


def cum_prod(col: str | Column, w: WindowSpec) -> Column:
    """W5 — running product (finance_data.py:38-39 ``cumprod``).

    No Spark builtin; rewritten as sign-aware exp(sum(log(|x|))):
    product of |x|, negated when the running count of negative factors
    is odd, zeroed after any zero factor. Exact for the reference's
    (1 + r) > 0 domain and correct for the general one.
    """
    c = F.col(col) if isinstance(col, str) else col
    cw = _cum(w)
    n_zero = F.sum(F.when(c == 0, 1).otherwise(0)).over(cw)
    n_neg = F.sum(F.when(c < 0, 1).otherwise(0)).over(cw)
    magnitude = F.exp(F.sum(F.log(F.abs(c))).over(cw))
    signed = F.when(n_neg % 2 == 1, -magnitude).otherwise(magnitude)
    return F.when(n_zero > 0, F.lit(0.0)).otherwise(signed)


def cum_max(col: str | Column, w: WindowSpec) -> Column:
    """W6 — running max, e.g. drawdown peaks (strats.py:702-703)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.max(c).over(_cum(w))


def forward_fill(col: str | Column, w: WindowSpec, default=None) -> Column:
    """W7 — ``ffill()`` (strats.py:562-565): last non-null so far."""
    c = F.col(col) if isinstance(col, str) else col
    filled = F.last(c, ignorenulls=True).over(_cum(w))
    if default is None:
        return filled
    return F.coalesce(filled, F.lit(default))


def first_value(col: str | Column, w: WindowSpec) -> Column:
    """W8 — first element of the ordered series (strats.py:675)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.first(c).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )


def last_value(col: str | Column, w: WindowSpec) -> Column:
    """W8 — last element of the ordered series (strats.py:669)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.last(c).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )


def tail_n(
    df: DataFrame,
    n: int,
    partition_cols: list[str],
    order_cols: str | list[str] = "date",
    rank_col: str | None = None,
) -> DataFrame:
    """W9 — positional ``.tail(n)`` per ``partition_cols`` group
    (strats.py:594-597): row_number over descending ``order_cols`` <= n.
    ``rank_col``, if given, keeps that row number (1 = last row)."""
    order = [order_cols] if isinstance(order_cols, str) else order_cols
    desc_w = Window.partitionBy(*partition_cols).orderBy(
        *[F.col(c).desc() for c in order]
    )
    rn = rank_col or "__rn"
    out = df.withColumn(rn, F.row_number().over(desc_w)).filter(F.col(rn) <= n)
    return out if rank_col else out.drop(rn)


def trailing_period_filter(df: DataFrame, col: str, interval: str, partition_cols: list[str] | None = None) -> DataFrame:
    """W10 — pandas ``.last("10Y")`` parity (tests/test_strat.py:7):
    keep rows with ``col > max(col) - interval`` (pandas ``last`` is an
    exclusive lower bound: strictly after anchor-minus-offset).

    With partition columns the anchor is a per-key window max (stays
    within each key's partition — no extra exchange beyond the window
    sort). With NO partition columns a window max would plan as
    ``Exchange SinglePartition`` — the whole table funneling through
    one task just to learn ``max(col)``. Instead the anchor is computed
    as a one-row aggregate (parallel partial agg, map-side combine) and
    broadcast-cross-joined back: no single point of serialization, and
    still one job with no driver round-trip.
    """
    if partition_cols:
        w = Window.partitionBy(*partition_cols)
        maxd = F.max(F.col(col)).over(w)
        return df.withColumn("__maxd", maxd).filter(
            F.col(col) > F.col("__maxd") - F.expr(f"INTERVAL {interval}")
        ).drop("__maxd")
    anchor = df.agg(F.max(F.col(col)).alias("__maxd"))
    return df.join(F.broadcast(anchor)).filter(
        F.col(col) > F.col("__maxd") - F.expr(f"INTERVAL {interval}")
    ).drop("__maxd")


def percent_return(
    bars: DataFrame,
    time_frame: str | None = None,
    col: str = "close",
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """``Finance_Data.percent_return`` (finance_data.py:29-40):
    ``(close.pct_change() + 1).cumprod()`` per ticker, optionally
    restricted to a trailing period first. Adds ``pct_return``."""
    parts = partition_cols if partition_cols is not None else ["ticker"]
    if time_frame:
        bars = trailing_period_filter(bars, "date", time_frame, parts)
    w = Window.partitionBy(*parts).orderBy("date")
    return bars.withColumn("pct_return", cum_prod(pct_change(col, w) + 1, w))


def log_percent_return(
    bars: DataFrame,
    col: str = "close",
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """``log(close.pct_change() + 1).cumsum()`` (finance_data.py:66-72)
    — the additive form of percent_return. Adds ``log_pct_return``."""
    parts = partition_cols if partition_cols is not None else ["ticker"]
    w = Window.partitionBy(*parts).orderBy("date")
    return bars.withColumn(
        "log_pct_return", cum_sum(F.log(pct_change(col, w) + 1), w)
    )

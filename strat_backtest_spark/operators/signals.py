"""Vectorized signal generation (SURVEY.md §2.2 P9, §2.9 K8).

The reference detects indicator-cross edges with numpy positional
indexing (custom_strats.py:45-48):

    cross = fast_ma > lagging_ma
    buy  = cross.iloc[np.where(cross & (cross != cross.shift(1)))]
    sell = cross.iloc[np.where(~cross & (cross != cross.shift(1)))]

Here the same semantics are a lag + filter over a per-ticker window.
``Backtest`` and the sweeps do not run these windows: the kernel
computes every MA-cross point's edges, bit for bit the same, from one
plain bar series per ticker (``ma_cross_feed_grid``;
``operators/kernel.py:_run_grid``). ``ma_cross_signal_feed`` (behind
``MACrossStrategy.signal_feed``) and its edge rows ``ma_cross_signals``
are the Spark-side reference forms the tests hold the kernel to;
``band_signals`` is the band strategy's all-bars feed.

pandas parity notes:
- NaN > NaN is False in pandas, so `cross` is False during the MA
  warm-up window → replicated with coalesce(..., False).
- `cross != cross.shift(1)` is True on the first row (NaN != x), so a
  leading True emits a buy and a leading False emits a sell →
  replicated by treating a null lag as "changed".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from strat_backtest_spark.functions.windows import (
    rolling_mean_sql,
    ticker_window_sql,
)


def ma_cross_signal_feed(
    bars: DataFrame,
    fast: int,
    lagging: int,
    run_id: int = 0,
) -> DataFrame:
    """MA-crossover feed over every bar (reference: MA_Cross_Strat,
    custom_strats.py:36-48): (ticker, run_id, date, close, action),
    with action 'buy'/'sell' at the cross edges and null elsewhere.

    The action is computed inline over the same window pass as the
    moving averages; the first row of each ticker is always an edge.
    Spark-SQL text, not stacked Columns: one parse per select instead
    of ~150 py4j round-trips."""
    w = ticker_window_sql()
    cross = (
        f"coalesce(({rolling_mean_sql('close', fast)}"
        f" > {rolling_mean_sql('close', lagging)}), false)"
    )
    df = bars.selectExpr(
        "ticker",
        f"CAST({int(run_id)} AS BIGINT) AS run_id",
        "date",
        "close",
        f"{cross} AS __cross",
    )
    prev = f"lag(__cross) OVER ({w})"
    action = (
        f"CASE WHEN (({prev} IS NULL) OR (__cross != {prev}))"
        " THEN (CASE WHEN __cross THEN 'buy' ELSE 'sell' END) END"
    )
    return df.selectExpr(
        "ticker", "run_id", "date", "close", f"{action} AS action"
    )


def ma_cross_signals(
    bars: DataFrame,
    fast: int,
    lagging: int,
    run_id: int = 0,
) -> DataFrame:
    """MA-crossover signal events for a single parameter point:
    :func:`ma_cross_signal_feed` at the cross edges only."""
    return ma_cross_signal_feed(bars, fast, lagging, run_id).filter(
        "action IS NOT NULL"
    )


def ma_cross_feed_grid(bars: DataFrame) -> DataFrame:
    """Kernel feed for MA-cross runs (a ``Backtest``'s one point or a
    sweep's grid): each ticker's bar series once,
    as (ticker, run_id=0, date, close, action=NULL) — one row per bar,
    not one per bar and grid point. The grid's signals are not built
    here: ``run_kernel(feed, ..., runs=params)`` computes every
    point's MA-cross edges over this series inside the kernel (see
    ``operators/kernel.py:_run_grid``), so the series is the same for
    every grid."""
    return bars.selectExpr(
        "ticker", "CAST(0 AS BIGINT) AS run_id", "date", "close",
        "CAST(NULL AS STRING) AS action",
    )


def band_signals(bars: DataFrame, run_id: int = 0) -> DataFrame:
    """All-bars feed for path-dependent strategies (custom_strats.py:83-101):
    every bar is a potential decision point, so the 'signals' table is
    the full close series tagged 'bar' — the kernel's callback decides.
    """
    return bars.select(
        "ticker",
        F.lit(run_id).cast("long").alias("run_id"),
        "date",
        "close",
        F.lit("bar").alias("action"),
    )

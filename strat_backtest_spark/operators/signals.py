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
``operators/kernel.py:_run_grid``). ``ma_cross_signals`` and
``MACrossStrategy.signal_feed`` are the Spark-side reference forms the
tests hold the kernel to; ``band_signals`` is the band strategy's
all-bars feed.

pandas parity notes:
- NaN > NaN is False in pandas, so `cross` is False during the MA
  warm-up window → replicated with coalesce(..., False).
- `cross != cross.shift(1)` is True on the first row (NaN != x), so a
  leading True emits a buy and a leading False emits a sell →
  replicated by treating a null lag as "changed".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from strat_backtest_spark.functions.windows import rolling_mean, ticker_window


def ma_cross_signals(
    bars: DataFrame,
    fast: int,
    lagging: int,
    run_id: int = 0,
) -> DataFrame:
    """MA-crossover signal events for a single parameter point
    (reference: MA_Cross_Strat, custom_strats.py:36-48).

    Returns (ticker, run_id, date, close, action) rows at the cross
    edges only.
    """
    w = ticker_window()
    cross = F.coalesce(
        rolling_mean("close", fast, w) > rolling_mean("close", lagging, w),
        F.lit(False),
    )
    df = bars.select(
        "ticker",
        F.lit(run_id).cast("long").alias("run_id"),
        "date",
        "close",
        cross.alias("cross"),
    )
    prev = F.lag("cross").over(ticker_window())
    edges = df.withColumn(
        "changed", prev.isNull() | (F.col("cross") != prev)
    ).filter("changed")
    return edges.select(
        "ticker",
        "run_id",
        "date",
        "close",
        F.when(F.col("cross"), F.lit("buy")).otherwise(F.lit("sell")).alias("action"),
    )


def ma_cross_feed_grid(bars: DataFrame, params) -> DataFrame:
    """Kernel feed for MA-cross runs (a ``Backtest``'s one point or a
    sweep's grid): each ticker's bar series once,
    as (ticker, run_id=0, date, close, action=NULL) — one row per bar,
    not one per bar and grid point. The grid's signals are not built
    here: ``run_kernel(feed, ..., runs=params)`` computes every
    point's MA-cross edges over this series inside the kernel (see
    ``operators/kernel.py:_run_grid``). The series is the same for
    every grid; ``params`` (the (run_id, fast, lagging) rows) only
    names the grid it feeds."""
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

"""Seeded inputs, the timed operations, their digests and the DuckDB
oracle check.

Each workload is one thing an analyst does with the backtester:

* ``universe_backtest`` -- one MA-cross backtest over a ticker universe
  with a benchmark series attached; metrics and the order ledger are
  forced.  The only workload on portfolio and metrics.  At 32 tickers
  the executors are busy for about half of an operation (README), so it
  is partly data-bound, not fully.
* ``param_sweep`` -- ``grid_search`` of a 63-point (fast, lagging) grid
  over two tickers.  Many short kernel runs keyed on (ticker, run_id),
  the multi-window grid feed, the events telescope and the optimizer's
  eager jobs.

The program under test only ever sees the generated bars; the seed
decides the prices.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass

import numpy as np
import pandas as pd

INITIAL = 10_000.0  # the kernel oracle starts every run at 10,000
BARS_PER_TICKER = 2_500  # ten years of trading days
FAST, LAGGING = 20, 100
GRID_FAST = (5, 50, 5)  # 9 values
GRID_LAGGING = (60, 200, 20)  # 7 values -> 63 grid points
ORACLE_TICKERS = 3

# tickers per workload
SIZES = {"universe_backtest": 32, "param_sweep": 2}


def make_bars(seed: int, n_tickers: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Geometric random-walk OHLCV bars for ``n_tickers`` tickers over a
    shared business-day calendar, plus a benchmark index on the same
    calendar.  Same seed, same frames."""
    rng = np.random.default_rng(seed)
    dates = pd.bdate_range("2010-01-04", periods=BARS_PER_TICKER).date
    n = BARS_PER_TICKER
    frames = []
    for i in range(n_tickers):
        # one drift and volatility for every ticker: the seed moves the
        # price paths, not the statistics that set the number of trades
        close = 50.0 * np.exp(np.cumsum(rng.normal(0.0002, 0.018, n)))
        spread = close * rng.uniform(0.0, 0.01, n)
        open_ = close * (1.0 + rng.normal(0.0, 0.003, n))
        frames.append(
            pd.DataFrame(
                {
                    "ticker": f"t{i:03d}",
                    "date": dates,
                    "open": open_,
                    "high": np.maximum(open_, close) + spread,
                    "low": np.minimum(open_, close) - spread,
                    "close": close,
                    "volume": rng.integers(10_000, 1_000_000, n),
                }
            )
        )
    bars = pd.concat(frames, ignore_index=True)
    index = 1_000.0 * np.exp(np.cumsum(rng.normal(0.0003, 0.01, n)))
    bench = pd.DataFrame({"date": dates, "sp500": index})
    return bars, bench


@dataclass
class Inputs:
    """One workload's generated inputs, in pandas and in the session."""

    bars: object  # pyspark DataFrame, loaded back from parquet
    bench: object  # pyspark DataFrame (date, sp500), or None
    bars_pd: pd.DataFrame
    bench_pd: pd.DataFrame
    seed: int
    path: str


def write_inputs(spark, seed: int, workload: str, path: str, samples=None) -> Inputs:
    """Generate the workload's bars, write them through
    ``sources.bars.write_bars_parquet`` and load them back."""
    from strat_backtest_spark.sources.bars import write_bars_parquet

    from perfbench.layers import timed

    bars_pd, bench_pd = make_bars(seed, SIZES[workload])
    df = spark.createDataFrame(bars_pd)
    with timed(samples, "sources.write_s"):
        write_bars_parquet(df, path)
    keep_bench = workload == "universe_backtest"
    return load_inputs(spark, Inputs(None, None, bars_pd, bench_pd if keep_bench else None, seed, path))


def load_inputs(spark, inp: Inputs) -> Inputs:
    """(Re)load written inputs into ``spark``'s session."""
    from strat_backtest_spark.sources.bars import load_bars_parquet

    inp.bars = load_bars_parquet(spark, inp.path)
    inp.bench = None if inp.bench_pd is None else spark.createDataFrame(inp.bench_pd)
    return inp


def _canon(value) -> str:
    """Stable text for one output value.  Floats keep 12 significant
    digits: a last-bit difference from shuffle order then changes the
    digest only when it straddles a rounding boundary, while any real
    change in a result does change it."""
    if isinstance(value, float):
        return "nan" if math.isnan(value) else f"{value:.12g}"
    return str(value)


def digest(rows) -> str:
    lines = sorted("|".join(_canon(v) for v in row) for row in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


# --- the timed operations -------------------------------------------------
# Each returns (digest, checkable) where ``checkable`` is a list of
# (ticker, fast, lagging, final net worth) the oracle can verify.


def op_universe_backtest(spark, inp: Inputs):
    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy

    with Backtest(
        inp.bars, INITIAL, MACrossStrategy(FAST, LAGGING), benchmark=inp.bench
    ) as bt:
        bt.run()
        metrics = bt.metrics().collect()
        orders = bt.orders.collect()
    d = digest([tuple(r) for r in metrics] + [tuple(r) for r in orders])
    finals = [(r["ticker"], FAST, LAGGING, r["end_amount"]) for r in metrics]
    return d, finals


def op_param_sweep(spark, inp: Inputs):
    from strat_backtest_spark.operators.optimize import grid_search

    best = grid_search(inp.bars, INITIAL, GRID_FAST, GRID_LAGGING).collect()
    d = digest([tuple(r) for r in best])
    finals = [(r["ticker"], r["fast"], r["lagging"], r["net_worth"]) for r in best]
    return d, finals


OPS = {
    "universe_backtest": op_universe_backtest,
    "param_sweep": op_param_sweep,
}


# --- correctness against the DuckDB kernel oracle -------------------------


def oracle_net_worth(bars_pd: pd.DataFrame, ticker: str, fast: int, lagging: int) -> float:
    """Final net worth of one MA-cross run, folded by the recursive-CTE
    order-book oracle in ``plans/kernel_oracle.py`` with the bars
    registered as its ``events`` view."""
    import duckdb

    from strat_backtest_spark.plans.kernel_oracle import _ma_kernel_sim_sql

    one = bars_pd[bars_pd["ticker"] == ticker]
    events = pd.DataFrame(
        {
            "user_id": one["ticker"].to_numpy(),
            "ts": pd.to_datetime(one["date"]),
            "value": one["close"].to_numpy(),
            "event_id": np.arange(len(one)),
        }
    )
    sql = _ma_kernel_sim_sql(
        [(0, fast, lagging)],
        final_select=f"""
    SELECT (((coalesce(f.tsh, 0.0) * lc.lc) - coalesce(f.cb, 0.0))
            + coalesce(f.cs, 0.0)) + {INITIAL!r} AS nw
    FROM last_close lc LEFT JOIN finals f ON f.ticker = lc.ticker""",
    )
    con = duckdb.connect()
    try:
        con.register("events", events)
        return float(con.sql(sql).fetchone()[0])
    finally:
        con.close()


def check_against_oracle(inp: Inputs, finals) -> list[str]:
    """Compare up to ORACLE_TICKERS seeded-sampled (ticker, params, net
    worth) results of an operation with the oracle; return mismatches.
    The Spark side may be rounded to 4 decimals (grid output)."""
    rng = np.random.default_rng(inp.seed)
    picks = rng.choice(len(finals), size=min(ORACLE_TICKERS, len(finals)), replace=False)
    bad = []
    for i in sorted(picks):
        ticker, f, l, got = finals[i]
        want = oracle_net_worth(inp.bars_pd, ticker, int(f), int(l))
        if not abs(got - want) <= 1e-4 + 1e-9 * abs(want):
            bad.append(f"{ticker} ({f},{l}): spark {got!r} != oracle {want!r}")
    return bad

"""Differential test for the §2.11 metrics suite: a pandas oracle
replicating the REFERENCE formulas verbatim (strats.py:657-789,
including quirks Q6 and Q9-Q12) against ``compute_metrics`` +
``attach_benchmark(mode='positional')``.

Two calendars are exercised: one aligned with the portfolio, and one
with benchmark-only days plus a missing day — the pd.concat(axis=1)
outer-join alignment path the reference actually takes. The engine's
own output on both calendars is also pinned exactly, and the positional
benchmark attach is held to the full outer join it replaced."""

from __future__ import annotations

import math
from datetime import date

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

RF = 0.03
INIT = 10_000.0


def _portfolio_pdf() -> pd.DataFrame:
    dates = pd.bdate_range("2018-01-02", periods=420)  # > 1 year: years >= 1
    rng = np.random.default_rng(7)
    nw = INIT * np.cumprod(1 + rng.normal(0.0006, 0.01, len(dates)))
    return pd.DataFrame({"date": dates.date, "net_worth": nw})


def _benchmark_pdf(aligned: bool) -> pd.DataFrame:
    dates = pd.bdate_range("2018-01-02", periods=420)
    if not aligned:
        # drop one portfolio day, add two benchmark-only days
        keep = dates.delete(100)
        extra = pd.DatetimeIndex([pd.Timestamp("2018-03-03"), pd.Timestamp("2018-07-07")])
        dates = keep.append(extra).sort_values()
    rng = np.random.default_rng(11)
    sp = 2700 * np.cumprod(1 + rng.normal(0.0004, 0.008, len(dates)))
    return pd.DataFrame({"date": dates.date, "sp500": sp})


def _orders_pdf() -> pd.DataFrame:
    rows = [
        # start,        end,          profit, filled, start_amount, num_shares
        ("2018-02-01", "2018-03-01", 500.0, True, 100.0, 10),
        ("2018-04-02", "2018-05-01", -200.0, True, 110.0, 9),
        ("2018-06-01", "2018-08-01", 900.0, True, 120.0, 8),
        ("2018-09-03", "2018-10-01", -150.0, False, 130.0, 7),
    ]
    df = pd.DataFrame(
        rows,
        columns=["start_time", "end_time", "profit", "filled", "start_amount", "num_shares"],
    )
    df["start_time"] = pd.to_datetime(df["start_time"]).dt.date
    df["end_time"] = pd.to_datetime(df["end_time"]).dt.date
    return df


def _reference_stats(port: pd.DataFrame, bench: pd.DataFrame, orders: pd.DataFrame) -> dict:
    """The reference metrics() block, formula for formula
    (strats.py:657-789), with the risk-free rate injected."""
    backtest = port.set_index(pd.to_datetime(port["date"]))[["net_worth"]]
    market = bench.set_index(pd.to_datetime(bench["date"]))["sp500"]
    # strats.py:592-600 — truncate to <= last date, tail(len), concat on index
    market_data = pd.DataFrame(
        {"SP500": market.loc[: backtest.index[-1]].tail(len(backtest))}
    )
    backtest = pd.concat([backtest, market_data], axis=1)

    start_amount, end_amount = INIT, backtest.net_worth.iloc[-1]
    tp = backtest.index
    stats = {}
    stats["end_amount"] = end_amount
    stats["average_hold_time_days"] = (
        (pd.to_datetime(orders.end_time) - pd.to_datetime(orders.start_time)).mean().days
        + (pd.to_datetime(orders.end_time) - pd.to_datetime(orders.start_time)).mean().seconds / 86400.0
    )
    stats["average_losses"] = orders.loc[orders.profit < 0].profit.mean()
    stats["average_profits"] = orders.loc[orders.profit > 0].profit.mean()
    stats["biggest_loss"] = orders.loc[orders.profit < 0].profit.min()
    stats["biggest_win"] = orders.profit.max()
    years = (tp[-1] - tp[0]).days // 365
    stats["cagr_pct"] = ((end_amount / start_amount) ** (1 / years) - 1) * 100
    rolling_max = backtest.net_worth.cummax()
    drawdown = backtest.net_worth / rolling_max - 1
    stats["max_drawdown_pct"] = drawdown.min() * 100
    stats["avg_drawdown_pct"] = drawdown.mean() * 100
    stats["net_profit"] = end_amount - start_amount
    loss = orders.loc[orders.profit < 0].profit.sum()
    profit = orders.loc[orders.profit > 0].profit.sum()
    if loss == 0 or np.isnan(loss):
        loss = -1
    stats["profit_factor"] = profit / -loss
    total_gain = orders.groupby("filled").profit.sum()[1]
    total_risked = (orders.start_amount * orders.num_shares).sum()
    stats["risk_reward"] = total_gain / total_risked
    pct = backtest.net_worth.pct_change(fill_method="pad")
    annual_er = (pct.mean() + 1) ** 255 - 1
    stats["sharpe_ratio"] = (annual_er - RF) / (pct.std() * math.sqrt(252))
    stats["volatility_annualized"] = pct.std() * math.sqrt(252)
    mpct = backtest.SP500.pct_change(fill_method="pad")
    covariance = ((pct - pct.mean()) * (mpct - mpct.mean())).sum() / len(backtest)
    variance = pct.var()
    stats["beta"] = covariance / variance
    stock_return = (backtest.net_worth.iloc[-1] - backtest.net_worth.iloc[0]) / backtest.net_worth.iloc[0]
    stats["alpha"] = stock_return - RF - stats["beta"] * ((backtest.SP500.iloc[-1] / backtest.SP500.iloc[0] - 1) - RF)
    stats["r_squared"] = covariance / (math.sqrt(variance) * mpct.std())
    return stats


def _spark_stats(spark, aligned: bool) -> dict:
    """``compute_metrics`` + ``attach_benchmark(mode='positional')`` on
    the same frames the reference oracle reads, as one row dict."""
    from strat_backtest_spark.operators.metrics import compute_metrics
    from strat_backtest_spark.operators.portfolio import attach_benchmark

    port_pdf, bench_pdf, orders_pdf = _portfolio_pdf(), _benchmark_pdf(aligned), _orders_pdf()
    port = spark.createDataFrame(port_pdf).select(
        F.lit("tst").alias("ticker"), F.lit(0).cast("long").alias("run_id"),
        F.col("date").cast("date"), "net_worth",
    )
    bench = spark.createDataFrame(bench_pdf).select(
        F.col("date").cast("date"), "sp500"
    )
    orders = spark.createDataFrame(orders_pdf).select(
        F.lit("tst").alias("ticker"), F.lit(0).cast("long").alias("run_id"),
        F.col("start_time").cast("date"), F.col("end_time").cast("date"),
        "profit", "filled", "start_amount", "num_shares",
    )

    with_bench = attach_benchmark(port, bench, mode="positional")
    got = compute_metrics(with_bench, orders, INIT, risk_free_rate=RF).collect()
    assert len(got) == 1
    return got[0].asDict()


CALENDARS = pytest.mark.parametrize(
    "aligned", [True, False], ids=["same-calendar", "calendar-mismatch"]
)


@CALENDARS
def test_metrics_match_reference_formulas(spark, aligned):
    expected = _reference_stats(_portfolio_pdf(), _benchmark_pdf(aligned), _orders_pdf())
    row = _spark_stats(spark, aligned)
    for k, exp in expected.items():
        act = row[k]
        if isinstance(exp, float) and math.isnan(exp):
            # the engine's null is pandas' NaN (e.g. alpha when the
            # truncated benchmark starts after the portfolio)
            assert act is None or math.isnan(act), f"{k}: {act} != NaN"
            continue
        assert act is not None, f"{k}: got null, expected {exp}"
        assert act == pytest.approx(exp, rel=1e-9, abs=1e-9), f"{k}: {act} != {exp}"


# compute_metrics' exact output on both calendars, bit for bit: the
# pandas formulas above agree only to ~1e-9, so these pin the Spark
# expression trees (operand order, literal types, the ^255 sharpe
# chain) against any rewrite of how they are built.
_SHARED = {
    "ticker": "tst",
    "run_id": 0,
    "start_time": date(2018, 1, 2),
    "end_time": date(2019, 8, 12),
    "start_amount": 10000.0,
    "end_amount": 8565.829161591613,
    "average_hold_time_days": 36.5,
    "average_losses": -175.0,
    "average_profits": 700.0,
    "biggest_loss": -200.0,
    "biggest_win": 900.0,
    "cagr_pct": -14.341708384083862,
    "max_drawdown_pct": -25.983777665527874,
    "avg_drawdown_pct": -15.63470277795957,
    "net_profit": -1434.1708384083868,
    "profit_factor": 4.0,
    "risk_reward": 0.31088082901554404,
}
EXACT = {
    True: {
        **_SHARED,
        "sharpe_ratio": -0.7424028735932622,
        "volatility_annualized": 0.14828305913835976,
        "beta": 0.031824714779202054,
        "alpha": -0.18477835942062476,
        "r_squared": 0.0388672651592363,
    },
    False: {
        **_SHARED,
        "sharpe_ratio": -0.7417077629751897,
        "volatility_annualized": 0.14793001535884914,
        "beta": 0.03984137248748818,
        "alpha": None,
        "r_squared": 0.0487092304329551,
    },
}


@CALENDARS
def test_metrics_exact_values(spark, aligned):
    row = _spark_stats(spark, aligned)
    assert list(row) == list(EXACT[aligned])
    for k, want in EXACT[aligned].items():
        assert repr(row[k]) == repr(want), k


def test_attach_benchmark_positional_equals_full_outer_join(spark):
    """attach_benchmark mode='positional' (union + single-non-null
    merge) must equal the full-outer-join construction it replaced —
    including benchmark-only calendar rows (null portfolio columns) and
    portfolio-only rows (null sp500)."""
    from pyspark.sql import Window

    from strat_backtest_spark.operators.portfolio import attach_benchmark

    # two groups with different lengths/last dates; portfolio calendar
    # deliberately missing one benchmark day (d3) and containing one
    # day the benchmark lacks (d4)
    d = [date(2024, 1, i) for i in range(1, 9)]
    portfolio = spark.createDataFrame(
        [
            ("a", 0, d[0], 10.0, "buy", 100.0),
            ("a", 0, d[1], 11.0, None, 101.0),
            ("a", 0, d[3], 12.0, None, 102.0),   # not a benchmark day
            ("a", 0, d[4], 13.0, "sell", 103.0),
            ("b", 0, d[1], 20.0, None, 200.0),
            ("b", 0, d[2], 21.0, None, 201.0),
        ],
        "ticker string, run_id long, date date, close double, "
        "action string, net_worth double",
    )
    benchmark = spark.createDataFrame(
        [(d[0], 1.0), (d[1], 2.0), (d[2], 3.0), (d[4], 5.0), (d[5], 6.0)],
        "date date, sp500 double",
    )

    new = attach_benchmark(portfolio, benchmark, mode="positional")

    # the full-outer-join construction: each group's last __n benchmark
    # days up to its last date, joined on (ticker, run_id, date)
    stats = portfolio.groupBy("ticker", "run_id").agg(
        F.max("date").alias("__last_date"), F.count(F.lit(1)).alias("__n")
    )
    b = benchmark.join(F.broadcast(stats), F.col("date") <= F.col("__last_date"))
    wb = Window.partitionBy("ticker", "run_id").orderBy(F.col("date").desc())
    b = (
        b.withColumn("__rfe", F.row_number().over(wb))
        .filter(F.col("__rfe") <= F.col("__n"))
        .select("ticker", "run_id", "date", "sp500")
    )
    old = portfolio.join(b, ["ticker", "run_id", "date"], "full_outer")

    def rows(df):
        return sorted(tuple(r) for r in df.select(*df.columns).collect())

    assert new.columns == old.columns
    assert rows(new) == rows(old)
    # the merge must actually produce benchmark-only rows
    assert any(r["close"] is None for r in new.collect())

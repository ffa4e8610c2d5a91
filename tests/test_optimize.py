"""Optimizer objective parity: evaluate_params, which computes its
MA-cross signals inside the kernel, must score every (ticker, run)
exactly as the Spark-window reference path — ``signal_feed`` →
``run_kernel`` (action feed) → ``final_net_worth_from_events`` — and
the reference's README grid must reproduce the golden best point."""

from datetime import date, timedelta

import numpy as np
import pytest

from conftest import SF_SMALL


def _spark_window_finals(bars, fast, lagging):
    """ticker -> final net worth of one MA-cross point, with its
    signals built by Spark windows (``MACrossStrategy.signal_feed``),
    not by the kernel."""
    from strat_backtest_spark.operators.kernel import run_kernel, split_kernel_output
    from strat_backtest_spark.operators.portfolio import final_net_worth_from_events
    from strat_backtest_spark.plans.backtest import MACrossStrategy

    strategy = MACrossStrategy(fast, lagging)
    kernel_out = run_kernel(
        strategy.signal_feed(bars), 10_000.0, params=strategy.kernel_params()
    )
    _, events = split_kernel_output(kernel_out)
    run_ids = bars.sparkSession.sql("SELECT CAST(0 AS BIGINT) AS run_id")
    return {
        r["ticker"]: r["net_worth"]
        for r in final_net_worth_from_events(bars, events, run_ids, 10_000.0).collect()
    }


def test_evaluate_params_matches_portfolio_finals(spark):
    from strat_backtest_spark.operators.optimize import evaluate_params, expand_grid
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.sources.bars import bars_from_events

    bars = bars_from_events(_t(spark, SF_SMALL, "events"))
    params = expand_grid(spark, (3, 7, 2), (8, 14, 5))
    got = {
        (r["ticker"], r["run_id"]): r["net_worth"]
        for r in evaluate_params(bars, params, 10_000.0).collect()
    }
    for p in params.collect():
        for ticker, want in _spark_window_finals(bars, p["fast"], p["lagging"]).items():
            assert got[(ticker, p["run_id"])] == pytest.approx(
                want, rel=1e-12
            ), (ticker, p["run_id"])


def _edge_shape_bars(spark):
    """Seeded random walks plus the edge shapes of the in-kernel signal
    path: a series shorter than every lagging window, a single bar, and
    flat closes. Flat 0.1 closes give SMAs that differ only in their
    last bits (summed 0.1s round differently per window length), so
    "ramp" buys on the flat stretch only if every sum is exact."""
    rng = np.random.default_rng(7)
    series = {
        "walk0": 50.0 * np.exp(np.cumsum(rng.normal(0.0, 0.02, 400))),
        # cent prices: ties between running sums are possible
        "walk1": np.round(20.0 * np.exp(np.cumsum(rng.normal(0.0, 0.03, 250))), 2),
        "short": 30.0 + rng.normal(0.0, 1.0, 6),
        "one": np.array([12.5]),
        "flat": np.full(60, 0.1),
        "ramp": np.concatenate((np.full(40, 0.1), 0.1 + 0.01 * np.arange(1, 21))),
    }
    d0 = date(2020, 1, 1)
    rows = [
        (t, d0 + timedelta(days=i), float(c))
        for t, closes in series.items()
        for i, c in enumerate(closes)
    ]
    return spark.createDataFrame(rows, "ticker string, date date, close double")


def test_evaluate_params_equals_backtest_exactly(spark):
    """The sweep computes its MA-cross signals inside the kernel; every
    objective value must be the same double as the single-point
    reference path, which builds its signals with Spark windows. Covers
    fast < lagging, fast == lagging, fast > lagging and a length-1
    window."""
    from strat_backtest_spark.operators.optimize import evaluate_params

    bars = _edge_shape_bars(spark)
    rows = [(0, 3, 8), (1, 5, 20), (2, 8, 8), (3, 20, 5), (4, 1, 30)]
    got = {
        (r["ticker"], r["run_id"]): (r["fast"], r["lagging"], r["net_worth"])
        for r in evaluate_params(bars, rows, 10_000.0).collect()
    }
    assert len(got) == 6 * len(rows)
    for run_id, f, l in rows:
        for ticker, want in _spark_window_finals(bars, f, l).items():
            assert got[(ticker, run_id)] == (f, l, want), (ticker, f, l)
    # the walks trade; the edge shapes end at the initial amount
    assert got[("walk0", 0)][2] != 10_000.0
    assert got[("one", 0)][2] == got[("short", 1)][2] == 10_000.0


def test_evaluate_params_one_point_and_empty_grid(spark):
    from strat_backtest_spark.operators.optimize import evaluate_params

    bars = _edge_shape_bars(spark)
    one = evaluate_params(bars, [(7, 4, 12)], 10_000.0).collect()
    want = _spark_window_finals(bars, 4, 12)
    assert {r["ticker"]: (r["run_id"], r["net_worth"]) for r in one} == {
        t: (7, v) for t, v in want.items()
    }

    empty = evaluate_params(bars, [], 10_000.0)
    assert empty.dtypes == [
        ("run_id", "bigint"), ("ticker", "string"), ("net_worth", "double"),
        ("fast", "int"), ("lagging", "int"),
    ]
    assert empty.count() == 0


def test_evaluate_params_rejects_bad_input(spark):
    """A sweep fails loudly instead of scoring a series its Spark-window
    twin would read differently: a NaN close, or a window under 1."""
    from strat_backtest_spark.operators.optimize import evaluate_params

    bars = spark.createDataFrame(
        [("x", date(2020, 1, d), c) for d, c in ((1, 1.0), (2, float("nan")), (3, 2.0))],
        "ticker string, date date, close double",
    )
    with pytest.raises(Exception, match="non-finite close"):
        evaluate_params(bars, [(0, 1, 2)], 10_000.0).collect()
    with pytest.raises(ValueError, match="at least 1"):
        evaluate_params(bars, [(0, 0, 2)], 10_000.0)


def test_params_local_relation_empty_grid(spark):
    """expand_grid over an empty range must return an empty typed
    relation, not raise a ParseException (VALUES with no rows)."""
    from strat_backtest_spark.operators.optimize import expand_grid

    df = expand_grid(spark, (3, 3, 1), (8, 14, 5))
    assert df.columns == ["run_id", "fast", "lagging"]
    assert df.count() == 0


def test_final_net_worth_universe_from_last_bar(spark):
    """final_net_worth_from_events must emit one row per
    (bars ticker × run_id) with init-only net worth for zero-trade
    groups — the last_bar-driven universe rewrite's contract."""
    from strat_backtest_spark.operators.portfolio import (
        final_net_worth_from_events,
    )
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.sources.bars import bars_from_events

    bars = bars_from_events(_t(spark, SF_SMALL, "events"))
    run_ids = spark.sql("SELECT * FROM VALUES (0L),(7L) AS t(run_id)")
    # empty event stream: every group must still appear, at exactly init
    events = spark.createDataFrame(
        [],
        "ticker string, run_id long, date date, buy_shares double, "
        "sell_shares double, shares_owned double, event_close double",
    )
    out = final_net_worth_from_events(bars, events, run_ids, 10_000.0)
    tickers = {r[0] for r in bars.select("ticker").distinct().collect()}
    got = out.collect()
    assert len(got) == 2 * len(tickers)
    assert {(r["ticker"], r["run_id"]) for r in got} == {
        (t, i) for t in tickers for i in (0, 7)
    }
    assert all(r["net_worth"] == 10_000.0 for r in got)


def test_grid_search_reproduces_reference_golden(spark):
    """README grid fast=[36,42,2] x lagging=[40,210,10] on AAPL
    last-10Y: best point is (36,40) with net worth 1,283,666.449897766
    (reference tests/test_strat.py:13 + README.md:100-106)."""
    from strat_backtest_spark.operators.optimize import grid_search
    from strat_backtest_spark.sources.bars import load_bars_csv

    bars = load_bars_csv(
        spark, "/root/reference/strat_backtest/data/aapl.csv"
    ).filter("date > '2012-12-31'")
    best = grid_search(
        bars, 5000.0, fast_range=(36, 42, 2), lagging_range=(40, 210, 10)
    ).collect()
    assert len(best) == 1
    assert (best[0]["fast"], best[0]["lagging"]) == (36, 40)
    assert best[0]["net_worth"] == pytest.approx(1283666.449897766, rel=1e-9)

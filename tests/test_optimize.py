"""Optimizer objective parity: evaluate_params' telescoped final-net-
worth aggregation must equal the full build_portfolio curve's last
point for every (ticker, run) — and the reference's README grid must
reproduce the golden best point."""

from datetime import date, timedelta

import numpy as np
import pytest

from conftest import SF_SMALL


def test_evaluate_params_matches_portfolio_finals(spark):
    from strat_backtest_spark.operators.optimize import evaluate_params, expand_grid
    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.sources.bars import bars_from_events

    bars = bars_from_events(_t(spark, SF_SMALL, "events"))
    params = expand_grid(spark, (3, 7, 2), (8, 14, 5))
    got = {
        (r["ticker"], r["run_id"]): r["net_worth"]
        for r in evaluate_params(bars, params, 10_000.0).collect()
    }
    for p in params.collect():
        bt = Backtest(
            bars, 10_000.0, MACrossStrategy(p["fast"], p["lagging"])
        )
        for r in bt.final_net_worth().collect():
            want = r["net_worth"]
            assert got[(r["ticker"], p["run_id"])] == pytest.approx(
                want, rel=1e-12
            ), (r["ticker"], p["run_id"])
        bt.release()


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


def _backtest_finals(bars, fast, lagging):
    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy

    bt = Backtest(bars, 10_000.0, MACrossStrategy(fast, lagging))
    return {r["ticker"]: r["net_worth"] for r in bt.final_net_worth().collect()}


def test_evaluate_params_equals_backtest_exactly(spark):
    """The sweep computes its MA-cross signals inside the kernel; every
    objective value must be the same double as a single-point Backtest,
    which builds its signals with Spark windows. Covers fast < lagging,
    fast == lagging, fast > lagging and a length-1 window."""
    from strat_backtest_spark.operators.optimize import evaluate_params

    bars = _edge_shape_bars(spark)
    rows = [(0, 3, 8), (1, 5, 20), (2, 8, 8), (3, 20, 5), (4, 1, 30)]
    got = {
        (r["ticker"], r["run_id"]): (r["fast"], r["lagging"], r["net_worth"])
        for r in evaluate_params(bars, rows, 10_000.0).collect()
    }
    assert len(got) == 6 * len(rows)
    for run_id, f, l in rows:
        for ticker, want in _backtest_finals(bars, f, l).items():
            assert got[(ticker, run_id)] == (f, l, want), (ticker, f, l)
    # the walks trade; the edge shapes end at the initial amount
    assert got[("walk0", 0)][2] != 10_000.0
    assert got[("one", 0)][2] == got[("short", 1)][2] == 10_000.0


def test_evaluate_params_one_point_and_empty_grid(spark):
    from strat_backtest_spark.operators.optimize import evaluate_params

    bars = _edge_shape_bars(spark)
    one = evaluate_params(bars, [(7, 4, 12)], 10_000.0).collect()
    want = _backtest_finals(bars, 4, 12)
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

"""Exact differential test of ``Backtest``: the kernel computes the
MA-cross signals and the daily net-worth curve itself, so every output
must be the same double, compared by ``repr``, as the Spark-side
reference chain ``signal_feed`` → ``run_kernel`` (action feed) →
``build_portfolio`` → ``attach_benchmark`` → ``compute_metrics``."""

from datetime import date, timedelta

import numpy as np
import pytest

INIT = 10_000.0
N_DAYS = 300


@pytest.fixture(scope="module")
def bars_and_benchmark(spark):
    """Seeded walks plus the edge shapes: a late-starting ticker, a
    series shorter than the lagging windows, one bar and flat closes.
    The benchmark misses two days inside the late ticker's span, so the
    positional (Q6) attach reaches back before its first bar and leaves
    benchmark-only rows in its portfolio."""
    rng = np.random.default_rng(5)
    series = {  # ticker: (first day, closes)
        "walk0": (0, 50.0 * np.exp(np.cumsum(rng.normal(0.0, 0.02, N_DAYS)))),
        # cent prices: ties between running sums are possible
        "walk1": (0, np.round(20.0 * np.exp(np.cumsum(rng.normal(0.0, 0.03, N_DAYS))), 2)),
        "late": (120, 40.0 * np.exp(np.cumsum(rng.normal(0.0, 0.025, N_DAYS - 120)))),
        "short": (0, 30.0 + rng.normal(0.0, 1.0, 6)),
        "one": (0, np.array([12.5])),
        "flat": (0, np.full(60, 0.1)),
    }
    d0 = date(2020, 1, 1)
    bars = spark.createDataFrame(
        [
            (t, d0 + timedelta(days=first + i), float(c))
            for t, (first, closes) in series.items()
            for i, c in enumerate(closes)
        ],
        "ticker string, date date, close double",
    ).localCheckpoint()
    index = 1_000.0 * np.exp(np.cumsum(rng.normal(0.0, 0.01, N_DAYS)))
    bench = spark.createDataFrame(
        [
            (d0 + timedelta(days=i), float(v))
            for i, v in enumerate(index)
            if i not in (200, 201)
        ],
        "date date, sp500 double",
    ).localCheckpoint()
    return bars, bench


def _reference(bars, bench, strategy, parity):
    """The Spark-side chain the kernel curve replaces."""
    from pyspark.sql import functions as F

    from strat_backtest_spark.operators.kernel import run_kernel, split_kernel_output
    from strat_backtest_spark.operators.metrics import compute_metrics
    from strat_backtest_spark.operators.portfolio import (
        attach_benchmark,
        build_portfolio,
        final_net_worth_from_events,
    )

    feed = strategy.signal_feed(bars)
    kernel_out = run_kernel(
        feed, INIT, strategy=strategy.kernel_driver,
        params=strategy.kernel_params(), parity=parity,
    ).localCheckpoint()
    orders, events = split_kernel_output(kernel_out)
    port = build_portfolio(feed, events, INIT)
    if bench is not None:
        port = attach_benchmark(port, bench, mode="positional" if parity else "date")
    run_ids = bars.sparkSession.sql("SELECT CAST(0 AS BIGINT) AS run_id")
    return {
        "portfolio": port,
        "metrics": compute_metrics(port, orders, INIT),
        "orders": orders,
        "final": final_net_worth_from_events(bars, events, run_ids, INIT),
        "last_point": port.groupBy("ticker", "run_id").agg(
            F.max_by("net_worth", "date").alias("net_worth")
        ),
    }


def _rows(df, keys):
    idx = [df.columns.index(k) for k in keys]
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda t: tuple(t[i] for i in idx)
    )


def _assert_same(got, want, keys, what):
    assert got.dtypes == want.dtypes, what
    g, w = _rows(got, keys), _rows(want, keys)
    assert len(g) == len(w), what
    for a, b in zip(g, w):
        assert repr(a) == repr(b), f"{what}: {a!r} != {b!r}"


def _strategies():
    from strat_backtest_spark.plans.backtest import BandStrategy, MACrossStrategy

    return {
        "ma3x8": (MACrossStrategy(3, 8), True, True),
        "ma5x20_no_benchmark": (MACrossStrategy(5, 20), True, False),
        "fast_eq_lagging": (MACrossStrategy(8, 8), True, True),
        "fast_gt_lagging": (MACrossStrategy(20, 5), True, True),
        "stop_loss": (MACrossStrategy(3, 8, stop_loss_pct=0.95), True, True),
        "sell_shares": (MACrossStrategy(3, 8, sell_shares=2.0), True, True),
        "band": (BandStrategy(), True, True),
        "no_parity": (MACrossStrategy(3, 8), False, True),
    }


@pytest.mark.parametrize("case", list(_strategies()))
def test_backtest_equals_spark_reference_exactly(bars_and_benchmark, case):
    from strat_backtest_spark.plans.backtest import Backtest

    strategy, parity, with_bench = _strategies()[case]
    bars, bench = bars_and_benchmark
    bench = bench if with_bench else None
    want = _reference(bars, bench, strategy, parity)

    fresh = Backtest(bars, INIT, strategy, parity=parity)
    _assert_same(fresh.final_net_worth(), want["final"], ["ticker"], "final_net_worth")
    with Backtest(bars, INIT, strategy, benchmark=bench, parity=parity) as bt:
        port = bt.run()
        _assert_same(port, want["portfolio"], ["ticker", "run_id", "date"], "portfolio")
        _assert_same(bt.metrics(), want["metrics"], ["ticker"], "metrics")
        _assert_same(bt.orders, want["orders"], ["ticker", "order_id"], "orders")
        _assert_same(
            bt.final_net_worth(), want["last_point"], ["ticker"], "final after run"
        )
        if case == "ma3x8":
            # the walks trade, and the late ticker's portfolio carries
            # benchmark-only rows (null net worth) from the Q6 attach
            orders = bt.orders.collect()
            assert {r["ticker"] for r in orders} >= {"walk0", "walk1", "late"}
            late = [r for r in port.collect() if r["ticker"] == "late"]
            assert any(r["net_worth"] is None for r in late)


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), None])
def test_backtest_refuses_bad_close(spark, bad):
    """An MA-cross backtest fails with a ValueError naming the ticker
    on a null or non-finite close, from run() and final_net_worth()."""
    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy

    bars = spark.createDataFrame(
        [("ok", date(2020, 1, d), 1.0 + d) for d in range(1, 6)]
        + [("bad", date(2020, 1, d), bad if d == 3 else 1.0 + d) for d in range(1, 6)],
        "ticker string, date date, close double",
    )
    with pytest.raises(Exception, match="ValueError: ticker 'bad': null or non-finite close"):
        with Backtest(bars, INIT, MACrossStrategy(1, 2)) as bt:
            bt.run().collect()
    with pytest.raises(Exception, match="ValueError: ticker 'bad': null or non-finite close"):
        Backtest(bars, INIT, MACrossStrategy(1, 2)).final_net_worth().collect()

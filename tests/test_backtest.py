"""Exact differential test of ``Backtest``: the kernel computes the
MA-cross signals, the daily net-worth curve, the benchmark attach and
the metric aggregates itself, so every output must be the same double,
compared by ``repr``, as the Spark-side reference chain: the kernel's
trade events (``run_kernel(bars, ..., runs=strategy.kernel_runs())``)
→ ``build_portfolio`` over ``signal_feed`` (the plain bars for the
band) → ``attach_benchmark`` → ``compute_metrics``. Also the run-spec
edge shapes (each spec alone equals itself in a mixed ``runs=`` list)
and the bars contract: duplicate dates, bad closes and a duplicate
benchmark date fail by name."""

from datetime import date, timedelta

import numpy as np
import pytest

INIT = 10_000.0
N_DAYS = 300


@pytest.fixture(scope="module")
def bars_and_benchmark(spark):
    """Seeded walks plus the edge shapes: a late-starting ticker, a
    series shorter than the lagging windows, one bar and flat closes.
    Benchmark calendars, by name:

    - ``gappy`` misses two days inside the late ticker's span, so the
      positional (Q6) attach reaches back before its first bar and
      leaves benchmark-only rows in its portfolio;
    - ``late`` starts after the first bar (null sp500_first, so alpha
      is null);
    - ``ends_early`` ends before the last bar (null sp500_last);
    - ``long`` runs past the last bar (Q6 drops the tail)."""
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
    index = 1_000.0 * np.exp(np.cumsum(rng.normal(0.0, 0.01, N_DAYS + 40)))
    days = {
        "gappy": [i for i in range(N_DAYS) if i not in (200, 201)],
        "late": range(30, N_DAYS),
        "ends_early": range(N_DAYS - 50),
        "long": range(N_DAYS + 40),
    }
    benches = {
        name: spark.createDataFrame(
            [(d0 + timedelta(days=i), float(index[i])) for i in keep],
            "date date, sp500 double",
        ).localCheckpoint()
        for name, keep in days.items()
    }
    return bars, benches


def _reference(bars, bench, strategy, parity, rf):
    """The Spark-side chain the kernel curve, attach and stats replace,
    over the kernel's trade events. The MA-cross curve is built over
    ``signal_feed``, so the kernel's signal ``action`` column is held to
    the Spark windows too; the band has no Spark-side signal form, and
    its curve is built over the plain bars with a null ``action``."""
    from pyspark.sql import functions as F

    from strat_backtest_spark.operators.kernel import run_kernel, split_kernel_output
    from strat_backtest_spark.operators.metrics import compute_metrics
    from strat_backtest_spark.operators.portfolio import (
        attach_benchmark,
        build_portfolio,
        final_net_worth_from_events,
    )
    from strat_backtest_spark.plans.backtest import BandStrategy

    if not isinstance(strategy, BandStrategy):
        feed = strategy.signal_feed(bars)
    else:
        feed = bars.selectExpr(
            "ticker", "CAST(0 AS BIGINT) AS run_id", "date", "close",
            "CAST(NULL AS STRING) AS action",
        )
    kernel_out = run_kernel(
        bars, INIT, runs=strategy.kernel_runs(), parity=parity
    ).localCheckpoint()
    orders, events = split_kernel_output(kernel_out)
    port = build_portfolio(feed, events, INIT)
    if bench is not None:
        port = attach_benchmark(port, bench, mode="positional" if parity else "date")
    run_ids = bars.sparkSession.sql("SELECT CAST(0 AS BIGINT) AS run_id")
    return {
        "portfolio": port,
        "metrics": compute_metrics(port, orders, INIT, rf),
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


def _assert_same(got, want, keys, what, drop=()):
    got, want = got.drop(*drop), want.drop(*drop)
    assert got.dtypes == want.dtypes, what
    g, w = _rows(got, keys), _rows(want, keys)
    assert len(g) == len(w), what
    for a, b in zip(g, w):
        assert repr(a) == repr(b), f"{what}: {a!r} != {b!r}"


def _strategies():
    """case: (strategy, parity, benchmark calendar or None, risk-free rate)."""
    from strat_backtest_spark.plans.backtest import BandStrategy, MACrossStrategy

    ma = MACrossStrategy(3, 8)
    return {
        "ma3x8": (ma, True, "gappy", 0.03),
        "ma5x20_no_benchmark": (MACrossStrategy(5, 20), True, None, 0.03),
        "fast_eq_lagging": (MACrossStrategy(8, 8), True, "gappy", 0.03),
        "fast_gt_lagging": (MACrossStrategy(20, 5), True, "gappy", 0.03),
        "stop_loss": (MACrossStrategy(3, 8, stop_loss_pct=0.95), True, "gappy", 0.03),
        "sell_shares": (MACrossStrategy(3, 8, sell_shares=2.0), True, "gappy", 0.03),
        "band": (BandStrategy(), True, "gappy", 0.03),
        "no_parity": (ma, False, "gappy", 0.03),
        "bench_late": (ma, True, "late", 0.05),
        "bench_late_no_parity": (ma, False, "late", 0.03),
        "bench_ends_early": (ma, True, "ends_early", 0.03),
        "bench_ends_early_no_parity": (ma, False, "ends_early", 0.03),
        "bench_long": (ma, True, "long", 0.03),
        "bench_long_no_parity": (ma, False, "long", 0.03),
    }


@pytest.mark.parametrize("case", list(_strategies()))
def test_backtest_equals_spark_reference_exactly(bars_and_benchmark, case):
    from strat_backtest_spark.plans.backtest import Backtest

    strategy, parity, calendar, rf = _strategies()[case]
    bars, benches = bars_and_benchmark
    bench = None if calendar is None else benches[calendar]
    want = _reference(bars, bench, strategy, parity, rf)

    fresh = Backtest(bars, INIT, strategy, parity=parity)
    _assert_same(fresh.final_net_worth(), want["final"], ["ticker"], "final_net_worth")
    with Backtest(bars, INIT, strategy, benchmark=bench, parity=parity) as bt:
        port = bt.run()
        # the band's action is its moves, which no Spark-side form has
        drop = ("action",) if case == "band" else ()
        _assert_same(
            port, want["portfolio"], ["ticker", "run_id", "date"], "portfolio", drop
        )
        metrics = bt.metrics() if rf == 0.03 else bt.metrics(risk_free_rate=rf)
        _assert_same(metrics, want["metrics"], ["ticker"], "metrics")
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
        if case == "band":
            # a buy on every ticker's first bar, then alternating moves
            moves = {}
            for r in sorted(port.collect(), key=lambda r: (r["ticker"], r["date"])):
                if r["close"] is not None and r["action"] is not None:
                    moves.setdefault(r["ticker"], []).append(r["action"])
            assert set(moves) == {"walk0", "walk1", "late", "short", "one", "flat"}
            for seq in moves.values():
                assert seq[::2] == ["buy"] * len(seq[::2])
                assert seq[1::2] == ["sell"] * len(seq[1::2])
            assert max(len(seq) for seq in moves.values()) > 2
        if calendar in ("late", "ends_early"):
            # walk0 spans the whole calendar: its first (late) or last
            # (ends_early) row has no benchmark value
            [walk0] = [r for r in metrics.collect() if r["ticker"] == "walk0"]
            assert walk0["alpha"] is None and walk0["beta"] is not None


def _spec_shapes():
    """shape: (closes, MA-cross spec). The stop shape buys on its fourth
    bar (30 > the 3-bar SMA) with a stop at 28.5; the next bar closes at
    28 while the cross holds, so the stop fires there, booked by the
    down-cross a bar later."""
    from strat_backtest_spark.operators.kernel import MACrossRun

    return {
        "one_bar": ([12.5], MACrossRun(0, 1, 3)),
        "shorter_than_windows": ([10.0, 11.0, 9.0, 12.0], MACrossRun(0, 5, 8)),
        "stop_next_bar": (
            [10.0, 10.0, 10.0, 30.0, 28.0, 10.0, 40.0, 41.0],
            MACrossRun(0, 1, 3, stop_loss_pct=0.95),
        ),
    }


def _kernel_rows(spark, closes, runs) -> list:
    """Every ``run_kernel(curve=True)`` row of ``runs`` over one ticker."""
    from strat_backtest_spark.operators.kernel import run_kernel

    bars = spark.createDataFrame(
        [("x", date(2020, 1, 1) + timedelta(days=i), c) for i, c in enumerate(closes)],
        "ticker string, date date, close double",
    )
    return run_kernel(bars, INIT, runs=runs, curve=True).collect()


@pytest.mark.parametrize("shape", list(_spec_shapes()))
def test_run_specs_alone_equal_mixed(spark, shape):
    """The edge shapes of the run-spec path — a single bar, a series
    shorter than every window, a stop that fires on the bar after the
    first buy — through both walks: every spec of a mixed MA-cross +
    band ``runs=`` list on one ticker emits exactly the rows it emits
    run alone (orders, events, curve and stats)."""
    from strat_backtest_spark.operators.kernel import BandRun

    closes, ma = _spec_shapes()[shape]
    partial = ma._replace(run_id=2, stop_loss_pct=None, sell_shares=2.0)
    runs = [ma, BandRun(1), partial, BandRun(3, 1.02, 0.97)]
    mixed = _kernel_rows(spark, closes, runs)
    alone = [r for spec in runs for r in _kernel_rows(spark, closes, [spec])]
    assert sorted(map(repr, mixed)) == sorted(map(repr, alone))
    orders = {}
    for r in mixed:
        if r["row_type"] == "order":
            orders.setdefault(r["run_id"], []).append(r)
    # the band buys on the first bar, whatever the shape
    assert min(o["start_time"] for o in orders[1]) == date(2020, 1, 1)
    if shape == "stop_next_bar":
        first = min(orders[0], key=lambda o: o["order_id"])
        assert (first["start_time"], first["end_time"]) == (date(2020, 1, 4), date(2020, 1, 5))
        assert (first["start_amount"], first["end_amount"]) == (30.0, 28.0)
    else:
        assert 0 not in orders  # the MA-cross warm-up never ends


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


def _bars_with(spark, ticker_rows):
    """One clean ticker plus ``ticker_rows``: (ticker, day, close)."""
    return spark.createDataFrame(
        [("ok", date(2020, 1, d), 1.0 + d) for d in range(1, 11)]
        + [(t, date(2020, 1, d), c) for t, d, c in ticker_rows],
        "ticker string, date date, close double",
    )


@pytest.mark.parametrize(
    "strategy,defect",
    [("ma", "duplicate"), ("band", "duplicate"), ("band", "nan")],
)
def test_backtest_refuses_broken_bars_contract(spark, strategy, defect):
    """Every strategy refuses a ticker whose dates repeat, and the band
    strategy a NaN close, naming the ticker and the first offending
    date, instead of simulating it."""
    from strat_backtest_spark.plans.backtest import (
        Backtest,
        BandStrategy,
        MACrossStrategy,
    )

    rows = [("bad", d, 2.0 + (d % 3)) for d in range(1, 11)]
    if defect == "duplicate":
        rows.append(("bad", 4, 9.0))
        match = "ValueError: ticker 'bad': duplicate or null date 2020-01-04"
    else:
        rows[5] = ("bad", 6, float("nan"))
        match = "ValueError: ticker 'bad': null or non-finite close on 2020-01-06"
    bars = _bars_with(spark, rows)
    strat = MACrossStrategy(1, 2) if strategy == "ma" else BandStrategy()
    with pytest.raises(Exception, match=match):
        with Backtest(bars, INIT, strat) as bt:
            bt.metrics().collect()
    with pytest.raises(Exception, match=match):
        Backtest(bars, INIT, strat).final_net_worth().collect()


def test_backtest_refuses_duplicate_benchmark_date(spark):
    """A benchmark with a repeated date has no defined alignment:
    ``run()`` refuses it on the driver, naming the date."""
    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy

    bars = _bars_with(spark, [])
    bench = spark.createDataFrame(
        [(date(2020, 1, d), 100.0 + d) for d in (1, 2, 3, 3, 4, 5)],
        "date date, sp500 double",
    )
    with pytest.raises(ValueError, match="benchmark: duplicate date 2020-01-03"):
        Backtest(bars, INIT, MACrossStrategy(1, 2), benchmark=bench).run()

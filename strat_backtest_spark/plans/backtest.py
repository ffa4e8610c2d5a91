"""The user-facing backtest plan (reference: Backtest,
strats.py:489-655).

A strategy here is a DECLARATIVE SPEC — the kernel run spec it stands
for (``kernel_runs()``) — not an eagerly-executing subclass (the
reference runs the whole simulation inside Strategy.__init__,
strats.py:551-554). ``Backtest.run()`` assembles one lazy DataFrame
graph:

    bars (one row per bar) → kernel (mapInPandas walker per ticker:
         the strategy's signals, simulation, net-worth curve,
         benchmark attach, metric aggregates) → cache
       ├─ order rows → orders
       ├─ bar rows   → portfolio (with sp500)
       └─ stats rows → metrics (one projection: finish_metrics)

Its one eager job is a plain ``collect()`` of the benchmark's (date,
sp500) rows, which the kernel receives as driver-side arrays
(``kernel.benchmark_series``); everything else executes at the first
action. Both strategies feed the kernel the plain bar series.
``MACrossStrategy.signal_feed`` (Spark windows),
``portfolio.build_portfolio`` (feed ⟕ events window algebra),
``portfolio.attach_benchmark`` and ``metrics.compute_metrics`` compute
the same signals, curve and stats on the Spark side; the tests hold
the kernel to them bit for bit.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from strat_backtest_spark.operators.kernel import (
    BandRun,
    MACrossRun,
    benchmark_series,
    kernel_stats,
    portfolio_curve,
    run_kernel,
    split_kernel_output,
)
from strat_backtest_spark.operators.metrics import finish_metrics
# build_portfolio, attach_benchmark and compute_metrics are not called
# here (the kernel emits the curve, the attached benchmark and the
# metric aggregates), but perfbench/layers.py wraps every backtest
# layer under its name in this module
from strat_backtest_spark.operators.metrics import compute_metrics  # noqa: F401
from strat_backtest_spark.operators.portfolio import attach_benchmark  # noqa: F401
from strat_backtest_spark.operators.portfolio import build_portfolio  # noqa: F401
from strat_backtest_spark.operators.signals import ma_cross_signal_feed


@dataclass
class MACrossStrategy:
    """MA-crossover spec (reference: MA_Cross_Strat,
    custom_strats.py:7-62)."""

    fast: int = 20
    lagging: int = 100
    stop_loss_pct: Optional[float] = None
    # sell a fixed share count per down-cross instead of whole-order
    # FIFO closes — routes through the engine's partial-fill path; the
    # kernel refuses it together with stop_loss_pct (kernel._check_runs)
    sell_shares: Optional[float] = None

    def signal_feed(self, bars: DataFrame, run_id: int = 0) -> DataFrame:
        """The Spark-side reference for the signals the kernel computes
        (``Backtest`` feeds the kernel the plain bar series)."""
        return ma_cross_signal_feed(bars, self.fast, self.lagging, run_id)

    def kernel_runs(self) -> list:
        """This strategy's one kernel run spec."""
        return [MACrossRun(
            0, int(self.fast), int(self.lagging), self.stop_loss_pct,
            -1 if self.sell_shares is None else self.sell_shares,
        )]


@dataclass
class BandStrategy:
    """Threshold-band spec (reference: Ten_Percent_Strat,
    custom_strats.py:65-101) — fully path-dependent; the kernel decides
    on every bar."""

    sell: float = 1.05
    buy: float = 0.99

    def kernel_runs(self) -> list:
        """This strategy's one kernel run spec."""
        return [BandRun(0, self.sell, self.buy)]


@dataclass
class Backtest:
    """Reference: Backtest(initial_amount, ticker, strat, ...),
    strats.py:489-549. Ticker selection is a filter (partition-prunable
    on ticker-partitioned parquet); omit to backtest every ticker in
    one job.

    The kernel enforces the bars contract: a (ticker, run) with a
    duplicate date or a null or non-finite close makes the job that
    reads ``run()``, ``metrics()``, ``orders`` or ``final_net_worth()``
    fail with a ``ValueError`` naming the ticker and the date (raised
    in the Python worker, so Spark reports it wrapped in a
    ``PythonException``). ``run()`` itself refuses a ``benchmark``
    with a duplicate date or a NaN or infinite value; it reads the
    benchmark's ``date`` and ``sp500`` (as DOUBLE) columns."""

    bars: DataFrame
    initial_amount: float
    strategy: object = field(default_factory=MACrossStrategy)
    ticker: Optional[str] = None
    benchmark: Optional[DataFrame] = None
    parity: bool = True

    _orders: Optional[DataFrame] = None
    _portfolio: Optional[DataFrame] = None
    _stats: Optional[DataFrame] = None
    _cached: list = field(default_factory=list)

    def _bars(self) -> DataFrame:
        if self.ticker is None:
            return self.bars
        return self.bars.filter(F.col("ticker") == self.ticker.lower())

    def _kernel_out(self, bars: DataFrame, curve: bool, benchmark=None) -> DataFrame:
        return run_kernel(
            bars,
            self.initial_amount,
            runs=self.strategy.kernel_runs(),
            parity=self.parity,
            curve=curve,
            benchmark=benchmark,
        )

    def run(self) -> DataFrame:
        self.release()
        bench = None
        if self.benchmark is not None:
            bench = benchmark_series(self.benchmark)
        # consumed by the orders, the curve and the metrics: cache so
        # the simulation runs once
        kernel_out = self._kernel_out(self._bars(), curve=True, benchmark=bench).cache()
        self._cached = [kernel_out]
        self._orders, _ = split_kernel_output(kernel_out)
        self._stats = kernel_stats(kernel_out)
        portfolio = portfolio_curve(kernel_out, sp500=bench is not None)
        if bench is not None and not self.parity:
            # attach_benchmark's by-date join leads with its key
            portfolio = portfolio.select(
                "date", *[c for c in portfolio.columns if c != "date"]
            )
        self._portfolio = portfolio
        return portfolio

    def release(self) -> None:
        """Unpersist the kernel cache from the last ``run``.

        A long-lived session running many backtests would otherwise
        accumulate cached partitions until eviction churn. Lazy results
        handed out earlier stay valid — they just recompute on next use.
        Also usable as a context manager (``with Backtest(...) as bt``)."""
        for df in self._cached:
            df.unpersist(blocking=True)
        self._cached = []

    def __enter__(self) -> "Backtest":
        return self

    def __exit__(self, *exc) -> None:
        self.release()

    def metrics(self, risk_free_rate: float = 0.03) -> DataFrame:
        """The 18-stat suite, one row per (ticker, run_id): one
        projection over the kernel's stats rows — no window and no
        exchange after the cached kernel output."""
        if self._stats is None:
            self.run()
        return finish_metrics(self._stats, self.initial_amount, risk_free_rate)

    @property
    def orders(self) -> DataFrame:
        if self._orders is None:
            self.run()
        return self._orders

    def final_net_worth(self) -> DataFrame:
        """(ticker, run_id, net_worth at last date) — the optimizer's
        objective (reference: .net_worth[-1], optimize.py:135).

        If the full portfolio was never materialized, skip it: the
        last-bar value telescopes to an aggregation over the kernel's
        sparse trade events (portfolio.final_net_worth_from_events) —
        no |bars| window passes, no caches to manage."""
        if self._portfolio is not None:
            return self._portfolio.groupBy("ticker", "run_id").agg(
                F.max_by("net_worth", "date").alias("net_worth")
            )
        from strat_backtest_spark.operators.portfolio import (
            final_net_worth_from_events,
        )

        bars = self._bars()
        _, events = split_kernel_output(self._kernel_out(bars, curve=False))
        # VALUES LocalRelation, not createDataFrame: an RDD-backed
        # one-row table costs a full (defaultParallelism-task) Python
        # job per consumer; plan-literal rows broadcast with zero jobs
        run_ids = bars.sparkSession.sql("SELECT CAST(0 AS BIGINT) AS run_id")
        return final_net_worth_from_events(
            bars, events, run_ids, self.initial_amount
        )

"""The user-facing backtest plan (reference: Backtest,
strats.py:489-655).

A strategy here is a DECLARATIVE SPEC — (signal generator, kernel
driver, params) — not an eagerly-executing subclass (the reference
runs the whole simulation inside Strategy.__init__,
strats.py:551-554). ``Backtest.run()`` assembles one lazy DataFrame
graph:

    bars (one row per bar) → kernel (mapInPandas group walker per
         ticker: MA-cross signals, simulation, net-worth curve) → cache
       ├─ order rows → orders
       └─ bar rows   → portfolio → benchmark attach → metrics

and nothing executes until an action. The band strategy feeds the
kernel its all-bars ``signal_feed`` instead of the plain series.
``MACrossStrategy.signal_feed`` (Spark windows) and
``portfolio.build_portfolio`` (feed ⟕ events window algebra) compute
the same signals and curve on the Spark side; the tests hold the kernel
to them bit for bit.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from strat_backtest_spark.operators.kernel import (
    portfolio_curve,
    run_kernel,
    split_kernel_output,
)
from strat_backtest_spark.operators.metrics import compute_metrics
from strat_backtest_spark.operators.portfolio import attach_benchmark
# build_portfolio is not called here (the kernel emits the curve), but
# perfbench/layers.py wraps every backtest layer under its name in this
# module
from strat_backtest_spark.operators.portfolio import build_portfolio  # noqa: F401
from strat_backtest_spark.operators.signals import (
    band_signals,
    ma_cross_feed_grid,
    ma_cross_signal_feed,
)


@dataclass
class MACrossStrategy:
    """MA-crossover spec (reference: MA_Cross_Strat,
    custom_strats.py:7-62)."""

    fast: int = 20
    lagging: int = 100
    stop_loss_pct: Optional[float] = None
    kernel_driver: str = "ma_cross"
    # sell a fixed share count per down-cross instead of whole-order
    # FIFO closes — routes through the engine's partial-fill path
    sell_shares: Optional[float] = None

    def __post_init__(self) -> None:
        if self.sell_shares is not None:
            if self.stop_loss_pct is not None:
                # ma_cross_partial_driver does not run the stop scan;
                # silently ignoring the stop would be worse
                raise NotImplementedError(
                    "stop_loss_pct with sell_shares is not supported"
                )
            self.kernel_driver = "ma_cross_partial"

    def signal_feed(self, bars: DataFrame, run_id: int = 0) -> DataFrame:
        """The Spark-side reference for the signals
        ``run_kernel(runs=...)`` computes (``Backtest`` feeds the kernel
        the plain bar series)."""
        return ma_cross_signal_feed(bars, self.fast, self.lagging, run_id)

    def kernel_params(self) -> dict:
        p: dict = {"stop_loss_pct": self.stop_loss_pct}
        if self.sell_shares is not None:
            p["sell_shares"] = self.sell_shares
        return p

    def kernel_runs(self) -> list:
        """The kernel computes the signals of this one (run_id, fast,
        lagging) point itself."""
        return [(0, self.fast, self.lagging)]


@dataclass
class BandStrategy:
    """Threshold-band spec (reference: Ten_Percent_Strat,
    custom_strats.py:65-101) — fully path-dependent; every bar is a
    decision point for the kernel callback."""

    sell: float = 1.05
    buy: float = 0.99
    kernel_driver: str = "band"

    def signal_feed(self, bars: DataFrame, run_id: int = 0) -> DataFrame:
        return band_signals(bars, run_id=run_id).select(
            "ticker", "run_id", "date", "close", "action"
        )

    def kernel_params(self) -> dict:
        return {"sell": self.sell, "buy": self.buy}

    def kernel_runs(self) -> None:
        """The kernel reads every bar from ``signal_feed``."""
        return None


@dataclass
class Backtest:
    """Reference: Backtest(initial_amount, ticker, strat, ...),
    strats.py:489-549. Ticker selection is a filter (partition-prunable
    on ticker-partitioned parquet); omit to backtest every ticker in
    one job.

    An MA-cross backtest refuses a null or non-finite close: the job
    that reads ``run()``, ``metrics()``, ``orders`` or
    ``final_net_worth()`` fails with the kernel's ``ValueError`` naming
    the ticker (raised in the Python worker, so Spark reports it
    wrapped in a ``PythonException``)."""

    bars: DataFrame
    initial_amount: float
    strategy: object = field(default_factory=MACrossStrategy)
    ticker: Optional[str] = None
    benchmark: Optional[DataFrame] = None
    parity: bool = True

    _orders: Optional[DataFrame] = None
    _portfolio: Optional[DataFrame] = None
    _cached: list = field(default_factory=list)

    def _bars(self) -> DataFrame:
        if self.ticker is None:
            return self.bars
        return self.bars.filter(F.col("ticker") == self.ticker.lower())

    def _kernel_out(self, bars: DataFrame, curve: bool) -> DataFrame:
        runs = self.strategy.kernel_runs()
        feed = (
            self.strategy.signal_feed(bars)
            if runs is None
            else ma_cross_feed_grid(bars)
        )
        return run_kernel(
            feed,
            self.initial_amount,
            strategy=self.strategy.kernel_driver,
            params=self.strategy.kernel_params(),
            parity=self.parity,
            runs=runs,
            curve=curve,
        )

    def run(self) -> DataFrame:
        self.release()
        # consumed by the orders, the curve and the benchmark attach's
        # row stats: cache so the simulation runs once
        kernel_out = self._kernel_out(self._bars(), curve=True).cache()
        self._cached = [kernel_out]
        orders, _ = split_kernel_output(kernel_out)
        portfolio = portfolio_curve(kernel_out)
        if self.benchmark is not None:
            mode = "positional" if self.parity else "date"
            portfolio = attach_benchmark(portfolio, self.benchmark, mode=mode)
        self._orders = orders
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
        if self._portfolio is None:
            self.run()
        return compute_metrics(
            self._portfolio, self._orders, self.initial_amount, risk_free_rate
        )

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

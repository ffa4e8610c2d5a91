"""Per-layer measurements taken from outside the package.

Two instruments, both used only by the traced run:

* ``Recorder`` wraps the public layer functions where the plans and the
  optimizer look them up, and records each call's wall time.  These
  functions build lazy plans, so a call's time is that layer's plan
  construction on the driver (plus any eager job it fires).
* ``exec_layers`` forces each layer's output over checkpointed inputs with a
  ``noop`` write, so the timing covers that layer's Spark work alone.
  Row counts ride on the same job through ``DataFrame.observe``.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

REPEATS = 3  # each layer is forced this many times; the median is kept


class Samples:
    """name -> list of measured values."""

    def __init__(self) -> None:
        self.values: dict[str, list[float]] = defaultdict(list)

    def add(self, name: str, value: float) -> None:
        self.values[name].append(value)

    def median(self, name: str, default: float = 0.0) -> float:
        v = self.values.get(name)
        return statistics.median(v) if v else default


@contextmanager
def timed(samples: Samples | None, name: str):
    """Add the wall seconds of the block to ``samples[name]``; a no-op
    when ``samples`` is None."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        if samples is not None:
            samples.add(name, time.perf_counter() - t0)


# (module, attribute, layer) -- the names are looked up at call time by
# the modules that use them, so patching the attribute sees every call
WRAPPED = [
    ("strat_backtest_spark.plans.backtest", "MACrossStrategy.signal_feed", "signals"),
    ("strat_backtest_spark.plans.backtest", "Backtest.run", "backtest"),
    ("strat_backtest_spark.plans.backtest", "run_kernel", "kernel"),
    ("strat_backtest_spark.plans.backtest", "split_kernel_output", "kernel"),
    ("strat_backtest_spark.plans.backtest", "build_portfolio", "portfolio"),
    ("strat_backtest_spark.plans.backtest", "attach_benchmark", "portfolio"),
    ("strat_backtest_spark.plans.backtest", "compute_metrics", "metrics"),
    ("strat_backtest_spark.operators.optimize", "ma_cross_feed_grid", "signals"),
    ("strat_backtest_spark.operators.optimize", "run_kernel", "kernel"),
    ("strat_backtest_spark.operators.optimize", "split_kernel_output", "kernel"),
    ("strat_backtest_spark.operators.optimize", "final_net_worth_from_events", "portfolio"),
    ("strat_backtest_spark.operators.optimize", "evaluate_params", "score"),
    ("strat_backtest_spark.operators.optimize", "grid_search", "optimize"),
]


class Recorder:
    """Wraps the functions in ``WRAPPED`` while installed.  ``calls``
    holds (layer, attribute, seconds, start epoch, end epoch, args,
    kwargs) for every call since the last ``reset``."""

    def __init__(self) -> None:
        self.calls: list[tuple] = []
        self._saved: list[tuple] = []

    def install(self) -> None:
        import importlib

        for mod_name, attr, layer in WRAPPED:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = owner.__dict__[leaf]
            self._saved.append((owner, leaf, orig))
            setattr(owner, leaf, self._wrap(layer, attr, orig))

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._saved):
            setattr(owner, leaf, orig)
        self._saved = []

    def reset(self) -> None:
        self.calls = []

    def _wrap(self, layer, attr, fn):
        def wrapper(*args, **kwargs):
            w0, t0 = time.time(), time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.calls.append(
                    (layer, attr, time.perf_counter() - t0, w0, time.time(), args, kwargs)
                )

        return wrapper

    def last(self, attr: str):
        for c in reversed(self.calls):
            if c[1] == attr:
                return c
        raise LookupError(f"{attr} was not called")


def _force(df, *observed):
    """Run every column of ``df`` through a noop sink; return the wall
    seconds and the observed aggregates (one job, no extra scan)."""
    from pyspark.sql import Observation

    obs = Observation("perfbench") if observed else None
    if obs is not None:
        df = df.observe(obs, *observed)
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    return dt, (obs.get if obs is not None else {})


def _median_force(samples: Samples, name: str, df, *observed) -> dict:
    got = {}
    for _ in range(REPEATS):
        dt, got = _force(df, *observed)
        samples.add(name, dt)
    return got


def exec_layers(samples: Samples, workload: str, inp, rec: Recorder) -> None:
    """Force each data layer of ``workload`` over checkpointed inputs,
    with the arguments the last traced operation passed it."""
    from pyspark.sql import functions as F

    from strat_backtest_spark.operators import kernel, portfolio, signals
    from strat_backtest_spark.operators.metrics import compute_metrics
    from strat_backtest_spark.plans.backtest import MACrossStrategy
    from strat_backtest_spark.sources.bars import load_bars_parquet

    from perfbench.workloads import FAST, INITIAL, LAGGING

    spark = inp.bars.sparkSession
    _median_force(samples, "sources.scan_s", load_bars_parquet(spark, inp.path))
    bars = inp.bars.localCheckpoint(eager=True)
    one = F.count(F.lit(1)).alias("n")

    if workload == "universe_backtest":
        feed = MACrossStrategy(FAST, LAGGING).signal_feed(bars)
    else:
        _, _, _, _, _, args, kwargs = rec.last("ma_cross_feed_grid")
        feed = signals.ma_cross_feed_grid(bars, *args[1:], **kwargs)
    got = _median_force(samples, "signals.exec_s", feed, one)
    samples.add("signals.rows_out", got["n"])
    feed = feed.localCheckpoint(eager=True)
    samples.add("kernel.groups", feed.select("ticker", "run_id").distinct().count())

    ko = kernel.run_kernel(feed, INITIAL, **rec.last("run_kernel")[6])
    got = _median_force(
        samples, "kernel.exec_s", ko,
        F.sum((F.col("row_type") == "order").cast("long")).alias("orders"),
        F.sum((F.col("row_type") == "event").cast("long")).alias("events"),
    )
    samples.add("kernel.orders_out", got["orders"])
    samples.add("kernel.events_out", got["events"])
    orders, events = kernel.split_kernel_output(ko.localCheckpoint(eager=True))

    if workload == "universe_backtest":
        row_stats = feed.groupBy("ticker", "run_id").agg(
            F.max("date").alias("__last_date"), F.count(F.lit(1)).alias("__n")
        )
        port = portfolio.attach_benchmark(
            portfolio.build_portfolio(feed, events, INITIAL),
            inp.bench, mode="positional", row_stats=row_stats,
        )
        _median_force(samples, "portfolio.exec_s", port)
        port = port.localCheckpoint(eager=True)
        orders = orders.localCheckpoint(eager=True)
        _median_force(samples, "metrics.exec_s", compute_metrics(port, orders, INITIAL))
    else:
        run_ids = rec.last("final_net_worth_from_events")[5][2]
        _median_force(
            samples, "portfolio.exec_s",
            portfolio.final_net_worth_from_events(bars, events, run_ids, INITIAL),
        )

"""Portfolio / net-worth algebra and benchmark attachment
(SURVEY.md §2.9 K10, §2.3 J3/J5, §2.5 W4/W7).

The reference computes the daily net-worth curve vectorized in pandas
(strats.py:557-579) and concatenates the benchmark onto it
(strats.py:592-600). ``Backtest.run`` takes both from the kernel
(``run_kernel(curve=True, benchmark=...)``), which has the bars, the
trade events and the benchmark series in hand, for every strategy.
``build_portfolio`` (feed ⟕ events plus window algebra over (ticker,
run_id) partitions) and ``attach_benchmark`` are the Spark-side forms
of the same curve and attach: the path for a user-built portfolio, and
the reference the tests hold the kernel to bit for bit — the MA-cross
curve over ``MACrossStrategy.signal_feed``, the band curve over the
plain bars (all but ``action``, where the kernel writes the band's
moves). ``final_net_worth_from_events`` serves the backtest and the
sweep directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def build_portfolio(feed: DataFrame, trade_events: DataFrame, initial_amount: float) -> DataFrame:
    """bars ⟕ kernel trade events → daily net-worth curve.

    Replicates Backtest._enter_positions + _net_worth
    (strats.py:557-579):

      buy/sell null→0, shares_owned forward-filled then 0-filled,
      net_worth = shares_owned·close − Σ(buy·close) + Σ(sell·close) + init

    ``feed`` must carry (ticker, run_id, date, close); extra columns
    pass through. Trade events are edge-sparse (one row per signal
    flip, orders of magnitude fewer than bars) but they GROW WITH the
    bars table, so the join deliberately has no broadcast hint: AQE
    converts it to broadcast when the runtime size allows, and falls
    back to a shuffled join when a 100 TB run's event stream is itself
    too large for an executor — a forced F.broadcast would OOM there.
    """
    ev = trade_events.withColumnRenamed("shares_owned", "shares_owned_event")
    df = feed.join(ev, ["ticker", "run_id", "date"], "left")

    # Expressions as Spark-SQL text (one parse instead of ~200 py4j
    # round-trips of Column stacking; values pinned by
    # tests/test_backtest.py, which holds the kernel's curve to this
    # one). D-suffixed literals: a bare 0.0 is DECIMAL under ANSI.
    cum = (
        "PARTITION BY ticker, run_id ORDER BY date"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    )
    df = df.selectExpr(
        "*",
        "coalesce(buy_shares, 0.0D) AS buy",
        "coalesce(sell_shares, 0.0D) AS sell",
        f"coalesce(last(shares_owned_event, true) OVER ({cum}), 0.0D)"
        " AS shares_owned",
    )
    net_worth = (
        f"((((shares_owned * close) - sum((buy * close)) OVER ({cum}))"
        f" + sum((sell * close)) OVER ({cum})) + {float(initial_amount)!r}D)"
    )
    return df.selectExpr("*", f"{net_worth} AS net_worth").drop(
        "buy_shares", "sell_shares", "shares_owned_event", "event_close"
    )


def final_net_worth_from_events(
    bars: DataFrame, events: DataFrame, run_ids: DataFrame, initial_amount: float
) -> DataFrame:
    """(ticker, run_id, net_worth at last bar) WITHOUT building the
    per-bar curve: at the final bar the build_portfolio algebra
    telescopes to

        net_worth(T) = shares(T)·close(T) − Σ buy·close + Σ sell·close + init

    which is one map-side-combining agg over the kernel's edge-sparse
    trade events instead of two window passes over |bars|×|runs| rows.
    Shared by the optimizer objective (grid / SA) and
    ``Backtest.final_net_worth``. ``run_ids`` is the (run_id) universe
    so zero-trade groups still get their (init-only) row.

    Plan shape (round 14): the (ticker, run_id) universe is DRIVEN off
    ``last_bar`` — one row per ticker by construction — instead of a
    separate ``bars.select("ticker").distinct()`` branch. The old shape
    recomputed the whole bars lineage (scan + aggregation) a second
    time just to learn the ticker set last_bar already carries, plus a
    distinct exchange; driving off last_bar is row-identical (every
    bars ticker has exactly one last_bar row) and removes both."""
    last_bar = bars.groupBy("ticker").agg(
        F.expr("max_by(close, date) AS __last_close")
    )
    agg = events.groupBy("ticker", "run_id").agg(
        F.expr("sum((coalesce(buy_shares, 0.0D) * event_close)) AS __cb"),
        F.expr("sum((coalesce(sell_shares, 0.0D) * event_close)) AS __cs"),
        F.expr("max_by(shares_owned, date) AS __last_shares"),
    )
    net = (
        "((((coalesce(__last_shares, 0.0D) * __last_close)"
        " - coalesce(__cb, 0.0D)) + coalesce(__cs, 0.0D))"
        f" + {float(initial_amount)!r}D)"
    )
    return (
        last_bar.crossJoin(F.broadcast(run_ids))
        .join(agg, ["ticker", "run_id"], "left")
        .selectExpr("*", f"{net} AS net_worth")
        .select("ticker", "run_id", "net_worth")
    )


def attach_benchmark(
    portfolio: DataFrame,
    benchmark: DataFrame,
    mode: str = "positional",
    row_stats: DataFrame | None = None,
) -> DataFrame:
    """Attach the market-index column (reference: strats.py:592-600) —
    the Spark form of the attach ``run_kernel(benchmark=...)`` performs
    for ``Backtest`` (``kernel._benchmark_rows``).

    mode='positional' replicates quirk Q6: the benchmark series is
    truncated to dates ≤ the portfolio's last date and its last
    len(portfolio) ROWS are kept (a positional count), but the kept
    rows then align onto the portfolio BY DATE with OUTER semantics —
    the reference's ``pd.concat(..., axis=1)`` joins on the
    DatetimeIndex, so benchmark trading days absent from the
    portfolio calendar become extra rows with null portfolio columns
    (and they DO feed the reference's row counts downstream, e.g.
    beta's ÷-full-row-count covariance).

    mode='date' is the fix: a plain date equi-join (benchmark
    broadcast — it is one row per trading day).

    ``row_stats`` lets a caller that KNOWS a cheaper row-count-preserving
    proxy for the portfolio (e.g. the feed of ``build_portfolio``: the
    portfolio is feed ⟕ one-event-per-bar-date, so per-group max(date)
    and count are identical) supply the per-(ticker, run_id)
    ``(__last_date, __n)`` aggregate directly — the optimizer cannot
    prove that equivalence, so computing stats from a joined portfolio
    here re-runs its join lineage a second time.

    Preconditions (inherent to Q6's by-date alignment): ``portfolio``
    has at most one row per (ticker, run_id, date) — a net-worth curve
    — and ``benchmark`` one row per date. The reference's
    ``pd.concat(axis=1)`` requires the same uniqueness.
    """
    if mode == "date":
        return portfolio.join(F.broadcast(benchmark), "date", "left")

    stats = row_stats if row_stats is not None else portfolio.groupBy(
        "ticker", "run_id"
    ).agg(
        F.max("date").alias("__last_date"), F.count(F.lit(1)).alias("__n")
    )
    b = benchmark.join(F.broadcast(stats), F.col("date") <= F.col("__last_date"))
    wb = Window.partitionBy("ticker", "run_id").orderBy(F.col("date").desc())
    b = (
        b.withColumn("__rfe", F.row_number().over(wb))
        .filter(F.col("__rfe") <= F.col("__n"))
        .select("ticker", "run_id", "date", "sp500")
    )
    # The outer alignment used to be portfolio ⟗ b on (ticker, run_id,
    # date). Under the uniqueness preconditions above that join is
    # exactly union + single-non-null merge per key — and the union
    # form is one exchange instead of three: the join shuffled BOTH
    # sides on (t, r, date) and its FullOuter output partitioning is
    # Unknown, so the metrics windows downstream re-shuffled the merged
    # table a third time. Here the union is repartitioned ONCE on
    # (ticker, run_id); the (t, r, date) group-merge and every
    # downstream (t, r) window/aggregate are satisfied by that single
    # hash(t, r) exchange (clustering-subset rule), and the two SMJ
    # sorts disappear with the join. Values pass through max() — at
    # most one non-null contributor per group and column — so the
    # output is row- and bit-identical to the join form.
    keys = ["ticker", "run_id", "date"]
    pcols = [c for c in portfolio.columns if c not in keys]
    ptypes = dict(portfolio.dtypes)
    sp_type = dict(b.dtypes)["sp500"]
    left = portfolio.select(
        *keys, *pcols, F.lit(None).cast(sp_type).alias("sp500")
    )
    right = b.select(
        *keys, *[F.lit(None).cast(ptypes[c]).alias(c) for c in pcols], "sp500"
    )
    return (
        left.unionByName(right)
        .repartition("ticker", "run_id")
        .groupBy(*keys)
        .agg(*[F.max(c).alias(c) for c in [*pcols, "sp500"]])
    )

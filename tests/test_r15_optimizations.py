"""Round-15 optimization equivalence tests: every plan-shape change
must be value-invisible. Each test pins one rewrite against the shape
it replaced."""

from datetime import date

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL


def _rows(df, cols):
    return sorted(
        tuple(r) for r in df.select(*cols).collect()
    )


def _bars(spark, sf_dir):
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.sources.bars import bars_from_events

    return bars_from_events(_t(spark, sf_dir, "events"))


def test_attach_benchmark_positional_equals_full_outer_join(spark):
    """attach_benchmark mode='positional' (union + single-non-null
    merge) must equal the full-outer-join construction it replaced —
    including benchmark-only calendar rows (null portfolio columns) and
    portfolio-only rows (null sp500)."""
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

    # the replaced shape, inlined
    stats = portfolio.groupBy("ticker", "run_id").agg(
        F.max("date").alias("__last_date"), F.count(F.lit(1)).alias("__n")
    )
    from pyspark.sql import Window

    b = benchmark.join(F.broadcast(stats), F.col("date") <= F.col("__last_date"))
    wb = Window.partitionBy("ticker", "run_id").orderBy(F.col("date").desc())
    b = (
        b.withColumn("__rfe", F.row_number().over(wb))
        .filter(F.col("__rfe") <= F.col("__n"))
        .select("ticker", "run_id", "date", "sp500")
    )
    old = portfolio.join(b, ["ticker", "run_id", "date"], "full_outer")

    assert new.columns == old.columns
    assert _rows(new, new.columns) == _rows(old, old.columns)
    # the merge must actually produce benchmark-only rows
    assert any(r["close"] is None for r in new.collect())


def _norm_analyzed(df) -> str:
    import re

    return re.sub(r"#\d+", "#", df._jdf.queryExecution().analyzed().toString())


def test_round_half_up_spark_expr_tree_equals_column_form(spark):
    """The Spark-SQL text twin must parse to the IDENTICAL expression
    tree as the Column builder — same IEEE op sequence, zero FP risk."""
    from strat_backtest_spark.functions.numeric import (
        round_half_up_col,
        round_half_up_spark_expr,
    )

    df = spark.range(3).select((F.col("id") * 1.5).alias("x"))
    for dec in (4, 6):
        old = df.select(round_half_up_col(F.col("x"), dec).alias("r"))
        new = df.selectExpr(f"{round_half_up_spark_expr('x', dec)} AS r")
        assert _norm_analyzed(old) == _norm_analyzed(new)


def _compute_metrics_column_form(portfolio, orders, initial_amount, risk_free_rate):
    """Frozen copy of the pre-round-15 Column-built compute_metrics —
    the reference the selectExpr rewrite is pinned against."""
    import math

    from pyspark.sql import Window

    keys = ["ticker", "run_id"]
    w = Window.partitionBy(*keys).orderBy("date")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)

    if "sp500" not in portfolio.columns:
        portfolio = portfolio.withColumn("sp500", F.lit(None).cast("double"))

    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    filled = portfolio.select(
        *keys,
        "date",
        "net_worth",
        "sp500",
        F.last("net_worth", ignorenulls=True).over(cum).alias("__nw_ff"),
        F.last("sp500", ignorenulls=True).over(cum).alias("__sp_ff"),
        F.first("net_worth").over(full).alias("__nw_first"),
        F.last("net_worth").over(full).alias("__nw_last"),
        F.first("sp500").over(full).alias("__sp_first"),
        F.last("sp500").over(full).alias("__sp_last"),
    )
    r_s = F.try_divide(F.col("__nw_ff"), F.lag("__nw_ff").over(w)) - 1
    r_m = F.try_divide(F.col("__sp_ff"), F.lag("__sp_ff").over(w)) - 1

    prepped = filled.select(
        *keys,
        "date",
        "net_worth",
        r_s.alias("r_s"),
        r_m.alias("r_m"),
        (F.try_divide(F.col("net_worth"), F.max("net_worth").over(cum)) - 1).alias(
            "drawdown"
        ),
        F.col("sp500"),
        "__nw_first",
        "__nw_last",
        "__sp_first",
        "__sp_last",
    )

    start_amt = F.lit(float(initial_amount))
    days = F.datediff(F.max("date"), F.min("date"))
    years = F.floor(days / 365)
    mean_rs = F.avg("r_s")
    mean_rm = F.avg("r_m")
    prepped = prepped.withColumn(
        "__cov_term",
        (F.col("r_s") - F.avg("r_s").over(Window.partitionBy(*keys)))
        * (F.col("r_m") - F.avg("r_m").over(Window.partitionBy(*keys))),
    )

    port_agg = prepped.groupBy(*keys).agg(
        F.min("date").alias("start_time"),
        F.max("date").alias("end_time"),
        F.first("__nw_last").alias("end_amount"),
        F.first("__nw_first").alias("first_net_worth"),
        (F.min("drawdown") * 100).alias("max_drawdown_pct"),
        (F.avg("drawdown") * 100).alias("avg_drawdown_pct"),
        mean_rs.alias("mean_r_s"),
        F.stddev_samp("r_s").alias("std_r_s"),
        F.var_samp("r_s").alias("var_r_s"),
        mean_rm.alias("mean_r_m"),
        F.stddev_samp("r_m").alias("std_r_m"),
        F.sum("__cov_term").alias("cov_num"),
        F.count(F.lit(1)).alias("n_rows"),
        F.first("__sp_last").alias("sp500_last"),
        F.first("__sp_first").alias("sp500_first"),
        years.alias("years"),
    )

    ord_agg = orders.groupBy(*keys).agg(
        F.avg(F.datediff("end_time", "start_time")).alias("avg_hold_days"),
        F.avg(F.when(F.col("profit") < 0, F.col("profit"))).alias("avg_losses"),
        F.avg(F.when(F.col("profit") > 0, F.col("profit"))).alias("avg_profits"),
        F.min(F.when(F.col("profit") < 0, F.col("profit"))).alias("biggest_loss"),
        F.max("profit").alias("biggest_win"),
        F.sum(F.when(F.col("profit") < 0, F.col("profit"))).alias("loss_sum"),
        F.sum(F.when(F.col("profit") > 0, F.col("profit"))).alias("profit_sum"),
        F.sum(F.when(F.col("filled"), F.col("profit"))).alias("filled_profit_sum"),
        F.sum(F.col("start_amount") * F.col("num_shares")).alias("total_risked"),
        F.count(F.lit(1)).alias("n_orders"),
    )

    m = port_agg.join(ord_agg, keys, "left")

    rf = F.lit(float(risk_free_rate))
    cagr = (
        F.pow(
            F.try_divide(F.col("end_amount"), start_amt),
            F.try_divide(F.lit(1.0), F.col("years")),
        )
        - 1
    ) * 100
    loss = F.when(
        F.col("loss_sum").isNull() | (F.col("loss_sum") == 0), F.lit(-1.0)
    ).otherwise(F.col("loss_sum"))
    profit_factor = F.try_divide(F.coalesce(F.col("profit_sum"), F.lit(0.0)), -loss)
    risk_reward = F.when(
        F.col("n_orders") > 0,
        F.try_divide(F.col("filled_profit_sum"), F.col("total_risked")),
    )
    b1 = F.col("mean_r_s") + 1
    b2 = b1 * b1
    b4 = b2 * b2
    b8 = b4 * b4
    b16 = b8 * b8
    b32 = b16 * b16
    b64 = b32 * b32
    b128 = b64 * b64
    annual_er = b1 * b2 * b4 * b8 * b16 * b32 * b64 * b128 - 1
    sharpe = F.try_divide(annual_er - rf, F.col("std_r_s") * math.sqrt(252))
    volatility = F.col("std_r_s") * math.sqrt(252)
    covariance = F.try_divide(F.col("cov_num"), F.col("n_rows"))
    beta = F.try_divide(covariance, F.col("var_r_s"))
    stock_return = F.try_divide(
        F.col("end_amount") - F.col("first_net_worth"), F.col("first_net_worth")
    )
    alpha = (
        stock_return
        - rf
        - beta
        * ((F.try_divide(F.col("sp500_last"), F.col("sp500_first")) - 1) - rf)
    )
    r_squared = F.try_divide(
        covariance, F.sqrt(F.col("var_r_s")) * F.col("std_r_m")
    )

    return m.select(
        *keys,
        F.col("start_time"),
        F.col("end_time"),
        start_amt.alias("start_amount"),
        F.col("end_amount"),
        F.col("avg_hold_days").alias("average_hold_time_days"),
        F.col("avg_losses").alias("average_losses"),
        F.col("avg_profits").alias("average_profits"),
        F.col("biggest_loss"),
        F.col("biggest_win").alias("biggest_win"),
        cagr.alias("cagr_pct"),
        F.col("max_drawdown_pct"),
        F.col("avg_drawdown_pct"),
        (F.col("end_amount") - start_amt).alias("net_profit"),
        profit_factor.alias("profit_factor"),
        risk_reward.alias("risk_reward"),
        sharpe.alias("sharpe_ratio"),
        volatility.alias("volatility_annualized"),
        beta.alias("beta"),
        alpha.alias("alpha"),
        r_squared.alias("r_squared"),
    )


def test_compute_metrics_text_equals_column_build(spark):
    """The selectExpr rewrite of compute_metrics must analyze to the
    IDENTICAL plan as the Column-built original — same expression
    trees, same IEEE op sequence (the ^255 sharpe chain makes any
    literal-typing slip visible through the hash oracle)."""
    from datetime import date

    from strat_backtest_spark.operators.metrics import compute_metrics

    portfolio = spark.createDataFrame(
        [
            ("a", 0, date(2024, 1, 1), 10000.0, 1.0),
            ("a", 0, date(2024, 1, 2), 10100.0, 2.0),
            ("a", 0, date(2024, 1, 3), None, 3.0),
        ],
        "ticker string, run_id long, date date, net_worth double, sp500 double",
    )
    orders = spark.createDataFrame(
        [("a", 0, 1, 5.0, date(2024, 1, 1), 100.0, True,
          date(2024, 1, 2), 101.0, 5.0, None)],
        "ticker string, run_id long, order_id long, num_shares double, "
        "start_time date, start_amount double, filled boolean, "
        "end_time date, end_amount double, profit double, stop_loss double",
    )
    new = compute_metrics(portfolio, orders, 10_000.0, 0.03)
    old = _compute_metrics_column_form(portfolio, orders, 10_000.0, 0.03)
    assert new.columns == old.columns
    assert _norm_analyzed(new) == _norm_analyzed(old)
    # sanity: also identical without a benchmark column
    p2 = portfolio.drop("sp500")
    assert _norm_analyzed(compute_metrics(p2, orders, 10_000.0, 0.03)) == (
        _norm_analyzed(_compute_metrics_column_form(p2, orders, 10_000.0, 0.03))
    )


def _norm_optimized(df) -> str:
    import re

    return re.sub(
        r"#\d+", "#", df._jdf.queryExecution().optimizedPlan().toString()
    )


def test_signal_feed_text_equals_column_build(spark):
    """MACrossStrategy.signal_feed's selectExpr rewrite must optimize to
    the identical plan as the Column-built original."""
    from strat_backtest_spark.plans.backtest import MACrossStrategy
    from strat_backtest_spark.functions.windows import rolling_mean, ticker_window

    bars = _bars(spark, SF_SMALL)
    new = MACrossStrategy(fast=3, lagging=8).signal_feed(bars, run_id=0)

    # frozen Column form
    w = ticker_window()
    cross = F.coalesce(
        rolling_mean("close", 3, w) > rolling_mean("close", 8, w),
        F.lit(False),
    )
    df = bars.select(
        "ticker",
        F.lit(0).cast("long").alias("run_id"),
        "date",
        "close",
        cross.alias("__cross"),
    )
    prev = F.lag("__cross").over(ticker_window())
    action = F.when(
        prev.isNull() | (F.col("__cross") != prev),
        F.when(F.col("__cross"), F.lit("buy")).otherwise(F.lit("sell")),
    )
    old = df.select("ticker", "run_id", "date", "close", action.alias("action"))
    assert _norm_optimized(new) == _norm_optimized(old)


def test_build_portfolio_text_equals_column_build(spark):
    """build_portfolio / final_net_worth_from_events selectExpr rewrites
    must optimize to the identical plans as the Column originals."""
    from datetime import date

    from pyspark.sql import Window
    from strat_backtest_spark.operators.portfolio import (
        build_portfolio,
        final_net_worth_from_events,
    )

    feed = spark.createDataFrame(
        [("a", 0, date(2024, 1, 1), 10.0, "buy")],
        "ticker string, run_id long, date date, close double, action string",
    )
    events = spark.createDataFrame(
        [("a", 0, date(2024, 1, 1), 1.0, None, 1.0, 10.0)],
        "ticker string, run_id long, date date, buy_shares double, "
        "sell_shares double, shares_owned double, event_close double",
    )
    new = build_portfolio(feed, events, 10_000.0)

    # frozen Column form
    ev = events.withColumnRenamed("shares_owned", "shares_owned_event")
    df = feed.join(ev, ["ticker", "run_id", "date"], "left")
    w = Window.partitionBy("ticker", "run_id").orderBy("date")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    buy = F.coalesce(F.col("buy_shares"), F.lit(0.0))
    sell = F.coalesce(F.col("sell_shares"), F.lit(0.0))
    shares = F.coalesce(
        F.last("shares_owned_event", ignorenulls=True).over(cum), F.lit(0.0)
    )
    df = (
        df.withColumn("buy", buy)
        .withColumn("sell", sell)
        .withColumn("shares_owned", shares)
    )
    net_worth = (
        F.col("shares_owned") * F.col("close")
        - F.sum(F.col("buy") * F.col("close")).over(cum)
        + F.sum(F.col("sell") * F.col("close")).over(cum)
        + F.lit(10_000.0)
    )
    old = df.withColumn("net_worth", net_worth).drop(
        "buy_shares", "sell_shares", "shares_owned_event", "event_close"
    )
    assert new.columns == old.columns
    assert _norm_optimized(new) == _norm_optimized(old)

    # final_net_worth_from_events
    run_ids = spark.sql("SELECT CAST(0 AS BIGINT) AS run_id")
    new_f = final_net_worth_from_events(feed, events, run_ids, 10_000.0)
    last_bar = feed.groupBy("ticker").agg(
        F.max_by("close", "date").alias("__last_close")
    )
    agg = events.groupBy("ticker", "run_id").agg(
        F.sum(
            F.coalesce(F.col("buy_shares"), F.lit(0.0)) * F.col("event_close")
        ).alias("__cb"),
        F.sum(
            F.coalesce(F.col("sell_shares"), F.lit(0.0)) * F.col("event_close")
        ).alias("__cs"),
        F.max_by("shares_owned", "date").alias("__last_shares"),
    )
    net = (
        F.coalesce(F.col("__last_shares"), F.lit(0.0)) * F.col("__last_close")
        - F.coalesce(F.col("__cb"), F.lit(0.0))
        + F.coalesce(F.col("__cs"), F.lit(0.0))
        + F.lit(10_000.0)
    )
    old_f = (
        last_bar.crossJoin(F.broadcast(run_ids))
        .join(agg, ["ticker", "run_id"], "left")
        .withColumn("net_worth", net)
        .select("ticker", "run_id", "net_worth")
    )
    assert _norm_optimized(new_f) == _norm_optimized(old_f)


def test_params_local_relation_empty_grid(spark):
    """expand_grid over an empty range must return an empty typed
    relation, not raise a ParseException (VALUES with no rows)."""
    from strat_backtest_spark.operators.optimize import expand_grid

    df = expand_grid(spark, (3, 3, 1), (8, 14, 5))
    assert df.columns == ["run_id", "fast", "lagging"]
    assert df.count() == 0

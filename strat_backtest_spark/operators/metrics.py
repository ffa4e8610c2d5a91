"""The 18-statistic metrics suite (SURVEY.md §2.11; reference
strats.py:657-789), in two layers:

- ``metric_aggregates``: one pass of window prep + one aggregation per
  input table, joined on (ticker, run_id) — the per-group aggregates
  (``schemas.STATS_COLUMNS``) of a portfolio and its orders;
- ``finish_metrics``: one projection from those aggregates to the 18
  stats (the Q9 ^255 chain, the ``try_divide`` ratios and the
  risk-free rate).

``compute_metrics`` is the two composed, for any user-supplied
portfolio, and the Spark-side reference the tests hold the kernel to:
``Backtest.metrics()`` runs ``finish_metrics`` alone over the stats
rows the kernel computes with the same arithmetic
(``kernel._group_stats``), so it adds no window and no exchange after
the kernel.

The reference's estimator idiosyncrasies are replicated on purpose
(they are part of its observable behavior):

- Q9  Sharpe compounds mean daily return ^255 but annualizes vol with
      √252 (strats.py:730-732).
- Q10 CAGR uses integer years = days // 365 (strats.py:696).
- Q11 Beta divides a population-style covariance (÷ row count, NaNs
      skipped in the sum) by a SAMPLE variance (strats.py:743-752);
      "R-Squared" is actually the correlation coefficient.
- Q12 Profit factor coerces a zero/absent loss to −1 (strats.py:714-716).

The risk-free rate is injected (fixing Q7's import-time network I/O).

Division semantics: every ratio uses ``try_divide`` so a degenerate
input (zero variance, zero-year span, zero risked capital) yields NULL
under ANSI mode instead of failing the job. The reference CRASHES on
several of these (e.g. ZeroDivisionError for backtests shorter than a
year, strats.py:696) — NULL is the deliberate, strictly-more-usable
replacement. A portfolio without an attached benchmark column gets
NULL for the benchmark-dependent stats (beta/alpha/r_squared) rather
than an AnalysisException.

Construction note (round 15): every expression is built as Spark-SQL
TEXT through ``selectExpr``/``F.expr`` instead of stacked Column
operators. The Column form cost ~2,300 py4j round-trips per build
(~0.7-1.7 s of driver wall on this host, per cProfile) — a real
per-query cost the bench times inside fn(); the text form is one
round-trip per select plus a JVM parse. Every fractional literal
carries the ``D`` double suffix — a bare ``0.5`` is DECIMAL under ANSI
and would drift the ^255-amplified, hash-checked stats. The values are
pinned bit for bit (``repr``) by
tests/test_metrics_differential.py::test_metrics_exact_values and
against DuckDB by the q42 oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

_PK = "PARTITION BY ticker, run_id"
_W = f"{_PK} ORDER BY date"
_CUM = f"{_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
_FULL = f"{_W} ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"


def _dlit(x: float) -> str:
    """A Python float as a Spark-SQL DOUBLE literal (repr round-trips
    the exact binary value; the D suffix blocks ANSI DECIMAL typing)."""
    return f"{float(x)!r}D"


def compute_metrics(
    portfolio: DataFrame,
    orders: DataFrame,
    initial_amount: float,
    risk_free_rate: float = 0.03,
) -> DataFrame:
    """Returns one row per (ticker, run_id) with the full stats suite."""
    return finish_metrics(
        metric_aggregates(portfolio, orders), initial_amount, risk_free_rate
    )


def metric_aggregates(portfolio: DataFrame, orders: DataFrame) -> DataFrame:
    """The per-(ticker, run_id) aggregates the stats are finished from:
    ticker, run_id and ``schemas.STATS_COLUMNS``."""
    keys = ["ticker", "run_id"]

    if "sp500" not in portfolio.columns:
        portfolio = portfolio.withColumn("sp500", F.lit(None).cast("double"))

    # pandas pct_change() forward-fills before differencing
    # (fill_method='pad'), so a calendar-mismatch null row yields a 0.0
    # return and the next real row differences against the filled value
    # — replicated with last-ignorenulls running fills (own layer:
    # window functions cannot nest).
    # positional [0]/[-1] anchors (reference indexes the concat'd frame
    # by position, so a null first/last value is kept, not skipped —
    # min_by/max_by would silently pick the first NON-null).
    filled = portfolio.selectExpr(
        *keys,
        "date",
        "net_worth",
        "sp500",
        f"last(net_worth, true) OVER ({_CUM}) AS __nw_ff",
        f"last(sp500, true) OVER ({_CUM}) AS __sp_ff",
        f"first(net_worth) OVER ({_FULL}) AS __nw_first",
        f"last(net_worth) OVER ({_FULL}) AS __nw_last",
        f"first(sp500) OVER ({_FULL}) AS __sp_first",
        f"last(sp500) OVER ({_FULL}) AS __sp_last",
    )

    prepped = filled.selectExpr(
        *keys,
        "date",
        "net_worth",
        f"(try_divide(__nw_ff, lag(__nw_ff) OVER ({_W})) - 1) AS r_s",
        f"(try_divide(__sp_ff, lag(__sp_ff) OVER ({_W})) - 1) AS r_m",
        f"(try_divide(net_worth, max(net_worth) OVER ({_CUM})) - 1) AS drawdown",
        "sp500",
        "__nw_first",
        "__nw_last",
        "__sp_first",
        "__sp_last",
    )

    # Q11: pandas .sum() skips NaN pairs but divides by FULL row count.
    prepped = prepped.selectExpr(
        "*",
        f"((r_s - avg(r_s) OVER ({_PK})) * (r_m - avg(r_m) OVER ({_PK})))"
        " AS __cov_term",
    )

    port_agg = prepped.groupBy(*keys).agg(
        F.expr("min(date) AS start_time"),
        F.expr("max(date) AS end_time"),
        F.expr("first(__nw_last) AS end_amount"),
        F.expr("first(__nw_first) AS first_net_worth"),
        F.expr("(min(drawdown) * 100) AS max_drawdown_pct"),
        F.expr("(avg(drawdown) * 100) AS avg_drawdown_pct"),
        F.expr("avg(r_s) AS mean_r_s"),
        F.expr("stddev_samp(r_s) AS std_r_s"),
        F.expr("var_samp(r_s) AS var_r_s"),
        F.expr("avg(r_m) AS mean_r_m"),
        F.expr("stddev_samp(r_m) AS std_r_m"),
        F.expr("sum(__cov_term) AS cov_num"),
        F.expr("count(1) AS n_rows"),
        F.expr("first(__sp_last) AS sp500_last"),
        F.expr("first(__sp_first) AS sp500_first"),
        # Q10: integer years
        F.expr("FLOOR((datediff(max(date), min(date)) / 365)) AS years"),
    )

    ord_agg = orders.groupBy(*keys).agg(
        F.expr("avg(datediff(end_time, start_time)) AS avg_hold_days"),
        F.expr("avg(CASE WHEN (profit < 0) THEN profit END) AS avg_losses"),
        F.expr("avg(CASE WHEN (profit > 0) THEN profit END) AS avg_profits"),
        F.expr("min(CASE WHEN (profit < 0) THEN profit END) AS biggest_loss"),
        F.expr("max(profit) AS biggest_win"),
        F.expr("sum(CASE WHEN (profit < 0) THEN profit END) AS loss_sum"),
        F.expr("sum(CASE WHEN (profit > 0) THEN profit END) AS profit_sum"),
        F.expr("sum(CASE WHEN filled THEN profit END) AS filled_profit_sum"),
        F.expr("sum((start_amount * num_shares)) AS total_risked"),
        F.expr("count(1) AS n_orders"),
    )

    return port_agg.join(ord_agg, keys, "left")


def finish_metrics(
    aggregates: DataFrame, initial_amount: float, risk_free_rate: float = 0.03
) -> DataFrame:
    """The 18 stats from ``metric_aggregates`` (or the kernel's stats
    rows) as one projection."""
    init = _dlit(initial_amount)
    rf = _dlit(risk_free_rate)
    sqrt252 = _dlit(math.sqrt(252))

    # Q12: loss coerced to -1 when zero or null.
    loss = (
        "CASE WHEN ((loss_sum IS NULL) OR (loss_sum = 0)) "
        "THEN -1.0D ELSE loss_sum END"
    )
    # Q9: mean daily return compounded over 255 trading days. Explicit
    # square-and-multiply instead of pow(): Java Math.pow and C libm
    # pow disagree in the last ULP for some inputs, and the ^255
    # amplification makes that visible through the DuckDB oracle's
    # hash gate — a fixed left-associated product of binary powers is
    # the same IEEE op sequence in any engine.
    b = ["(mean_r_s + 1)"]
    for _ in range(7):
        b.append(f"({b[-1]} * {b[-1]})")
    prod = b[0]
    for t in b[1:]:
        prod = f"({prod} * {t})"
    annual_er = f"({prod} - 1)"
    covariance = "try_divide(cov_num, n_rows)"  # Q11
    beta = f"try_divide({covariance}, var_r_s)"
    stock_return = "try_divide((end_amount - first_net_worth), first_net_worth)"

    return aggregates.selectExpr(
        "ticker",
        "run_id",
        "start_time",
        "end_time",
        f"{init} AS start_amount",
        "end_amount",
        "avg_hold_days AS average_hold_time_days",
        "avg_losses AS average_losses",
        "avg_profits AS average_profits",
        "biggest_loss",
        "biggest_win AS biggest_win",
        f"((power(try_divide(end_amount, {init}), try_divide(1.0D, years)) - 1)"
        " * 100) AS cagr_pct",
        "max_drawdown_pct",
        "avg_drawdown_pct",
        f"(end_amount - {init}) AS net_profit",
        f"try_divide(coalesce(profit_sum, 0.0D), -{loss}) AS profit_factor",
        "CASE WHEN (n_orders > 0) THEN try_divide(filled_profit_sum,"
        " total_risked) END AS risk_reward",
        f"try_divide(({annual_er} - {rf}), (std_r_s * {sqrt252}))"
        " AS sharpe_ratio",
        f"(std_r_s * {sqrt252}) AS volatility_annualized",
        f"{beta} AS beta",
        f"(({stock_return} - {rf}) - ({beta} * ((try_divide(sp500_last,"
        f" sp500_first) - 1) - {rf}))) AS alpha",
        f"try_divide({covariance}, (SQRT(var_r_s) * std_r_m)) AS r_squared",
    )

"""Explicit schemas: the bars CSV the engine reads and the kernel
output it produces, plus the names of the harness tables.

The reference infers all schemas at read time (finance_data.py:101
``pd.read_csv(..., parse_dates=True)``); at 100 TB inference is both a
correctness and a performance hazard, so the CSV scan is schema-first
(SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import types as T

# bars on disk — OHLCV CSV (reference: finance_data.py:91-103; header
# `Date,Open,High,Low,Close,Volume`, data/aapl.csv:1). The CSV has no
# ticker column — it is derived from the file name.
BARS_CSV_SCHEMA = T.StructType(
    [
        T.StructField("date", T.DateType(), False),
        T.StructField("open", T.DoubleType(), True),
        T.StructField("high", T.DoubleType(), True),
        T.StructField("low", T.DoubleType(), True),
        T.StructField("close", T.DoubleType(), True),
        T.StructField("volume", T.LongType(), True),
    ]
)

# The per-(ticker, run_id) aggregates the metrics suite is finished from
# (operators/metrics.py: ``metric_aggregates`` computes them in Spark,
# the kernel's 'stats' row carries them). start_time, end_time and
# end_amount share the order columns of the same name and type.
_STATS_FIELDS = [
    T.StructField(name, dtype, True)
    for name, dtype in [
        ("first_net_worth", T.DoubleType()),
        ("max_drawdown_pct", T.DoubleType()),
        ("avg_drawdown_pct", T.DoubleType()),
        ("mean_r_s", T.DoubleType()),
        ("std_r_s", T.DoubleType()),
        ("var_r_s", T.DoubleType()),
        ("mean_r_m", T.DoubleType()),
        ("std_r_m", T.DoubleType()),
        ("cov_num", T.DoubleType()),
        ("n_rows", T.LongType()),
        ("sp500_last", T.DoubleType()),
        ("sp500_first", T.DoubleType()),
        ("years", T.LongType()),
        ("avg_hold_days", T.DoubleType()),
        ("avg_losses", T.DoubleType()),
        ("avg_profits", T.DoubleType()),
        ("biggest_loss", T.DoubleType()),
        ("biggest_win", T.DoubleType()),
        ("loss_sum", T.DoubleType()),
        ("profit_sum", T.DoubleType()),
        ("filled_profit_sum", T.DoubleType()),
        ("total_risked", T.DoubleType()),
        ("n_orders", T.LongType()),
    ]
]
STATS_COLUMNS = ("start_time", "end_time", "end_amount", *(f.name for f in _STATS_FIELDS))

# Kernel output rows are tagged so one kernel pass can emit the order
# ledger, the trade events and, with ``run_kernel(curve=True)``, the
# per-bar net-worth curve with the benchmark attached plus one stats
# row per group (split downstream by row_type). Without the curve the
# kernel emits the narrower KERNEL_LEDGER_SCHEMA: a sweep's order and
# event rows carry no curve or stats columns, not even as nulls.
KERNEL_LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("ticker", T.StringType(), False),
        T.StructField("run_id", T.LongType(), False),
        # 'order' | 'event', and with the curve 'bar' | 'stats'
        T.StructField("row_type", T.StringType(), False),
        # order fields
        T.StructField("order_id", T.LongType(), True),
        T.StructField("num_shares", T.DoubleType(), True),
        T.StructField("start_time", T.DateType(), True),
        T.StructField("start_amount", T.DoubleType(), True),
        T.StructField("filled", T.BooleanType(), True),
        T.StructField("end_time", T.DateType(), True),
        T.StructField("end_amount", T.DoubleType(), True),
        T.StructField("profit", T.DoubleType(), True),
        T.StructField("stop_loss", T.DoubleType(), True),
        # event fields
        T.StructField("date", T.DateType(), True),
        T.StructField("buy_shares", T.DoubleType(), True),
        T.StructField("sell_shares", T.DoubleType(), True),
        T.StructField("shares_owned", T.DoubleType(), True),
        # bar close on the event date — lets consumers that only need
        # FINAL net worth (grid/SA objectives) aggregate events
        # directly instead of joining back onto the |bars|x|runs| feed
        T.StructField("event_close", T.DoubleType(), True),
    ]
)
# A 'bar' row reuses the event columns for build_portfolio's 0-filled
# buy/sell, forward-filled shares_owned and the bar's close
# (event_close); a benchmark-only row of the positional (Q6) attach is
# a 'bar' row with only date and sp500. A 'stats' row fills
# STATS_COLUMNS.
KERNEL_OUT_SCHEMA = T.StructType(
    [
        *KERNEL_LEDGER_SCHEMA.fields,
        # bar fields: the feed's signal action, the curve's value and
        # the attached benchmark
        T.StructField("action", T.StringType(), True),
        T.StructField("net_worth", T.DoubleType(), True),
        T.StructField("sp500", T.DoubleType(), True),
        *_STATS_FIELDS,
    ]
)

# ---------------------------------------------------------------------------
# harness tables (TESTDATA.md) — names only; parquet carries its schema.
# ---------------------------------------------------------------------------
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

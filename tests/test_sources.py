"""Ingestion adapters: yfinance-style fetch (S2/S3/S4) through an
injected offline fixture, CSV sink round-trip (S5), and NASDAQ symbol
parsing (S6)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F


def _fixture_fetcher(ticker: str, period: str) -> pd.DataFrame:
    """Deterministic recorded-fixture stand-in for yfinance: 300
    business days of a noisy trend, yfinance-style frame (DatetimeIndex,
    capitalized OHLCV columns)."""
    rng = np.random.default_rng(abs(hash(ticker)) % 2**32)
    idx = pd.date_range("2020-01-02", periods=300, freq="B", tz="America/New_York")
    close = 100 + np.cumsum(rng.normal(0.1, 1.0, 300))
    return pd.DataFrame(
        {
            "Open": close - 0.5,
            "High": close + 1.0,
            "Low": close - 1.0,
            "Close": close,
            "Volume": rng.integers(1e5, 1e6, 300),
        },
        index=idx,
    )


def test_download_bars_long_layout(spark):
    from strat_backtest_spark.sources.yahoo import download_bars

    bars = download_bars(spark, "AAPL", "MSFT", fetcher=_fixture_fetcher)
    assert bars.columns == ["ticker", "date", "open", "high", "low", "close", "volume"]
    counts = {r["ticker"]: r["n"] for r in bars.groupBy("ticker").agg(F.count("*").alias("n")).collect()}
    assert counts == {"aapl": 300, "msft": 300}
    # tz dropped, dates normalized
    d = bars.agg(F.min("date").alias("d")).collect()[0]["d"]
    assert str(d) == "2020-01-02"


def test_backtest_runs_on_downloaded_bars(spark):
    from strat_backtest_spark.sources.yahoo import download_bars
    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy

    bars = download_bars(spark, "AAPL", fetcher=_fixture_fetcher)
    bt = Backtest(bars, 10_000.0, MACrossStrategy(fast=5, lagging=20))
    out = bt.final_net_worth().collect()
    assert len(out) == 1 and out[0]["net_worth"] > 0


def test_market_benchmark_schema(spark):
    from strat_backtest_spark.sources.yahoo import market_benchmark

    b = market_benchmark(spark, fetcher=_fixture_fetcher)
    assert b.columns == ["date", "sp500"]
    assert b.count() == 300


def test_csv_sink_roundtrip(spark, tmp_path):
    from strat_backtest_spark.sources.yahoo import download_bars
    from strat_backtest_spark.sources.bars import write_bars_csv

    bars = download_bars(spark, "AAPL", "MSFT", fetcher=_fixture_fetcher)
    path = str(tmp_path / "bars_csv")
    write_bars_csv(bars, path)
    back = spark.read.option("header", True).csv(path)
    assert back.count() == 600
    assert set(r["ticker"] for r in back.select("ticker").distinct().collect()) == {
        "aapl",
        "msft",
    }


def test_yfinance_missing_raises_helpfully(spark):
    from strat_backtest_spark.sources.yahoo import download_bars

    with pytest.raises(ImportError, match="fetcher"):
        download_bars(spark, "AAPL")  # no fetcher injected, yfinance absent


def test_nasdaq_symbols_parse(spark, tmp_path):
    from strat_backtest_spark.sources.symbols import load_symbols, load_stopwords, clean_symbols

    # nasdaqlisted.txt format: pipe-delimited with a header row
    f = tmp_path / "nasdaqlisted.txt"
    f.write_text(
        "Symbol|Security Name|Market Category|Test Issue\n"
        "AAPL|Apple Inc. - Common Stock|Q|N\n"
        "GOOG|Alphabet Inc. - Class C|Q|N\n"
        "AAC.U|Ares Acquisition - Unit|Q|N\n"
        "Z|Zillow Group - Class C|Q|N\n"
        "FOR|Forestar Group Inc.|Q|N\n"
    )
    sw = tmp_path / "words.txt"
    sw.write_text("for\nthe\nextremely\n")

    syms = load_symbols(spark, str(f))
    assert syms.columns == ["symbol", "security_name"]
    assert syms.count() == 5

    cleaned = clean_symbols(syms, load_stopwords(spark, str(sw)))
    got = sorted(r["symbol"] for r in cleaned.collect())
    # AAC.U dropped (dot), Z dropped (len 1), FOR dropped (stopword)
    assert got == ["aapl", "goog"]


def test_reddit_config_precedence(spark, tmp_path):
    from strat_backtest_spark.sources.config import load_reddit_config

    # 1. parameters only
    c = load_reddit_config(path=str(tmp_path / "missing.ini"), app_id="p1", secret="p2", user_agent="p3")
    assert (c.app_id, c.secret, c.user_agent) == ("p1", "p2", "p3")
    assert c.complete

    # 2. spark.conf overrides parameters
    spark.conf.set("spark.strat_backtest.reddit.app_id", "s1")
    try:
        c = load_reddit_config(path=str(tmp_path / "missing.ini"), spark=spark, app_id="p1")
        assert c.app_id == "s1"
    finally:
        spark.conf.unset("spark.strat_backtest.reddit.app_id")

    # 3. ini file beats everything (reference: CONFIG FAVORED OVER PARAMETERS)
    ini = tmp_path / "config.ini"
    ini.write_text("[REDDIT]\nAPI_KEY = i1\nSECRET = i2\nUSER_AGENT = i3\n")
    c = load_reddit_config(path=str(ini), app_id="p1", secret="p2", user_agent="p3")
    assert (c.app_id, c.secret, c.user_agent) == ("i1", "i2", "i3")

    # 4. nothing -> incomplete, no crash
    c = load_reddit_config(path=str(tmp_path / "missing.ini"))
    assert not c.complete


def test_plot_sink_collects_then_gates_on_matplotlib(spark):
    from strat_backtest_spark.sinks.plot import plot_series, PlotUnavailableError, _collect_series

    pdf_src = pd.DataFrame(
        {"date": pd.date_range("2021-01-01", periods=50), "net_worth": np.linspace(1e4, 2e4, 50)}
    )
    df = spark.createDataFrame(pdf_src)

    # the reduce + hand-off path is real
    pdf = _collect_series(df, "date", ["net_worth"], max_rows=100)
    assert list(pdf.columns) == ["net_worth"] and len(pdf) == 50
    assert pdf.index.is_monotonic_increasing

    # the render step is honestly gated (no matplotlib in container)
    try:
        import matplotlib  # noqa: F401

        has_mpl = True
    except ImportError:
        has_mpl = False
    if not has_mpl:
        with pytest.raises(PlotUnavailableError, match="matplotlib"):
            plot_series(df, x="date", ys=["net_worth"])


def test_reddit_json_adapter_end_to_end(spark, tmp_path):
    """Raw praw/REST JSON -> distributed parse -> documents frame ->
    the common-stock ticker pipeline (S7 end-to-end, offline)."""
    import json

    from strat_backtest_spark.sources.reddit import (
        posts_from_json,
        comments_from_envelope,
        reddit_documents,
    )
    from strat_backtest_spark.plans.common_stock import ticker_mentions

    posts_file = tmp_path / "posts.jsonl"
    posts_file.write_text(
        "\n".join(
            json.dumps(p)
            for p in [
                {"subreddit": "wallstreetbets", "post_id": "p1",
                 "title": "AAPL to the moon \U0001F680", "selftext": "buying $AAPL and GOOG"},
                {"subreddit": "stocks", "post_id": "p2",
                 "title": "thoughts on GOOG?", "selftext": ""},
            ]
        )
    )
    envelope = {
        "data": {"children": [
            {"data": {"body": "AAPL yes"}},
            {"data": {"no_body_key": 1}},
            {"data": {"body": "also GOOG and AAPL"}},
        ]}
    }
    comments_raw = spark.createDataFrame(
        [("p1", json.dumps(envelope)), ("p2", None)],
        "post_id string, comments_json string",
    )

    posts = posts_from_json(spark, str(posts_file))
    assert posts.count() == 2

    comments = comments_from_envelope(comments_raw)
    got = {(r["post_id"], r["comment_idx"]): r["body"] for r in comments.collect()}
    # missing 'body' key -> '' (reference parity); null envelope -> one null-idx row
    assert got[("p1", 1)] == ""
    assert got[("p1", 2)] == "also GOOG and AAPL"
    assert ("p2", None) in got

    docs = reddit_documents(posts, comments)
    assert docs.columns == ["subreddit", "post_id", "source", "text"]
    assert docs.filter("source = 'comment'").count() == 3

    symbols = spark.createDataFrame(
        [("aapl", "apple inc."), ("goog", "alphabet inc."), ("the", "fake co")],
        "symbol string, security_name string",
    )
    stopwords = spark.createDataFrame([("the",)], "word string")
    top = ticker_mentions(docs, symbols, stopwords, n=5)
    counts = {r["symbol"]: r["n_mentions"] for r in top.collect()}
    assert counts == {"aapl": 4, "goog": 3}


@pytest.mark.parametrize("unit", ["ns", "us", "us-utc"])
def test_load_testdata_normalizes_events_ts(spark, tmp_path, unit):
    """An events drop lands ``ts`` as raw-nanos ``bigint`` (a NANOS
    file under nanosAsLong), ``timestamp_ntz`` (naive MICROS) or
    ``timestamp`` (UTC MICROS); ``load_testdata`` hands back
    ``timestamp`` for each, and the bars derived from it fall on the
    right dates."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from strat_backtest_spark.sources.bars import bars_from_events, load_testdata

    ts = pd.to_datetime(
        [
            "2024-01-02 15:00:00",
            "2024-01-02 10:00:00",
            "2024-01-03 09:30:00.000001",
            "2024-01-03 23:59:59.999999",
        ],
        format="ISO8601",
    )
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": ts.as_unit("ns" if unit == "ns" else "us"),
            "user_id": [7, 7, 7, 8],
            "value": [2.0, 1.0, 3.0, 4.0],
        }
    )
    if unit == "us-utc":
        pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")
    path = tmp_path / "events.parquet"
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    want_unit = "ns" if unit == "ns" else "us"
    assert pq.read_schema(path).field("ts").type.unit == want_unit

    events = load_testdata(spark, str(tmp_path), "events")["events"]
    assert dict(events.dtypes)["ts"] == "timestamp"
    bars = bars_from_events(events)
    got = sorted(
        (r["ticker"], str(r["date"]), r["close"])
        for r in bars.select("ticker", "date", "close").collect()
    )
    assert got == [
        ("7", "2024-01-02", 1.0),
        ("7", "2024-01-03", 3.0),
        ("8", "2024-01-03", 4.0),
    ]
    micros = [r[0] for r in events.orderBy("event_id").selectExpr("unix_micros(ts)").collect()]
    assert micros == [t.value // 1000 for t in ts.tz_localize("UTC")]

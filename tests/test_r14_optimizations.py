"""Round-14 optimization equivalence tests: every plan-shape change
must be value-invisible. Each test pins one rewrite against the shape
it replaced."""

from conftest import SF_SMALL


def _bars(spark, sf_dir):
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.sources.bars import bars_from_events

    return bars_from_events(_t(spark, sf_dir, "events"))


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_final_net_worth_universe_from_last_bar(spark):
    """final_net_worth_from_events must emit one row per
    (bars ticker × run_id) with init-only net worth for zero-trade
    groups — the last_bar-driven universe rewrite's contract."""
    from strat_backtest_spark.operators.portfolio import (
        final_net_worth_from_events,
    )

    bars = _bars(spark, SF_SMALL)
    run_ids = spark.sql("SELECT * FROM VALUES (0L),(7L) AS t(run_id)")
    # empty event stream: every group must still appear, at exactly init
    events = spark.createDataFrame(
        [],
        "ticker string, run_id long, date date, buy_shares double, "
        "sell_shares double, shares_owned double, event_close double",
    )
    out = final_net_worth_from_events(bars, events, run_ids, 10_000.0)
    tickers = {r[0] for r in bars.select("ticker").distinct().collect()}
    got = out.collect()
    assert len(got) == 2 * len(tickers)
    assert {(r["ticker"], r["run_id"]) for r in got} == {
        (t, i) for t in tickers for i in (0, 7)
    }
    assert all(r["net_worth"] == 10_000.0 for r in got)


def test_union_find_rows_handoff(spark):
    """_union_find_local with pre-collected rows must equal the
    collect-inside path (the one-bounded-collect gate rewrite)."""
    from strat_backtest_spark.operators.dedup import _union_find_local

    p = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 5)], "u bigint, v bigint"
    )
    a = _rows(_union_find_local(p), ["id", "component"])
    b = _rows(_union_find_local(p, rows=p.collect()), ["id", "component"])
    assert a == b
    assert a == [(1, 1), (2, 1), (3, 1), (5, 5), (10, 10), (11, 10)]

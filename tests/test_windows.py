"""Differential tests of the window library vs a pandas oracle
(SURVEY.md §5.2 #3): rolling-null parity, ffill, cumprod, pct_change
on a random walk."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import Window, functions as F

from strat_backtest_spark.functions.windows import (
    cum_max,
    cum_prod,
    cum_sum,
    forward_fill,
    pct_change,
    rolling_mean_sql,
)


@pytest.fixture(scope="module")
def walk(spark):
    rng = np.random.default_rng(7)
    n = 300
    pdf = pd.DataFrame(
        {
            "ticker": ["x"] * n,
            "date": pd.date_range("2020-01-01", periods=n).date,
            "close": 100 * np.exp(np.cumsum(rng.normal(0, 0.02, n))),
            "sparse": [v if v > 100 else None for v in 100 * rng.random(n)],
        }
    )
    return spark.createDataFrame(pdf), pdf


def _col(df, col):
    return [r[col] for r in df.orderBy("date").select(col).collect()]


def test_rolling_mean_matches_pandas(walk):
    df, pdf = walk
    got = _col(df.withColumn("sma", F.expr(rolling_mean_sql("close", 20))), "sma")
    exp = pdf.close.rolling(20).mean().tolist()
    for g, e in zip(got, exp):
        if pd.isna(e):
            assert g is None
        else:
            assert g == pytest.approx(e, rel=1e-12)


def test_pct_change_cumsum_cummax(walk):
    df, pdf = walk
    w = Window.partitionBy("ticker").orderBy("date")
    out = df.select(
        "date",
        pct_change("close", w).alias("pc"),
        cum_sum("close", w).alias("cs"),
        cum_max("close", w).alias("cm"),
    )
    rows = out.orderBy("date").collect()
    pc = pdf.close.pct_change().tolist()
    cs = pdf.close.cumsum().tolist()
    cm = pdf.close.cummax().tolist()
    for r, e_pc, e_cs, e_cm in zip(rows, pc, cs, cm):
        if pd.isna(e_pc):
            assert r["pc"] is None
        else:
            assert r["pc"] == pytest.approx(e_pc, rel=1e-9)
        assert r["cs"] == pytest.approx(e_cs, rel=1e-9)
        assert r["cm"] == pytest.approx(e_cm, rel=1e-12)


def test_cumprod_matches_pandas(walk):
    df, pdf = walk
    w = Window.partitionBy("ticker").orderBy("date")
    ret1 = (F.col("close") / F.lag("close").over(w)).alias("r")
    out = df.select("date", cum_prod(F.coalesce(ret1, F.lit(1.0)), w).alias("cp"))
    got = _col(out, "cp")
    exp = pdf.close.pct_change().add(1).fillna(1.0).cumprod().tolist()
    for g, e in zip(got, exp):
        assert g == pytest.approx(e, rel=1e-9)


def test_forward_fill_matches_pandas(walk):
    df, pdf = walk
    w = Window.partitionBy("ticker").orderBy("date")
    got = _col(df.withColumn("f", forward_fill("sparse", w, default=0.0)), "f")
    exp = pdf["sparse"].ffill().fillna(0.0).tolist()
    assert got == pytest.approx(exp)


def test_percent_return_matches_pandas(spark):
    """finance_data.py:29-40 parity: (pct_change()+1).cumprod()."""
    import numpy as np
    import pandas as pd
    from strat_backtest_spark.functions.windows import percent_return

    rng = np.random.default_rng(3)
    close = 100 + np.cumsum(rng.normal(0.1, 1.0, 60))
    pdf = pd.DataFrame(
        {"ticker": "x", "date": pd.date_range("2021-01-01", periods=60), "close": close}
    )
    df = spark.createDataFrame(pdf)
    got = (
        percent_return(df)
        .orderBy("date")
        .select("pct_return")
        .toPandas()["pct_return"]
        .to_numpy()
    )
    exp = (pd.Series(close).pct_change() + 1).cumprod().to_numpy()
    # row 0: pandas NaN, ours null
    assert np.isnan(got[0]) or got[0] is None
    assert np.allclose(got[1:], exp[1:], rtol=1e-9)


def test_tail_n_partitions_on_given_keys(spark):
    """tail_n keeps the last n rows of every (ticker, run_id) group.
    Keyed on ticker alone (the old fixed key) it kept two rows in total,
    both from the run with the later dates."""
    from datetime import date

    from strat_backtest_spark.functions.windows import tail_n

    rows = [("a", 0, date(2024, 1, d), float(d)) for d in range(1, 6)] + [
        ("a", 1, date(2024, 1, d), float(d)) for d in range(1, 4)
    ]
    df = spark.createDataFrame(rows, "ticker string, run_id long, date date, close double")
    got = sorted(tuple(r) for r in tail_n(df, 2, ["ticker", "run_id"]).collect())
    assert got == [
        ("a", 0, date(2024, 1, 4), 4.0), ("a", 0, date(2024, 1, 5), 5.0),
        ("a", 1, date(2024, 1, 2), 2.0), ("a", 1, date(2024, 1, 3), 3.0),
    ]
    ranked = tail_n(df, 1, ["ticker"], order_cols=["date", "run_id"], rank_col="rn")
    assert [tuple(r) for r in ranked.collect()] == [("a", 0, date(2024, 1, 5), 5.0, 1)]

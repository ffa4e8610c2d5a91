"""The reference's Reddit→tickers→optimize pipeline (SURVEY §2.1 S7,
§2.10 O5; reference ``common_stock.py:106-195`` ``Reddit_Stocks`` and
``optimize.py:67-99`` ``_find_common_stocks``), composed Spark-first.

The reference flow: fetch posts → regex-extract ticker-ish tokens →
keep only tokens in the cleaned NASDAQ symbol dictionary (minus a
blacklist) → Counter.most_common(n) → serially grid-search each
top stock. Here every stage is a DataFrame transform over a
``documents`` table (the fetch is an adapter concern, like yahoo.py),
and the final sweep evaluates ALL top tickers × ALL grid points as ONE
job via ``grid_search``'s multi-ticker parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from strat_backtest_spark.functions.text import extract_ticker_tokens
from strat_backtest_spark.sources.symbols import clean_symbols

# Reference blacklist (common_stock.py:176-187): finance jargon that
# collides with real ticker symbols.
TICKER_BLACKLIST = [
    "dcf", "dtc", "usd", "dd", "cpi", "fomo", "sec", "ipo", "esg", "tv",
]


def ticker_mentions(
    documents: DataFrame,
    symbols: DataFrame,
    stopwords: DataFrame,
    n: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Top-n dictionary-validated ticker mentions across a document
    corpus: clean text → regex token extraction → broadcast semi-join
    against the cleaned symbol dictionary → blacklist anti-filter →
    count → deterministic top-n. Replaces the reference's driver-side
    Counter with one shuffle on (symbol)."""
    toks = documents.select(
        F.explode(extract_ticker_tokens(F.col(text_col))).alias("raw")
    ).select(F.lower("raw").alias("symbol"))
    toks = toks.filter((F.col("symbol") != "") & (F.length("symbol") > 1))
    valid = clean_symbols(symbols, stopwords).filter(
        ~F.col("symbol").isin(*TICKER_BLACKLIST)
    )
    return (
        toks.join(F.broadcast(valid.select("symbol")), "symbol", "left_semi")
        .groupBy("symbol")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .orderBy(F.desc("n_mentions"), F.asc("symbol"))
        .limit(n)
    )


# ===========================================================================
# catalog entries
# ===========================================================================

from strat_backtest_spark.plans.catalog import _t, query  # noqa: E402

# Inline symbol-directory fixture: the harness ships no symbols table,
# so the dictionary is a literal — mirrored as VALUES in the oracle.
# Includes dot/short/stopword/blacklist entries so the cleaning chain
# (P6/P7/P8) is exercised, not just the happy path.
_SYMBOLS_FIXTURE = [
    ("join", "join industries"), ("hash", "hash corp"), ("scan", "scan inc"),
    ("data", "data systems"), ("key", "key bancorp"), ("fast", "fastenal"),
    ("sort", "sort holdings"), ("agg", "agg partners"), ("row", "row labs"),
    ("big", "big lots"), ("the", "the co"),            # stopword → dropped
    ("tv", "tv corp"),                                  # blacklist → dropped
    ("a", "short symbol"),                              # len 1 → dropped
    ("brk.a", "berkshire a"),                           # dot → dropped
]
_STOPWORDS_FIXTURE = ["the", "a", "an", "and", "or"]


def _fixture_symbol_tables(spark: SparkSession):
    symbols = spark.createDataFrame(
        _SYMBOLS_FIXTURE, "symbol string, security_name string"
    )
    stopwords = spark.createDataFrame(
        [(w,) for w in _STOPWORDS_FIXTURE], "word string"
    )
    return symbols, stopwords


def _symbols_values_sql() -> str:
    rows = ", ".join(f"('{s}')" for s, _ in _SYMBOLS_FIXTURE)
    stop = ", ".join(f"'{w}'" for w in _STOPWORDS_FIXTURE)
    black = ", ".join(f"'{b}'" for b in TICKER_BLACKLIST)
    return f"""
    valid AS (
      SELECT symbol FROM (VALUES {rows}) AS t(symbol)
      WHERE symbol NOT SIMILAR TO '.*[.$].*' AND len(symbol) > 1
        AND symbol NOT IN ({stop}) AND symbol NOT IN ({black})
    )
    """


_TOKS_CTE = r"""toks AS (
      SELECT lower(unnest(list_transform(
               regexp_extract_all(
                 regexp_replace(upper(text),
                   '[\U0001F600-\U0001F64F\U0001F300-\U0001F5FF\U0001F680-\U0001F6FF\U0001F1E0-\U0001F1FF]+|(https?:\/\/)?([\da-z\.-]+)\.([a-z\.]{2,7})([\/\w#?=%+&;.-]*)',
                   '', 'g'),
                 '([A-Z]{2,5})|\$([A-z]+)', 1),
               t -> coalesce(nullif(t, ''), NULL)))) AS symbol
      FROM documents
    ),
    """


def _mentions_sql(n: int) -> str:
    """Shared mentions aggregation over the token + dictionary CTEs
    (the q44 oracle body, parameterized by top-n)."""
    return f"""
    SELECT symbol, count(*) AS n_mentions
    FROM toks WHERE symbol IS NOT NULL AND len(symbol) > 1
      AND symbol IN (SELECT symbol FROM valid)
    GROUP BY symbol
    ORDER BY n_mentions DESC, symbol ASC
    LIMIT {n}
    """


@query(
    "q44_common_stock_mentions",
    oracle="WITH " + _TOKS_CTE + _symbols_values_sql() + _mentions_sql(5),
)
def q44_common_stock_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7+P6/P7/P8+T1 composed: document corpus → ticker-token regex →
    cleaned-dictionary semi-join → blacklist → top-5 mentions, full
    SQL oracle (dictionary inlined as VALUES on both engines).

    Text is uppercased first (as in q37): the synthetic corpus is
    lowercase, while the reference's capital-token regex assumes
    natural capitalized text."""
    symbols, stopwords = _fixture_symbol_tables(spark)
    docs = _t(spark, sf_dir, "documents").withColumn("text", F.upper("text"))
    return ticker_mentions(docs, symbols, stopwords, n=5)


def _q45_oracle() -> str:
    """q45 = q44's mention ranking composed with q41's kernel-sim grid:
    the recursive-CTE kernel oracle (catalog_backtest._ma_kernel_sim_sql)
    instantiated at the 4 grid points, argmax per ticker, restricted to
    the rank-bridged top-3 mention tickers."""
    from strat_backtest_spark.functions.numeric import round_half_up_sql
    from strat_backtest_spark.plans.kernel_oracle import (
        _GRID_RUNS,
        _ma_kernel_sim_sql,
    )

    final = f"""
    , {_TOKS_CTE} {_symbols_values_sql()}
    , mentions AS ({_mentions_sql(3)})
    , bridge AS (
      SELECT (row_number() OVER (ORDER BY n_mentions DESC, symbol ASC) - 1)::VARCHAR
               AS ticker,
             symbol AS mentioned_symbol
      FROM mentions
    ), params(run_id, fast, lagging) AS (
      VALUES (0::BIGINT, 3, 8), (1::BIGINT, 3, 13),
             (2::BIGINT, 5, 8), (3::BIGINT, 5, 13)
    ), scored AS (
      SELECT lc.ticker, p.run_id, p.fast, p.lagging,
             (((coalesce(f.tsh, 0.0) * lc.lc) - coalesce(f.cb, 0.0))
              + coalesce(f.cs, 0.0)) + 10000.0 AS nw
      FROM last_close lc
      CROSS JOIN params p
      LEFT JOIN finals f ON f.ticker = lc.ticker AND f.run_id = p.run_id
    ), best AS (
      SELECT ticker, fast, lagging, {round_half_up_sql('nw', 4)} AS net_worth
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY ticker ORDER BY nw DESC, run_id ASC) = 1
    )
    SELECT b.ticker, br.mentioned_symbol, b.fast, b.lagging, b.net_worth
    FROM best b JOIN bridge br ON br.ticker = b.ticker"""
    return _ma_kernel_sim_sql(_GRID_RUNS, final_select=final)


@query("q45_common_stock_sweep", oracle=_q45_oracle())
def q45_common_stock_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 end-to-end on synthetic data: top-3 mentioned symbols are
    rank-mapped onto the synthetic bar tickers (the corpus and the
    bars are unrelated test tables — the bridge is deterministic),
    then one grid job finds the best (fast, lagging) per ticker."""
    from pyspark.sql import Window
    from strat_backtest_spark.plans.catalog_backtest import _bars

    symbols, stopwords = _fixture_symbol_tables(spark)
    docs = _t(spark, sf_dir, "documents").withColumn("text", F.upper("text"))
    top = ticker_mentions(docs, symbols, stopwords, n=3)
    rank = (
        F.row_number().over(
            Window.orderBy(F.desc("n_mentions"), F.asc("symbol"))
        )
        - 1
    )
    bridge = top.select((rank).cast("string").alias("ticker"),
                        F.col("symbol").alias("mentioned_symbol"))
    # 3 rows whose DAG is the whole corpus regex pipeline; consumed by
    # the bars semi-join AND the final label join, and grid_search
    # reads its input in several branches — pin once (was ~6 document
    # scans per run, 14s at sf0.1; ~2s after)
    bridge = bridge.localCheckpoint(eager=True)
    bars = _bars(spark, sf_dir)
    sel = bars.join(F.broadcast(bridge.select("ticker")), "ticker", "left_semi")
    from strat_backtest_spark.operators.optimize import grid_search

    best = grid_search(sel, 10_000.0, fast_range=(3, 7, 2), lagging_range=(8, 14, 5))
    return best.join(F.broadcast(bridge), "ticker").select(
        "ticker", "mentioned_symbol", "fast", "lagging", "net_worth"
    )


_Q46_SA_KW = dict(
    init_state=(3, 8), bounds=((2, 10), (5, 20)),
    T=100.0, iterations=3, neighbors_per_step=4, seed=42,
)


def _q46_oracle_builder(sf_dir: str) -> str:
    """Data-dependent oracle for the SA chain. The walk is NOT
    seed-only deterministic — each argmax/Metropolis step consumes the
    objective values — so the oracle REPLAYS the exact chain driver
    (optimize.sa_chain: same RNG draws, same accepts) with a
    **DuckDB-scored** objective: every candidate neighborhood is
    evaluated by the recursive-CTE kernel sim (_ma_kernel_sim_sql),
    never by Spark. The returned SQL then recomputes the visited
    states' objectives in DuckDB at gate time. If the Spark kernel
    diverged anywhere along the chain, the walks split and the gate
    hash-mismatches — which is the point."""
    import duckdb

    from strat_backtest_spark.functions.numeric import round_half_up_sql
    from strat_backtest_spark.operators.optimize import sa_chain
    from strat_backtest_spark.plans.kernel_oracle import _ma_kernel_sim_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    where = "WHERE user_id = 0"  # Spark side: _bars(...).filter(ticker == '0')

    def nw_final(runs: list[tuple[int, int, int]], select: str) -> str:
        vals = ", ".join(f"({i}::BIGINT, {f}, {l})" for i, f, l in runs)
        return f"""
    , params(run_id, fast, lagging) AS (VALUES {vals})
    , scored AS (
      SELECT p.run_id, p.fast, p.lagging,
             (((coalesce(f.tsh, 0.0) * lc.lc) - coalesce(f.cb, 0.0))
              + coalesce(f.cs, 0.0)) + 10000.0 AS nw
      FROM last_close lc
      CROSS JOIN params p
      LEFT JOIN finals f ON f.ticker = lc.ticker AND f.run_id = p.run_id
    )
    {select}"""

    def score(states: list[tuple[int, int]]) -> list[float]:
        runs = [(i, int(f), int(l)) for i, (f, l) in enumerate(states)]
        sql = _ma_kernel_sim_sql(
            runs,
            nw_final(
                runs,
                f"SELECT run_id, {round_half_up_sql('nw', 4)} AS net_worth FROM scored",
            ),
            events_where=where,
        )
        got = {int(r[0]): float(r[1]) for r in con.sql(sql).fetchall()}
        return [got.get(i, float("-inf")) for i in range(len(states))]

    history = sa_chain(score, **_Q46_SA_KW)["history"]
    distinct = sorted({(int(f), int(l)) for (f, l), _ in history})
    run_of = {st: i for i, st in enumerate(distinct)}
    runs = [(i, f, l) for (f, l), i in sorted(run_of.items(), key=lambda kv: kv[1])]
    steps = ", ".join(
        f"({step}, {run_of[(int(f), int(l))]}::BIGINT)"
        for step, ((f, l), _) in enumerate(history)
    )
    final = nw_final(
        runs,
        f"""SELECT s.step, p.fast, p.lagging,
           {round_half_up_sql('sc.nw', 4)} AS net_worth
    FROM (VALUES {steps}) s(step, run_id)
    JOIN scored sc ON sc.run_id = s.run_id
    JOIN params p ON p.run_id = s.run_id""",
    )
    return _ma_kernel_sim_sql(runs, final, events_where=where)


@query("q46_simulated_annealing", oracle_builder=_q46_oracle_builder)
def q46_simulated_annealing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simulated annealing (reference optimize.py:138-207) exercised
    through the gate: a short seeded chain on one synthetic ticker,
    returning the accepted-state history as rows. Oracled by a full
    chain REPLAY with DuckDB-computed objectives (_q46_oracle_builder):
    step order, visited states, and objective values all hash-gated."""
    from strat_backtest_spark.operators.optimize import simulated_annealing
    from strat_backtest_spark.plans.catalog_backtest import _bars

    bars = _bars(spark, sf_dir).filter(F.col("ticker") == "0")
    out = simulated_annealing(bars, 10_000.0, **_Q46_SA_KW)
    rows = [
        (i, int(s[0]), int(s[1]), float(c))
        for i, (s, c) in enumerate(out["history"])
    ]
    return spark.createDataFrame(
        rows, "step int, fast int, lagging int, net_worth double"
    )

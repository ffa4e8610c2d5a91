"""Catalog batch 3 — as-of joins, OLAP shapes (rollup/pivot/
sessionization), the text-mining pipeline, multimodal plumbing, and
the backtest engine itself driven on synthetic bars.

Kernel-backed queries (sequential order matching) are not
SQL-expressible; they register without an oracle and get the driver's
rows-only check — everything vectorizable has a full oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from strat_backtest_spark.functions.numeric import (
    round_half_up_spark_expr,
    round_half_up_sql,
)
from strat_backtest_spark.plans.catalog import _t, query
from strat_backtest_spark.plans.kernel_oracle import (
    _GRID_RUNS,
    _curve_sim_sql,
    _ma_kernel_sim_sql,
)


# ===========================================================================
# As-of join (SURVEY §2.3 J5 generalized; Spark lacks a native one)
# ===========================================================================

@query(
    "q32_asof_join",
    oracle="""
    SELECT event_id, o_orderkey AS last_orderkey FROM (
      SELECT e.event_id, o.o_orderkey,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e JOIN orders o
        ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    ) WHERE rn = 1
    """,
)
def q32_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of: each event matched to the user's most recent order at or
    before the event time.

    LINEAR plan — union both streams, one shuffle+sort per user,
    forward-fill the order key with last(ignorenulls):

        orders(user, t, key) ∪ events(user, t, event) → sort by
        (t, kind) per user → last(key) over unbounded-preceding frame

    The round-1 plan (equi-join on user + time predicate + row_number)
    fanned every event out to ALL prior orders of its user before
    ranking — per-user cost grew as events × orders; this one is
    O(n log n) in the per-user row count with exactly one wide stage.
    kind orders orders before events at equal timestamps (inclusive
    as-of), and equal-date orders sort by key so the fill takes the
    max key, matching the oracle's DESC/DESC ranking. The operator
    (operators/rangejoin.py:asof_lookup) also offers a time-salted
    variant for whale keys — see the BASELINE skew probe row."""
    from strat_backtest_spark.operators.rangejoin import asof_lookup

    ev = _t(spark, sf_dir, "events")
    o = _t(spark, sf_dir, "orders")
    pairs = asof_lookup(
        probe=ev.selectExpr("user_id", "ts", "event_id"),
        build=o.selectExpr(
            "o_custkey AS user_id",
            "CAST(o_orderdate AS timestamp) AS ts",
            "o_orderkey",
        ),
        key_col="user_id",
        time_col="ts",
        value_col="o_orderkey",
        probe_id_col="event_id",
    )
    return pairs.filter(F.col("o_orderkey").isNotNull()).select(
        "event_id", F.col("o_orderkey").alias("last_orderkey")
    )


# ===========================================================================
# OLAP shapes
# ===========================================================================

@query(
    "q33_rollup_revenue",
    oracle="""
    SELECT r_name, n_name, round(sum(o_totalprice), 2) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q33_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


@query(
    "q34_pivot_event_matrix",
    oracle="""
    SELECT user_id,
           count(*) FILTER (event_type = 'click')    AS n_click,
           count(*) FILTER (event_type = 'view')     AS n_view,
           count(*) FILTER (event_type = 'purchase') AS n_purchase,
           count(*) FILTER (event_type = 'signup')   AS n_signup,
           count(*) FILTER (event_type = 'error')    AS n_error
    FROM events GROUP BY user_id
    """,
)
def q34_pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: event_type → columns (explicit value list so the plan is
    a single pass, no distinct-values pre-query)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .select(
            "user_id",
            *[
                F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
                for t in ["click", "view", "purchase", "signup", "error"]
            ],
        )
    )


@query(
    "q35_sessionization",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, count(DISTINCT session_id) AS n_sessions,
           round(count(*) / count(DISTINCT session_id), 6) AS avg_events_per_session
    FROM sess GROUP BY user_id
    """,
)
def q35_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: gap > 30 min starts a session; lag + running sum."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # microsecond-exact gap (cast('long') would truncate to whole
    # seconds and could split sessions differently from the oracle's
    # INTERVAL comparison on sub-second timestamps)
    new_sess = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts) > 30 * 60 * 1_000_000),
        1,
    ).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = ev.withColumn("new_session", new_sess).withColumn(
        "session_id", F.sum("new_session").over(cum)
    )
    return sess.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.round(
            F.count(F.lit(1)) / F.countDistinct("session_id"), 6
        ).alias("avg_events_per_session"),
    )


# ===========================================================================
# Text-mining pipeline (reference: common_stock.py most_common,
# SURVEY §2.4 A8, §2.7 U3, §2.6 T1)
# ===========================================================================

@query(
    "q36_token_topk",
    oracle=r"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                    t -> t <> '')) AS token
      FROM documents
    )
    SELECT token, count(*) AS n FROM toks
    WHERE token NOT IN ('the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'is', 'it')
    GROUP BY token
    ORDER BY n DESC, token ASC
    LIMIT 20
    """,
)
def q36_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's Counter.most_common pipeline, distributed:
    explode tokens → anti-filter stopwords → count → top-k."""
    from strat_backtest_spark.functions.text import whitespace_tokens
    from strat_backtest_spark.operators.text_analysis import STOPWORDS

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("token")
        )
        .filter(~F.col("token").isin(*STOPWORDS))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


@query(
    "q37_ticker_mentions",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_transform(
               regexp_extract_all(upper(text), '([A-Z]{2,5})|\$([A-z]+)', 1),
               t -> coalesce(nullif(t, ''), NULL))) AS token
      FROM documents
    )
    SELECT token, count(*) AS n FROM toks
    WHERE token IS NOT NULL AND len(token) >= 2
    GROUP BY token ORDER BY n DESC, token ASC LIMIT 10
    """,
)
def q37_ticker_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference ticker-extraction regex (common_stock.py:125) over
    uppercased document text, counted and top-k'd."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(
        F.upper(F.col("text")), F.lit(r"([A-Z]{2,5})|\$([A-z]+)"), 1
    )
    return (
        docs.select(F.explode(toks).alias("token"))
        .filter((F.col("token") != "") & (F.length("token") >= 2))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(10)
    )


# ===========================================================================
# Multimodal plumbing: binary columns + Arrow-batched Python transform
# ===========================================================================

@query(
    "q38_multimodal_features",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS byte_len,
           octet_length(encode(text)) % 640 AS frame_width,
           (octet_length(encode(text)) // 640) % 480 AS frame_height
    FROM documents
    """,
)
def q38_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: documents encoded to a BINARY payload
    column, then 'decoded' by an Arrow-batched mapInPandas feature
    extractor (a deterministic stand-in for image/audio decode — the
    real decoder slots into `_extract` unchanged; see
    operators/multimodal.py for the stubbed real-decoder path)."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    def _extract(batches):
        for pdf in batches:
            blens = pdf["payload"].map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": blens,
                    "frame_width": blens % 640,
                    "frame_height": (blens // 640) % 480,
                }
            )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("byte_len", T.LongType()),
            T.StructField("frame_width", T.LongType()),
            T.StructField("frame_height", T.LongType()),
        ]
    )
    return docs.mapInPandas(_extract, schema)


# ===========================================================================
# The backtest engine on synthetic bars (kernel ⇒ rows-only where noted)
# ===========================================================================

def _bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from strat_backtest_spark.sources.bars import bars_from_events

    return bars_from_events(_t(spark, sf_dir, "events"))


@query(
    "q39_ma_cross_signals",
    oracle="""
    WITH bars AS (
      SELECT ticker, date, close FROM (
        SELECT user_id::VARCHAR AS ticker, CAST(ts AS DATE) AS date, value AS close,
               row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts, event_id) AS rn
        FROM events
      ) WHERE rn = 1
    ), win AS (
      SELECT ticker, date, close,
             count(*) OVER w3 AS cnt3, avg(close) OVER w3 AS avg3,
             count(*) OVER w8 AS cnt8, avg(close) OVER w8 AS avg8
      FROM bars
      WINDOW w3 AS (PARTITION BY ticker ORDER BY date ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             w8 AS (PARTITION BY ticker ORDER BY date ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
    ), ind AS (
      SELECT ticker, date, close,
             CASE WHEN cnt3 >= 3 THEN avg3 END AS sma_fast,
             CASE WHEN cnt8 >= 8 THEN avg8 END AS sma_lag
      FROM win
    ), crossed AS (
      SELECT ticker, date, close,
             coalesce(sma_fast > sma_lag, false) AS is_cross,
             lag(coalesce(sma_fast > sma_lag, false))
               OVER (PARTITION BY ticker ORDER BY date) AS prev_cross
      FROM ind
    )
    SELECT ticker, strftime(date, '%Y-%m-%d') AS date, round(close, 6) AS close,
           CASE WHEN is_cross THEN 'buy' ELSE 'sell' END AS action
    FROM crossed
    WHERE prev_cross IS NULL OR is_cross <> prev_cross
    """,
)
def q39_ma_cross_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's vectorized signal layer on synthetic bars — full
    SQL oracle for the window/edge-detection semantics."""
    from strat_backtest_spark.operators.signals import ma_cross_signals

    sig = ma_cross_signals(_bars(spark, sf_dir), fast=3, lagging=8)
    return sig.select(
        "ticker",
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        F.round("close", 6).alias("close"),
        "action",
    )


@query(
    "q40_backtest_networth",
    oracle=_ma_kernel_sim_sql(
        [(0, 3, 8)],
        # net_worth(T) telescope (portfolio.py:64-100), Spark's exact
        # parenthesization: ((shares·close − cb) + cs) + init; rounded
        # via the IEEE-stable helper (see round_half_up_spark_expr) so huge
        # magnitudes cannot strand the two engines' round() on
        # different sides of a decimal boundary
        final_select=f"""
    SELECT ticker, run_id, {round_half_up_sql('nw', 4)} AS net_worth
    FROM (
      SELECT lc.ticker, p.run_id,
             (((coalesce(f.tsh, 0.0) * lc.lc) - coalesce(f.cb, 0.0))
              + coalesce(f.cs, 0.0)) + 10000.0 AS nw
      FROM last_close lc
      CROSS JOIN (VALUES (0::BIGINT)) p(run_id)
      LEFT JOIN finals f ON f.ticker = lc.ticker AND f.run_id = p.run_id
    )""",
    ),
)
def q40_backtest_networth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end backtest (signals → order kernel → portfolio) per
    synthetic ticker. The sequential order matching runs in the
    mapInPandas kernel; the gate checks it against a recursive-CTE
    DuckDB oracle that folds the same edge stream through the same
    order-book recurrence (see _ma_kernel_sim_sql) — bit-exact before
    the shared round(4)."""
    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy

    bt = Backtest(_bars(spark, sf_dir), 10_000.0, MACrossStrategy(fast=3, lagging=8))
    return bt.final_net_worth().select(
        "ticker",
        "run_id",
        F.expr(round_half_up_spark_expr("net_worth", 4)).alias("net_worth"),
    )


@query(
    "q41_grid_search",
    oracle=_ma_kernel_sim_sql(
        _GRID_RUNS,
        # argmax per ticker on the UNROUNDED objective, lowest run_id
        # tiebreak — grid_search's exact selection (optimize.py:99-104)
        final_select=f"""
    , params(run_id, fast, lagging) AS (
      VALUES (0::BIGINT, 3, 8), (1::BIGINT, 3, 13),
             (2::BIGINT, 5, 8), (3::BIGINT, 5, 13)
    ), scored AS (
      SELECT lc.ticker, p.run_id, p.fast, p.lagging,
             (((coalesce(f.tsh, 0.0) * lc.lc) - coalesce(f.cb, 0.0))
              + coalesce(f.cs, 0.0)) + 10000.0 AS nw
      FROM last_close lc
      CROSS JOIN params p
      LEFT JOIN finals f ON f.ticker = lc.ticker AND f.run_id = p.run_id
    )
    SELECT ticker, fast, lagging,
           {round_half_up_sql('nw', 4)} AS net_worth
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY ticker ORDER BY nw DESC, run_id ASC) = 1""",
    ),
)
def q41_grid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyper-parameter grid sweep: one cluster job evaluates every
    (fast, lagging) point (reference runs these serially,
    optimize.py:221-225); returns the best point per ticker. Gate
    checks the whole sweep — multi-window signal plan, kernel per
    (ticker, run), argmax selection — against the recursive-CTE kernel
    oracle instantiated at all four grid points."""
    from strat_backtest_spark.operators.optimize import grid_search

    return grid_search(
        _bars(spark, sf_dir),
        initial_amount=10_000.0,
        fast_range=(3, 7, 2),
        lagging_range=(8, 14, 5),
    )


from strat_backtest_spark.plans.kernel_oracle import _metrics_sim_sql  # noqa: E402


@query("q42_backtest_metrics", oracle=_metrics_sim_sql())
def q42_backtest_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 18-stat metrics suite over a synthetic-bar backtest — full
    hash check against the kernel-sim metrics oracle (orders tracked in
    the recursion, Q6 positional benchmark attach, Spark-exact Average
    and Welford replication for the ^255-amplified stats; see
    kernel_oracle._metrics_sim_sql)."""
    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy

    bars = _bars(spark, sf_dir)
    bench = bars.filter(F.col("ticker") == "0").select(
        "date", F.col("close").alias("sp500")
    )
    bt = Backtest(
        bars, 10_000.0, MACrossStrategy(fast=3, lagging=8), benchmark=bench
    )
    bt.run()
    m = bt.metrics(risk_free_rate=0.03)
    date_cols = {"start_time", "end_time"}
    # one schema fetch: dict(m.dtypes) inside the per-column loop
    # re-resolved the full metrics plan once per output column.
    # selectExpr + round_half_up_spark_expr: built from Columns, this
    # 21-column projection alone cost ~1,400 py4j round-trips (~1 s of
    # driver wall per build); the text form is one round-trip.
    dtypes = dict(m.dtypes)
    return m.selectExpr(
        *[
            f"date_format({c}, 'yyyy-MM-dd') AS {c}"
            if c in date_cols
            else f"{round_half_up_spark_expr(c, 6)} AS {c}"
            if dtypes[c] == "double"
            else c
            for c in m.columns
        ]
    )


@query(
    "q43_stream_windowed_agg",
    # finite replay + complete-mode drain => the watermark drops
    # nothing and the windowed state equals a batch 1-day group-by
    # (Spark's epoch-aligned tumbling window at UTC = date_trunc)
    oracle="""
    SELECT date_trunc('day', ts) AS window_start, event_type,
           count(*) AS n, round(sum(value), 4) AS total
    FROM events GROUP BY 1, 2
    """,
)
def q43_stream_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming path: the events table replayed as a
    stream, watermarked 1-day-windowed counts per event_type, drained
    to parquet executor-side and checked against the exact batch SQL
    (q48/q49-style shared-semantics oracle)."""
    from strat_backtest_spark.streaming.events_stream import windowed_event_counts

    return windowed_event_counts(spark, sf_dir)


# The streaming variants answer the SAME questions as their batch
# counterparts on the finite replay, so they share oracles: the gate
# then checks streaming-state/micro-batch plumbing end-to-end against
# exact SQL, not just row counts.
from strat_backtest_spark.plans.catalog import CATALOG as _CATALOG  # noqa: E402


@query("q48_stream_sessionize", oracle=_CATALOG["q35_sessionization"].oracle)
def q48_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: applyInPandasWithState
    gap-sessionizer (30-min, per-user state = 3 longs), update mode.
    Equals batch q35 on the finite replay — checked by q35's oracle."""
    from strat_backtest_spark.streaming.events_stream import sessionize_stream

    return sessionize_stream(spark, sf_dir)


@query("q49_stream_signal_edges", oracle=_CATALOG["q39_ma_cross_signals"].oracle)
def q49_stream_signal_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful incremental signal edges: bars replayed as THREE
    micro-batches through the streaming kernel, where per-key state
    carries the ``lagging-1`` MA warm-up tail across batch boundaries —
    exact under incremental arrival, not just full-batch replay. The
    edges are the curve's rows with an action. Still checked against
    q39's batch-semantics oracle."""
    from strat_backtest_spark.operators.kernel import MACrossRun
    from strat_backtest_spark.streaming.backtest_stream import (
        bars_replay_stream,
        drain_stream,
        streaming_backtest_curve,
    )

    bars = _bars(spark, sf_dir)
    curve = streaming_backtest_curve(
        bars_replay_stream(spark, bars, n_chunks=3), 10_000.0, runs=[MACrossRun(0, 3, 8)]
    )
    return drain_stream(spark, curve).filter(F.col("action").isNotNull()).select(
        "ticker",
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        F.round("close", 6).alias("close"),
        "action",
    )


def _fmt_curve(df: DataFrame) -> DataFrame:
    """Gate formatting for streaming-curve outputs: rounded per the
    catalog's float convention, dates as strings (both engines emit
    identical text)."""
    return df.select(
        "ticker",
        "run_id",
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        F.round("close", 6).alias("close"),
        "action",
        "shares_owned",
        F.expr(round_half_up_spark_expr("net_worth", 4)).alias("net_worth"),
    )


@query("q59_stream_backtest_kernel", oracle=_curve_sim_sql("ma_cross"))
def q59_stream_backtest_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FIFO order kernel as a streaming stateful operator
    (SURVEY §7.2 M9): bars replayed as three micro-batches; per-ticker
    state carries the open-order book + MA tail; output is the per-bar
    net-worth curve — gate-checked against the per-bar recursive-CTE
    kernel oracle (_curve_sim_sql), so the streaming state handoff is
    verified against exact SQL, not just batch parity."""
    from strat_backtest_spark.operators.kernel import MACrossRun
    from strat_backtest_spark.streaming.backtest_stream import (
        bars_replay_stream,
        drain_stream,
        streaming_backtest_curve,
    )

    bars = _bars(spark, sf_dir)
    curve = streaming_backtest_curve(
        bars_replay_stream(spark, bars, n_chunks=3), 10_000.0, runs=[MACrossRun(0, 3, 8)]
    )
    return _fmt_curve(drain_stream(spark, curve).orderBy("ticker", "date").limit(150))


@query(
    "q50_multimodal_frames",
    oracle="""
    SELECT doc_id, frame_index, 224 AS width, 224 AS height
    FROM (
      SELECT doc_id,
             unnest(range(0, octet_length(encode(text)) % 32 + 1, 4)) AS frame_index
      FROM documents
    )
    """,
)
def q50_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal module end-to-end: binary payload + typed
    metadata (attach_media), resize as a metadata rewrite (payload
    untouched), then frame sampling as an index explode — every 4th
    frame. Payload bytes never fan out; only index rows do."""
    from strat_backtest_spark.operators.multimodal import (
        attach_media,
        resize_meta,
        sample_frames,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    media = resize_meta(attach_media(docs, "payload", "video"), 224, 224)
    frames = sample_frames(media, every_n=4)
    return frames.select(
        "doc_id",
        "frame_index",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


@query(
    "q52_range_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           count(e.event_id) AS n_prior,
           round(coalesce(sum(e.value), 0), 4) AS prior_value
    FROM events p
    LEFT JOIN events e
      ON e.user_id = p.user_id AND e.event_type IN ('view', 'click')
     AND e.ts > p.ts - INTERVAL 1 HOUR AND e.ts < p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
)
def q52_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join, bucketed: prior-hour view/click activity per
    purchase. The inequality predicate never reaches the join — time
    quantized to lookback-width buckets turns it into one equi-join
    shuffle on (user, bucket) (a BroadcastNestedLoopJoin otherwise;
    see operators/rangejoin.py)."""
    from strat_backtest_spark.operators.rangejoin import lookback_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    activity = ev.filter(F.col("event_type").isin("view", "click")).select(
        "event_id", "user_id", "ts", "value"
    )
    pairs = lookback_join(
        purchases, activity,
        key_col="user_id", time_col="ts", probe_id_col="event_id",
        lookback="1 hour",
    )
    return pairs.groupBy(F.col("p_event_id").alias("purchase_id")).agg(
        F.count("b_event_id").alias("n_prior"),
        F.round(F.coalesce(F.sum("b_value"), F.lit(0.0)), 4).alias("prior_value"),
    )


@query(
    "q53_resample_ohlc",
    oracle="""
    WITH bars AS (
      -- round BEFORE the floor (both engines): a floor of an unrounded
      -- float sum flips with summation order near integer boundaries.
      -- rn=1 over (ts, event_id) = Spark's min_by(value,
      -- struct(ts, event_id)) deterministic tie-break (as in q39).
      SELECT ticker, date, value AS close,
             floor(round(abs(vol_raw), 6))::BIGINT AS volume FROM (
        SELECT user_id::VARCHAR AS ticker, CAST(ts AS DATE) AS date, value,
               row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts, event_id) AS rn,
               sum(value) OVER (PARTITION BY user_id, CAST(ts AS DATE)) AS vol_raw
        FROM events
      ) WHERE rn = 1
    )
    SELECT ticker, strftime(date_trunc('week', date), '%Y-%m-%d') AS week,
           round(arg_min(close, date), 6) AS open,
           round(max(close), 6)           AS high,
           round(min(close), 6)           AS low,
           round(arg_max(close, date), 6) AS close,
           -- ::BIGINT: DuckDB sum(BIGINT) returns HUGEINT, which pandas
           -- materializes as float64; Spark's sum(LongType) stays int64.
           -- Equal values, different hash at the gate — cast it back.
           sum(volume)::BIGINT            AS volume
    FROM bars GROUP BY ticker, date_trunc('week', date)
    """,
)
def q53_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling (hypertable-rollup style): daily synthetic
    bars -> weekly bars in one hash aggregation; min_by/max_by anchors
    stand in for sort-within-group, so the rollup stays a single
    map-side-combining shuffle at any scale."""
    from strat_backtest_spark.sources.bars import resample_bars

    weekly = resample_bars(_bars(spark, sf_dir), freq="week")
    return weekly.select(
        "ticker",
        F.date_format("date", "yyyy-MM-dd").alias("week"),
        F.round("open", 6).alias("open"),
        F.round("high", 6).alias("high"),
        F.round("low", 6).alias("low"),
        F.round("close", 6).alias("close"),
        "volume",
    )


@query("q73_stream_late_arrival", oracle=_curve_sim_sql("ma_cross"))
def q73_stream_late_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kernel's reorder buffer under GENUINE out-of-order arrival:
    the two dates below chunk 1's max are delivered with chunk 2 —
    late relative to an already-consumed newer bar — under a 30-day
    lateness bound, with a punctuation chunk flushing the buffer at
    end of replay. The oracle is the SAME per-bar kernel sim as
    in-order q59: within-bound lateness must be invisible in the
    result, and the gate hash proves it."""
    from strat_backtest_spark.operators.kernel import MACrossRun
    from strat_backtest_spark.streaming.backtest_stream import (
        bars_replay_stream,
        drain_stream,
        streaming_backtest_curve,
    )

    bars = _bars(spark, sf_dir)
    curve = streaming_backtest_curve(
        bars_replay_stream(
            spark, bars, n_chunks=3, delay_last_of_first=2, punctuate=True
        ),
        10_000.0,
        runs=[MACrossRun(0, 3, 8)],
        allowed_lateness_days=30,
    )
    return _fmt_curve(drain_stream(spark, curve).orderBy("ticker", "date").limit(150))


@query("q64_stream_band_kernel", oracle=_curve_sim_sql("band"))
def q64_stream_band_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The band strategy (threshold re-anchoring to the last
    transaction — fully path-dependent) on the streaming kernel:
    per-ticker state carries (anchor, last-move, book) across three
    micro-batches — gate-checked against the per-bar recursive-CTE
    oracle with the band trigger state folded into the recursion."""
    from strat_backtest_spark.operators.kernel import BandRun
    from strat_backtest_spark.streaming.backtest_stream import (
        bars_replay_stream,
        drain_stream,
        streaming_backtest_curve,
    )

    bars = _bars(spark, sf_dir)
    curve = streaming_backtest_curve(
        bars_replay_stream(spark, bars, n_chunks=3), 10_000.0, runs=[BandRun(0)]
    )
    return _fmt_curve(drain_stream(spark, curve).orderBy("ticker", "date").limit(150))


@query(
    "q65_stream_grid",
    # the concurrent grid's objective values are the per-edge kernel
    # sim's finals at every (ticker, run_id) — same oracle as q41
    # before the argmax, ordered/limited like the query
    oracle=_ma_kernel_sim_sql(
        _GRID_RUNS,
        final_select=f"""
    , params(run_id) AS (
      VALUES (0::BIGINT), (1::BIGINT), (2::BIGINT), (3::BIGINT)
    )
    SELECT ticker, run_id, {round_half_up_sql('nw', 4)} AS net_worth
    FROM (
      SELECT lc.ticker, p.run_id,
             (((coalesce(f.tsh, 0.0) * lc.lc) - coalesce(f.cb, 0.0))
              + coalesce(f.cs, 0.0)) + 10000.0 AS nw
      FROM last_close lc
      CROSS JOIN params p
      LEFT JOIN finals f ON f.ticker = lc.ticker AND f.run_id = p.run_id
    ) ORDER BY ticker, run_id LIMIT 150""",
    ),
)
def q65_stream_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 4-point (fast, lagging) grid evaluated CONCURRENTLY on the
    bar stream — one stateful operator keyed (ticker, run_id), every
    parameter point its own live order book. Gate-checked against the
    per-edge kernel sim instantiated at all four grid points."""
    from strat_backtest_spark.operators.kernel import MACrossRun
    from strat_backtest_spark.streaming.backtest_stream import (
        bars_replay_stream,
        drain_stream,
        streaming_backtest_curve,
    )

    bars = _bars(spark, sf_dir)
    params = [(0, 3, 8), (1, 3, 13), (2, 5, 8), (3, 5, 13)]
    curve = streaming_backtest_curve(
        bars_replay_stream(spark, bars, n_chunks=3),
        10_000.0,
        runs=[MACrossRun(*p) for p in params],
    )
    return (
        drain_stream(spark, curve)
        .groupBy("ticker", "run_id")
        .agg(
            F.expr(
                round_half_up_spark_expr("max_by(net_worth, date)", 4)
            ).alias("net_worth")
        )
        .orderBy("ticker", "run_id")
        .limit(150)
    )


from strat_backtest_spark.plans.kernel_oracle import (  # noqa: E402
    _partial_sim_sql,
    _stoploss_sim_sql,
)


@query("q72_stoploss_networth", oracle=_stoploss_sim_sql())
def q72_stoploss_networth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MA-cross WITH a 5% stop-loss per synthetic ticker — gates the
    engine's stop machinery (Q5 cheapest-stop-first heap, the
    first-match range scan booking sells at PAST bars, discarded
    never-triggered stops) against the stop-loss order-table recursion
    oracle (kernel_oracle._stoploss_sim_sql). Stops change the outcome
    on most tickers at the gate's scale, so the quirks are exercised,
    not latent."""
    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy

    bt = Backtest(
        _bars(spark, sf_dir),
        10_000.0,
        MACrossStrategy(fast=3, lagging=8, stop_loss_pct=0.95),
    )
    return bt.final_net_worth().select(
        "ticker",
        "run_id",
        F.expr(round_half_up_spark_expr("net_worth", 4)).alias("net_worth"),
    )


@query("q71_stream_partial_close", oracle=_partial_sim_sql())
def q71_stream_partial_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size sells on the streaming kernel — the partial-fill
    path (Q1 remainder double-queue + Q4 fill-time overwrite) in
    UPDATE output mode: a fill that rewrites an already-emitted buy
    bar's accounting re-emits the corrected history rows, latest
    emit_seq wins. Gate-checked against the order-table recursion
    oracle (kernel_oracle._partial_sim_sql) in addition to the batch
    parity suite in tests/test_streaming_kernel.py."""
    from strat_backtest_spark.operators.kernel import MACrossRun
    from strat_backtest_spark.streaming.backtest_stream import (
        bars_replay_stream,
        drain_stream,
        streaming_backtest_curve,
    )

    bars = _bars(spark, sf_dir)
    curve = streaming_backtest_curve(
        bars_replay_stream(spark, bars, n_chunks=3),
        10_000.0,
        runs=[MACrossRun(0, 3, 8, sell_shares=2.0)],
    )
    return _fmt_curve(drain_stream(spark, curve).orderBy("ticker", "date").limit(150))

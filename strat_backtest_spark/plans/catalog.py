"""Query catalog — the engine's operator inventory expressed as named
queries over the harness tables (TESTDATA.md), each paired with an
ANSI-SQL oracle that DuckDB can run on the same parquet.

Every operator family from SURVEY.md §2 has at least one entry here;
large-scale pipeline extensions (dedup, similarity, text analysis)
are first-class entries too. Keys map 1:1 to
``__spark_entry__.queries()`` / ``oracle_sql()``.

Design rules:
- column names identical between Spark result and oracle SQL (the
  driver sorts columns by name and hashes values);
- floating aggregates rounded in BOTH engines so summation-order
  differences cannot flip the hash;
- every ordering has a deterministic total tiebreak.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from strat_backtest_spark.functions.numeric import (
    round_half_up_spark_expr,
    round_half_up_sql,
)
from strat_backtest_spark.sources.bars import load_testdata


@dataclass
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    # Data-dependent oracles (q46: the SA walk's visited states depend
    # on the objective values, hence on the data): a callable taking
    # the sf_dir and returning the oracle SQL for THAT data. The gate
    # builds at the driver's sf0.01; local sweeps build per-sf.
    oracle_builder: Optional[Callable[[str], str]] = None

    def oracle_for(self, sf_dir: str) -> Optional[str]:
        if self.oracle is not None:
            return self.oracle
        if self.oracle_builder is not None:
            return self.oracle_builder(sf_dir)
        return None


CATALOG: dict[str, QueryDef] = {}


def query(
    name: str,
    oracle: Optional[str] = None,
    oracle_builder: Optional[Callable[[str], str]] = None,
):
    def deco(fn):
        CATALOG[name] = QueryDef(fn, oracle, oracle_builder)
        return fn

    return deco


# Session-scoped memo of _t's READER DataFrames (lazy plans +
# resolved schemas), keyed by (application id, sf_dir, table). This
# caches METADATA only — the parquet footer/schema read and the file
# listing that spark.read.parquet performs eagerly on the driver
# (~0.1-0.25 s per table per call, ×5 tables in the join-pyramid
# queries) — never rows: every action on the returned plan still
# scans the parquet files. Same class of reuse as Spark's own
# spark.sql.hive.filesourcePartitionFileCacheSize listing cache.
#
# Caveat: the memo never invalidates within an application — if the
# parquet under sf_dir is REWRITTEN mid-session (more/fewer files, new
# schema), the memoized plan serves the stale file list. Fine under
# the immutable-testdata bench contract; interactive sessions that
# rewrite inputs should call clear_table_memo() (or restart the app).
_T_MEMO: dict = {}


def clear_table_memo() -> None:
    """Drop every memoized reader plan (see _T_MEMO caveat above)."""
    _T_MEMO.clear()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    got = _T_MEMO.get(key)
    if got is not None:
        return got
    df = _t_build(spark, sf_dir, name)
    _T_MEMO[key] = df
    return df


def _t_build(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_testdata(spark, sf_dir, "events")["events"]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name in ("documents", "embeddings"):
        # These tables carry heavy per-row compute (shingle/minhash/
        # cosine). The test files are a single parquet row group, so
        # the scan yields ONE split and the whole map stage runs on
        # one core. Spread them across the cluster when under-split;
        # at production scale the scan has >= parallelism splits and
        # this is a no-op (no shuffle inserted).
        n = spark.sparkContext.defaultParallelism
        # inputFiles() is metadata-only; df.rdd.getNumPartitions() would
        # build the Python RDD conversion just to ask a question the
        # file listing already answers
        if len(df.inputFiles()) < n:
            df = df.repartition(n)
    return df


# ===========================================================================
# Aggregations (SURVEY §2.4 A1-A10) + filter pushdown
# ===========================================================================

@query(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4)                         AS sum_qty,
           round(sum(l_extendedprice), 2)                    AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 6)                         AS avg_qty,
           round(avg(l_discount), 6)                         AS avg_disc,
           count(*)                                          AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy multi-aggregate. The date filter and
    5-column projection push down to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q02_regional_revenue",
    oracle="""
    SELECT r_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q02_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join pyramid (SURVEY §2.3): fact-to-dims. nation/region (and at
    real scale, customer) are broadcast — no shuffle on the small side."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q03_top_customers",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum(o_totalprice), 2) AS total_spend,
           count(*) AS n_orders
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    ORDER BY total_spend DESC, c_custkey ASC
    LIMIT 10
    """,
)
def q03_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k (SURVEY §2.6 T1/T3): Spark plans TakeOrderedAndProject —
    per-partition heaps, no global sort."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(10)
    )


@query(
    "q04_orders_with_bigticket_items",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_extendedprice > 5000
    )
    GROUP BY o_orderpriority
    """,
)
def q04_orders_with_bigticket_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 5000)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "q05_status_totals",
    oracle="""
    SELECT o_orderstatus,
           round(sum(o_totalprice), 2) AS total_price,
           round(avg(o_totalprice), 4) AS avg_price,
           round(min(o_totalprice), 4) AS min_price,
           round(max(o_totalprice), 4) AS max_price,
           round(stddev_samp(o_totalprice), 4) AS std_price,
           count(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def q05_status_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped stats battery (A1-A4, A10): one partial-aggregatable pass."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.round(F.min("o_totalprice"), 4).alias("min_price"),
        F.round(F.max("o_totalprice"), 4).alias("max_price"),
        F.round(F.stddev_samp("o_totalprice"), 4).alias("std_price"),
        F.count(F.lit(1)).alias("n"),
    )


# ===========================================================================
# Window / time-series (SURVEY §2.5)
# ===========================================================================

_EVW = "PARTITION BY user_id ORDER BY ts, event_id"


@query(
    "q06_rolling_mean",
    oracle=f"""
    SELECT event_id, user_id,
           round(CASE WHEN count(value) OVER w >= 5
                 THEN avg(value) OVER w END, 6) AS sma5
    FROM events
    WINDOW w AS ({_EVW} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def q06_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 with pandas min_periods-null parity."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    sma = F.when(F.count("value").over(w) >= 5, F.avg("value").over(w))
    return ev.select("event_id", "user_id", F.round(sma, 6).alias("sma5"))


@query(
    "q07_pct_change",
    oracle=f"""
    SELECT event_id, user_id,
           {round_half_up_sql('value / lag(value) OVER (' + _EVW + ') - 1', 6)} AS pct_change
    FROM events
    """,
)
def q07_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2+W3: lag and percent change."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        # try_divide: a zero prior value must yield NULL (DuckDB's x/0),
        # not an ANSI DIVIDE_BY_ZERO error — surfaces only at sf0.1+
        # where zero-valued events exist
        # IEEE-stable rounding (functions/numeric.py): F.round's
        # shortest-decimal BigDecimal path disagrees with DuckDB round
        # at representation ties (one row in ~70k flips at sf0.1)
        F.expr(
            round_half_up_spark_expr(
                f"try_divide(value, lag(value) OVER ({_EVW})) - 1", 6
            )
        ).alias("pct_change"),
    )


@query(
    "q08_running_totals",
    oracle=f"""
    SELECT event_id, user_id,
           round(sum(value) OVER ({_EVW} ROWS UNBOUNDED PRECEDING), 4) AS run_sum,
           round(max(value) OVER ({_EVW} ROWS UNBOUNDED PRECEDING), 4) AS run_max
    FROM events
    """,
)
def q08_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4+W6: cumulative sum / max."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("run_sum"),
        F.round(F.max("value").over(w), 4).alias("run_max"),
    )


@query(
    "q09_cumprod",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(exp(sum(ln(1 + l_discount)) OVER
                 (PARTITION BY l_orderkey
                  ORDER BY l_linenumber, l_discount, l_extendedprice, l_partkey, l_suppkey
                  ROWS UNBOUNDED PRECEDING)), 6) AS cum_discount_factor
    FROM lineitem
    """,
)
def q09_cumprod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: cumulative product as exp∘sum∘log — identical rewrite in the
    oracle so float behavior matches. (l_orderkey, l_linenumber) is not
    unique in the synthetic data, so the window order includes the
    factor columns: any remaining ties are identical rows, for which
    prefix products are order-invariant."""
    li = _t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_discount", "l_extendedprice", "l_partkey", "l_suppkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.exp(F.sum(F.log(1 + F.col("l_discount"))).over(w)), 6).alias(
            "cum_discount_factor"
        ),
    )


@query(
    "q10_forward_fill",
    oracle=f"""
    SELECT event_id, user_id,
           round(coalesce(last_value(CASE WHEN value >= 50 THEN value END IGNORE NULLS)
                 OVER ({_EVW} ROWS UNBOUNDED PRECEDING), 0), 4) AS ffilled
    FROM events
    """,
)
def q10_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: forward-fill (nulls synthesized from small values), then
    zero-fill — the reference's shares_owned idiom (strats.py:562-565)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sparse = F.when(F.col("value") >= 50, F.col("value"))
    return ev.select(
        "event_id",
        "user_id",
        F.round(
            F.coalesce(F.last(sparse, ignorenulls=True).over(w), F.lit(0)), 4
        ).alias("ffilled"),
    )


@query(
    "q11_tail_n",
    oracle=f"""
    SELECT event_id, user_id, rn FROM (
      SELECT event_id, user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn <= 3
    """,
)
def q11_tail_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9: positional tail-n per group."""
    from strat_backtest_spark.functions.windows import tail_n

    ev = _t(spark, sf_dir, "events")
    return tail_n(
        ev, 3, ["user_id"], order_cols=["ts", "event_id"], rank_col="rn"
    ).select("event_id", "user_id", "rn")


@query(
    "q12_trailing_period",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 4) AS total
    FROM (SELECT *, max(ts) OVER () AS max_ts FROM events)
    WHERE ts > max_ts - INTERVAL 7 DAY
    GROUP BY event_type
    """,
)
def q12_trailing_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10: trailing-period filter relative to the table's max timestamp.

    The anchor max(ts) is a one-row aggregate broadcast back onto the
    scan — NOT a ``max() OVER ()`` window, which would plan as
    ``Exchange SinglePartition`` (the whole table through one task).
    Plan-regression-tested in tests/test_plans.py."""
    from strat_backtest_spark.functions.windows import trailing_period_filter

    ev = _t(spark, sf_dir, "events")
    return (
        trailing_period_filter(ev, "ts", "7 DAY", partition_cols=None)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))
    )


@query(
    "q13_first_last",
    oracle="""
    SELECT user_id,
           round(arg_min(value, event_id), 4) AS first_value,
           round(arg_max(value, event_id), 4) AS last_value,
           round(arg_max(value, ts), 4)       AS value_at_max_ts
    FROM events GROUP BY user_id
    """,
)
def q13_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: first/last as min_by/max_by scalar aggregates."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.round(F.min_by("value", "event_id"), 4).alias("first_value"),
        F.round(F.max_by("value", "event_id"), 4).alias("last_value"),
        F.round(F.max_by("value", "ts"), 4).alias("value_at_max_ts"),
    )


# ===========================================================================
# Set ops / distinct / anti / edge filters (SURVEY §2.2, §2.7)
# ===========================================================================

@query(
    "q14_distinct",
    oracle="""
    SELECT DISTINCT event_type, user_id % 10 AS user_bucket FROM events
    """,
)
def q14_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_type", (F.col("user_id") % 10).alias("user_bucket")
    ).distinct()


@query(
    "q15_union_nations",
    oracle="""
    SELECT n_nationkey, n_name FROM nation
    WHERE n_nationkey IN (SELECT c_nationkey FROM customer)
       OR n_nationkey IN (SELECT s_nationkey FROM supplier)
    """,
)
def q15_union_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: union + distinct + semi join."""
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    keys = c.unionByName(s).distinct()
    return n.join(keys, n.n_nationkey == keys.k, "left_semi").select(
        "n_nationkey", "n_name"
    )


@query(
    "q16_nations_without_suppliers",
    oracle="""
    SELECT n_nationkey, n_name FROM nation
    WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey)
    """,
)
def q16_nations_without_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3/J6: anti join."""
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    return n.join(s, n.n_nationkey == s.s_nationkey, "left_anti").select(
        "n_nationkey", "n_name"
    )


@query(
    "q17_signal_edges",
    oracle=f"""
    SELECT event_id, user_id, above FROM (
      SELECT event_id, user_id, (value > 100) AS above,
             lag(value > 100) OVER ({_EVW}) AS prev_above
      FROM events
    ) WHERE prev_above IS NULL OR above <> prev_above
    """,
)
def q17_signal_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: boolean edge detection — rows where a predicate flips."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    above = (F.col("value") > 100).alias("above")
    df = ev.select("event_id", "user_id", "ts", above).withColumn(
        "prev_above", F.lag("above").over(w)
    )
    return df.filter(
        F.col("prev_above").isNull() | (F.col("above") != F.col("prev_above"))
    ).select("event_id", "user_id", "above")


@query(
    "q18_compound_range_predicate",
    oracle="""
    SELECT event_id, user_id, round(value, 4) AS value
    FROM events
    WHERE value <= 25
      AND ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-22 00:00:00'
      AND event_type IN ('click', 'view')
    """,
)
def q18_compound_range_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5+P8: compound range + membership predicates (stop-loss scan
    shape, strats.py:318-322) — all pushed to the scan."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(
        (F.col("value") <= 25)
        & (F.col("ts") >= F.lit("2024-01-08 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-22 00:00:00").cast("timestamp"))
        & F.col("event_type").isin("click", "view")
    ).select("event_id", "user_id", F.round("value", 4).alias("value"))


@query(
    "q19_string_predicates",
    oracle=r"""
    SELECT p_partkey, lower(p_name) AS name_lower, length(p_name) AS name_len
    FROM part
    WHERE regexp_matches(p_type, 'STANDARD|SMALL') AND length(p_brand) > 1
    """,
)
def q19_string_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/F9/F12 + P6/P7: case, length, regex predicates."""
    p = _t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_type").rlike("STANDARD|SMALL") & (F.length("p_brand") > 1)
    ).select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.length("p_name").alias("name_len"),
    )


@query(
    "q20_json_props",
    oracle="""
    SELECT event_type,
           round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 6) AS avg_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q20_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17: JSON field access."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 6).alias("avg_k"), F.count(F.lit(1)).alias("n")
    )


# batch 2/3 registrations (import side effect; placed at module end so
# the decorator and helpers above are defined)
from strat_backtest_spark.plans import catalog_pipeline  # noqa: E402,F401
from strat_backtest_spark.plans import catalog_backtest  # noqa: E402,F401
from strat_backtest_spark.plans import common_stock  # noqa: E402,F401

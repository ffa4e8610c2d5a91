"""Recursive-CTE DuckDB oracles for the sequential order kernel.

A leaf module (no imports from plans.*) so both the catalog entries
and the common-stock pipeline can compose these SQL generators without
import cycles. See _ma_kernel_sim_sql for the design notes.
"""

from __future__ import annotations

from strat_backtest_spark.functions.numeric import round_half_up_sql


_GRID_RUNS = [(0, 3, 8), (1, 3, 13), (2, 5, 8), (3, 5, 13)]


def _ma_kernel_sim_sql(
    runs: list[tuple[int, int, int]],
    final_select: str,
    events_where: str = "",
) -> str:
    """DuckDB oracle for the SEQUENTIAL order kernel: a recursive CTE
    folds each (ticker, run_id) group's signal-edge stream through the
    exact TradingEngine recurrence (operators/kernel.py:166-244,
    reference strats.py:252-420), carrying the FIFO order book as a
    LIST<STRUCT(s, p)> deque plus scalar state (buying power with the
    Q2 re-add mutation, completed-profit total, share counters, the
    Σbuy·close / Σsell·close event sums the portfolio telescopes to).

    FP parity is by construction, not by rounding slack: every
    arithmetic step mirrors the Python kernel's operation ORDER —
    ``ca + (ptot - Σopen)`` keeps order_worth's parenthesization
    (kernel.py:184-186), share counts replicate CPython's float
    floordiv via mod + the >0.5 correction (DuckDB ``mod``/``%`` are C
    fmod; DuckDB ``fmod()`` is a DIFFERENT, lower-precision routine —
    10000.0 fmod 0.16 returns 0 where C fmod gives 0.1599…, flipping
    share counts at near-multiple boundaries) (floatobject.c float_divmod
    semantics), and the cb/cs accumulators add in event-date order,
    matching Spark's in-partition-ordered partial aggregation over the
    kernel's date-sorted event emission. Verified bit-exact (0/150
    groups differ before rounding) at sf0.01.

    ``runs``: (run_id, fast, lagging) triples; window frames are baked
    as literals, one per distinct MA length, shared by every run that
    uses it.
    """
    lengths = sorted({f for _, f, _ in runs} | {l for _, _, l in runs})
    win_cols = ",\n             ".join(
        f"count(*) OVER w{n} AS cnt{n}, avg(close) OVER w{n} AS avg{n}"
        for n in lengths
    )
    win_defs = ",\n             ".join(
        f"w{n} AS (PARTITION BY ticker ORDER BY date "
        f"ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)"
        for n in lengths
    )
    per_run = "\n      UNION ALL\n".join(
        f"""      SELECT ticker, date, close, {rid}::BIGINT AS run_id,
             coalesce(CASE WHEN cnt{f} >= {f} THEN avg{f} END
                      > CASE WHEN cnt{l} >= {l} THEN avg{l} END, false) AS is_cross,
             lag(coalesce(CASE WHEN cnt{f} >= {f} THEN avg{f} END
                          > CASE WHEN cnt{l} >= {l} THEN avg{l} END, false))
               OVER (PARTITION BY ticker ORDER BY date) AS prev_cross
      FROM win"""
        for rid, f, l in runs
    )
    return f"""
    WITH RECURSIVE bars AS (
      SELECT ticker, date, close FROM (
        SELECT user_id::VARCHAR AS ticker, CAST(ts AS DATE) AS date, value AS close,
               row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts, event_id) AS rn
        FROM events {events_where}
      ) WHERE rn = 1
    ), win AS (
      SELECT ticker, date, close,
             {win_cols}
      FROM bars
      WINDOW {win_defs}
    ), crossed AS (
{per_run}
    ), edge0 AS (
      SELECT ticker, run_id, date, close,
             CASE WHEN is_cross THEN 'buy' ELSE 'sell' END AS action
      FROM crossed
      WHERE prev_cross IS NULL OR is_cross <> prev_cross
    ), edges AS MATERIALIZED (
      -- the MA-cross walk (kernel._ma_cross_walk): sells at or before
      -- the first buy are skipped; survivors are the kernel's decision
      -- stream
      SELECT ticker, run_id, date, close, action,
             row_number() OVER (PARTITION BY ticker, run_id ORDER BY date) AS i
      FROM (
        SELECT *, min(CASE WHEN action = 'buy' THEN date END)
                    OVER (PARTITION BY ticker, run_id) AS first_buy
        FROM edge0
      )
      WHERE action = 'buy' OR date > first_buy
    ), sim AS (
      SELECT ticker, run_id,
             0::BIGINT AS i,
             10000.0::DOUBLE AS ca,     -- TradingEngine.current_amount
             0.0::DOUBLE AS ptot,       -- Σ completed-order profits
             CAST([] AS STRUCT(s DOUBLE, p DOUBLE)[]) AS opens,  -- FIFO deque
             0.0::DOUBLE AS tsh,        -- book.total_shares
             0.0::DOUBLE AS act,        -- engine.active_orders
             0.0::DOUBLE AS cb,         -- Σ buy_shares·event_close
             0.0::DOUBLE AS cs          -- Σ sell_shares·event_close
      FROM (SELECT DISTINCT ticker, run_id FROM edges)
      UNION ALL
      SELECT ticker, run_id, i,
             CASE WHEN is_buy THEN ca1 ELSE ca END,
             CASE WHEN is_close THEN ptot + ((px - p0) * s0) ELSE ptot END,
             CASE WHEN accept THEN list_append(opens, {{'s': n, 'p': px}})
                  WHEN is_close THEN opens[2:]
                  ELSE opens END,
             CASE WHEN accept THEN tsh + n WHEN is_close THEN tsh - s0 ELSE tsh END,
             CASE WHEN accept THEN act + n WHEN is_close THEN act - s0 ELSE act END,
             CASE WHEN accept THEN cb + (n * px) ELSE cb END,
             CASE WHEN is_close THEN cs + (s0 * px) ELSE cs END
      FROM (
        -- Q13: a buy the mutated buying power cannot afford is
        -- silently dropped (the CA mutation still sticks)
        SELECT *, is_buy AND NOT (ca1 < px * n) AS accept
        FROM (
          SELECT *,
                 -- CPython float floordiv (shares = ca1 // px): C-fmod
                 -- remainder (DuckDB mod, NOT its fmod), then the
                 -- floor(+1 if frac > .5) repair
                 CASE WHEN NOT is_buy THEN 0.0
                      WHEN ca1 > 0 THEN floor(divq)
                           + (CASE WHEN divq - floor(divq) > 0.5 THEN 1.0 ELSE 0.0 END)
                      ELSE -1.0 END AS n
          FROM (
            SELECT *,
                   CASE WHEN is_buy AND ca1 > 0
                        THEN (ca1 - mod(ca1, px)) / px ELSE 0.0 END AS divq
            FROM (
              SELECT *,
                     -- Q2: buying power re-adds completed profits and
                     -- subtracts open-order BARE prices (Q3) per call
                     CASE WHEN action = 'buy' AND px > 0
                          THEN ca + (ptot - coalesce(
                                 list_sum(list_transform(opens, o -> o.p)), 0.0))
                          ELSE ca END AS ca1,
                     action = 'buy' AND px > 0 AS is_buy,
                     action <> 'buy' AND act > 0 AND len(opens) > 0 AS is_close,
                     CASE WHEN len(opens) > 0 THEN opens[1].s ELSE 0.0 END AS s0,
                     CASE WHEN len(opens) > 0 THEN opens[1].p ELSE 0.0 END AS p0
              FROM (
                SELECT s.ticker, s.run_id, e.i, e.close AS px, e.action,
                       s.ca, s.ptot, s.opens, s.tsh, s.act, s.cb, s.cs
                FROM sim s
                JOIN edges e ON e.ticker = s.ticker AND e.run_id = s.run_id
                            AND e.i = s.i + 1
              )
            )
          )
        )
      )
    ), finals AS (
      SELECT ticker, run_id, tsh, cb, cs
      FROM sim
      QUALIFY row_number() OVER (PARTITION BY ticker, run_id ORDER BY i DESC) = 1
    ), last_close AS (
      SELECT ticker, arg_max(close, date) AS lc FROM bars GROUP BY ticker
    )
    {final_select}
    """



def _curve_sim_sql(strategy: str) -> str:
    """Per-bar variant of :func:`_ma_kernel_sim_sql`: the recursion
    steps over EVERY bar (not just signal edges) so the full per-bar
    net-worth curve falls out of the state rows directly — the oracle
    for the STREAMING kernels (q59 ma_cross, q64 band), whose output is
    the curve itself. State additionally carries the emitted action and
    (band) the anchor/last-move trigger pair; the curve row at bar i is
    ``((tsh·close − cb) + cs) + init``, the same scalar accumulation
    order the kernel's curve uses (operators/kernel.py:_portfolio_curve,
    which the streaming kernel shares). Band trigger semantics: reference Ten_Percent_Strat
    (custom_strats.py:83-101) — thresholds anchored to the LAST
    transaction bar, anchor moving even when the engine op no-ops."""
    if strategy == "ma_cross":
        signal_ctes = """win AS (
      SELECT ticker, date, close,
             count(*) OVER w3 AS cnt3, avg(close) OVER w3 AS avg3,
             count(*) OVER w8 AS cnt8, avg(close) OVER w8 AS avg8
      FROM bars
      WINDOW w3 AS (PARTITION BY ticker ORDER BY date ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             w8 AS (PARTITION BY ticker ORDER BY date ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
    ), crossed AS (
      SELECT ticker, date, close,
             coalesce(CASE WHEN cnt3 >= 3 THEN avg3 END
                      > CASE WHEN cnt8 >= 8 THEN avg8 END, false) AS is_cross,
             lag(coalesce(CASE WHEN cnt3 >= 3 THEN avg3 END
                          > CASE WHEN cnt8 >= 8 THEN avg8 END, false))
               OVER (PARTITION BY ticker ORDER BY date) AS prev_cross
      FROM win
    ), barsn AS MATERIALIZED (
      SELECT ticker, date, close,
             CASE WHEN prev_cross IS NULL OR is_cross <> prev_cross
                  THEN CASE WHEN is_cross THEN 'buy' ELSE 'sell' END END AS sig,
             min(CASE WHEN (prev_cross IS NULL OR is_cross <> prev_cross)
                       AND is_cross THEN date END)
               OVER (PARTITION BY ticker) AS first_buy,
             row_number() OVER (PARTITION BY ticker ORDER BY date) AS i
      FROM crossed
    ),"""
        trig = """sig = 'buy' AND px > 0 AS is_buy,
                     sig = 'sell' AND date > first_buy
                       AND act > 0 AND len(opens) > 0 AS is_close,
                     sig AS axn,
                     0.0::DOUBLE AS anchor1, false AS lms1"""
    elif strategy == "band":
        signal_ctes = """barsn AS MATERIALIZED (
      SELECT ticker, date, close, NULL::DATE AS first_buy, NULL::VARCHAR AS sig,
             row_number() OVER (PARTITION BY ticker ORDER BY date) AS i
      FROM bars
    ),"""
        trig = """CASE WHEN b.i = 1 THEN px > 0
                          WHEN px <= anchor * 0.99 AND lms THEN px > 0
                          ELSE false END AS is_buy,
                     b.i > 1 AND px >= anchor * 1.05 AND NOT lms
                       AND act > 0 AND len(opens) > 0 AS is_close,
                     CASE WHEN b.i = 1 THEN 'buy'
                          WHEN px >= anchor * 1.05 AND NOT lms THEN 'sell'
                          WHEN px <= anchor * 0.99 AND lms THEN 'buy' END AS axn,
                     CASE WHEN b.i = 1 OR (px >= anchor * 1.05 AND NOT lms)
                            OR (px <= anchor * 0.99 AND lms)
                          THEN px ELSE anchor END AS anchor1,
                     CASE WHEN b.i = 1 THEN false
                          WHEN px >= anchor * 1.05 AND NOT lms THEN true
                          WHEN px <= anchor * 0.99 AND lms THEN false
                          ELSE lms END AS lms1"""
    else:  # pragma: no cover - registration-time constant
        raise ValueError(strategy)
    return f"""
    WITH RECURSIVE bars AS (
      SELECT ticker, date, close FROM (
        SELECT user_id::VARCHAR AS ticker, CAST(ts AS DATE) AS date, value AS close,
               row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts, event_id) AS rn
        FROM events
      ) WHERE rn = 1
    ), {signal_ctes} sim AS (
      SELECT ticker,
             0::BIGINT AS i,
             NULL::VARCHAR AS axn,
             0.0::DOUBLE AS anchor, false AS lms,
             10000.0::DOUBLE AS ca,
             0.0::DOUBLE AS ptot,
             CAST([] AS STRUCT(s DOUBLE, p DOUBLE)[]) AS opens,
             0.0::DOUBLE AS tsh,
             0.0::DOUBLE AS act,
             0.0::DOUBLE AS cb,
             0.0::DOUBLE AS cs
      FROM (SELECT DISTINCT ticker FROM barsn)
      UNION ALL
      SELECT ticker, i, axn,
             anchor1, lms1,
             CASE WHEN is_buy THEN ca1 ELSE ca END,
             CASE WHEN is_close THEN ptot + ((px - p0) * s0) ELSE ptot END,
             CASE WHEN accept THEN list_append(opens, {{'s': n, 'p': px}})
                  WHEN is_close THEN opens[2:]
                  ELSE opens END,
             CASE WHEN accept THEN tsh + n WHEN is_close THEN tsh - s0 ELSE tsh END,
             CASE WHEN accept THEN act + n WHEN is_close THEN act - s0 ELSE act END,
             CASE WHEN accept THEN cb + (n * px) ELSE cb END,
             CASE WHEN is_close THEN cs + (s0 * px) ELSE cs END
      FROM (
        SELECT *, is_buy AND NOT (ca1 < px * n) AS accept
        FROM (
          SELECT *,
                 CASE WHEN NOT is_buy THEN 0.0
                      WHEN ca1 > 0 THEN floor(divq)
                           + (CASE WHEN divq - floor(divq) > 0.5 THEN 1.0 ELSE 0.0 END)
                      ELSE -1.0 END AS n
          FROM (
            SELECT *,
                   CASE WHEN is_buy AND ca1 > 0
                        THEN (ca1 - mod(ca1, px)) / px ELSE 0.0 END AS divq
            FROM (
              SELECT *,
                     CASE WHEN is_buy
                          THEN ca + (ptot - coalesce(
                                 list_sum(list_transform(opens, o -> o.p)), 0.0))
                          ELSE ca END AS ca1
              FROM (
                SELECT s.ticker, b.i, b.close AS px, b.date, {trig},
                       CASE WHEN len(s.opens) > 0 THEN s.opens[1].s ELSE 0.0 END AS s0,
                       CASE WHEN len(s.opens) > 0 THEN s.opens[1].p ELSE 0.0 END AS p0,
                       s.ca, s.ptot, s.opens, s.tsh, s.act, s.cb, s.cs
                FROM sim s
                JOIN barsn b ON b.ticker = s.ticker AND b.i = s.i + 1
              )
            )
          )
        )
      )
    ), curve AS (
      SELECT s.ticker, 0::BIGINT AS run_id, b.date, b.close, s.axn AS action,
             s.tsh AS shares_owned,
             (((s.tsh * b.close) - s.cb) + s.cs) + 10000.0 AS nw
      FROM sim s
      JOIN barsn b ON b.ticker = s.ticker AND b.i = s.i
    )
    SELECT ticker, run_id, strftime(date, '%Y-%m-%d') AS date,
           round(close, 6) AS close, action, shares_owned,
           {round_half_up_sql('nw', 4)} AS net_worth
    FROM curve ORDER BY ticker, date LIMIT 150
    """




def _render_rounds(sql: str) -> str:
    """Expand ``{R(expr)}`` markers into the IEEE round-half-up-6
    wrapper (round_half_up_sql) — keeps the metrics template readable
    where nearly every output column needs the stable rounding."""
    out = []
    i = 0
    while True:
        j = sql.find("{R(", i)
        if j < 0:
            out.append(sql[i:])
            break
        out.append(sql[i:j])
        depth, k = 1, j + 3
        while depth:
            if sql[k] == "(":
                depth += 1
            elif sql[k] == ")":
                depth -= 1
            k += 1
        expr = sql[j + 3 : k - 1]
        assert sql[k] == "}", sql[j : k + 1]
        out.append(round_half_up_sql(f"({expr})", 6))
        i = k + 1
    return "".join(out)


def _metrics_sim_sql() -> str:
    """The 18-stat metrics suite (operators/metrics.py, reference
    strats.py:657-789) as one DuckDB statement over the kernel sim:

    - per-bar recursion extended with per-order tracking (open deque
      carries start dates; completed orders accumulate as structs), so
      the orders-side aggregates fold over the SAME row order Spark's
      partial aggregation sees (completed-then-open, list_reduce for
      every float sum — ordered left folds, not engine aggs);
    - the Q6 positional benchmark attach (ticker-0 closes, last-n rows
      by DESC rank, full-outer date join) reproduced row for row;
    - a second recursion replicating Spark's row-ordered Average and
      CentralMomentAgg (Welford) for r_s — the two stats where the Q9
      ^255 compounding amplifies engine-level ULP noise above the
      rounding unit; all other stats round-6 through the shared
      IEEE-stable wrapper. The ^255 itself is a fixed square-and-
      multiply chain, mirrored exactly in operators/metrics.py.
    """
    return _render_rounds(_METRICS_SQL_TEMPLATE)


_METRICS_SQL_TEMPLATE = r"""
WITH RECURSIVE bars AS (
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
), crossed AS (
  SELECT ticker, date, close,
         coalesce(CASE WHEN cnt3 >= 3 THEN avg3 END
                  > CASE WHEN cnt8 >= 8 THEN avg8 END, false) AS is_cross,
         lag(coalesce(CASE WHEN cnt3 >= 3 THEN avg3 END
                      > CASE WHEN cnt8 >= 8 THEN avg8 END, false))
           OVER (PARTITION BY ticker ORDER BY date) AS prev_cross
  FROM win
), barsn AS MATERIALIZED (
  SELECT ticker, date, close,
         CASE WHEN prev_cross IS NULL OR is_cross <> prev_cross
              THEN CASE WHEN is_cross THEN 'buy' ELSE 'sell' END END AS sig,
         min(CASE WHEN (prev_cross IS NULL OR is_cross <> prev_cross)
                   AND is_cross THEN date END)
           OVER (PARTITION BY ticker) AS first_buy,
         row_number() OVER (PARTITION BY ticker ORDER BY date) AS i
  FROM crossed
), sim AS (
  SELECT ticker,
         0::BIGINT AS i,
         10000.0::DOUBLE AS ca,
         0.0::DOUBLE AS ptot,
         CAST([] AS STRUCT(s DOUBLE, p DOUBLE, st DATE)[]) AS opens,
         CAST([] AS STRUCT(n DOUBLE, st DATE, sa DOUBLE, et DATE, ea DOUBLE)[]) AS comp,
         0.0::DOUBLE AS tsh,
         0.0::DOUBLE AS act,
         0.0::DOUBLE AS cb,
         0.0::DOUBLE AS cs
  FROM (SELECT DISTINCT ticker FROM barsn)
  UNION ALL
  SELECT ticker, i,
         CASE WHEN is_buy THEN ca1 ELSE ca END,
         CASE WHEN is_close THEN ptot + ((px - p0) * s0) ELSE ptot END,
         CASE WHEN accept THEN list_append(opens, {'s': n, 'p': px, 'st': date})
              WHEN is_close THEN opens[2:]
              ELSE opens END,
         CASE WHEN is_close
              THEN list_append(comp, {'n': s0, 'st': st0, 'sa': p0, 'et': date, 'ea': px})
              ELSE comp END,
         CASE WHEN accept THEN tsh + n WHEN is_close THEN tsh - s0 ELSE tsh END,
         CASE WHEN accept THEN act + n WHEN is_close THEN act - s0 ELSE act END,
         CASE WHEN accept THEN cb + (n * px) ELSE cb END,
         CASE WHEN is_close THEN cs + (s0 * px) ELSE cs END
  FROM (
    SELECT *, is_buy AND NOT (ca1 < px * n) AS accept
    FROM (
      SELECT *,
             CASE WHEN NOT is_buy THEN 0.0
                  WHEN ca1 > 0 THEN floor(divq)
                       + (CASE WHEN divq - floor(divq) > 0.5 THEN 1.0 ELSE 0.0 END)
                  ELSE -1.0 END AS n
      FROM (
        SELECT *,
               CASE WHEN is_buy AND ca1 > 0
                    THEN (ca1 - mod(ca1, px)) / px ELSE 0.0 END AS divq
        FROM (
          SELECT *,
                 CASE WHEN is_buy
                      THEN ca + (ptot - coalesce(
                             list_sum(list_transform(opens, o -> o.p)), 0.0))
                      ELSE ca END AS ca1
          FROM (
            SELECT s.ticker, b.i, b.close AS px, b.date,
                   b.sig = 'buy' AND b.close > 0 AS is_buy,
                   b.sig = 'sell' AND b.date > b.first_buy
                     AND s.act > 0 AND len(s.opens) > 0 AS is_close,
                   CASE WHEN len(s.opens) > 0 THEN s.opens[1].s ELSE 0.0 END AS s0,
                   CASE WHEN len(s.opens) > 0 THEN s.opens[1].p ELSE 0.0 END AS p0,
                   CASE WHEN len(s.opens) > 0 THEN s.opens[1].st END AS st0,
                   s.ca, s.ptot, s.opens, s.comp, s.tsh, s.act, s.cb, s.cs
            FROM sim s
            JOIN barsn b ON b.ticker = s.ticker AND b.i = s.i + 1
          )
        )
      )
    )
  )
), curve AS (
  SELECT s.ticker, b.date, b.close,
         (((s.tsh * b.close) - s.cb) + s.cs) + 10000.0 AS net_worth
  FROM sim s
  JOIN barsn b ON b.ticker = s.ticker AND b.i = s.i
), finals AS (
  SELECT ticker, opens, comp,
         list_transform(comp, o -> ((o.ea - o.sa) * o.n)) AS profits
  FROM sim
  QUALIFY row_number() OVER (PARTITION BY ticker ORDER BY i DESC) = 1
), ord AS (
  SELECT ticker,
         CASE WHEN len(comp) > 0
              THEN CAST(list_sum(list_transform(comp, o -> (o.et - o.st))) AS DOUBLE)
                   / len(comp) END AS avg_hold_days,
         CASE WHEN len(list_filter(profits, p -> p < 0)) > 0
              THEN list_reduce(list_prepend(0.0, list_filter(profits, p -> p < 0)),
                               (a, b) -> a + b)
                   / len(list_filter(profits, p -> p < 0)) END AS avg_losses,
         CASE WHEN len(list_filter(profits, p -> p > 0)) > 0
              THEN list_reduce(list_prepend(0.0, list_filter(profits, p -> p > 0)),
                               (a, b) -> a + b)
                   / len(list_filter(profits, p -> p > 0)) END AS avg_profits,
         list_aggregate(list_filter(profits, p -> p < 0), 'min') AS biggest_loss,
         list_aggregate(profits, 'max') AS biggest_win,
         CASE WHEN len(list_filter(profits, p -> p < 0)) > 0
              THEN list_reduce(list_prepend(0.0, list_filter(profits, p -> p < 0)),
                               (a, b) -> a + b) END AS loss_sum,
         CASE WHEN len(list_filter(profits, p -> p > 0)) > 0
              THEN list_reduce(list_prepend(0.0, list_filter(profits, p -> p > 0)),
                               (a, b) -> a + b) END AS profit_sum,
         CASE WHEN len(comp) > 0
              THEN list_reduce(list_prepend(0.0, profits), (a, b) -> a + b)
              END AS filled_profit_sum,
         CASE WHEN len(comp) + len(opens) > 0
              THEN list_reduce(list_prepend(0.0, list_concat(
                     list_transform(comp, o -> (o.sa * o.n)),
                     list_transform(opens, o -> (o.p * o.s)))), (a, b) -> a + b)
              END AS total_risked,
         len(comp) + len(opens) AS n_orders
  FROM finals
), bench AS (
  SELECT date, close AS sp500 FROM bars WHERE ticker = '0'
), pstats AS (
  SELECT ticker, max(date) AS last_date, count(*) AS n FROM curve GROUP BY ticker
), bkeep AS (
  SELECT s.ticker, b.date, b.sp500
  FROM bench b JOIN pstats s ON b.date <= s.last_date
  QUALIFY row_number() OVER (PARTITION BY s.ticker ORDER BY b.date DESC) <= s.n
), joined AS (
  SELECT coalesce(c.ticker, k.ticker) AS ticker,
         coalesce(c.date, k.date) AS date,
         c.net_worth, k.sp500
  FROM curve c
  FULL JOIN bkeep k ON c.ticker = k.ticker AND c.date = k.date
), fl AS (
  SELECT ticker, date, net_worth, sp500,
         last_value(net_worth IGNORE NULLS) OVER cum AS nw_ff,
         last_value(sp500 IGNORE NULLS) OVER cum AS sp_ff,
         first_value(net_worth) OVER fw AS nw_first,
         last_value(net_worth) OVER fw AS nw_last,
         first_value(sp500) OVER fw AS sp_first,
         last_value(sp500) OVER fw AS sp_last
  FROM joined
  WINDOW cum AS (PARTITION BY ticker ORDER BY date
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         fw AS (PARTITION BY ticker ORDER BY date
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
), pr AS MATERIALIZED (
  SELECT ticker, date, net_worth,
         (nw_ff / nullif(lag(nw_ff) OVER wt, 0.0)) - 1 AS r_s,
         (sp_ff / nullif(lag(sp_ff) OVER wt, 0.0)) - 1 AS r_m,
         (net_worth / nullif(max(net_worth) OVER cum2, 0.0)) - 1 AS drawdown,
         nw_first, nw_last, sp_first, sp_last
  FROM fl
  WINDOW wt AS (PARTITION BY ticker ORDER BY date),
         cum2 AS (PARTITION BY ticker ORDER BY date
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), prn AS MATERIALIZED (
  SELECT *, row_number() OVER (PARTITION BY ticker ORDER BY date) AS j FROM pr
), wrec AS (
  -- recursion #2: Spark's exact row-ordered Average + CentralMomentAgg
  -- (Welford) accumulation for r_s — the only stats where pow^255
  -- amplification makes ULP-level engine noise visible in the output
  SELECT ticker, 0::BIGINT AS j, 0.0::DOUBLE AS ss, 0.0::DOUBLE AS sc,
         0.0::DOUBLE AS wn, 0.0::DOUBLE AS wm, 0.0::DOUBLE AS wm2,
         0.0::DOUBLE AS ds, 0.0::DOUBLE AS dc
  FROM (SELECT DISTINCT ticker FROM prn)
  UNION ALL
  SELECT w.ticker, p.j,
         CASE WHEN p.r_s IS NULL THEN w.ss ELSE w.ss + p.r_s END,
         CASE WHEN p.r_s IS NULL THEN w.sc ELSE w.sc + 1.0 END,
         CASE WHEN p.r_s IS NULL THEN w.wn ELSE w.wn + 1.0 END,
         CASE WHEN p.r_s IS NULL THEN w.wm
              ELSE w.wm + ((p.r_s - w.wm) / (w.wn + 1.0)) END,
         CASE WHEN p.r_s IS NULL THEN w.wm2
              ELSE w.wm2 + ((p.r_s - w.wm)
                    * ((p.r_s - w.wm) - ((p.r_s - w.wm) / (w.wn + 1.0)))) END,
         CASE WHEN p.drawdown IS NULL THEN w.ds ELSE w.ds + p.drawdown END,
         CASE WHEN p.drawdown IS NULL THEN w.dc ELSE w.dc + 1.0 END
  FROM wrec w JOIN prn p ON p.ticker = w.ticker AND p.j = w.j + 1
), wfin AS (
  SELECT ticker,
         CASE WHEN sc > 0 THEN ss / sc END AS mean_r_s,
         -- wn = 1 falls through to the CASE's implicit NULL: Spark 4's
         -- default var_samp/stddev_samp (legacy.statisticalAggregate=
         -- false) returns NULL for a single sample, not NaN.
         CASE WHEN wn >= 2 THEN wm2 / (wn - 1.0) END AS var_r_s,
         CASE WHEN wn >= 2 THEN sqrt(wm2 / (wn - 1.0)) END AS std_r_s,
         CASE WHEN dc > 0 THEN (ds / dc) * 100 END AS avg_drawdown_pct
  FROM wrec
  QUALIFY row_number() OVER (PARTITION BY ticker ORDER BY j DESC) = 1
), pr2 AS (
  SELECT *,
         (r_s - avg(r_s) OVER (PARTITION BY ticker))
         * (r_m - avg(r_m) OVER (PARTITION BY ticker)) AS cov_term
  FROM pr
), pagg AS (
  SELECT p.ticker,
         min(p.date) AS start_time, max(p.date) AS end_time,
         max(p.nw_last) AS end_amount,
         max(p.nw_first) AS first_net_worth,
         min(p.drawdown) * 100 AS max_drawdown_pct,
         any_value(w.avg_drawdown_pct) AS avg_drawdown_pct,
         any_value(w.mean_r_s) AS mean_r_s,
         any_value(w.std_r_s) AS std_r_s,
         any_value(w.var_r_s) AS var_r_s,
         stddev_samp(p.r_m) AS std_r_m,
         sum(p.cov_term) AS cov_num,
         count(*) AS n_rows,
         max(p.sp_last) AS sp500_last,
         max(p.sp_first) AS sp500_first,
         floor(date_diff('day', min(p.date), max(p.date)) / 365) AS years
  FROM pr2 p JOIN wfin w ON w.ticker = p.ticker
  GROUP BY p.ticker
), m AS (
  SELECT p.*, o.avg_hold_days, o.avg_losses, o.avg_profits, o.biggest_loss,
         o.biggest_win, o.loss_sum, o.profit_sum, o.filled_profit_sum,
         o.total_risked, o.n_orders,
         (mean_r_s + 1) AS b1, (b1 * b1) AS b2, (b2 * b2) AS b4,
         (b4 * b4) AS b8, (b8 * b8) AS b16, (b16 * b16) AS b32,
         (b32 * b32) AS b64, (b64 * b64) AS b128,
         cov_num / nullif(n_rows, 0) AS covariance,
         (cov_num / nullif(n_rows, 0)) / nullif(var_r_s, 0.0) AS beta
  FROM pagg p LEFT JOIN ord o USING (ticker)
)
SELECT ticker, 0::BIGINT AS run_id,
       strftime(start_time, '%Y-%m-%d') AS start_time,
       strftime(end_time, '%Y-%m-%d') AS end_time,
       10000.0 AS start_amount,
       {R(end_amount)} AS end_amount,
       {R(avg_hold_days)} AS average_hold_time_days,
       {R(avg_losses)} AS average_losses,
       {R(avg_profits)} AS average_profits,
       {R(biggest_loss)} AS biggest_loss,
       {R(biggest_win)} AS biggest_win,
       {R((pow(end_amount / nullif(10000.0, 0.0), 1.0 / nullif(years, 0)) - 1) * 100)} AS cagr_pct,
       {R(max_drawdown_pct)} AS max_drawdown_pct,
       {R(avg_drawdown_pct)} AS avg_drawdown_pct,
       {R(end_amount - 10000.0)} AS net_profit,
       {R(coalesce(profit_sum, 0.0) / nullif(-(CASE WHEN loss_sum IS NULL OR loss_sum = 0 THEN -1.0 ELSE loss_sum END), 0.0))} AS profit_factor,
       {R(CASE WHEN n_orders > 0 THEN filled_profit_sum / nullif(total_risked, 0.0) END)} AS risk_reward,
       {R((((((((((b1 * b2) * b4) * b8) * b16) * b32) * b64) * b128) - 1) - 0.03) / nullif(std_r_s * sqrt(252.0), 0.0))} AS sharpe_ratio,
       {R(std_r_s * sqrt(252.0))} AS volatility_annualized,
       {R(beta)} AS beta,
       {R(((end_amount - first_net_worth) / nullif(first_net_worth, 0.0)) - 0.03 - (beta * (((sp500_last / nullif(sp500_first, 0.0)) - 1) - 0.03)))} AS alpha,
       {R(covariance / nullif(sqrt(var_r_s) * std_r_m, 0.0))} AS r_squared
FROM m
"""


def _partial_sim_sql() -> str:
    """q71's oracle: the partial-sell MA-cross walk (an ``MACrossRun``
    with fixed 2-share sells, kernel._ma_cross_walk) with the engine's FULL partial-fill quirk set —
    the recursion carries an oid-indexed order TABLE plus the deque and
    completed lists as oid references, so Q1's remainder double-queue
    (the same remainder object queued twice, strats.py:151,205) and
    Q4's fill-time num_shares overwrite (strats.py:81) replay exactly:
    a re-popped already-filled copy re-fills at the new bar and its
    profit re-values through the completed list, just like the object
    graph. The curve is derived POST-SIM from final order states (buy
    bars price the Q4-overwritten share count — 'late mutation
    visible'), matching the streaming entry's resolved re-emissions
    and the batch build_portfolio algebra."""
    return _PARTIAL_SQL


_PARTIAL_SQL = r"""
WITH RECURSIVE bars AS (
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
), crossed AS (
  SELECT ticker, date, close,
         coalesce(CASE WHEN cnt3 >= 3 THEN avg3 END
                  > CASE WHEN cnt8 >= 8 THEN avg8 END, false) AS is_cross,
         lag(coalesce(CASE WHEN cnt3 >= 3 THEN avg3 END
                      > CASE WHEN cnt8 >= 8 THEN avg8 END, false))
           OVER (PARTITION BY ticker ORDER BY date) AS prev_cross
  FROM win
), barsn AS MATERIALIZED (
  SELECT ticker, date, close,
         CASE WHEN prev_cross IS NULL OR is_cross <> prev_cross
              THEN CASE WHEN is_cross THEN 'buy' ELSE 'sell' END END AS sig,
         min(CASE WHEN (prev_cross IS NULL OR is_cross <> prev_cross)
                   AND is_cross THEN date END)
           OVER (PARTITION BY ticker) AS first_buy,
         row_number() OVER (PARTITION BY ticker ORDER BY date) AS i
  FROM crossed
), edges AS MATERIALIZED (
  SELECT ticker, date, close, sig AS action,
         row_number() OVER (PARTITION BY ticker ORDER BY date) AS i
  FROM barsn
  WHERE sig = 'buy' OR (sig = 'sell' AND date > first_buy)
), sim AS (
  SELECT ticker,
         0::BIGINT AS i,
         10000.0::DOUBLE AS ca,
         CAST([] AS STRUCT(n DOUBLE, st DATE, sa DOUBLE,
                           filled BOOLEAN, et DATE, ea DOUBLE)[]) AS ords,
         CAST([] AS BIGINT[]) AS dq,
         CAST([] AS BIGINT[]) AS comp,
         CAST([] AS STRUCT(d DATE, b BIGINT, sc DOUBLE, tsh DOUBLE)[]) AS ev,
         0.0::DOUBLE AS tsh,
         0.0::DOUBLE AS act
  FROM (SELECT DISTINCT ticker FROM edges)
  UNION ALL
  SELECT ticker, i,
         CASE WHEN is_buy THEN ca1 ELSE ca END,
         CASE WHEN accept
              THEN list_append(ords, {'n': nsh, 'st': date, 'sa': px,
                                      'filled': false, 'et': NULL::DATE,
                                      'ea': NULL::DOUBLE})
              WHEN do_pop AND partial
              THEN list_concat(list_concat(ords[:front - 1],
                     [{'n': 2.0::DOUBLE, 'st': fo.st, 'sa': fo.sa,
                       'filled': true, 'et': date, 'ea': px}]),
                     list_concat(ords[front + 1:],
                     [{'n': fo.n - 2.0, 'st': fo.st, 'sa': fo.sa,
                       'filled': false, 'et': NULL::DATE, 'ea': NULL::DOUBLE}]))
              WHEN do_pop
              THEN list_concat(list_concat(ords[:front - 1],
                     [{'n': 2.0::DOUBLE, 'st': fo.st, 'sa': fo.sa,
                       'filled': true, 'et': date, 'ea': px}]),
                     ords[front + 1:])
              ELSE ords END,
         CASE WHEN accept THEN list_append(dq, len(ords) + 1)
              WHEN do_pop AND partial
              THEN list_concat([len(ords) + 1, len(ords) + 1], dq[2:])
              WHEN do_pop THEN dq[2:]
              ELSE dq END,
         CASE WHEN do_pop THEN list_append(comp, front) ELSE comp END,
         CASE WHEN accept
              THEN list_append(ev, {'d': date, 'b': len(ords) + 1,
                                    'sc': NULL::DOUBLE, 'tsh': tsh + nsh})
              WHEN do_pop
              THEN list_append(ev, {'d': date, 'b': NULL::BIGINT,
                                    'sc': 2.0::DOUBLE, 'tsh': tsh - 2.0})
              WHEN do_zero
              THEN list_append(ev, {'d': date, 'b': NULL::BIGINT,
                                    'sc': 0.0::DOUBLE, 'tsh': tsh})
              ELSE ev END,
         CASE WHEN accept THEN tsh + nsh WHEN do_pop THEN tsh - 2.0 ELSE tsh END,
         CASE WHEN accept THEN act + nsh WHEN do_pop THEN act - 2.0 ELSE act END
  FROM (
    SELECT *, is_buy AND NOT (ca1 < px * nsh) AS accept
    FROM (
      SELECT *,
             CASE WHEN NOT is_buy THEN 0.0
                  WHEN ca1 > 0 THEN floor(divq)
                       + (CASE WHEN divq - floor(divq) > 0.5 THEN 1.0 ELSE 0.0 END)
                  ELSE -1.0 END AS nsh
      FROM (
        SELECT *,
               CASE WHEN is_buy AND ca1 > 0
                    THEN (ca1 - mod(ca1, px)) / px ELSE 0.0 END AS divq
        FROM (
          SELECT *,
                 CASE WHEN is_buy
                      THEN ca + ((0.0 + coalesce(list_reduce(list_prepend(0.0,
                               list_transform(comp, o ->
                                 ((ords[o].ea - ords[o].sa) * ords[o].n))),
                               (a, b) -> a + b), 0.0))
                             - coalesce(list_reduce(list_prepend(0.0,
                               list_transform(dq, o ->
                                 CASE WHEN ords[o].filled THEN ords[o].ea
                                      ELSE ords[o].sa END)),
                               (a, b) -> a + b), 0.0))
                      ELSE ca END AS ca1
          FROM (
            SELECT s.ticker, e.i, e.close AS px, e.date,
                   e.action = 'buy' AND e.close > 0 AS is_buy,
                   e.action = 'sell' AND s.act > 0 AND len(s.dq) > 0 AS do_pop,
                   e.action = 'sell' AND s.act > 0 AND len(s.dq) = 0 AS do_zero,
                   CASE WHEN len(s.dq) > 0 THEN s.dq[1] ELSE 0 END AS front,
                   CASE WHEN len(s.dq) > 0 THEN s.ords[s.dq[1]] END AS fo,
                   CASE WHEN len(s.dq) > 0 AND 2.0 < s.ords[s.dq[1]].n
                        THEN true ELSE false END AS partial,
                   s.ca, s.ords, s.dq, s.comp, s.ev, s.tsh, s.act
            FROM sim s
            JOIN edges e ON e.ticker = s.ticker AND e.i = s.i + 1
          )
        )
      )
    )
  )
), finals AS (
  SELECT ticker, ords, ev FROM sim
  QUALIFY row_number() OVER (PARTITION BY ticker ORDER BY i DESC) = 1
), evrows AS (
  SELECT f.ticker, u.e.d AS date,
         CASE WHEN u.e.b IS NOT NULL THEN f.ords[u.e.b].n END AS bshares,
         u.e.sc AS sshares,
         u.e.tsh AS tsh
  FROM finals f, unnest(f.ev) AS u(e)
), curve AS (
  SELECT b.ticker, 0::BIGINT AS run_id, b.date, b.close, b.sig AS action,
         coalesce(last_value(e.tsh IGNORE NULLS) OVER cum, 0.0) AS shares_owned,
         ((coalesce(last_value(e.tsh IGNORE NULLS) OVER cum, 0.0) * b.close
           - sum(coalesce(e.bshares, 0.0) * b.close) OVER cum)
          + sum(coalesce(e.sshares, 0.0) * b.close) OVER cum) + 10000.0 AS nw
  FROM barsn b
  LEFT JOIN evrows e ON e.ticker = b.ticker AND e.date = b.date
  WINDOW cum AS (PARTITION BY b.ticker ORDER BY b.date
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT ticker, run_id, strftime(date, '%Y-%m-%d') AS date,
       round(close, 6) AS close, action, shares_owned,
       sign(nw) * floor((abs(nw) * 10000.0) + 0.5) / 10000.0 AS net_worth
FROM curve ORDER BY ticker, date LIMIT 150
"""


def _stoploss_sim_sql() -> str:
    """q72's oracle: MA-cross WITH a stop-loss (reference
    strats.py:302-326, quirk Q5) on the order-table recursion. The
    engine's flush loop maps onto extra recursion iterations: each pops
    ONE stop (cheapest (stop, oid) first — the heap is modeled as a
    kept-sorted list, whose pop order equals heapq's) WITHOUT advancing
    the edge cursor; a popped stop whose first-match range scan over
    the key's full bar series (np.searchsorted window semantics,
    kernel.py:188-205) finds no close <= stop is DISCARDED and ends the
    flush. A fired stop sells FIFO-front at the PAST bar's (date,
    price), so event-dict writes can land on earlier dates and
    overwrite — events carry a write sequence and the final per-date
    dict value is the last write, exactly the kernel's
    buy_orders/sell_orders/shares_owned dict replay. cb/cs fold in
    date order over the final dict values, matching Spark's aggregation
    over the kernel's sorted-date event emission."""
    return _STOPLOSS_SQL


_STOPLOSS_SQL = r"""
WITH RECURSIVE bars AS (
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
), crossed AS (
  SELECT ticker, date, close,
         coalesce(CASE WHEN cnt3 >= 3 THEN avg3 END
                  > CASE WHEN cnt8 >= 8 THEN avg8 END, false) AS is_cross,
         lag(coalesce(CASE WHEN cnt3 >= 3 THEN avg3 END
                      > CASE WHEN cnt8 >= 8 THEN avg8 END, false))
           OVER (PARTITION BY ticker ORDER BY date) AS prev_cross
  FROM win
), edge0 AS (
  SELECT ticker, date, close,
         CASE WHEN is_cross THEN 'buy' ELSE 'sell' END AS action
  FROM crossed
  WHERE prev_cross IS NULL OR is_cross <> prev_cross
), edges AS MATERIALIZED (
  SELECT ticker, date, close, action,
         row_number() OVER (PARTITION BY ticker ORDER BY date) AS i
  FROM (
    SELECT *, min(CASE WHEN action = 'buy' THEN date END)
                OVER (PARTITION BY ticker) AS first_buy
    FROM edge0
  )
  WHERE action = 'buy' OR date > first_buy
), allbars AS MATERIALIZED (
  SELECT ticker, list({'d': date, 'c': close} ORDER BY date) AS allb
  FROM bars GROUP BY ticker
), sim AS (
  SELECT e.ticker,
         0::BIGINT AS i,
         false AS flushed,
         10000.0::DOUBLE AS ca,
         CAST([] AS STRUCT(n DOUBLE, st DATE, sa DOUBLE,
                           filled BOOLEAN, et DATE, ea DOUBLE)[]) AS ords,
         CAST([] AS BIGINT[]) AS dq,
         CAST([] AS BIGINT[]) AS comp,
         CAST([] AS STRUCT(sl DOUBLE, oid BIGINT)[]) AS stops,
         CAST([] AS STRUCT(q BIGINT, d DATE, b BIGINT, sc DOUBLE, tsh DOUBLE)[]) AS ev,
         0.0::DOUBLE AS tsh,
         0.0::DOUBLE AS act,
         a.allb
  FROM (SELECT DISTINCT ticker FROM edges) e
  JOIN allbars a ON a.ticker = e.ticker
  UNION ALL
  SELECT ticker,
         CASE WHEN is_edge THEN i ELSE i - 1 END,   -- joined i = s.i+1; stay on stop iters
         CASE WHEN stop_discard THEN true WHEN is_edge THEN false ELSE flushed END,
         CASE WHEN is_edge AND is_buy THEN ca1 ELSE ca END,
         CASE WHEN accept
              THEN list_append(ords, {'n': nsh, 'st': date, 'sa': px,
                                      'filled': false, 'et': NULL::DATE,
                                      'ea': NULL::DOUBLE})
              WHEN do_pop
              THEN list_concat(list_concat(ords[:front - 1],
                     [{'n': fo.n, 'st': fo.st, 'sa': fo.sa,
                       'filled': true, 'et': cd, 'ea': cp}]),
                     ords[front + 1:])
              ELSE ords END,
         CASE WHEN accept THEN list_append(dq, len(ords) + 1)
              WHEN do_pop THEN dq[2:]
              ELSE dq END,
         CASE WHEN do_pop THEN list_append(comp, front) ELSE comp END,
         CASE WHEN accept
              THEN list_sort(list_append(stops, {'sl': px * 0.95, 'oid': len(ords) + 1}))
              WHEN stop_fire OR stop_discard THEN stops[2:]
              ELSE stops END,
         CASE WHEN accept
              THEN list_append(ev, {'q': len(ev) + 1, 'd': date, 'b': len(ords) + 1,
                                    'sc': NULL::DOUBLE, 'tsh': tsh + nsh})
              WHEN do_pop
              THEN list_append(ev, {'q': len(ev) + 1, 'd': cd, 'b': NULL::BIGINT,
                                    'sc': fo.n, 'tsh': tsh - fo.n})
              WHEN do_zero
              THEN list_append(ev, {'q': len(ev) + 1, 'd': cd, 'b': NULL::BIGINT,
                                    'sc': 0.0::DOUBLE, 'tsh': tsh})
              ELSE ev END,
         CASE WHEN accept THEN tsh + nsh WHEN do_pop THEN tsh - fo.n ELSE tsh END,
         CASE WHEN accept THEN act + nsh WHEN do_pop THEN act - fo.n ELSE act END,
         allb
  FROM (
    SELECT *, is_edge AND is_buy AND NOT (ca1 < px * nsh) AS accept
    FROM (
      SELECT *,
             CASE WHEN NOT (is_edge AND is_buy) THEN 0.0
                  WHEN ca1 > 0 THEN floor(divq)
                       + (CASE WHEN divq - floor(divq) > 0.5 THEN 1.0 ELSE 0.0 END)
                  ELSE -1.0 END AS nsh
      FROM (
        SELECT *,
               CASE WHEN is_edge AND is_buy AND ca1 > 0
                    THEN (ca1 - mod(ca1, px)) / px ELSE 0.0 END AS divq
        FROM (
          SELECT *,
                 CASE WHEN is_edge AND is_buy
                      THEN ca + ((0.0 + coalesce(list_reduce(list_prepend(0.0,
                               list_transform(comp, o ->
                                 ((ords[o].ea - ords[o].sa) * ords[o].n))),
                               (a, b) -> a + b), 0.0))
                             - coalesce(list_reduce(list_prepend(0.0,
                               list_transform(dq, o ->
                                 CASE WHEN ords[o].filled THEN ords[o].ea
                                      ELSE ords[o].sa END)),
                               (a, b) -> a + b), 0.0))
                      ELSE ca END AS ca1,
                 -- close (pop-front) action: a stop fire at a past bar
                 -- or an executed sell at the edge bar
                 (stop_fire OR (is_edge AND is_sell AND act > 0)) AND len(dq) > 0 AS do_pop,
                 (stop_fire OR (is_edge AND is_sell AND act > 0)) AND len(dq) = 0 AS do_zero,
                 CASE WHEN stop_fire THEN hit.d ELSE date END AS cd,
                 CASE WHEN stop_fire THEN hit.c ELSE px END AS cp,
                 CASE WHEN len(dq) > 0 THEN dq[1] ELSE 0 END AS front,
                 CASE WHEN len(dq) > 0 THEN ords[dq[1]] END AS fo
          FROM (
            SELECT *,
                   CASE WHEN top_elig AND len(swin) > 0 THEN true ELSE false END AS stop_fire,
                   CASE WHEN top_elig AND len(swin) = 0 THEN true ELSE false END AS stop_discard,
                   NOT (top_elig) AS is_edge,
                   CASE WHEN top_elig AND len(swin) > 0 THEN swin[1] END AS hit
            FROM (
              SELECT *,
                     CASE WHEN top_elig
                          THEN list_filter(allb, bb -> bb.d >= ords[stops[1].oid].st
                                                   AND bb.d < date
                                                   AND bb.c <= stops[1].sl)
                          ELSE CAST([] AS STRUCT(d DATE, c DOUBLE)[]) END AS swin
              FROM (
                SELECT s.ticker, e.i, e.close AS px, e.date,
                       e.action = 'buy' AND e.close > 0 AS is_buy,
                       e.action = 'sell' AS is_sell,
                       NOT s.flushed
                         AND ((e.action = 'buy' AND e.close > 0) OR e.action = 'sell')
                         AND len(s.stops) > 0
                         AND s.ords[s.stops[1].oid].st <= e.date AS top_elig,
                       s.flushed, s.ca, s.ords, s.dq, s.comp, s.stops, s.ev,
                       s.tsh, s.act, s.allb
                FROM sim s
                JOIN edges e ON e.ticker = s.ticker AND e.i = s.i + 1
              )
            )
          )
        )
      )
    )
  )
), finals AS (
  SELECT ticker, ords, ev FROM sim
  QUALIFY row_number() OVER (PARTITION BY ticker
                             ORDER BY i DESC, len(ev) DESC) = 1
), evrows AS (
  SELECT f.ticker, u.e.q AS q, u.e.d AS date,
         CASE WHEN u.e.b IS NOT NULL THEN f.ords[u.e.b].n END AS bshares,
         u.e.sc AS sshares, u.e.tsh AS tsh
  FROM finals f, unnest(f.ev) AS u(e)
), evd AS (
  -- dict semantics: last write per date wins
  SELECT ticker, date,
         max(bshares) AS bshares,
         arg_max(sshares, q) FILTER (sshares IS NOT NULL) AS sshares,
         arg_max(tsh, q) AS tsh
  FROM evrows GROUP BY ticker, date
), evx AS (
  SELECT e.ticker, e.date,
         coalesce(e.bshares, 0.0) * b.close AS cbt,
         coalesce(e.sshares, 0.0) * b.close AS cst,
         e.tsh
  FROM evd e JOIN bars b ON b.ticker = e.ticker AND b.date = e.date
), pertick AS (
  SELECT ticker,
         coalesce(list_reduce(list_prepend(0.0, list(cbt ORDER BY date)),
                              (a, b) -> a + b), 0.0) AS cb,
         coalesce(list_reduce(list_prepend(0.0, list(cst ORDER BY date)),
                              (a, b) -> a + b), 0.0) AS cs,
         arg_max(tsh, date) AS last_shares
  FROM evx GROUP BY ticker
), last_close AS (
  SELECT ticker, arg_max(close, date) AS lc FROM bars GROUP BY ticker
)
SELECT ticker, run_id,
       sign(nw) * floor((abs(nw) * 10000.0) + 0.5) / 10000.0 AS net_worth
FROM (
  SELECT lc.ticker, 0::BIGINT AS run_id,
         (((coalesce(p.last_shares, 0.0) * lc.lc) - coalesce(p.cb, 0.0))
          + coalesce(p.cs, 0.0)) + 10000.0 AS nw
  FROM last_close lc
  LEFT JOIN pertick p USING (ticker)
)
"""

"""Streaming port of the FIFO order kernel (SURVEY.md §7.2 M9).

The reference runs its order engine (strats.py:133-245) as an eager
batch loop over a complete bar series. This module runs the SAME
engine incrementally over an unbounded bar stream with one
``applyInPandasWithState`` adapter (``_step_fn``) over the batch
kernel's own pieces (operators/kernel.py): ``_check_bars``,
``_sma_table``, ``_cross_edges``, ``_ma_cross_walk``, ``band_driver``,
``_trade_events`` and ``_portfolio_curve``. Each resumes from a small
carry, and a batch walk is one step from the empty carry, so a
micro-batch is one more step of the batch walk. Every public operator
(``streaming_backtest_curve``, ``streaming_backtest_curve_update``,
``streaming_grid_curve``, ``streaming_signal_edges_stateful``) is one
call into that adapter, keyed by ticker (by (ticker, run_id) for the
grid).

One micro-batch of one key, in order:

1. restore the carry and the engine (``_restore_engine``);
2. the reorder buffer: a bar waits until the event-time frontier (max
   day seen − ``allowed_lateness_days``) passes it, so a bar late by no
   more than the bound still enters the walk in date order. A bar on
   or before the last consumed day is dropped as late. A row with a
   null or NaN close is punctuation (Flink-style watermark-as-record):
   it advances the frontier — flushing the buffer on a finite replay —
   and is not a bar. The ready bars must keep the batch bars contract:
   a duplicate date or an infinite close fails the query by name;
3. the batch pieces over (retained bars + ready bars), with the
   engine's ``dates``/``closes`` set once for the step (the stop scan's
   ``searchsorted(..., side="left")`` already excludes the current and
   later bars), and the curve recomputed over the retained bars from
   the curve carry at their start;
4. emission: append mode emits the ready bars; update mode also
   re-emits the retained rows from the first day whose trade events
   the step changed (a partial fill re-sizing a past buy, Q4), each
   with a higher ``emit_seq`` — latest per (ticker, run_id, date) wins
   (``drain_stream_update``);
5. prune the retained bars and save the carry.

State (``_STATE``, one row per key): the reorder buffer (``pend_*``,
``max_day``, ``last_day``); the walk carry (``prev_cross`` and
``first_buy_day`` for MA-cross, ``anchor``/``last_move_sell`` for the
band); the retained bars (``hist_*``) with the curve carry at their
start (``cum_buy``, ``cum_sell``, ``shares``); and the engine
(``_save_engine``): its scalars, the orders it can still read, its stop
heap and its trade events on the retained days. The retained bars are
the last max(fast, lagging) − 1 (the SMA frames), back to the earliest
pending stop's start day (the stop scan reads them and a hit books its
sell there), and, with partial sells, back to the earliest open
order's start day (a fill there can re-size a past buy). State is
O(open-position look-back), not O(stream length). Days are epoch-day
integers throughout: the engine only compares, searchsorts and
dict-keys them.

What is bit-exact against the batch kernel (``Backtest.run``,
``evaluate_params``), over any micro-batch split:

- append mode without stop-loss, MA-cross and band: every curve row
  (close, shares_owned, net_worth; for MA-cross also the signal
  ``action``; the band's ``action`` is its buy/sell moves);
- update mode (partial sells): the resolved curve;
- the grid: every (ticker, run_id) curve, so its finals equal
  ``evaluate_params``;
- with stop-loss, finals only: a stop hit books its sell on a past
  day, and rows an earlier micro-batch emitted for the days since are
  not revised (append mode). Rows emitted after the hit, the final
  row among them, are exact.
"""

from __future__ import annotations

from collections import deque
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from strat_backtest_spark.operators.kernel import (
    _EDGE_ACTIONS,
    TradingEngine,
    _check_bars,
    _cross_edges,
    _KOrder,
    _ma_cross_walk,
    _portfolio_curve,
    _sma_table,
    _trade_events,
    band_driver,
)

_CURVE_OUTPUT = StructType(
    [
        StructField("ticker", StringType()),
        StructField("run_id", LongType()),
        StructField("date", DateType()),
        StructField("close", DoubleType()),
        StructField("action", StringType()),
        StructField("shares_owned", DoubleType()),
        StructField("net_worth", DoubleType()),
    ]
)
_CURVE_OUTPUT_U = StructType(
    list(_CURVE_OUTPUT.fields) + [StructField("emit_seq", LongType())]
)

_LONGS, _DOUBLES = ArrayType(LongType()), ArrayType(DoubleType())
_STATE = StructType([StructField(name, dtype) for name, dtype in (
    # the reorder buffer: bars past the frontier, the max day seen and
    # the last day consumed (None before the first)
    ("pend_day", _LONGS), ("pend_close", _DOUBLES),
    ("max_day", LongType()), ("last_day", LongType()),
    # the walk carry: MA-cross (_cross_edges, _ma_cross_walk), band
    ("prev_cross", BooleanType()), ("first_buy_day", LongType()),
    ("anchor", DoubleType()), ("last_move_sell", BooleanType()),
    # the retained bars, their actions, and the curve carry at the
    # first of them (_portfolio_curve); emit_seq for update mode
    ("hist_day", _LONGS), ("hist_close", _DOUBLES),
    ("hist_action", ArrayType(StringType())),
    ("cum_buy", DoubleType()), ("cum_sell", DoubleType()),
    ("shares", DoubleType()), ("emit_seq", LongType()),
    # the engine (_save_engine): scalars; the orders it can still read,
    # end day null while unfilled; the open queue (an order id repeats
    # where Q1 queues a remainder twice) and the unsettled tail of
    # `completed`; the stop heap; the trade events on retained days
    ("current_amount", DoubleType()), ("profit_base", DoubleType()),
    ("active_orders", DoubleType()), ("total_shares", DoubleType()),
    ("next_id", LongType()),
    ("order_id", _LONGS), ("order_shares", _DOUBLES), ("order_start", _LONGS),
    ("order_price", _DOUBLES), ("order_end", _LONGS), ("order_end_price", _DOUBLES),
    ("open_ids", _LONGS), ("done_ids", _LONGS),
    ("stop_loss", _DOUBLES), ("stop_id", _LONGS),
    ("event_day", _LONGS), ("event_buy_id", _LONGS),
    ("event_sell", _DOUBLES), ("event_owned", _DOUBLES),
)])

# the carry before a key's first bar, but for the engine's fields
_FRESH = {
    "pend_day": [], "pend_close": [], "max_day": None, "last_day": None,
    "prev_cross": None, "first_buy_day": None, "anchor": None,
    "last_move_sell": False, "hist_day": [], "hist_close": [], "hist_action": [],
    "cum_buy": 0.0, "cum_sell": 0.0, "shares": 0.0, "emit_seq": 0,
}


def _save_engine(eng: TradingEngine, since=None) -> dict:
    """The engine as ``_STATE`` fields, its trade events from day
    ``since`` on (all without it). The settled prefix of ``completed``
    — up to the first order still in the open queue — folds into
    ``profit_base`` as the running sum ``order_worth`` continues, so
    Q2's re-add-on-every-call sees the batch engine's doubles; the rest
    stays, since a Q1 remainder queued twice re-values its first
    completed entry when its second copy fills. Saved orders: the open
    queue, that tail, the stop heap's and the kept buy events'."""
    book = eng.book
    queued = {o.oid for o in book.open_orders}
    n = next(
        (j for j, o in enumerate(book.completed) if o.oid in queued),
        len(book.completed),
    )
    profit_base = sum(
        (o.profit_loss() or 0.0 for o in book.completed[:n]), book.profit_base
    )
    done = book.completed[n:]
    days = sorted(
        d for d in {*eng.buy_orders, *eng.sell_orders, *book.shares_owned}
        if since is None or d >= since
    )
    buys = [eng.buy_orders.get(d) for d in days]
    orders = {o.oid: o for o in (
        *book.open_orders, *done, *(b for b in buys if b is not None),
        *(book.by_id[oid] for _, oid in eng.stop_heap),
    )}.values()
    opt = lambda x, cast: None if x is None else cast(x)  # noqa: E731
    return {
        "current_amount": float(eng.current_amount),
        "profit_base": float(profit_base),
        "active_orders": float(eng.active_orders),
        "total_shares": float(book.total_shares),
        "next_id": int(book._next_id),
        "order_id": [int(o.oid) for o in orders],
        "order_shares": [float(o.num_shares) for o in orders],
        "order_start": [int(o.start_time) for o in orders],
        "order_price": [float(o.start_amount) for o in orders],
        "order_end": [opt(o.end_time, int) for o in orders],
        "order_end_price": [opt(o.end_amount, float) for o in orders],
        "open_ids": [int(o.oid) for o in book.open_orders],
        "done_ids": [int(o.oid) for o in done],
        "stop_loss": [float(sl) for sl, _ in eng.stop_heap],
        "stop_id": [int(oid) for _, oid in eng.stop_heap],
        "event_day": [int(d) for d in days],
        "event_buy_id": [opt(b, lambda b: int(b.oid)) for b in buys],
        "event_sell": [opt(eng.sell_orders.get(d), float) for d in days],
        "event_owned": [opt(book.shares_owned.get(d), float) for d in days],
    }


def _restore_engine(f, initial_amount: float) -> TradingEngine:
    """The engine ``_save_engine`` saved in ``f`` (a fresh one for
    None), with empty ``dates``/``closes`` for the caller to set. An
    order id restores as ONE object wherever it is cited: Q1's
    remainder is queued twice (strats.py:151,205) and the quirk depends
    on both deque slots, and its completed entry, aliasing one order."""
    eng = TradingEngine(np.empty(0, np.int64), np.empty(0), initial_amount)
    if f is None:
        return eng
    book = eng.book
    for oid, ns, sd, sa, ed, ea in zip(
        f["order_id"], f["order_shares"], f["order_start"], f["order_price"],
        f["order_end"], f["order_end_price"],
    ):
        book.by_id[oid] = o = _KOrder(oid, ns, sd, sa)
        if ed is not None:
            o.fill(-1, ed, ea)
    book.open_orders = deque(book.by_id[i] for i in f["open_ids"])
    book.completed = [book.by_id[i] for i in f["done_ids"]]
    eng.stop_heap = list(zip(f["stop_loss"], f["stop_id"]))  # saved heap-ordered
    for d, b, s, o in zip(
        f["event_day"], f["event_buy_id"], f["event_sell"], f["event_owned"]
    ):
        if b is not None:
            eng.buy_orders[d] = book.by_id[b]
        if s is not None:
            eng.sell_orders[d] = s
        if o is not None:
            book.shares_owned[d] = o
    eng.current_amount, eng.active_orders = f["current_amount"], f["active_orders"]
    book.profit_base, book.total_shares = f["profit_base"], f["total_shares"]
    book._next_id = f["next_id"]
    return eng


def _day(x) -> np.datetime64:
    """An epoch-day state field as a day; NaT for None."""
    return np.datetime64(x, "D")


def _step_fn(
    initial_amount: float, resolve, lateness_days: int = 0, update: bool = False,
    stop_loss_pct: float | None = None, sell_shares: float = -1,
    band: dict | None = None,
):
    """The one ``applyInPandasWithState`` function (the module
    docstring has its steps). ``resolve(key) -> (run_id, fast,
    lagging)`` maps the group key to its run — a constant for the
    single-run operators, a lookup on key[1] for the grid. ``band``:
    ``band_driver``'s params, which walk the band strategy instead of
    MA-cross; ``stop_loss_pct`` and ``sell_shares`` are
    ``_ma_cross_walk``'s. ``update``: emit ``_CURVE_OUTPUT_U`` rows,
    re-emitting revised ones."""
    initial_amount = float(initial_amount)

    def fn(
        key: Tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        ticker = key[0]
        run_id, fast, lagging = resolve(key)
        tail = 0 if band is not None else max(fast, lagging) - 1  # SMA frames
        # 1. restore
        saved = dict(zip(_STATE.names, state.get)) if state.exists else None
        st = saved or dict(_FRESH)
        eng = _restore_engine(saved, initial_amount)

        # 2. reorder buffer, late drop, punctuation
        pdf = pd.concat(list(pdf_iter))
        day = pa.array(pdf["date"], pa.date32()).to_numpy(zero_copy_only=False)
        close = pdf["close"].to_numpy(dtype=np.float64)
        max_day = np.fmax.reduce(np.append(day, _day(st["max_day"])))
        # NaT compares false: a null date is kept, and fails the check
        keep = ~np.isnan(close) & ~(day <= _day(st["last_day"]))
        day = np.concatenate(
            (np.asarray(st["pend_day"], dtype=np.int64).astype(day.dtype), day[keep])
        )
        close = np.concatenate((np.asarray(st["pend_close"], dtype=np.float64), close[keep]))
        order = np.argsort(day, kind="stable")  # NaT sorts last
        day, close = day[order], close[order]
        ready = ~(day > max_day - lateness_days)
        new_days = _check_bars(ticker, day[ready], close[ready]).astype(np.int64)
        n_new = len(new_days)

        # 3. the batch pieces over (retained + ready bars)
        h = len(st["hist_day"])
        days = np.concatenate((np.asarray(st["hist_day"], dtype=np.int64), new_days))
        closes = np.concatenate((np.asarray(st["hist_close"], dtype=np.float64), close[ready]))
        actions = np.concatenate(
            (np.asarray(st["hist_action"], dtype=object), np.full(n_new, None, dtype=object))
        )
        eng.dates, eng.closes = days, closes
        before = {e[0]: e[2:] for e in _trade_events(eng)} if update else {}
        if band is not None:
            carry, moves = band_driver(
                eng, days, closes, None, band, (st["anchor"], st["last_move_sell"]), h
            )
            st["anchor"], st["last_move_sell"] = carry
            for i, a in moves:
                actions[i] = a
        elif n_new:
            smas = _sma_table(closes[max(0, h - tail):], {fast, lagging})
            cross = smas[fast][-n_new:] > smas[lagging][-n_new:]
            idxs, buys = _cross_edges(cross, st["prev_cross"])
            actions[idxs + h] = _EDGE_ACTIONS[buys.astype(np.intp)]
            st["first_buy_day"] = _ma_cross_walk(
                eng, days, closes, idxs + h, buys, stop_loss_pct, sell_shares,
                st["first_buy_day"],
            )
            st["prev_cross"] = bool(cross[-1])
        events = _trade_events(eng)
        _, _, shares, net, cum_buy, cum_sell = _portfolio_curve(
            closes, events, initial_amount, (st["cum_buy"], st["cum_sell"], st["shares"])
        )

        # 4. emit
        lo = h
        if update:
            lo = min(
                (i for d, i, *ev in events if i < h and before.get(d) != tuple(ev)),
                default=h,
            )
        out = pd.DataFrame({
            "ticker": ticker, "run_id": run_id,
            "date": days[lo:].astype("datetime64[D]").astype(object),
            "close": closes[lo:], "action": actions[lo:],
            "shares_owned": shares[lo:], "net_worth": net[lo:],
        }, copy=False)
        if update:
            out["emit_seq"] = st["emit_seq"] + np.arange(1, len(out) + 1)
            st["emit_seq"] += len(out)

        # 5. prune and save: keep the SMA frames, the stop scan's bars
        # and, with partial sells, the days a fill can still re-size
        keep_at = [len(days) - tail]
        if eng.stop_heap:
            keep_at.append(np.searchsorted(
                days, min(eng.book.by_id[oid].start_time for _, oid in eng.stop_heap)
            ))
        if sell_shares != -1 and eng.book.open_orders:
            keep_at.append(np.searchsorted(
                days, min(o.start_time for o in eng.book.open_orders)
            ))
        k = max(0, min(keep_at))
        if k:
            st["cum_buy"], st["cum_sell"], st["shares"] = (
                float(cum_buy[k - 1]), float(cum_sell[k - 1]), float(shares[k - 1])
            )
        st.update(
            pend_day=day[~ready].astype(np.int64).tolist(),
            pend_close=close[~ready].tolist(),
            max_day=None if np.isnat(max_day) else int(max_day.astype(np.int64)),
            hist_day=days[k:].tolist(), hist_close=closes[k:].tolist(),
            hist_action=actions[k:].tolist(),
        )
        if n_new:
            st["last_day"] = int(new_days[-1])
        # the trade events on the retained days: none if none is retained
        since = days[k] if k < len(days) else (days[-1] + 1 if len(days) else None)
        st.update(_save_engine(eng, since))
        state.update(tuple(st[name] for name in _STATE.names))
        if len(out):
            yield out

    return fn


def _stateful(stream: DataFrame, keys, fn, update: bool = False) -> DataFrame:
    return stream.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=_CURVE_OUTPUT_U if update else _CURVE_OUTPUT,
        stateStructType=_STATE,
        outputMode="update" if update else "append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_backtest_curve(
    bars_stream: DataFrame,
    fast: int = 20,
    lagging: int = 100,
    initial_amount: float = 10_000.0,
    run_id: int = 0,
    stop_loss_pct: float | None = None,
    strategy: str = "ma_cross",
    sell_mult: float = 1.05,
    buy_mult: float = 0.99,
    allowed_lateness_days: int = 0,
) -> DataFrame:
    """Backtest as a streaming stateful operator: bars in, per-bar
    net-worth curve out (append mode). ``bars_stream`` needs
    (ticker, date, close). ``strategy`` is 'ma_cross' (fast/lagging,
    optional stop-loss) or 'band' (sell_mult/buy_mult) — both
    reference strategies run incrementally."""
    if strategy == "band":
        if stop_loss_pct is not None:
            raise NotImplementedError("band strategy takes no stop-loss")
        band = {"sell": sell_mult, "buy": buy_mult}
    elif strategy == "ma_cross":
        band = None
    else:
        raise ValueError(f"unknown streaming strategy {strategy!r}")
    fn = _step_fn(
        initial_amount, lambda key: (run_id, fast, lagging), allowed_lateness_days,
        stop_loss_pct=stop_loss_pct, band=band,
    )
    return _stateful(bars_stream.select("ticker", "date", "close"), ["ticker"], fn)


def streaming_backtest_curve_update(
    bars_stream: DataFrame,
    fast: int = 20,
    lagging: int = 100,
    initial_amount: float = 10_000.0,
    run_id: int = 0,
    sell_shares: float = 1.0,
) -> DataFrame:
    """MA-cross backtest with FIXED-size sells on a stream — the
    partial-close path append mode cannot express (Q4's fill-time
    overwrite rewrites an already-emitted buy bar's accounting).
    UPDATE output mode: corrected history rows re-emit with a higher
    ``emit_seq``; resolve with :func:`drain_stream_update` (or any
    latest-per-key consumer). Stop-loss + reorder buffering stay on
    the append-mode operator."""
    fn = _step_fn(
        initial_amount, lambda key: (run_id, fast, lagging), update=True,
        sell_shares=sell_shares,
    )
    return _stateful(
        bars_stream.select("ticker", "date", "close"), ["ticker"], fn, update=True
    )


def drain_stream_update(spark: SparkSession, streaming_df: DataFrame) -> DataFrame:
    """Drain an update-mode curve and resolve re-emissions: the memory
    sink keeps every emission, so the curve is the max-``emit_seq`` row
    per (ticker, run_id, date)."""
    import uuid

    from pyspark.sql import Window

    name = f"bt_stream_u_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_df.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    w = Window.partitionBy("ticker", "run_id", "date").orderBy(F.col("emit_seq").desc())
    return (
        spark.table(name)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "emit_seq")
    )


def streaming_grid_curve(
    bars_stream: DataFrame,
    params,
    initial_amount: float = 10_000.0,
    stop_loss_pct: float | None = None,
    allowed_lateness_days: int = 0,
) -> DataFrame:
    """A whole (fast, lagging) grid evaluated CONCURRENTLY on a live
    stream: each bar fans out to one row per run_id (map-only literal
    explode — no stream-static join needed for a driver-side grid),
    and ONE stateful operator keyed (ticker, run_id) keeps an
    independent simulation state per parameter point. The streaming
    counterpart of operators/optimize.evaluate_params: the batch
    engine re-scores the grid per job, this keeps every point's book
    warm and current as bars arrive.

    ``params``: iterable of (run_id, fast, lagging)."""
    by_run = {int(r): (int(f), int(l)) for r, f, l in params}
    expanded = bars_stream.select(
        "ticker",
        "date",
        "close",
        F.explode(F.array(*[F.lit(r).cast("long") for r in by_run])).alias("run_id"),
    )
    fn = _step_fn(
        initial_amount, lambda key: (int(key[1]), *by_run[int(key[1])]),
        allowed_lateness_days, stop_loss_pct=stop_loss_pct,
    )
    return _stateful(expanded, ["ticker", "run_id"], fn)


def bars_replay_stream(
    spark: SparkSession,
    bars: DataFrame,
    n_chunks: int = 3,
    delay_last_of_first: int = 0,
    punctuate: bool = False,
) -> DataFrame:
    """Replay a finite bars table as a file stream of ``n_chunks``
    date-range chunks (maxFilesPerTrigger=1 → one micro-batch per
    chunk), so every per-key series crosses batch boundaries and the
    stateful operators genuinely exercise their cross-batch state.

    This is a test/gate harness: a production job replaces it with the
    real arrival stream (kafka / cloud-storage file notifications) —
    the downstream operators are identical.

    The bars themselves never touch the driver: each chunk is written
    by a Spark job (date→chunk via ntile over the DISTINCT dates — a
    calendar-bounded, driver-safe window) and the driver only renames
    the finished part-file into the watched directory. Replay order is
    pinned with explicit increasing mtimes (``os.utime``) — the file
    source triggers oldest-mtime-first, and wall-clock writes can tie
    on filesystems with coarse mtime granularity.

    ``delay_last_of_first`` > 0 makes the replay deterministically
    OUT-OF-ORDER: the N distinct dates immediately BELOW chunk 1's max
    date are withheld and delivered with chunk 2 instead — chunk 1's
    max still arrives first, so the delayed bars are genuinely late
    relative to an already-consumed newer bar, exercising the kernel's
    reorder buffer (consumers must pass an ``allowed_lateness_days``
    covering the displacement). ``punctuate`` appends a final chunk of
    one null-close far-future row per ticker — the Flink-style
    punctuation that advances the event-time frontier and flushes the
    reorder buffer on a finite replay (no output rows; the kernel
    consumes punctuation without emitting)."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    from pyspark.sql import Window

    out_dir = tempfile.mkdtemp(prefix="bars_replay_")
    chunk_of = (
        bars.select("date")
        .distinct()
        .withColumn("__chunk", F.ntile(n_chunks).over(Window.orderBy("date")))
    )
    if delay_last_of_first > 0 and n_chunks >= 2:
        wd = Window.partitionBy("__chunk").orderBy(F.col("date").desc())
        rk = F.row_number().over(wd)
        chunk_of = chunk_of.withColumn(
            "__chunk",
            F.when(
                (F.col("__chunk") == 1)
                & (rk >= 2)
                & (rk <= delay_last_of_first + 1),
                F.lit(2),
            ).otherwise(F.col("__chunk")),
        )
    # materialize ONCE: the per-chunk filter/write loop below would
    # otherwise re-run the full bars lineage (and the ntile window)
    # n_chunks times
    chunked = (
        bars.join(chunk_of, "date").select("__chunk", *bars.columns).localCheckpoint()
    )
    base = time.time()
    for i in range(1, n_chunks + 1):
        stage = os.path.join(out_dir, f"_stage_{i}")
        (
            chunked.filter(F.col("__chunk") == i)
            .select(*bars.columns)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stage)
        )
        parts = glob.glob(os.path.join(stage, "part-*.parquet"))
        if parts:  # empty tile (n_chunks > distinct dates) writes none
            dst = os.path.join(out_dir, f"{i:03d}.parquet")
            shutil.move(parts[0], dst)
            os.utime(dst, (base + i, base + i))
        shutil.rmtree(stage)
    if punctuate:
        far = chunked.agg(F.date_add(F.max("date"), 60).alias("date"))
        punct = (
            chunked.select("ticker")
            .distinct()
            .crossJoin(F.broadcast(far))
        )
        for c in bars.columns:
            if c not in ("ticker", "date"):
                punct = punct.withColumn(
                    c, F.lit(None).cast(dict(bars.dtypes)[c])
                )
        stage = os.path.join(out_dir, "_stage_punct")
        punct.select(*bars.columns).coalesce(1).write.mode("overwrite").parquet(stage)
        parts = glob.glob(os.path.join(stage, "part-*.parquet"))
        dst = os.path.join(out_dir, f"{n_chunks + 1:03d}.parquet")
        shutil.move(parts[0], dst)
        os.utime(dst, (base + n_chunks + 1, base + n_chunks + 1))
        shutil.rmtree(stage)
    return (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(out_dir)
    )


def drain_stream(spark: SparkSession, streaming_df: DataFrame) -> DataFrame:
    """Start → processAllAvailable → stop; return the memory table.
    The memory sink is the local drain for gate checks; production
    uses a durable parquet/kafka sink with the same plan."""
    import uuid

    name = f"bt_stream_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def streaming_signal_edges_stateful(
    bars_stream: DataFrame, fast: int, lagging: int, run_id: int = 0
) -> DataFrame:
    """Signal edges only, with true incremental history: the same
    stateful walk as the kernel but emitting cross edges. This is the
    exact-under-incremental-arrival answer to the foreachBatch
    bridge's full-history caveat (events_stream.streaming_signal_edges)
    — the retained bars supply the ``max(fast, lagging) - 1`` closes of
    history a fresh micro-batch lacks. A simulation still runs
    underneath (cheap: one engine call per edge); output is filtered to
    edge rows."""
    curve = streaming_backtest_curve(bars_stream, fast, lagging, 1.0, run_id)
    return curve.filter(F.col("action").isNotNull()).select(
        "ticker", "run_id", "date", "close", "action"
    )

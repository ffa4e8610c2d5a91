"""The sequential order-matching kernel (SURVEY.md §2.9 K1-K10).

Everything else in the engine is declarative DataFrame algebra; this
module is the one genuinely path-dependent component — cash balance,
FIFO order book, stop-loss heap, and the strategy decision loop — and
it runs per (ticker, run_id) group inside a ``mapInPandas`` batch
walker (see ``run_kernel`` for why not ``applyInPandas``). State is
O(open orders) per group; groups are independent, so the kernel
parallelizes across tickers on a cluster, and a grid sweep simulates
all of a ticker's parameter points from one pass over its bars (the
reference's grid search is effectively serial, optimize.py:221-225).

Semantics replicate the reference order engine exactly, including its
quirks (SURVEY.md Appendix A), because the golden tests depend on
them. Each quirk is flagged inline; ``parity=False`` switches the
documented fixes on.

Reference citations: _Order strats.py:24-97, Order_Manager
strats.py:133-245, Strategy.buy/sell strats.py:343-420,
MA-cross driver custom_strats.py:41-62, band driver
custom_strats.py:83-101.
"""

from __future__ import annotations

import heapq
from collections import deque
from typing import Callable, Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from strat_backtest_spark.schemas import KERNEL_OUT_SCHEMA


class _KOrder:
    """One order (reference: _Order, strats.py:24-97)."""

    __slots__ = (
        "oid",
        "num_shares",
        "start_time",
        "start_amount",
        "filled",
        "end_time",
        "end_amount",
        "profit",
        "stop_loss",
    )

    def __init__(self, oid, num_shares, start_time, start_amount, stop_loss=None):
        self.oid = oid
        self.num_shares = num_shares
        self.start_time = start_time
        self.start_amount = start_amount
        self.stop_loss = stop_loss
        self.filled = False
        self.end_time = None
        self.end_amount = None
        self.profit = None

    def fill(self, num_shares, end_t, end_a):
        # Q4 parity: a partial fill OVERWRITES num_shares with the
        # requested amount (strats.py:81).
        if num_shares != -1:
            self.num_shares = num_shares
        self.end_time = end_t
        self.end_amount = end_a
        self.filled = True

    def profit_loss(self):
        if self.end_amount is None or self.start_amount is None:
            return None
        self.profit = (self.end_amount - self.start_amount) * self.num_shares
        return self.profit

    def value(self):
        # Q3 parity: an open order's "worth" is its bare entry PRICE,
        # not price × shares (strats.py:95-97).
        return self.end_amount if self.filled else self.start_amount


class _OrderBook:
    """FIFO order book (reference: Order_Manager, strats.py:133-245)."""

    def __init__(self, parity: bool = True):
        self.open_orders: deque[_KOrder] = deque()
        self.completed: list[_KOrder] = []
        self.shares_owned: dict = {}
        self.by_id: dict[int, _KOrder] = {}
        self.total_shares = 0.0
        self._next_id = 0
        self.parity = parity
        # Profit of completed orders dropped from `completed` (the
        # streaming kernel persists only open orders across micro-
        # batches; closed-order profit folds into this base so Q2's
        # re-add-on-every-call semantics survive the state handoff).
        self.profit_base = 0.0

    def _new_id(self) -> int:
        self._next_id += 1
        return self._next_id

    def new_order(self, num_shares, start_t, start_a, stop_loss=None) -> _KOrder:
        order = _KOrder(self._new_id(), num_shares, start_t, start_a, stop_loss)
        self.open_orders.append(order)
        self.total_shares += num_shares
        self.shares_owned[start_t] = self.total_shares
        self.by_id[order.oid] = order
        return order

    def _replace_order(self, order: _KOrder, num_shares) -> _KOrder:
        rem = _KOrder(
            self._new_id(),
            order.num_shares - num_shares,
            order.start_time,
            order.start_amount,
            order.stop_loss,
        )
        self.open_orders.appendleft(rem)
        self.by_id[rem.oid] = rem
        return rem

    def close_order(self, num_shares, end_t, end_a):
        """Returns (shares_closed, closed_orders). Reference:
        strats.py:179-213."""
        if num_shares == -1 and self.open_orders:
            order = self.open_orders.popleft()
            order.fill(-1, end_t, end_a)
            order.profit_loss()
            self.completed.append(order)
            self.total_shares -= order.num_shares
            self.shares_owned[end_t] = self.total_shares
            return order.num_shares, [order]

        closed_shares = 0.0
        closed = []
        while num_shares > 0 and self.open_orders:
            order = self.open_orders.popleft()
            if num_shares < order.num_shares:
                rem = self._replace_order(order, num_shares)
                if self.parity:
                    # Q1 parity: the remainder is queued TWICE
                    # (strats.py:151 and strats.py:205).
                    self.open_orders.appendleft(rem)
            order.fill(num_shares, end_t, end_a)
            order.profit_loss()
            closed_shares += order.num_shares
            closed.append(order)
            self.completed.append(order)
            self.total_shares -= num_shares
            # Q4 parity: order.num_shares was overwritten by fill(), so
            # this zeroes the loop counter after one order.
            num_shares -= order.num_shares
        self.shares_owned[end_t] = self.total_shares
        return closed_shares, closed

    def order_worth(self) -> float:
        # Reference strats.py:215-224 (with Q3 inside value()).
        return self.profit_base + sum(
            o.profit_loss() or 0.0 for o in self.completed
        ) - sum(o.value() for o in self.open_orders)


class TradingEngine:
    """Per-group simulation state (reference: Strategy,
    strats.py:252-420). ``dates``/``closes`` are the group's full bar
    series, needed by the stop-loss range scan (strats.py:318-322)."""

    def __init__(self, dates: np.ndarray, closes: np.ndarray, initial_amount: float, parity: bool = True):
        self.dates = dates
        self.closes = closes
        self.book = _OrderBook(parity=parity)
        self.current_amount = float(initial_amount)
        self.active_orders = 0.0
        self.buy_orders: dict = {}   # date -> _KOrder (late mutation visible)
        self.sell_orders: dict = {}  # date -> shares closed that day
        self.stop_heap: list = []
        self.parity = parity

    # -- buying power (Q2 parity: MUTATES and re-adds closed profits on
    # every call, strats.py:293-300) --
    def _curr_amnt(self) -> float:
        self.current_amount += self.book.order_worth()
        return self.current_amount

    def _exit_stop_loss(self, trading_date):
        """Reference strats.py:302-326 incl. Q5: pops the CHEAPEST stop
        first; a popped stop that never triggered is discarded."""
        if not self.stop_heap:
            return None
        sl, oid = self.stop_heap[0]
        if self.book.by_id[oid].start_time > trading_date:
            return None
        heapq.heappop(self.stop_heap)
        start = self.book.by_id[oid].start_time
        lo = np.searchsorted(self.dates, start, side="left")
        hi = np.searchsorted(self.dates, trading_date, side="left")
        window = self.closes[lo:hi]
        hits = np.nonzero(window <= sl)[0]
        if hits.size == 0:
            return None
        j = lo + hits[0]
        return self.closes[j], self.dates[j], oid

    def _flush_stops(self, trading_date):
        hit = self._exit_stop_loss(trading_date)
        while hit is not None:
            price, date, oid = hit
            # reference passes min(order.num_shares, -1) == -1
            # (strats.py:371-376) → FIFO-pop-one path.
            self._sell_functionality(-1, date, price)
            hit = self._exit_stop_loss(trading_date)

    def _sell_functionality(self, shares, end_time, end_amount):
        closed_shares, _ = self.book.close_order(shares, end_time, end_amount)
        self.active_orders -= closed_shares
        self.sell_orders[end_time] = closed_shares

    def buy(self, date, price, num_shares=-1, stop_loss=None):
        """Reference strats.py:343-395. Divergence from reference: a
        non-positive/NaN price is rejected instead of raising
        ZeroDivisionError (strats.py:383 would crash)."""
        if not price > 0:
            return
        self._flush_stops(date)
        current_amount = self._curr_amnt()
        if num_shares == -1 and current_amount > 0:
            num_shares = current_amount // price
        if current_amount < price * num_shares:
            # Q13 parity: silent rejection when unaffordable.
            return
        order = self.book.new_order(num_shares, date, price, stop_loss)
        self.active_orders += num_shares
        self.buy_orders[date] = order
        if stop_loss is not None:
            heapq.heappush(self.stop_heap, (stop_loss, order.oid))

    def sell(self, date, price, num_shares=-1):
        """Reference strats.py:397-420."""
        self._flush_stops(date)
        if self.active_orders > 0:
            self._sell_functionality(num_shares, date, price)


# ---------------------------------------------------------------------------
# strategy decision drivers — the imperative residue of each Strategy
# subclass; signal GENERATION stays vectorized in operators/signals.py,
# except for grid sweeps (see _sma_table and run_kernel's ``runs``).
# ---------------------------------------------------------------------------

def _ma_cross_walk(
    eng: TradingEngine, dates: np.ndarray, closes: np.ndarray,
    idxs: np.ndarray, buys: np.ndarray,
    stop_loss_pct: float | None = None, sell_shares: float = -1,
) -> None:
    """Reference custom_strats.py:41-62: buy at every up-cross; sell at
    down-crosses strictly after the first buy. ``idxs`` are the cross
    edges' row indices (ascending) and ``buys`` marks the up-crosses
    among them. One loop for every MA-cross caller: the action-column
    drivers below and ``run_kernel(runs=...)``, which finds the edges
    itself. Drivers take plain numpy views (not per-group pandas
    frames): a grid sweep runs thousands of simulations and per-group
    pandas masking was a measurable slice of the sweep."""
    buy_pos = np.flatnonzero(buys)
    if buy_pos.size == 0:
        return
    first_buy = dates[idxs[buy_pos[0]]]
    for i, is_buy in zip(idxs, buys):
        if is_buy:
            close = closes[i]
            eng.buy(
                dates[i], close,
                stop_loss=(close * stop_loss_pct) if stop_loss_pct else None,
            )
        elif dates[i] > first_buy:
            eng.sell(dates[i], closes[i], num_shares=sell_shares)


def _action_edges(actions: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(edge indices, is-buy) of a feed's buy/sell action column."""
    idxs = np.flatnonzero((actions == "buy") | (actions == "sell"))
    return idxs, actions[idxs] == "buy"


def ma_cross_driver(
    eng: TradingEngine, dates: np.ndarray, closes: np.ndarray,
    actions: np.ndarray, params: dict,
) -> None:
    """MA-cross over a feed whose ``action`` column marks the edges."""
    _ma_cross_walk(
        eng, dates, closes, *_action_edges(actions),
        stop_loss_pct=params.get("stop_loss_pct"),
    )


def band_driver(
    eng: TradingEngine, dates: np.ndarray, closes: np.ndarray,
    actions: np.ndarray, params: dict,
) -> None:
    """Reference Ten_Percent_Strat (custom_strats.py:83-101): thresholds
    anchored to the bar of the LAST transaction — fully path-dependent,
    the canonical proof the kernel API generalizes."""
    sell_mult = params.get("sell", 1.05)
    buy_mult = params.get("buy", 0.99)
    if len(closes) == 0:
        return
    anchor = 0
    last_move_sell = False
    eng.buy(dates[0], closes[0])
    for i in range(1, len(closes)):
        value = closes[i]
        if value >= closes[anchor] * sell_mult and not last_move_sell:
            eng.sell(dates[i], value)
            anchor = i
            last_move_sell = True
        elif value <= closes[anchor] * buy_mult and last_move_sell:
            eng.buy(dates[i], value)
            anchor = i
            last_move_sell = False


def ma_cross_partial_driver(
    eng: TradingEngine, dates: np.ndarray, closes: np.ndarray,
    actions: np.ndarray, params: dict,
) -> None:
    """ma_cross variant selling a FIXED share count per down-cross
    (``sell_shares``): exercises the engine's partial-fill path — Q1's
    remainder double-queue (strats.py:151,205) and Q4's
    num_shares-overwrite-on-fill (strats.py:81) — which whole-order
    ``sell(-1)`` closes never reach. No shipped reference strategy
    issues partial closes; this driver exists so the partial path has
    end-to-end batch/streaming parity coverage."""
    _ma_cross_walk(
        eng, dates, closes, *_action_edges(actions),
        sell_shares=params.get("sell_shares", 1.0),
    )


DRIVERS: dict[str, Callable[..., None]] = {
    "ma_cross": ma_cross_driver,
    "ma_cross_partial": ma_cross_partial_driver,
    "band": band_driver,
}


# ---------------------------------------------------------------------------
# the Spark-facing operator
# ---------------------------------------------------------------------------

class _KernelOutAcc:
    """Column-list accumulator for kernel output rows.

    A grid sweep makes (tickers × params) groups — tens of thousands of
    SMALL groups. Building two pandas frames + a concat per group (the
    naive applyInPandas shape) costs ~1 ms/group of pure pandas
    overhead, which dominates the sweep. Appending Python scalars to
    lists and constructing ONE frame per Arrow flush amortizes that
    overhead across every group in the batch."""

    _NAMES = [f.name for f in KERNEL_OUT_SCHEMA.fields]

    def __init__(self) -> None:
        self.cols: dict[str, list] = {n: [] for n in self._NAMES}
        self.n = 0

    def add_order(self, ticker, run_id, o: "_KOrder") -> None:
        c = self.cols
        c["ticker"].append(ticker)
        c["run_id"].append(run_id)
        c["row_type"].append("order")
        c["order_id"].append(o.oid)
        c["num_shares"].append(o.num_shares)
        c["start_time"].append(o.start_time)
        c["start_amount"].append(o.start_amount)
        c["filled"].append(o.filled)
        c["end_time"].append(o.end_time)
        c["end_amount"].append(o.end_amount)
        c["profit"].append(o.profit)
        c["stop_loss"].append(o.stop_loss)
        c["date"].append(None)
        c["buy_shares"].append(None)
        c["sell_shares"].append(None)
        c["shares_owned"].append(None)
        c["event_close"].append(None)
        self.n += 1

    def add_event(
        self, ticker, run_id, date, buy_shares, sell_shares, shares_owned, close
    ) -> None:
        c = self.cols
        c["ticker"].append(ticker)
        c["run_id"].append(run_id)
        c["row_type"].append("event")
        for name in (
            "order_id", "num_shares", "start_time", "start_amount",
            "filled", "end_time", "end_amount", "profit", "stop_loss",
        ):
            c[name].append(None)
        c["date"].append(date)
        c["buy_shares"].append(buy_shares)
        c["sell_shares"].append(sell_shares)
        c["shares_owned"].append(shares_owned)
        c["event_close"].append(close)
        self.n += 1

    def flush(self) -> pd.DataFrame:
        # object columns of python scalars/None: Arrow casts directly
        # against KERNEL_OUT_SCHEMA; no NaN-in-date normalization needed
        out = pd.DataFrame(
            {n: pd.Series(self.cols[n], dtype=object) for n in self._NAMES}
        )
        self.__init__()
        return out


def _run_one_group(
    acc: _KernelOutAcc, ticker, run_id,
    dates: np.ndarray, closes: np.ndarray,
    initial_amount: float, parity: bool, drive, *args,
) -> None:
    """Simulate one (ticker, run_id) group into the accumulator:
    ``drive(engine, dates, closes, *args)`` makes the decisions.
    Inputs are numpy views over the batch arrays, already date-sorted
    (the feed sort guarantees it) — no per-group pandas objects."""
    eng = TradingEngine(dates, closes, initial_amount, parity=parity)
    drive(eng, dates, closes, *args)
    for o in eng.book.completed:
        acc.add_order(ticker, run_id, o)
    for o in eng.book.open_orders:
        acc.add_order(ticker, run_id, o)
    buy_orders, sell_orders, owned = eng.buy_orders, eng.sell_orders, eng.book.shares_owned
    for d in sorted(set(buy_orders) | set(sell_orders) | set(owned)):
        # buy_orders holds order objects: read num_shares NOW so the
        # reference's post-hoc mutation (Q4) is reflected, matching
        # `buy * close` evaluated after the sim (strats.py:570).
        b = buy_orders.get(d)
        acc.add_event(
            ticker, run_id, d,
            b.num_shares if b is not None else None,
            sell_orders.get(d), owned.get(d),
            float(closes[np.searchsorted(dates, d)]),
        )


def _sma_table(closes: np.ndarray, lengths) -> dict[int, np.ndarray]:
    """Rolling means of ``closes`` for every length in ``lengths``,
    bit-identical to ``functions.windows.rolling_mean`` — NaN where it
    is null (before row n). Spark evaluates ``avg() OVER (ROWS n-1
    PRECEDING)`` by re-aggregating the frame for every row: start at
    0.0, add the n values left to right, divide by float(n). Adding
    the same values in the same order reproduces each sum exactly, and
    the n-row sum starting at row i is the (n-1)-row one plus one more
    add, so one running vector serves every length: max(lengths)
    vector adds per series, however many lengths and runs share it."""
    m = len(closes)
    sums = np.zeros(m)
    added = 0
    out = {}
    for n in sorted(lengths):
        while added < min(n, m):
            sums[: m - added] += closes[added:]
            added += 1
        sma = np.full(m, np.nan)
        if n <= m:
            sma[n - 1:] = sums[: m - n + 1] / float(n)
        out[n] = sma
    return out


def _run_grid(
    acc: _KernelOutAcc, ticker, dates: np.ndarray, closes: np.ndarray,
    runs, initial_amount: float, stop_loss_pct, parity: bool,
) -> None:
    """Every MA-cross run of ``runs`` over one ticker's bars. The
    signal semantics are ``MACrossStrategy.signal_feed``'s: ``cross``
    is sma_fast > sma_lagging with a null (NaN) SMA counting as false,
    and the edges are the first row plus every row where ``cross``
    changes."""
    if not np.isfinite(closes).all():
        # Spark orders NaN above every number and skips null closes in
        # its window averages; this path does neither, so refuse
        # rather than return a number the Backtest path would not
        raise ValueError(f"ticker {ticker!r}: null or non-finite close in a sweep")
    smas = _sma_table(closes, {n for _, f, l in runs for n in (f, l)})
    edge = np.ones(len(closes), dtype=bool)
    for run_id, fast, lagging in runs:
        cross = smas[fast] > smas[lagging]
        np.not_equal(cross[1:], cross[:-1], out=edge[1:])
        idxs = np.flatnonzero(edge)
        _run_one_group(
            acc, ticker, run_id, dates, closes, initial_amount, parity,
            _ma_cross_walk, idxs, cross[idxs], stop_loss_pct,
        )


def run_kernel(
    feed: DataFrame,
    initial_amount: float,
    strategy: str = "ma_cross",
    params: dict | None = None,
    parity: bool = True,
    runs: list[tuple[int, int, int]] | None = None,
) -> DataFrame:
    """Run the order-matching simulation per (ticker, run_id) group.

    ``feed``: (ticker, run_id, date, close, action) — all bars for the
    group, with ``action`` null on non-event bars (the stop-loss scan
    and path-dependent drivers need the full series; Catalyst prunes
    the unused columns from the scan).

    ``runs``: a parameter sweep's (run_id, fast, lagging) grid. The
    kernel then computes the MA-cross signals itself: ``feed`` carries
    one plain bar series per ticker (``action`` and ``run_id`` are
    ignored; see ``signals.ma_cross_feed_grid``), every run is
    simulated over it, and the output rows carry the runs' ids. Each
    distinct moving-average length is computed once per ticker and
    shared by every run that uses it (``_sma_table``; bit-identical to
    the Spark window ``MACrossStrategy.signal_feed`` uses). Compared
    with a Spark-built grid feed, each bar crosses into Python once
    instead of once per run, and no window re-aggregates its frame for
    every row. Only ``strategy="ma_cross"``; ``params`` may set
    ``stop_loss_pct``. Closes must be finite (``ValueError``
    otherwise).

    Plan shape: repartition on ticker + sortWithinPartitions +
    ``mapInPandas`` with a batch-spanning group walker — NOT
    ``groupBy().applyInPandas``. Both shuffle once; the difference is
    Python-side: mapInPandas lets one Python call process every group
    in an Arrow batch (list-append output, one frame per flush), where
    applyInPandas pays per-group pandas frame construction for every
    (ticker, run_id) group. The walker splits partitions on key
    changes, so groups sharing a partition cost nothing. Keying on
    ticker alone lets Spark ELIDE the repartition when the feed comes
    straight off a per-ticker signal window (``signal_feed``): the
    kernel then adds no exchange.

    Returns the tagged kernel output (KERNEL_OUT_SCHEMA); split with
    :func:`split_kernel_output`.
    """
    driver = DRIVERS[strategy]
    params = params or {}
    if runs is not None:
        if strategy != "ma_cross":
            raise ValueError(f"runs= computes MA-cross signals, not {strategy!r}")
        runs = [(int(i), int(f), int(l)) for i, f, l in runs]
        if any(min(f, l) < 1 for _, f, l in runs):
            raise ValueError("moving-average lengths must be at least 1")

    srt = (
        feed.select("ticker", "run_id", "date", "close", "action")
        .repartition("ticker")
        .sortWithinPartitions("ticker", "run_id", "date")
    )

    def walk(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        acc = _KernelOutAcc()
        # open group's segments as (dates, closes, actions) array views
        carry: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
        carry_key = None

        def run(key, segs):
            if len(segs) == 1:
                d, c, a = segs[0]
            else:
                d = np.concatenate([x[0] for x in segs])
                c = np.concatenate([x[1] for x in segs])
                a = np.concatenate([x[2] for x in segs])
            if runs is None:
                _run_one_group(acc, key[0], key[1], d, c, initial_amount,
                               parity, driver, a, params)
            else:
                _run_grid(acc, key[0], d, c, runs, initial_amount,
                          params.get("stop_loss_pct"), parity)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            t = pdf["ticker"].to_numpy()
            r = pdf["run_id"].to_numpy()
            dates = pdf["date"].to_numpy()
            closes = pdf["close"].to_numpy()
            actions = pdf["action"].to_numpy()
            change = np.flatnonzero((t[1:] != t[:-1]) | (r[1:] != r[:-1])) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(pdf)]))
            for s, e in zip(starts, ends):
                key = (t[s], r[s])
                seg = (dates[s:e], closes[s:e], actions[s:e])
                if carry_key is not None and carry_key != key:
                    run(carry_key, carry)
                    carry, carry_key = [], None
                if e < len(pdf):  # complete group inside this batch
                    carry.append(seg)
                    run(key, carry)
                    carry, carry_key = [], None
                else:  # batch-final segment: may continue in next batch
                    carry.append(seg)
                    carry_key = key
            if acc.n >= 20_000:
                yield acc.flush()
        if carry_key is not None:
            run(carry_key, carry)
        if acc.n:
            yield acc.flush()

    return srt.mapInPandas(walk, KERNEL_OUT_SCHEMA)


def split_kernel_output(kernel_out: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(orders, trade_events) from the tagged kernel frame. Cache the
    input if both sides are consumed to avoid re-simulation."""
    orders = kernel_out.filter(F.col("row_type") == "order").select(
        "ticker",
        "run_id",
        "order_id",
        "num_shares",
        "start_time",
        "start_amount",
        "filled",
        "end_time",
        "end_amount",
        "profit",
        "stop_loss",
    )
    events = kernel_out.filter(F.col("row_type") == "event").select(
        "ticker", "run_id", "date", "buy_shares", "sell_shares", "shares_owned",
        "event_close",
    )
    return orders, events

"""The sequential order-matching kernel (SURVEY.md §2.9 K1-K10).

Everything else in the engine is declarative DataFrame algebra; this
module is the one genuinely path-dependent component — cash balance,
FIFO order book, stop-loss heap, and the strategy decision loop — and
it runs per ticker inside a ``mapInPandas`` batch walker (see
``run_kernel`` for why not ``applyInPandas``), which simulates every
run spec (``MACrossRun``, ``BandRun``) over the ticker's plain bar
series. State is O(open orders) per run; tickers are independent, so
the kernel parallelizes across tickers on a cluster, and a grid sweep
simulates all of a ticker's parameter points from one pass over its
bars (the reference's grid search is effectively serial,
optimize.py:221-225). For ``Backtest`` the walker also finishes each
run's outputs while it holds the ticker's arrays: the net-worth curve,
the attached benchmark and the metric aggregates
(``run_kernel(curve=True)``), so nothing after the kernel needs a
window or a shuffle.

Semantics replicate the reference order engine exactly, including its
quirks (SURVEY.md Appendix A), because the golden tests depend on
them. Each quirk is flagged inline; ``parity=False`` switches the
documented fixes on.

Reference citations: _Order strats.py:24-97, Order_Manager
strats.py:133-245, Strategy.buy/sell strats.py:343-420,
MA-cross walk custom_strats.py:41-62, band walk
custom_strats.py:83-101.
"""

from __future__ import annotations

import heapq
import math
from collections import deque
from typing import Iterable, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F, types as T

from strat_backtest_spark.schemas import (
    KERNEL_LEDGER_SCHEMA,
    KERNEL_OUT_SCHEMA,
    STATS_COLUMNS,
)


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
        # The running sum of the profits of completed orders dropped
        # from `completed`: the streaming state folds away the settled
        # prefix of `completed`, and order_worth continues this sum, so
        # Q2's re-add-on-every-call sees the same doubles.
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
        return sum(
            (o.profit_loss() or 0.0 for o in self.completed), self.profit_base
        ) - sum(o.value() for o in self.open_orders)


class TradingEngine:
    """Per-group simulation state (reference: Strategy,
    strats.py:252-420). ``dates``/``closes`` are the group's bar series,
    needed by the stop-loss range scan (strats.py:318-322): the whole
    series in a batch walk, the retained bars plus the step's in a
    streaming step."""

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
# run specs and their walks — the imperative residue of each Strategy
# subclass. A run spec names one simulation: its run_id, its walk and
# that walk's parameters. ``_walk_run`` is the one dispatch from a spec
# to its walk, for the batch walker (``_run_ticker``) and the streaming
# kernel (streaming/backtest_stream.py) alike. Every walk reads the
# plain bar series and resumes from a small carry, so a micro-batch is
# one more step of the batch walk, and a batch walk is one step from
# the empty carry.
# ---------------------------------------------------------------------------

class MACrossRun(NamedTuple):
    """An MA-cross run (reference MA_Cross_Strat, custom_strats.py:7-62):
    a buy at every up-cross of the ``fast`` SMA over the ``lagging`` one,
    a sell at every down-cross after the first buy. ``stop_loss_pct``
    places a stop at close × pct under every buy; ``sell_shares`` is -1
    (close the oldest order) or a fixed share count per sell, which
    takes the engine's partial-fill path."""

    run_id: int
    fast: int
    lagging: int
    stop_loss_pct: float | None = None
    sell_shares: float = -1

    @property
    def lengths(self) -> tuple[int, int]:
        """The SMA lengths the walk reads."""
        return self.fast, self.lagging


class BandRun(NamedTuple):
    """A threshold-band run (reference Ten_Percent_Strat,
    custom_strats.py:65-101): sell when the close rises to anchor ×
    ``sell``, buy when it falls to anchor × ``buy``."""

    run_id: int
    sell: float = 1.05
    buy: float = 0.99
    lengths = ()  # reads no SMA


def _ma_cross_walk(
    eng: TradingEngine, dates: np.ndarray, closes: np.ndarray,
    idxs: np.ndarray, buys: np.ndarray,
    stop_loss_pct: float | None = None, sell_shares: float = -1,
    first_buy=None,
):
    """Reference custom_strats.py:41-62: buy at every up-cross; sell at
    down-crosses strictly after the first buy. ``idxs`` are the cross
    edges' row indices (ascending) and ``buys`` marks the up-crosses
    among them (``_cross_edges``). ``sell_shares`` is -1 (close the
    oldest order) or a fixed share count. ``first_buy``: the carry, the
    date of the first up-cross walked before (None: none yet); returns
    the carry after these edges. Walks take plain numpy views (not
    per-group pandas frames): a grid sweep runs thousands of
    simulations and per-group pandas masking was a measurable slice of
    the sweep."""
    if first_buy is None:
        buy_pos = np.flatnonzero(buys)
        if buy_pos.size == 0:
            return None
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
    return first_buy


def _cross_edges(cross: np.ndarray, prev=None) -> tuple[np.ndarray, np.ndarray]:
    """(edge indices, is-buy) of a ``cross`` series (sma_fast >
    sma_lagging, a null SMA counting as false): every row where
    ``cross`` changes, and the first row unless it continues ``prev``,
    the carry — the ``cross`` of the bar before (None: no bar before).
    An edge is a buy where ``cross`` holds."""
    edge = np.empty(len(cross), dtype=bool)
    edge[:1] = prev is None or cross[:1] != prev
    np.not_equal(cross[1:], cross[:-1], out=edge[1:])
    idxs = np.flatnonzero(edge)
    return idxs, cross[idxs]


def band_driver(
    eng: TradingEngine, dates: np.ndarray, closes: np.ndarray,
    sell: float, buy: float, carry=None, lo: int = 0,
):
    """Reference Ten_Percent_Strat (custom_strats.py:83-101): buy on the
    first bar, then sell when the close rises to anchor·sell and buy
    again when it falls to anchor·buy, the anchor re-pinning to the
    close of each move — fully path-dependent, the canonical proof the
    kernel API generalizes. Walks bars ``lo`` onwards from ``carry``,
    (anchor close, the last move was a sell) with a None anchor (or no
    carry) before the first bar. Returns (carry, moves), ``moves`` the
    (bar index, action) of each decision, taken or not by the engine."""
    anchor, last_move_sell = carry or (None, False)
    moves = []
    for i in range(lo, len(closes)):
        value = closes[i]
        if anchor is None:
            eng.buy(dates[i], value)
            moves.append((i, "buy"))
        elif value >= anchor * sell and not last_move_sell:
            eng.sell(dates[i], value)
            moves.append((i, "sell"))
        elif value <= anchor * buy and last_move_sell:
            eng.buy(dates[i], value)
            moves.append((i, "buy"))
        else:
            continue
        anchor, last_move_sell = value, moves[-1][1] == "sell"
    return (anchor, last_move_sell), moves


def _check_runs(runs) -> None:
    """Refuse a run list before any job starts, for ``run_kernel`` and
    the streaming kernel alike: an MA length under 1, a ``run_id``
    that repeats (its runs' rows would merge under one id), or a
    stop-loss on the partial-sell path (no oracle or test covers it)."""
    seen = set()
    for spec in runs:
        if any(n < 1 for n in spec.lengths):
            raise ValueError("moving-average lengths must be at least 1")
        if spec.run_id in seen:
            raise ValueError(f"duplicate run_id {spec.run_id}")
        seen.add(spec.run_id)
        if getattr(spec, "stop_loss_pct", None) is not None and spec.sell_shares != -1:
            raise NotImplementedError("stop_loss_pct with sell_shares is not supported")


_EDGE_ACTIONS = np.array(["sell", "buy"], dtype=object)


def _walk_run(
    eng: TradingEngine, spec, smas: dict, lo: int = 0, carry=None,
) -> tuple[dict, np.ndarray]:
    """Walk run ``spec`` over the engine's bars (``eng.dates``,
    ``eng.closes``) from bar ``lo`` on, resuming from ``carry`` — the
    walk's carry mapping (``prev_cross`` and ``first_buy`` for
    MA-cross, ``anchor`` and ``last_move_sell`` for the band; None or
    missing keys: nothing walked before). ``smas``: ``_sma_table`` of
    ``spec.lengths`` over a run of bars that ends with the last bar and
    reaches back to bar ``lo``. Returns (the carry after the walk, the
    action of each bar from ``lo`` on): 'buy'/'sell' at the MA-cross
    edges or the band's moves, None elsewhere."""
    dates, closes = eng.dates, eng.closes
    carry = carry or {}
    action = np.full(len(closes) - lo, None, dtype=object)
    if isinstance(spec, BandRun):
        (anchor, last_move_sell), moves = band_driver(
            eng, dates, closes, spec.sell, spec.buy,
            (carry.get("anchor"), carry.get("last_move_sell", False)), lo,
        )
        for i, a in moves:
            action[i - lo] = a
        return {"anchor": anchor, "last_move_sell": last_move_sell}, action
    m = len(action)
    fast, lagging = (smas[n][len(smas[n]) - m:] for n in spec.lengths)
    cross = fast > lagging
    idxs, buys = _cross_edges(cross, carry.get("prev_cross"))
    action[idxs] = _EDGE_ACTIONS[buys.astype(np.intp)]
    first_buy = _ma_cross_walk(
        eng, dates, closes, idxs + lo, buys, spec.stop_loss_pct,
        spec.sell_shares, carry.get("first_buy"),
    )
    prev_cross = bool(cross[-1]) if m else carry.get("prev_cross")
    return {"prev_cross": prev_cross, "first_buy": first_buy}, action


# ---------------------------------------------------------------------------
# the Spark-facing operator
# ---------------------------------------------------------------------------

def _null_column(dtype, n: int) -> np.ndarray:
    """``n`` nulls of a kernel output type as a typed array: Arrow
    masks NaN and NaT to null without visiting Python objects."""
    if isinstance(dtype, T.DateType):
        return np.full(n, np.datetime64("NaT"), dtype="datetime64[ns]")
    if isinstance(dtype, T.StringType):
        return np.full(n, None, dtype=object)
    return np.full(n, np.nan)  # double, long and boolean slots


class _KernelOutAcc:
    """Accumulator for kernel output rows.

    A grid sweep makes (tickers × params) groups — tens of thousands of
    SMALL groups. Building two pandas frames + a concat per group (the
    naive applyInPandas shape) costs ~1 ms/group of pure pandas
    overhead, which dominates the sweep. Order, event and stats rows (a
    few per group) are appended as tuples of Python scalars holding only
    the columns their row type fills; curve rows (one per bar) are kept
    as one block of typed numpy columns per group. Each Arrow flush
    builds one frame per row type, amortizing the overhead across every
    group in the batch, and fills every other column of ``schema``
    with a typed null array, so a row pays nothing per column it
    leaves null."""

    # the columns each scalar row type fills after ticker and run_id
    _FILLS = {
        "order": (
            "order_id", "num_shares", "start_time", "start_amount", "filled",
            "end_time", "end_amount", "profit", "stop_loss",
        ),
        "event": ("date", "buy_shares", "sell_shares", "shares_owned", "event_close"),
        "stats": STATS_COLUMNS,
    }
    # the columns a 'bar' row fills
    _BAR_NAMES = (
        "date", "buy_shares", "sell_shares", "shares_owned", "net_worth",
        "event_close", "action", "sp500",
    )

    def __init__(self, schema: T.StructType) -> None:
        self.types = {f.name: f.dataType for f in schema.fields}
        self._reset()

    def _reset(self) -> None:
        self.rows: dict[str, list[tuple]] = {kind: [] for kind in self._FILLS}
        self.bars: list[tuple] = []
        self.n = 0

    def add(self, kind: str, ticker, run_id, *values) -> None:
        """One row of ``kind``: ``values`` in ``_FILLS[kind]`` order."""
        self.rows[kind].append((ticker, run_id, *values))
        self.n += 1

    def add_order(self, ticker, run_id, o: "_KOrder") -> None:
        self.add(
            "order", ticker, run_id, o.oid, o.num_shares, o.start_time,
            o.start_amount, o.filled, o.end_time, o.end_amount, o.profit,
            o.stop_loss,
        )

    def add_curve(self, ticker, run_id, *columns: np.ndarray) -> None:
        """One group's bar rows: ``columns`` are its per-bar arrays in
        ``_BAR_NAMES`` order."""
        self.bars.append((ticker, run_id, columns))
        self.n += len(columns[0])

    def _frame(self, kind: str, n: int, filled: dict) -> pd.DataFrame:
        out, nulls = {}, {}  # one read-only null array per Spark type
        for name, dtype in self.types.items():
            if name not in filled:
                if dtype not in nulls:
                    nulls[dtype] = _null_column(dtype, n)
                out[name] = nulls[dtype]
        out["row_type"] = np.full(n, kind, dtype=object)
        out.update(filled)
        # copy=False also skips pandas' block consolidation, a copy of
        # every column the Arrow conversion would not need
        return pd.DataFrame(out, columns=list(self.types), copy=False)

    def _row_frame(self, kind: str) -> pd.DataFrame:
        # object columns of python scalars/None, which Arrow casts
        # directly against the output schema
        rows = self.rows[kind]
        names = ("ticker", "run_id", *self._FILLS[kind])
        return self._frame(kind, len(rows), {
            name: np.array(col, dtype=object)
            for name, col in zip(names, zip(*rows))
        })

    def _bar_frame(self) -> pd.DataFrame:
        lens = [len(cols[0]) for _, _, cols in self.bars]
        filled = {
            "ticker": np.repeat(
                np.array([t for t, _, _ in self.bars], dtype=object), lens
            ),
            "run_id": np.repeat(
                np.array([r for _, r, _ in self.bars], dtype=np.int64), lens
            ),
        }
        for j, name in enumerate(self._BAR_NAMES):
            filled[name] = np.concatenate([cols[j] for _, _, cols in self.bars])
        return self._frame("bar", sum(lens), filled)

    def flush(self) -> Iterable[pd.DataFrame]:
        for kind, rows in self.rows.items():
            if rows:
                yield self._row_frame(kind)
        if self.bars:
            yield self._bar_frame()
        self._reset()


class _Sim(NamedTuple):
    """The settings every group of one ``run_kernel`` call shares."""

    initial_amount: float
    parity: bool
    # (days, sp500) from ``benchmark_series``, or None
    benchmark: tuple[np.ndarray, np.ndarray] | None


def _check_bars(ticker, dates: np.ndarray, closes: np.ndarray) -> np.ndarray:
    """The bars contract every walk relies on: within a ticker the dates
    strictly increase (the event lookups and the stop-loss scan
    ``searchsorted`` them) and every close is finite (Spark orders NaN
    above every number and skips null closes in its window averages;
    no walk does either). Returns the dates as datetime64[D] days;
    raises ``ValueError`` naming the ticker and the first offending
    date otherwise."""
    # Arrow converts date objects ~50x faster than numpy's astype
    days = pa.array(dates, type=pa.date32()).to_numpy(zero_copy_only=False)
    ok = ~np.isnat(days)
    ok[1:] &= days[1:] > days[:-1]
    if not ok.all():
        bad = days[np.flatnonzero(~ok)[0]]
        raise ValueError(f"ticker {ticker!r}: duplicate or null date {bad}")
    ok = np.isfinite(closes)
    if not ok.all():
        bad = days[np.flatnonzero(~ok)[0]]
        raise ValueError(f"ticker {ticker!r}: null or non-finite close on {bad}")
    return days


def _run_ticker(
    acc: _KernelOutAcc, sim: _Sim, ticker,
    dates: np.ndarray, days: np.ndarray, closes: np.ndarray,
    runs, curve: bool,
) -> None:
    """Every run spec of ``runs`` over one ticker's bars, into the
    accumulator. Inputs are numpy views over the batch arrays, already
    date-sorted and checked (``_check_bars``) — no per-group pandas
    objects. Each distinct SMA length is computed once per ticker and
    shared by every MA-cross run that reads it. ``curve``: also emit
    each run's curve rows and stats row."""
    smas = _sma_table(closes, {n for spec in runs for n in spec.lengths})
    for spec in runs:
        eng = TradingEngine(dates, closes, sim.initial_amount, parity=sim.parity)
        _, actions = _walk_run(eng, spec, smas)
        _emit_run(acc, sim, ticker, spec.run_id, eng, days, actions if curve else None)


def _emit_run(
    acc: _KernelOutAcc, sim: _Sim, ticker, run_id, eng: TradingEngine,
    days: np.ndarray, actions,
) -> None:
    """One walked run's order and event rows; given its per-bar
    ``actions`` (None emits neither), also its curve rows and its
    stats row."""
    dates, closes = eng.dates, eng.closes
    orders = [*eng.book.completed, *eng.book.open_orders]
    for o in orders:
        acc.add_order(ticker, run_id, o)
    events = _trade_events(eng)
    for d, i, *ev in events:
        acc.add("event", ticker, run_id, d, *ev, float(closes[i]))
    if actions is None:
        return
    buy, sell, shares, net, *_ = _portfolio_curve(closes, events, sim.initial_amount)
    out_days, sp500 = _benchmark_rows(days, sim.benchmark, sim.parity)
    if len(out_days) > len(days):  # benchmark-only rows (Q6)
        at = np.searchsorted(out_days, days)
        dates = out_days.astype(object)
        closes, buy, sell, shares, net, actions = (
            _spread(x, at, len(out_days))
            for x in (closes, buy, sell, shares, net, actions)
        )
    acc.add_curve(ticker, run_id, dates, buy, sell, shares, net, closes, actions, sp500)
    acc.add("stats", ticker, run_id, *_group_stats(dates, out_days, net, sp500, orders))


def _benchmark_rows(days: np.ndarray, benchmark, parity: bool):
    """(days of the group's curve rows, sp500 per row with NaN for
    null) once the benchmark is attached to bars on ``days`` —
    ``portfolio.attach_benchmark``'s result, row for row (reference
    strats.py:592-600). ``parity``: Q6 — the last len(days) benchmark
    rows on or before the last bar, aligned by date with outer
    semantics, so their dates off the bar calendar become extra rows;
    otherwise a left join on date."""
    if benchmark is None:
        return days, np.full(len(days), np.nan)
    b_days, b_vals = benchmark
    out_days = days
    if parity:
        hi = np.searchsorted(b_days, days[-1], side="right")
        lo = max(0, hi - len(days))
        b_days, b_vals = b_days[lo:hi], b_vals[lo:hi]
        out_days = np.union1d(days, b_days)
    sp500 = np.full(len(out_days), np.nan)
    if len(b_days):
        k = np.minimum(np.searchsorted(b_days, out_days), len(b_days) - 1)
        hit = b_days[k] == out_days
        sp500[hit] = b_vals[k[hit]]
    return out_days, sp500


def _spread(x: np.ndarray, at: np.ndarray, n: int) -> np.ndarray:
    """``x`` placed at rows ``at`` of ``n``, null (NaN or None) elsewhere."""
    out = np.full(n, None if x.dtype == object else np.nan, dtype=x.dtype)
    out[at] = x
    return out


def _trade_events(eng: TradingEngine) -> list[tuple]:
    """(date, bar index in ``eng.dates``, buy, sell, shares owned) per
    trade day of the engine, ascending, None where the day has no such
    value. Buy shares are read from the order objects NOW, so the
    reference's post-hoc mutation (Q4) is reflected, matching
    `buy * close` evaluated after the sim (strats.py:570)."""
    buy_orders, sell_orders, owned = eng.buy_orders, eng.sell_orders, eng.book.shares_owned
    out = []
    for d in sorted(set(buy_orders) | set(sell_orders) | set(owned)):
        b = buy_orders.get(d)
        out.append((
            d, np.searchsorted(eng.dates, d), b.num_shares if b is not None else None,
            sell_orders.get(d), owned.get(d),
        ))
    return out


def _portfolio_curve(
    closes: np.ndarray, events, initial_amount: float, carry=(0.0, 0.0, 0.0),
):
    """(buy, sell, shares_owned, net_worth, Σbuy·close, Σsell·close) per
    bar from one group's ``_trade_events`` in
    ``portfolio.build_portfolio``'s exact IEEE order: buy and sell
    0-filled; shares_owned forward-filled, then filled from the carry;
    the running sums of buy·close and sell·close add left to right from
    the carry, as Spark's growing-frame SUM does from 0.0 (np.cumsum is
    sequential, never pairwise, so a sum continued from a carried one
    is the same double as one long sum); then ((shares·close − Σbuy·close)
    + Σsell·close) + initial_amount. ``carry``: (Σbuy·close, Σsell·close,
    shares owned) of the bar before the first — zeros for a whole series,
    the streaming state's values before its first retained bar."""
    m = len(closes)
    buy, sell = np.zeros(m), np.zeros(m)
    last = np.full(m, -1)  # index of the bar's last shares_owned value
    owned: list = []
    for _, i, b, s, o in events:
        if b is not None:
            buy[i] = b
        if s is not None:
            sell[i] = s
        if o is not None:
            last[i] = len(owned)
            owned.append(o)
    np.maximum.accumulate(last, out=last)
    # index -1 (no value yet) reads the carried shares
    shares = np.append(np.asarray(owned, dtype=float), carry[2])[last]
    cum_buy = np.cumsum(np.concatenate(((carry[0],), buy * closes)))[1:]
    cum_sell = np.cumsum(np.concatenate(((carry[1],), sell * closes)))[1:]
    net = ((shares * closes - cum_buy) + cum_sell) + float(initial_amount)
    return buy, sell, shares, net, cum_buy, cum_sell


# ---------------------------------------------------------------------------
# the metrics aggregates of one group, with Spark's arithmetic
# ---------------------------------------------------------------------------

def _opt(x):
    """A float, or None where NaN stands for null (the bars contract
    and ``benchmark_series`` keep real NaN out of every input)."""
    return None if x != x else float(x)


def _seq_sum(values) -> float:
    """Spark's Sum and Average: start at 0.0 and add the non-null
    values left to right (np.cumsum is sequential, never pairwise)."""
    return float(np.cumsum(np.concatenate(([0.0], np.asarray(values, dtype=float))))[-1])


def _sum(values):
    return _seq_sum(values) if len(values) else None


def _avg(values):
    """avg: the sequential sum ÷ count; null over no values."""
    return _seq_sum(values) / len(values) if len(values) else None


def _var_std(values) -> tuple:
    """(var_samp, stddev_samp) by Spark's CentralMomentAgg: one Welford
    update per value, in order; null below two values (Spark 4's
    default, not NaN)."""
    n = avg = m2 = 0.0
    for x in values.tolist():
        n += 1.0
        delta = x - avg
        delta_n = delta / n
        avg += delta_n
        m2 += delta * (delta - delta_n)
    if n < 2.0:
        return None, None
    var = m2 / (n - 1.0)
    return var, math.sqrt(var)


def _ffill(x: np.ndarray) -> np.ndarray:
    """``last(x, true) OVER (ROWS UNBOUNDED PRECEDING)``: each null
    (NaN) replaced by the last value before it, null while none."""
    at = np.where(np.isnan(x), -1, np.arange(len(x)))
    np.maximum.accumulate(at, out=at)
    return np.append(x, np.nan)[at]  # index -1 reads the trailing NaN


def _ratio_less_one(num: np.ndarray, den: np.ndarray) -> np.ndarray:
    """``try_divide(num, den) - 1``: null where either side is null or
    ``den`` is zero."""
    out = np.full(len(num), np.nan)
    ok = ~np.isnan(num) & ~np.isnan(den) & (den != 0)
    out[ok] = num[ok] / den[ok] - 1.0
    return out


def _returns(x: np.ndarray) -> np.ndarray:
    """Per-row return of the forward-filled series (pandas
    ``pct_change(fill_method='pad')``), null on the first row."""
    ff = _ffill(x)
    out = np.full(len(x), np.nan)
    out[1:] = _ratio_less_one(ff[1:], ff[:-1])
    return out


def _group_stats(dates, days, net: np.ndarray, sp500: np.ndarray, orders) -> tuple:
    """One group's ``metrics.metric_aggregates`` row (STATS_COLUMNS
    order) from its attached curve — ``dates``/``days`` ascending,
    ``net`` and ``sp500`` with NaN for null — and its order rows, in the
    kernel's emission order (the order Spark's aggregates see them).
    Every value is the double Spark computes: the windows as the
    vectorized forms above, and each aggregate added in row order as
    ``_seq_sum``/``_avg``/``_var_std`` do."""
    r_s, r_m = _returns(net), _returns(sp500)
    drawdown = _ratio_less_one(net, np.fmax.accumulate(net))
    rs, rm, dd = (x[~np.isnan(x)] for x in (r_s, r_m, drawdown))
    mean_r_s, mean_r_m = _avg(rs), _avg(rm)
    var_r_s, std_r_s = _var_std(rs)
    cov = np.full(len(net), np.nan)
    if mean_r_s is not None and mean_r_m is not None:
        # Q11: sum over rows where both returns exist, ÷ n_rows later
        cov = (r_s - mean_r_s) * (r_m - mean_r_m)
    cov = cov[~np.isnan(cov)]
    max_dd = float(dd.min()) * 100.0 if len(dd) else None
    avg_dd = _avg(dd) * 100.0 if len(dd) else None
    return (
        dates[0], dates[-1], _opt(net[-1]), _opt(net[0]), max_dd, avg_dd,
        mean_r_s, std_r_s, var_r_s, mean_r_m, _var_std(rm)[1], _sum(cov),
        len(net), _opt(sp500[-1]), _opt(sp500[0]),
        # Q10: integer years
        math.floor(int((days[-1] - days[0]).astype(np.int64)) / 365),
        *_order_stats(orders),
    )


def _order_stats(orders) -> tuple:
    """The order-side aggregates of one group (the orders ⟕ join of
    ``metric_aggregates``: all null without orders)."""
    if not orders:
        return (None,) * 10
    profits = [o.profit for o in orders if o.profit is not None]
    losses = [p for p in profits if p < 0]
    gains = [p for p in profits if p > 0]
    return (
        _avg([(o.end_time - o.start_time).days for o in orders if o.end_time is not None]),
        _avg(losses), _avg(gains),
        min(losses, default=None), max(profits, default=None),
        _sum(losses), _sum(gains),
        _sum([o.profit for o in orders if o.filled and o.profit is not None]),
        _sum([o.start_amount * o.num_shares for o in orders]),
        len(orders),
    )


def _sma_table(closes: np.ndarray, lengths) -> dict[int, np.ndarray]:
    """Rolling means of ``closes`` for every length in ``lengths``,
    bit-identical to ``functions.windows.rolling_mean_sql`` — NaN where it
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


def run_kernel(
    bars: DataFrame,
    initial_amount: float,
    *,
    runs: list,
    parity: bool = True,
    curve: bool = False,
    benchmark: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """Simulate every run spec of ``runs`` over every ticker's bars.

    ``bars``: the plain bar series; the kernel reads only ``ticker``,
    ``date`` and ``close`` (Catalyst prunes any other column from the
    scan). Every ticker must have strictly increasing dates and finite
    closes; a ticker that breaks this bars contract fails the job with
    a ``ValueError`` naming it and the first offending date
    (``_check_bars``).

    ``runs``: the run specs — ``MACrossRun`` and ``BandRun`` in any mix,
    a ``Backtest``'s one run or a sweep's grid, each with its own
    ``run_id`` (``_check_runs``). Every run is simulated
    over every ticker, and its output rows carry its ``run_id``. The
    kernel computes the MA-cross signals itself: each distinct
    moving-average length is computed once per ticker and shared by
    every run that reads it (``_sma_table``; bit-identical to the Spark
    window ``MACrossStrategy.signal_feed`` uses), so each bar crosses
    into Python once however many runs read it, and no window
    re-aggregates its frame for every row.

    ``curve``: also emit, per (ticker, run), one ``row_type='bar'`` row
    per curve row and one ``row_type='stats'`` row. The bar rows are the
    daily net-worth curve ``portfolio.build_portfolio`` would build from
    the bars and the trade events, bit for bit, with the run's per-bar
    ``action`` (the MA-cross edges or the band's moves, null elsewhere)
    and ``benchmark`` attached as ``attach_benchmark`` would (Q6
    positional when ``parity``, by date otherwise; read them with
    :func:`portfolio_curve`). The stats row holds the per-run
    aggregates ``metrics.metric_aggregates`` computes from that curve
    and the run's orders, as the same doubles (``_group_stats``; read
    it with :func:`kernel_stats`). ``Backtest.run`` needs both; the
    sweep and ``final_net_worth`` only need the events, and skip the
    |bars| × |runs| rows.

    ``benchmark``: ``benchmark_series``' (days, sp500) arrays, or None.

    Plan shape: repartition on ticker + sortWithinPartitions +
    ``mapInPandas`` with a batch-spanning ticker walker — NOT
    ``groupBy().applyInPandas``. Both shuffle once; the difference is
    Python-side: mapInPandas lets one Python call process every ticker
    in an Arrow batch (see ``_KernelOutAcc``), where applyInPandas pays
    per-group pandas frame construction. The walker splits partitions
    on ticker changes, so tickers sharing a partition cost nothing.

    Returns the tagged kernel output — KERNEL_OUT_SCHEMA with the
    curve, KERNEL_LEDGER_SCHEMA without; split with
    :func:`split_kernel_output`, :func:`portfolio_curve` and
    :func:`kernel_stats`.
    """
    _check_runs(runs)
    sim = _Sim(float(initial_amount), parity, benchmark)

    srt = (
        bars.select("ticker", "date", "close")
        .repartition("ticker")
        .sortWithinPartitions("ticker", "date")
    )

    schema = KERNEL_OUT_SCHEMA if curve else KERNEL_LEDGER_SCHEMA

    def walk(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        acc = _KernelOutAcc(schema)
        # open ticker's segments as (dates, closes) array views
        carry: list[tuple[np.ndarray, np.ndarray]] = []
        carry_key = None

        def run(ticker, segs):
            if len(segs) == 1:
                d, c = segs[0]
            else:
                d = np.concatenate([x[0] for x in segs])
                c = np.concatenate([x[1] for x in segs])
            days = _check_bars(ticker, d, c)
            _run_ticker(acc, sim, ticker, d, days, c, runs, curve)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            t = pdf["ticker"].to_numpy()
            dates = pdf["date"].to_numpy()
            closes = pdf["close"].to_numpy()
            change = np.flatnonzero(t[1:] != t[:-1]) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(pdf)]))
            for s, e in zip(starts, ends):
                key = t[s]
                seg = (dates[s:e], closes[s:e])
                if carry_key is not None and carry_key != key:
                    run(carry_key, carry)
                    carry, carry_key = [], None
                if e < len(pdf):  # complete ticker inside this batch
                    carry.append(seg)
                    run(key, carry)
                    carry, carry_key = [], None
                else:  # batch-final segment: may continue in next batch
                    carry.append(seg)
                    carry_key = key
            if acc.n >= 20_000:
                yield from acc.flush()
        if carry_key is not None:
            run(carry_key, carry)
        yield from acc.flush()

    return srt.mapInPandas(walk, schema)


def benchmark_series(benchmark: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """A (date, sp500) benchmark as ``run_kernel``'s ``benchmark``: its
    days (datetime64[D], ascending) and sp500 values (NaN for null),
    with one plain ``collect()`` — a benchmark is one row per trading
    day, and sorting it here is cheaper than a Spark sort. Rows with a
    null date are dropped (no attach can match them). Raises
    ``ValueError`` naming the first duplicate date, since neither
    alignment is defined for one, or the first NaN or infinite value,
    which the kernel could not tell from null."""
    rows = benchmark.selectExpr(
        "CAST(date AS DATE) AS date", "CAST(sp500 AS DOUBLE) AS sp500"
    ).collect()
    rows = sorted((r for r in rows if r[0] is not None), key=lambda r: r[0])
    days = np.array([r[0] for r in rows], dtype="datetime64[D]")
    vals = np.array([np.nan if r[1] is None else r[1] for r in rows], dtype=float)
    dup = np.flatnonzero(days[1:] == days[:-1])
    if dup.size:
        raise ValueError(f"benchmark: duplicate date {days[dup[0]]}")
    bad = next((d for d, v in rows if v is not None and not math.isfinite(v)), None)
    if bad is not None:
        raise ValueError(f"benchmark: non-finite sp500 on {bad}")
    return days, vals


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


def portfolio_curve(kernel_out: DataFrame, sp500: bool = False) -> DataFrame:
    """The daily net-worth curve of a ``run_kernel(..., curve=True)``
    output, with ``portfolio.build_portfolio``'s columns in its order
    and, with ``sp500``, ``attach_benchmark``'s trailing benchmark column."""
    return kernel_out.filter(F.col("row_type") == "bar").selectExpr(
        "ticker", "run_id", "date", "event_close AS close", "action",
        "buy_shares AS buy", "sell_shares AS sell", "shares_owned", "net_worth",
        *(["sp500"] if sp500 else []),
    )


def kernel_stats(kernel_out: DataFrame) -> DataFrame:
    """The stats rows of a ``run_kernel(..., curve=True)`` output: the
    ``metrics.metric_aggregates`` columns, one row per (ticker, run_id),
    ready for ``metrics.finish_metrics``."""
    return kernel_out.filter(F.col("row_type") == "stats").select(
        "ticker", "run_id", *STATS_COLUMNS
    )

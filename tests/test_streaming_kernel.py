"""Streaming order kernel vs batch kernel: the stateful
applyInPandasWithState walk (streaming/backtest_stream.py) must equal
the batch mapInPandas walk (operators/kernel.py) when the same bars
are replayed as MULTIPLE micro-batches — state carries the book, the
walk's carry and the retained bars across batch boundaries, so the
curves match bit-exactly (with stop-loss, the finals).
"""

import os
import time
import uuid

import pytest

from conftest import SF_SMALL


def _split_bars_to_files(spark, bars, tmpdir: str, n_chunks: int) -> str:
    """Write bars as n_chunks parquet files split by date range, with
    increasing mtimes so the file-stream replays them oldest-first —
    every ticker's series straddles every chunk boundary."""
    import pandas as pd

    pdf = bars.toPandas().sort_values(["date", "ticker"]).reset_index(drop=True)
    dates = sorted(pdf["date"].unique())
    chunk = max(1, len(dates) // n_chunks)
    out_dir = os.path.join(tmpdir, f"bars_{uuid.uuid4().hex[:8]}")
    os.makedirs(out_dir, exist_ok=True)
    base = time.time()
    for i in range(n_chunks):
        lo = i * chunk
        hi = None if i == n_chunks - 1 else (i + 1) * chunk
        sel = pdf[pdf["date"].isin(dates[lo:hi])]
        path = os.path.join(out_dir, f"{i:03d}.parquet")
        sel.to_parquet(path, index=False)
        # explicit increasing mtimes -> deterministic oldest-first
        # replay even on coarse-mtime filesystems
        os.utime(path, (base + i, base + i))
    return out_dir


def _drain_stream(spark, curve) -> "DataFrame":
    name = f"bt_stream_{uuid.uuid4().hex[:8]}"
    q = (
        curve.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", f"/tmp/ckpt_{name}")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def test_streaming_kernel_matches_batch_curve(spark, tmp_path):
    """Multi-ticker, 4 micro-batches: full per-bar net-worth curve and
    shares_owned match the batch build_portfolio output exactly."""
    from strat_backtest_spark.sources.bars import bars_from_events, load_testdata
    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.streaming.backtest_stream import streaming_backtest_curve

    ev = _t(spark, SF_SMALL, "events")
    bars = bars_from_events(ev)
    fast, lagging, init = 3, 8, 10_000.0

    # batch truth
    bt = Backtest(bars, init, MACrossStrategy(fast, lagging))
    batch = {
        (r["ticker"], str(r["date"])): (r["shares_owned"], r["net_worth"])
        for r in bt.run().collect()
    }
    bt.release()

    # streaming replay in 4 chunks
    src = _split_bars_to_files(spark, bars, str(tmp_path), 4)
    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    curve = streaming_backtest_curve(stream, fast, lagging, init)
    got = _drain_stream(spark, curve).collect()

    assert len(got) == len(batch), f"row count {len(got)} != {len(batch)}"
    for r in got:
        want = batch[(r["ticker"], str(r["date"]))]
        assert r["shares_owned"] == want[0], (r["ticker"], r["date"])
        assert r["net_worth"] == want[1], (r["ticker"], r["date"])


def test_streaming_kernel_golden_aapl(spark, tmp_path):
    """AAPL last-10Y, MA-cross (36,40), init 5000 — the reference's
    golden final net worth 1,283,666.449897766 (tests/test_strat.py:13)
    reproduced through a 3-batch incremental stream."""
    from strat_backtest_spark.sources.bars import load_bars_csv
    from strat_backtest_spark.streaming.backtest_stream import streaming_backtest_curve

    bars = load_bars_csv(
        spark, "/root/reference/strat_backtest/data/aapl.csv"
    ).filter("date > '2012-12-31'")
    src = _split_bars_to_files(spark, bars, str(tmp_path), 3)
    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    curve = streaming_backtest_curve(stream, 36, 40, 5000.0)
    rows = _drain_stream(spark, curve).orderBy("date").collect()
    assert rows[-1]["net_worth"] == pytest.approx(1283666.449897766, rel=1e-9)


def test_streaming_kernel_edge_series(spark, tmp_path):
    """Constructed corner cases, 3 micro-batches vs batch: a
    single-bar ticker (no second bar to sell on), a constant series
    (no MA cross after warm-up edge), a monotone-down series
    (sell-signal-only), and a sawtooth that trades repeatedly."""
    import datetime
    import pandas as pd

    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
    from strat_backtest_spark.streaming.backtest_stream import streaming_backtest_curve

    base = datetime.date(2020, 1, 1)
    rows = []
    rows.append(("one", base, 10.0))
    for i in range(12):
        rows.append(("flat", base + datetime.timedelta(days=i), 5.0))
        rows.append(("down", base + datetime.timedelta(days=i), 100.0 - i))
        rows.append(
            ("saw", base + datetime.timedelta(days=i), 10.0 + (i % 4))
        )
    pdf = pd.DataFrame(rows, columns=["ticker", "date", "close"])
    bars = spark.createDataFrame(pdf)
    init = 1_000.0

    bt = Backtest(bars, init, MACrossStrategy(2, 4))
    batch = {
        (r["ticker"], str(r["date"])): (r["shares_owned"], r["net_worth"])
        for r in bt.run().collect()
    }
    bt.release()

    src = _split_bars_to_files(spark, bars, str(tmp_path), 3)
    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    got = _drain_stream(spark, streaming_backtest_curve(stream, 2, 4, init)).collect()
    assert len(got) == len(batch)
    for r in got:
        want = batch[(r["ticker"], str(r["date"]))]
        assert r["shares_owned"] == want[0], (r["ticker"], r["date"])
        assert r["net_worth"] == want[1], (r["ticker"], r["date"])


def test_streaming_kernel_random_series_fuzz(spark, tmp_path):
    """Randomized differential: three seeded random-walk universes
    (tickers x ~40 bars, both strategies' parameter ranges) through a
    3-batch replay must match the batch kernel everywhere — a cheap
    property sweep beyond the hand-picked edge cases."""
    import datetime
    import numpy as np
    import pandas as pd

    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
    from strat_backtest_spark.streaming.backtest_stream import streaming_backtest_curve

    base = datetime.date(2021, 3, 1)
    for seed in (0, 1, 2):
        rng = np.random.default_rng(seed)
        rows = []
        for t in range(5):
            n = int(rng.integers(3, 40))
            closes = np.abs(rng.normal(0, 1, n)).cumsum() + 1.0
            for i in range(n):
                rows.append(
                    (f"t{t}", base + datetime.timedelta(days=i), float(closes[i]))
                )
        bars = spark.createDataFrame(
            pd.DataFrame(rows, columns=["ticker", "date", "close"])
        )
        fast, lagging = int(rng.integers(2, 5)), int(rng.integers(6, 12))
        bt = Backtest(bars, 2_000.0, MACrossStrategy(fast, lagging))
        batch = {
            (r["ticker"], str(r["date"])): r["net_worth"]
            for r in bt.run().collect()
        }
        bt.release()

        src = _split_bars_to_files(spark, bars, str(tmp_path / f"s{seed}"), 3)
        stream = (
            spark.readStream.schema(bars.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        got = _drain_stream(
            spark, streaming_backtest_curve(stream, fast, lagging, 2_000.0)
        ).collect()
        assert len(got) == len(batch), f"seed {seed}"
        for r in got:
            assert r["net_worth"] == batch[(r["ticker"], str(r["date"]))], (
                seed, r["ticker"], r["date"])


def test_streaming_band_strategy_matches_batch(spark, tmp_path):
    """The path-dependent band strategy (anchor re-pins to each
    transaction bar) through 4 micro-batches equals the batch kernel's
    curve — the anchor/book state survives batch boundaries."""
    from strat_backtest_spark.sources.bars import bars_from_events
    from strat_backtest_spark.plans.backtest import Backtest, BandStrategy
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.streaming.backtest_stream import streaming_backtest_curve

    ev = _t(spark, SF_SMALL, "events")
    bars = bars_from_events(ev)
    init = 10_000.0

    bt = Backtest(bars, init, BandStrategy())
    batch = {
        (r["ticker"], str(r["date"])): (r["shares_owned"], r["net_worth"])
        for r in bt.run().collect()
    }
    bt.release()

    src = _split_bars_to_files(spark, bars, str(tmp_path), 4)
    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    curve = streaming_backtest_curve(stream, initial_amount=init, strategy="band")
    got = _drain_stream(spark, curve).collect()

    assert len(got) == len(batch)
    for r in got:
        want = batch[(r["ticker"], str(r["date"]))]
        assert r["shares_owned"] == want[0], (r["ticker"], r["date"])
        assert r["net_worth"] == want[1], (r["ticker"], r["date"])


def test_streaming_stop_loss_matches_batch_finals(spark, tmp_path):
    """MA-cross WITH stop-loss through 4 micro-batches: the stop heap,
    its look-back close window, and retroactive sell bookings all
    survive batch boundaries — final net worth and shares per ticker
    equal the batch kernel's (intermediate rows are as-of processing
    time by design, so only finals are pinned)."""
    from strat_backtest_spark.sources.bars import bars_from_events
    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.streaming.backtest_stream import streaming_backtest_curve

    ev = _t(spark, SF_SMALL, "events")
    bars = bars_from_events(ev)
    init, slp = 10_000.0, 0.97

    bt = Backtest(bars, init, MACrossStrategy(3, 8, stop_loss_pct=slp))
    batch = {
        r["ticker"]: r["net_worth"] for r in bt.final_net_worth().collect()
    }

    src = _split_bars_to_files(spark, bars, str(tmp_path), 4)
    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    curve = streaming_backtest_curve(stream, 3, 8, init, stop_loss_pct=slp)
    rows = _drain_stream(spark, curve).orderBy("date").collect()
    finals = {}
    for r in rows:
        finals[r["ticker"]] = r["net_worth"]
    assert set(finals) == set(batch)
    for t, nw in finals.items():
        assert nw == batch[t], t


def test_streaming_grid_matches_batch_evaluate_params(spark, tmp_path):
    """A 4-point grid on a 3-batch stream: every (ticker, run) keeps
    its own kernel state; finals equal the batch optimizer objective
    (operators/optimize.evaluate_params)."""
    from strat_backtest_spark.operators.optimize import evaluate_params, expand_grid
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.sources.bars import bars_from_events
    from strat_backtest_spark.streaming.backtest_stream import streaming_grid_curve

    ev = _t(spark, SF_SMALL, "events")
    bars = bars_from_events(ev)
    init = 10_000.0
    params = expand_grid(spark, (3, 7, 2), (8, 14, 5))
    want = {
        (r["ticker"], r["run_id"]): r["net_worth"]
        for r in evaluate_params(bars, params, init).collect()
    }

    rows = [(r["run_id"], r["fast"], r["lagging"]) for r in params.collect()]
    src = _split_bars_to_files(spark, bars, str(tmp_path), 3)
    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    curve = streaming_grid_curve(stream, rows, init)
    got = {}
    for r in _drain_stream(spark, curve).orderBy("date").collect():
        got[(r["ticker"], r["run_id"])] = r["net_worth"]
    assert set(got) == set(want)
    for k, nw in got.items():
        assert nw == want[k], k


def test_streaming_signal_edges_stateful_matches_batch(spark, tmp_path):
    """Edge stream across 3 micro-batches equals the batch
    ma_cross_signals edges — the MA tail in state supplies the history
    an incremental batch lacks."""
    from strat_backtest_spark.sources.bars import bars_from_events
    from strat_backtest_spark.operators.signals import ma_cross_signals
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.streaming.backtest_stream import (
        streaming_signal_edges_stateful,
    )

    ev = _t(spark, SF_SMALL, "events")
    bars = bars_from_events(ev)
    want = {
        (r["ticker"], str(r["date"]), r["action"])
        for r in ma_cross_signals(bars, 3, 8).collect()
    }

    src = _split_bars_to_files(spark, bars, str(tmp_path), 3)
    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    edges = streaming_signal_edges_stateful(stream, 3, 8)
    got = {
        (r["ticker"], str(r["date"]), r["action"])
        for r in _drain_stream(spark, edges).collect()
    }
    assert got == want


def test_streaming_kernel_out_of_order_arrival(spark, tmp_path):
    """Late bars within the lateness bound re-enter in date order: the
    last two days of chunk 1 are delayed into chunk 2, a final
    punctuation file (null close, far-future date) flushes the reorder
    buffer — the drained curve equals the batch kernel exactly."""
    import datetime
    import pandas as pd

    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.sources.bars import bars_from_events
    from strat_backtest_spark.streaming.backtest_stream import streaming_backtest_curve

    ev = _t(spark, SF_SMALL, "events")
    bars = bars_from_events(ev)
    init = 10_000.0

    bt = Backtest(bars, init, MACrossStrategy(3, 8))
    batch = {
        (r["ticker"], str(r["date"])): r["net_worth"] for r in bt.run().collect()
    }
    bt.release()

    pdf = bars.toPandas().sort_values(["date", "ticker"]).reset_index(drop=True)
    dates = sorted(pdf["date"].unique())
    third = len(dates) // 3
    c1_dates, c2_dates, c3_dates = dates[:third], dates[third:2 * third], dates[2 * third:]
    late_dates = c1_dates[-2:]  # delayed into chunk 2
    src = str(tmp_path / "ooo")
    os.makedirs(src)
    chunks = [
        pdf[pdf["date"].isin([d for d in c1_dates if d not in late_dates])],
        pd.concat([pdf[pdf["date"].isin(c2_dates)], pdf[pdf["date"].isin(late_dates)]]),
        pdf[pdf["date"].isin(c3_dates)],
        pd.DataFrame(
            {
                "ticker": pdf["ticker"].unique(),
                "date": max(dates) + datetime.timedelta(days=60),
                "open": None, "high": None, "low": None,
                "close": None, "volume": None,
            }
        ).astype({"close": "float64"}),
    ]
    base = time.time()
    for i, c in enumerate(chunks):
        p = os.path.join(src, f"{i:03d}.parquet")
        c.to_parquet(p, index=False)
        os.utime(p, (base + i, base + i))

    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    curve = streaming_backtest_curve(stream, 3, 8, init, allowed_lateness_days=30)
    got = _drain_stream(spark, curve).collect()
    assert len(got) == len(batch)
    for r in got:
        assert r["net_worth"] == batch[(r["ticker"], str(r["date"]))], (
            r["ticker"], r["date"])


def test_streaming_kernel_drops_beyond_bound_late_bar(spark, tmp_path):
    """A bar arriving LATER than allowed_lateness_days must be dropped
    on the floor, not appended after already-simulated newer bars: a
    poison re-delivery of an early date (wrong close) lands in the
    final chunk after the frontier has moved far past it — the drained
    curve must still equal the batch kernel on the clean bars."""
    import datetime
    import pandas as pd

    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.sources.bars import bars_from_events
    from strat_backtest_spark.streaming.backtest_stream import streaming_backtest_curve

    ev = _t(spark, SF_SMALL, "events")
    bars = bars_from_events(ev)
    init = 10_000.0

    bt = Backtest(bars, init, MACrossStrategy(3, 8))
    batch = {
        (r["ticker"], str(r["date"])): r["net_worth"] for r in bt.run().collect()
    }
    bt.release()

    pdf = bars.toPandas().sort_values(["date", "ticker"]).reset_index(drop=True)
    dates = sorted(pdf["date"].unique())
    half = len(dates) // 2
    poison = pdf[pdf["date"] == dates[2]].copy()
    poison["close"] = poison["close"] * 10 + 999.0  # must never be simulated
    punct = pd.DataFrame(
        {
            "ticker": pdf["ticker"].unique(),
            "date": max(dates) + datetime.timedelta(days=60),
            "open": None, "high": None, "low": None,
            "close": None, "volume": None,
        }
    ).astype({"close": "float64"})
    src = str(tmp_path / "late_drop")
    os.makedirs(src)
    chunks = [
        pdf[pdf["date"].isin(dates[:half])],
        pdf[pdf["date"].isin(dates[half:])],
        poison,  # dates[2] again, long past the 2-day bound
        punct,   # flushes the reorder buffer
    ]
    base = time.time()
    for i, c in enumerate(chunks):
        p = os.path.join(src, f"{i:03d}.parquet")
        c.to_parquet(p, index=False)
        os.utime(p, (base + i, base + i))

    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    curve = streaming_backtest_curve(stream, 3, 8, init, allowed_lateness_days=2)
    got = _drain_stream(spark, curve).collect()
    assert len(got) == len(batch)  # no extra row for the poison bar
    for r in got:
        assert r["net_worth"] == batch[(r["ticker"], str(r["date"]))], (
            r["ticker"], r["date"])


def test_streaming_partial_close_update_mode(spark, tmp_path):
    """Fixed-size sells route through the engine's partial-fill path:
    Q4 overwrites an already-emitted buy bar's shares, so the stream
    re-emits corrected history (update mode, emit_seq-resolved). The
    resolved curve must equal the batch kernel's post-run curve
    bit-exactly, across 3 micro-batches."""
    from pyspark.sql import functions as F

    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.sources.bars import bars_from_events
    from strat_backtest_spark.streaming.backtest_stream import (
        streaming_backtest_curve_update,
    )

    ev = _t(spark, SF_SMALL, "events")
    bars = bars_from_events(ev)
    init = 10_000.0

    bt = Backtest(bars, init, MACrossStrategy(3, 8, sell_shares=2.0))
    batch = {
        (r["ticker"], str(r["date"])): (r["net_worth"], r["shares_owned"])
        for r in bt.run().collect()
    }
    bt.release()

    src = _split_bars_to_files(spark, bars, str(tmp_path), 3)
    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    curve = streaming_backtest_curve_update(
        stream, 3, 8, init, sell_shares=2.0
    )
    # drain with a KNOWN query name so the raw (pre-dedup) emission
    # table can be asserted on without guessing among uuid names
    name = f"pc_test_{uuid.uuid4().hex[:8]}"
    q = (
        curve.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    raw = spark.table(name)
    # re-emissions must actually have happened (the partial path fires)
    assert raw.count() > len(batch)
    from pyspark.sql import Window as W

    w = W.partitionBy("ticker", "run_id", "date").orderBy(F.col("emit_seq").desc())
    rows = (
        raw.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn", "emit_seq")
        .collect()
    )
    assert len(rows) == len(batch)
    for r in rows:
        want_net, want_shares = batch[(r["ticker"], str(r["date"]))]
        assert r["net_worth"] == want_net, (r["ticker"], r["date"])
        assert r["shares_owned"] == want_shares, (r["ticker"], r["date"])


def test_partial_close_refill_across_boundary_state_parity():
    """A Q1 double-queued remainder whose two fills land in DIFFERENT
    micro-batches: the batch engine's order_worth (Q2) re-values the
    pre-boundary completed entry at the re-fill's prices on every
    later call, so the saved engine must keep that entry unsettled
    until the remainder leaves the queue — folding it into profit_base
    at the boundary drifts buying power by about 18 on this series.
    Pure engine-level harness of the save/restore helpers the stateful
    fn uses, at seven split points; no Spark session needed."""
    import numpy as np

    from strat_backtest_spark.operators.kernel import (
        TradingEngine,
        _cross_edges,
        _ma_cross_walk,
        _sma_table,
    )
    from strat_backtest_spark.streaming.backtest_stream import (
        _restore_engine,
        _save_engine,
    )

    closes = []
    v = 10.0
    for _ in range(10):
        for _ in range(3):
            v *= 1.06
            closes.append(v)
        for _ in range(3):
            v *= 0.93
            closes.append(v)
    closes = np.array(closes)
    days = np.arange(len(closes), dtype=np.int64)
    smas = _sma_table(closes, {2, 4})
    idxs, buys = _cross_edges(smas[2] > smas[4])
    init = 100.0  # ~10-share buys, so sell_shares=3 exhausts remainders

    def drive(eng, lo, hi, first_buy):
        at = (idxs >= lo) & (idxs < hi)
        return _ma_cross_walk(
            eng, days, closes, idxs[at], buys[at], sell_shares=3.0, first_buy=first_buy
        )

    truth = TradingEngine(days, closes, init)
    drive(truth, 0, len(closes), None)

    for split in (9, 12, 15, 18, 21, 24, 27):
        e1 = TradingEngine(days, closes, init)
        first_buy = drive(e1, 0, split, None)
        e2 = _restore_engine(_save_engine(e1), init)
        e2.dates, e2.closes = days, closes
        drive(e2, split, len(closes), first_buy)
        assert e2.book.total_shares == truth.book.total_shares, split
        assert e2.current_amount == truth.current_amount, split
        assert e2.book.order_worth() == truth.book.order_worth(), split


def test_streaming_partial_close_refill_e2e(spark, tmp_path):
    """End-to-end partial-close stream on a series engineered so
    remainders EXHAUST and re-fill across micro-batch boundaries
    (10-share buys, 3-share sells over a zigzag): the resolved
    update-mode curve must still equal the batch kernel bit-exactly.
    Complements the engine-level split harness with full-pipeline
    coverage of the re-fill correction."""
    import datetime
    import pandas as pd

    from pyspark.sql import Window as W, functions as F

    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
    from strat_backtest_spark.streaming.backtest_stream import (
        drain_stream_update,
        streaming_backtest_curve_update,
    )

    base = datetime.date(2022, 1, 1)
    rows = []
    v = 10.0
    for cyc in range(10):
        for _ in range(3):
            v *= 1.06
            rows.append(v)
        for _ in range(3):
            v *= 0.93
            rows.append(v)
    pdf = pd.DataFrame(
        {
            "ticker": "z",
            "date": [base + datetime.timedelta(days=i) for i in range(len(rows))],
            "close": rows,
        }
    )
    bars = spark.createDataFrame(pdf)
    init = 100.0

    bt = Backtest(bars, init, MACrossStrategy(2, 4, sell_shares=3.0))
    batch = {
        str(r["date"]): (r["net_worth"], r["shares_owned"])
        for r in bt.run().collect()
    }
    bt.release()

    for n_chunks in (5, 9):
        src = _split_bars_to_files(spark, bars, str(tmp_path), n_chunks)
        stream = (
            spark.readStream.schema(bars.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        got = drain_stream_update(
            spark,
            streaming_backtest_curve_update(stream, 2, 4, init, sell_shares=3.0),
        ).collect()
        assert len(got) == len(batch), n_chunks
        for r in got:
            want_net, want_shares = batch[str(r["date"])]
            assert r["shares_owned"] == want_shares, (n_chunks, r["date"])
            assert r["net_worth"] == want_net, (n_chunks, r["date"])


@pytest.mark.slow
def test_streaming_partial_close_fuzz(spark, tmp_path):
    """Seeded random-walk differential for the partial-close stream:
    small initial capital forces remainder exhaustion and re-fills at
    data-dependent points; every (seed, chunking) must match the batch
    kernel exactly."""
    import datetime
    import numpy as np
    import pandas as pd

    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
    from strat_backtest_spark.streaming.backtest_stream import (
        drain_stream_update,
        streaming_backtest_curve_update,
    )

    base = datetime.date(2023, 6, 1)
    for seed, n_chunks in ((11, 4), (12, 7)):
        rng = np.random.default_rng(seed)
        rows = []
        for t in range(3):
            n = int(rng.integers(25, 45))
            closes = np.abs(rng.normal(0, 0.6, n)).cumsum() + 8.0
            for i in range(n):
                rows.append(
                    (f"t{t}", base + datetime.timedelta(days=i), float(closes[i]))
                )
        bars = spark.createDataFrame(
            pd.DataFrame(rows, columns=["ticker", "date", "close"])
        )
        init, shares = 120.0, float(rng.integers(2, 5))
        bt = Backtest(bars, init, MACrossStrategy(2, 4, sell_shares=shares))
        batch = {
            (r["ticker"], str(r["date"])): (r["net_worth"], r["shares_owned"])
            for r in bt.run().collect()
        }
        bt.release()

        src = _split_bars_to_files(spark, bars, str(tmp_path), n_chunks)
        stream = (
            spark.readStream.schema(bars.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        got = drain_stream_update(
            spark,
            streaming_backtest_curve_update(stream, 2, 4, init, sell_shares=shares),
        ).collect()
        assert len(got) == len(batch), (seed, n_chunks)
        for r in got:
            want_net, want_shares = batch[(r["ticker"], str(r["date"]))]
            assert r["shares_owned"] == want_shares, (seed, r["ticker"], r["date"])
            assert r["net_worth"] == want_net, (seed, r["ticker"], r["date"])


@pytest.mark.parametrize("strategy", ["ma_cross", "band"])
def test_streaming_kernel_state_survives_query_restart(spark, tmp_path, strategy):
    """COLD restart, not just a micro-batch boundary: the first query
    incarnation consumes two chunks and STOPS; a brand-new query with
    the same checkpoint picks up the third chunk. The kernel's
    per-ticker GroupState (order book + MA tail + cums for ma_cross;
    anchor/last-move + book for band — both state schemas) must
    restore from the state store, the file source must not re-read
    consumed chunks, and the combined durable-sink output must equal
    the batch curve exactly — the recovery contract a production run
    relies on."""
    import pandas as pd

    from strat_backtest_spark.plans.backtest import (
        Backtest,
        BandStrategy,
        MACrossStrategy,
    )
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.sources.bars import bars_from_events
    from strat_backtest_spark.streaming.backtest_stream import streaming_backtest_curve

    ev = _t(spark, SF_SMALL, "events")
    bars = bars_from_events(ev)
    fast, lagging, init = 3, 8, 10_000.0
    strat = (
        MACrossStrategy(fast, lagging) if strategy == "ma_cross" else BandStrategy()
    )

    bt = Backtest(bars, init, strat)
    batch = {
        (r["ticker"], str(r["date"])): (r["shares_owned"], r["net_worth"])
        for r in bt.run().collect()
    }
    bt.release()

    pdf = bars.toPandas().sort_values(["date", "ticker"]).reset_index(drop=True)
    dates = sorted(pdf["date"].unique())
    third = max(1, len(dates) // 3)
    chunks = [
        pdf[pdf["date"].isin(dates[:third])],
        pdf[pdf["date"].isin(dates[third:2 * third])],
        pdf[pdf["date"].isin(dates[2 * third:])],
    ]
    src = str(tmp_path / "restart_src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    base = time.time()

    def write_chunk(i):
        p = os.path.join(src, f"{i:03d}.parquet")
        chunks[i].to_parquet(p, index=False)
        os.utime(p, (base + i, base + i))

    def run_incarnation():
        stream = (
            spark.readStream.schema(bars.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        curve = streaming_backtest_curve(
            stream, fast, lagging, init, strategy=strategy
        )
        q = (
            curve.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write_chunk(0)
    write_chunk(1)
    run_incarnation()  # consumes chunks 1-2, then the query DIES
    mid_rows = spark.read.parquet(sink).count()
    assert 0 < mid_rows < len(batch), "first incarnation must be partial"

    write_chunk(2)
    run_incarnation()  # fresh query object, same checkpoint: resume

    got = spark.read.parquet(sink).collect()
    assert len(got) == len(batch), f"row count {len(got)} != {len(batch)}"
    for r in got:
        shares, net = batch[(r["ticker"], str(r["date"]))]
        assert r["shares_owned"] == shares, (r["ticker"], r["date"])
        assert r["net_worth"] == net, (r["ticker"], r["date"])


def _stream_chunks(spark, src: str, chunks) -> "DataFrame":
    """A (ticker, date, close) file stream replaying ``chunks`` — lists
    of row tuples — one micro-batch each, in order. Closes are written
    as given: NaN stays NaN and None is null."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src)
    base = time.time()
    for i, rows in enumerate(chunks):
        tickers, dates, closes = zip(*rows)
        p = os.path.join(src, f"{i:03d}.parquet")
        pq.write_table(
            pa.table({
                "ticker": pa.array(tickers, pa.string()),
                "date": pa.array(dates, pa.date32()),
                "close": pa.array(closes, pa.float64()),
            }),
            p,
        )
        os.utime(p, (base + i, base + i))
    return (
        spark.readStream.schema("ticker string, date date, close double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


def _thirds(rows):
    """``rows`` split into three chunks by date range."""
    dates = sorted({r[1] for r in rows})
    cut = (dates[len(dates) // 3], dates[2 * len(dates) // 3])
    return [
        [r for r in rows if r[1] < cut[0]],
        [r for r in rows if cut[0] <= r[1] < cut[1]],
        [r for r in rows if r[1] >= cut[1]],
    ]


def _curve_reprs(rows, cols=("close", "action", "shares_owned", "net_worth")):
    return {(r["ticker"], str(r["date"])): repr(tuple(r[c] for c in cols)) for r in rows}


@pytest.mark.parametrize("fast, lagging", [(3, 8), (4, 7)])
def test_streaming_equals_batch_on_edge_shapes(spark, tmp_path, fast, lagging):
    """The ``flat`` and ``ramp`` series (with the seeded walks, a short
    series and a single bar) have SMAs that differ only in their last
    bits, so a stream decides its crosses as the batch kernel does only
    if it sums every frame the same way. Over a 3-chunk replay, compared
    by ``repr``: the append-mode curve with ``Backtest.run()``, the
    grid's finals with ``evaluate_params`` and the update-mode curve
    with partial sells with ``Backtest.run()``."""
    from test_optimize import _edge_shape_bars

    from strat_backtest_spark.operators.optimize import evaluate_params
    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
    from strat_backtest_spark.streaming.backtest_stream import (
        drain_stream,
        drain_stream_update,
        streaming_backtest_curve,
        streaming_backtest_curve_update,
        streaming_grid_curve,
    )

    bars = _edge_shape_bars(spark)
    chunks = _thirds([tuple(r) for r in bars.collect()])
    init = 10_000.0

    def stream(name):
        return _stream_chunks(spark, str(tmp_path / name), chunks)

    def batch_curve(strategy):
        bt = Backtest(bars, init, strategy)
        rows = bt.run().collect()
        bt.release()
        return _curve_reprs(rows)

    want = batch_curve(MACrossStrategy(fast, lagging))
    got = _curve_reprs(drain_stream(
        spark, streaming_backtest_curve(stream("append"), fast, lagging, init)
    ).collect())
    assert got == want

    runs = [(0, fast, lagging), (1, lagging, fast)]
    want = {
        (r["ticker"], r["run_id"]): repr(r["net_worth"])
        for r in evaluate_params(bars, runs, init).collect()
    }
    got = {}
    grid = drain_stream(spark, streaming_grid_curve(stream("grid"), runs, init))
    for r in grid.orderBy("date").collect():
        got[(r["ticker"], r["run_id"])] = repr(r["net_worth"])
    assert got == want

    want = batch_curve(MACrossStrategy(fast, lagging, sell_shares=2.0))
    got = _curve_reprs(drain_stream_update(
        spark, streaming_backtest_curve_update(
            stream("update"), fast, lagging, init, sell_shares=2.0
        ),
    ).collect())
    assert got == want


def _contract_curve(spark, path, stream):
    """The drained curve of one streaming path over ``stream``."""
    from strat_backtest_spark.streaming.backtest_stream import (
        drain_stream,
        drain_stream_update,
        streaming_backtest_curve,
        streaming_backtest_curve_update,
    )

    if path == "partial":
        return drain_stream_update(
            spark, streaming_backtest_curve_update(stream, 3, 8, 10_000.0, sell_shares=2.0)
        ).collect()
    if path == "band":
        curve = streaming_backtest_curve(stream, initial_amount=10_000.0, strategy="band")
    else:
        curve = streaming_backtest_curve(stream, 3, 8, 10_000.0)
    return drain_stream(spark, curve).collect()


@pytest.mark.parametrize("case", ["duplicate", "inf", "late", "nan"])
@pytest.mark.parametrize("path", ["ma_cross", "band", "partial"])
def test_streaming_bars_contract(spark, tmp_path, path, case):
    """The batch bars contract on every streaming path: a duplicate
    (ticker, date) among a micro-batch's bars and an infinite close are
    refused by name; a bar on or before the last consumed day is
    dropped as late; a null or NaN close is punctuation, not a bar. The
    late and punctuation replays must equal the batch curve of the
    clean bars."""
    import math
    from datetime import timedelta

    from strat_backtest_spark.plans.backtest import (
        Backtest,
        BandStrategy,
        MACrossStrategy,
    )

    from test_optimize import _edge_shape_bars

    # a trading walk cut to the 60 days of the flat series, so that
    # every series spans the three chunks
    rows = [
        tuple(r) for r in _edge_shape_bars(spark).collect()
        if r["ticker"] in ("walk1", "flat", "ramp")
    ]
    end = max(r[1] for r in rows if r[0] == "flat")
    rows = [r for r in rows if r[1] <= end]
    chunks = _thirds(rows)
    first = next(r for r in chunks[1] if r[0] == "ramp")
    if case == "duplicate":
        chunks[1].append(first)
    elif case == "inf":
        chunks[1][chunks[1].index(first)] = (*first[:2], math.inf)
    elif case == "late":
        # already consumed days again, with closes that must never count
        chunks.append([(t, d, c * 10 + 999.0) for t, d, c in chunks[0][2::7]])
    else:
        chunks[2] += [("flat", end + timedelta(days=30), math.nan),
                      ("ramp", end + timedelta(days=3), None)]
    stream = _stream_chunks(spark, str(tmp_path / "src"), chunks)

    if case in ("duplicate", "inf"):
        match = "duplicate or null date" if case == "duplicate" else "non-finite close"
        with pytest.raises(Exception, match=match):
            _contract_curve(spark, path, stream)
        return

    strategy = {
        "ma_cross": MACrossStrategy(3, 8),
        "band": BandStrategy(),
        "partial": MACrossStrategy(3, 8, sell_shares=2.0),
    }[path]
    bars = spark.createDataFrame(rows, "ticker string, date date, close double")
    bt = Backtest(bars, 10_000.0, strategy)
    want = _curve_reprs(bt.run().collect(), ("close", "shares_owned", "net_worth"))
    bt.release()
    got = _curve_reprs(
        _contract_curve(spark, path, stream), ("close", "shares_owned", "net_worth")
    )
    assert got == want

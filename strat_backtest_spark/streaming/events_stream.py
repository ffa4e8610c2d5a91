"""Structured Streaming surface (SURVEY.md §7.2 M9 — an extension
beyond the reference, which is batch-only).

Streams are the natural arrival mode for bars/events at production
scale; the batch operators compose onto ``readStream`` inputs. This
module holds the events-table entry points; the streaming ORDER
KERNEL (MA-cross/band/stop-loss/grid) lives in backtest_stream.py and
streaming document dedup in documents_stream.py. Entry points here,
in increasing order of streaming-native-ness:

- ``windowed_event_counts``: watermarked tumbling-window aggregation
  (the built-in stateful operator), drained synchronously from the
  parquet-backed stream — the smoke path the harness can run. The
  local drain uses a memory sink; the production sink is
  ``writeStream.format("parquet")`` + append mode with the same plan.
- ``streaming_signal_edges``: the MA-cross signal layer run through a
  ``foreachBatch`` micro-batch bridge — the recommended pattern for
  reusing batch operators verbatim. Window continuity across batches
  is the caveat (an MA needs ``lagging-1`` bars of history), so the
  bridge is exact only when each micro-batch carries a key's full
  history (backfill/replay); for true incremental arrival the stateful
  path below is the template to extend.
- ``sessionize_stream``: a CUSTOM stateful operator via
  ``applyInPandasWithState`` — per-user session tracking (30-min gap,
  same semantics as the batch q35) with explicit per-key state
  (last-event timestamp, session/event counters) that persists across
  micro-batches. This is the applyInPandasWithState pattern the
  windowed built-ins can't express: gap-based sessions whose length is
  data-dependent, maintained incrementally per key.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from strat_backtest_spark.sources.bars import normalize_events_ts

SESSION_GAP_MICROS = 30 * 60 * 1_000_000  # 30 min, as batch q35


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Runtime-set so a vanilla session (e.g. the driver harness) can
    # read a TIMESTAMP(NANOS) events drop; the stream takes the file's
    # landed schema and is normalized like the batch reader.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return normalize_events_ts(stream)


def _drain_to_parquet(
    streaming_df: DataFrame, spark: SparkSession, output_mode: str
) -> DataFrame:
    """Executor-side drain: every micro-batch WRITES its rows (a
    foreachBatch parquet sink) instead of collecting them into driver
    memory — the shape a production job uses for a durable sink, and
    the one that survives results larger than the driver heap.
    'complete' mode overwrites with the full aggregate state per
    batch (last write wins); 'update'/'append' append emissions."""
    import os
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="stream_drain_")
    mode = "overwrite" if output_mode == "complete" else "append"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode(mode).parquet(out_dir)

    q = (
        streaming_df.writeStream.outputMode(output_mode)
        .foreachBatch(process)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    if not any(f.endswith(".parquet") for f in os.listdir(out_dir)):
        return spark.createDataFrame([], streaming_df.schema)
    return spark.read.schema(streaming_df.schema).parquet(out_dir)


def windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-day tumbling window counts per event_type,
    processed to completion against the parquet-backed stream and
    returned as a static DataFrame."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))
    )
    out = _drain_to_parquet(agg, spark, "complete")
    return out.select(
        F.col("win.start").alias("window_start"), "event_type", "n", "total"
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: gap-based sessionization per user
# ---------------------------------------------------------------------------

_SESSION_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_sessions", LongType()),
        StructField("n_events", LongType()),
        StructField("avg_events_per_session", DoubleType()),
    ]
)
# state: last event ts (micros), sessions started, events seen
_SESSION_STATE = StructType(
    [
        StructField("last_ts", LongType()),
        StructField("n_sessions", LongType()),
        StructField("n_events", LongType()),
    ]
)


def _sessionize_group(
    key: Tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Incremental gap-sessionizer for one user.

    Arrow hands the group's micro-batch rows in chunks; the walk is
    vectorized (numpy diff on sorted event times) — per-key state is
    three longs regardless of history length, which is what lets this
    run forever on an unbounded stream.
    """
    if state.exists:
        last_ts, n_sessions, n_events = state.get
    else:
        last_ts, n_sessions, n_events = None, 0, 0

    chunks = [pdf[["ts", "event_id"]] for pdf in pdf_iter]
    events = pd.concat(chunks).sort_values(["ts", "event_id"])
    # Arrow may hand datetime64[ns] or [us] depending on version —
    # normalize to micros explicitly (data is µs-aligned: lossless)
    ts = events["ts"].astype("datetime64[us]").astype("int64")

    prev = ts.shift(1)
    if last_ts is not None:
        prev.iloc[0] = last_ts
    gaps = ts - prev
    new_sessions = int(gaps.isna().sum() + (gaps > SESSION_GAP_MICROS).sum())

    n_sessions += new_sessions
    n_events += len(events)
    state.update((int(ts.iloc[-1]), n_sessions, n_events))

    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_sessions": [n_sessions],
            "n_events": [n_events],
            "avg_events_per_session": [round(n_events / n_sessions, 6)],
        }
    )


def sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session stats maintained as streaming state
    (applyInPandasWithState, update mode): one row per user per
    micro-batch with that user's running (n_sessions,
    avg_events_per_session).

    Drained against the finite parquet replay this equals the batch
    q35 answer, which is what the oracle checks; on an unbounded
    stream the same query keeps emitting refreshed per-user rows."""
    sessions = (
        _events_stream(spark, sf_dir)
        .select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=_SESSION_OUTPUT,
            stateStructType=_SESSION_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    out = _drain_to_parquet(sessions, spark, "update")
    # update mode re-emits a user on every batch that touches them; keep
    # the LATEST emission per user. avg is not monotone across batches
    # (a batch that opens new sessions lowers it), so max() would keep a
    # stale intermediate — n_events strictly grows with every batch that
    # touches the user, so max_by(_, n_events) selects the final row.
    return out.groupBy("user_id").agg(
        F.max("n_sessions").alias("n_sessions"),
        F.max_by("avg_events_per_session", "n_events").alias(
            "avg_events_per_session"
        ),
    )


# ---------------------------------------------------------------------------
# foreachBatch bridge: batch signal operator on a stream
# ---------------------------------------------------------------------------


def streaming_signal_edges(
    spark: SparkSession, sf_dir: str, fast: int = 3, lagging: int = 8
) -> DataFrame:
    """MA-cross BUY/SELL edges computed per micro-batch through
    ``foreachBatch`` reusing the batch operators unchanged
    (bars_from_events → ma_cross_signals).

    Exact when each micro-batch holds a key's full history (replay /
    backfill / availableNow over a complete partition); incremental
    tails would need the last ``lagging-1`` bars carried as state —
    see ``sessionize_stream`` for that pattern.
    """
    import tempfile

    from strat_backtest_spark.operators.signals import ma_cross_signals
    from strat_backtest_spark.sources.bars import bars_from_events

    # Each batch's result is WRITTEN executor-side (parquet append),
    # never collected to the driver — the earlier toPandas() drain
    # made the driver the bottleneck at scale; a durable sink is also
    # what a production foreachBatch job does.
    out_dir = tempfile.mkdtemp(prefix="stream_edges_")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sig = ma_cross_signals(bars_from_events(batch_df), fast=fast, lagging=lagging)
        sig.select(
            "ticker",
            F.date_format("date", "yyyy-MM-dd").alias("date"),
            F.round("close", 6).alias("close"),
            "action",
        ).write.mode("append").parquet(out_dir)

    q = (
        _events_stream(spark, sf_dir)
        .writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()

    schema = StructType(
        [
            StructField("ticker", StringType()),
            StructField("date", StringType()),
            StructField("close", DoubleType()),
            StructField("action", StringType()),
        ]
    )
    return spark.read.schema(schema).parquet(out_dir)

"""Streaming-kernel scale rung: the stateful FIFO order kernel
(q59's operator) at 150,000 stateful keys — matching batch kernel
rung 6 (r7/r8 streaming rungs stopped at 49.5k keys).

Corpus: the kernel_rung replication of sf0.1 events (user offset ⇒
disjoint tickers, 0.3%/replica value scale, 64 files). Phase split is
engine-only and reported separately:

  replay_s — bars_replay_stream: bars (one per user-day) written as 3
             mtime-ordered chunk files so every ticker's series
             crosses micro-batch boundaries (state genuinely hands
             off);
  drain_s  — start → processAllAvailable → stop of the
             applyInPandasWithState kernel, APPEND mode, draining to
             a PARQUET sink (not the gate's memory sink: a 150k-key
             curve is millions of rows — the durable sink is both the
             production shape and driver-safe);
  post_s   — read-back count + per-ticker final aggregation of the
             curve (the consumer-side sort/agg).

State size: one row per (ticker, run_id) key, here one per ticker
(open-order book + MA tail) — the
note the rung exists to pin is that state is O(keys · open orders),
independent of bars-per-key, and the state store holds 150k keys.

Oracle receipt (--shard-oracle N): the q59 per-bar recursive-CTE
curve oracle hash-checked at rung scale using the q72 sharding trick
(kernel_rung.py) — events view filtered per ticker shard so the
DuckDB recursion's working set stays under its 10-15M-event OOM
boundary; the gate's LIMIT 150 tail is stripped so the FULL curve is
compared. Receipt = AND over shards via the gate's own comparator.
Each run writes its corpus, curve and stream checkpoint to a fresh
temporary directory, deleted after the run whether it passed or
failed, so no run resumes another's checkpoint. Runs from any working
directory: the checkout is found from this file and put on the
driver's import path (the session exports it to the Python workers).
Prints one JSON line.

    python probes/streaming_kernel_rung.py [REPLICAS] [--shard-oracle N]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

from pyspark.sql import functions as F

CHECKOUT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, CHECKOUT)

from strat_backtest_spark.session import get_spark  # noqa: E402


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    shards = (
        int(sys.argv[sys.argv.index("--shard-oracle") + 1])
        if "--shard-oracle" in sys.argv
        else 0
    )
    spark = get_spark(cpus=32)
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    out = {"replicas": replicas, "tickers": 1500 * replicas,
           "events": 100_000 * replicas}
    corpus = tempfile.mkdtemp(prefix=f"skernel_rung_{replicas}x_")
    try:
        run(spark, corpus, replicas, shards, out)
    finally:
        shutil.rmtree(corpus, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


def run(spark, corpus: str, replicas: int, shards: int, out: dict) -> None:
    curve_dir = f"{corpus}/curve.parquet"

    t0 = time.time()
    ev = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
    rep = ev.crossJoin(spark.range(replicas).withColumnRenamed("id", "r"))
    (
        rep.select(
            (F.col("event_id") + F.col("r") * 1_000_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("r") * 100_000).alias("user_id"),
            "event_type",
            (F.col("value") * (1 + 0.003 * F.col("r"))).alias("value"),
            "props",
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{corpus}/events.parquet")
    )
    out["corpus_build_s"] = round(time.time() - t0, 1)

    from strat_backtest_spark.operators.kernel import MACrossRun
    from strat_backtest_spark.plans.catalog_backtest import _bars
    from strat_backtest_spark.streaming.backtest_stream import (
        bars_replay_stream,
        streaming_backtest_curve,
    )

    bars = _bars(spark, corpus)

    t = time.time()
    stream = bars_replay_stream(spark, bars, n_chunks=3)
    out["replay_s"] = round(time.time() - t, 1)
    print(json.dumps({"replay": out["replay_s"]}), file=sys.stderr, flush=True)

    curve = streaming_backtest_curve(stream, 10_000.0, runs=[MACrossRun(0, 3, 8)])
    t = time.time()
    q = (
        curve.writeStream.outputMode("append")
        .format("parquet")
        .option("path", curve_dir)
        .option("checkpointLocation", f"{corpus}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out["drain_s"] = round(time.time() - t, 1)
    print(json.dumps({"drain": out["drain_s"]}), file=sys.stderr, flush=True)

    t = time.time()
    got = spark.read.parquet(curve_dir)
    out["curve_rows"] = got.count()
    finals = got.groupBy("ticker").agg(
        F.max_by("net_worth", "date").alias("final_nw")
    )
    out["stateful_keys"] = finals.count()
    out["post_s"] = round(time.time() - t, 1)
    print(json.dumps({"post": out["post_s"], "curve_rows": out["curve_rows"],
                      "keys": out["stateful_keys"]}),
          file=sys.stderr, flush=True)

    if shards > 1:
        import duckdb

        from strat_backtest_spark.plans.catalog_backtest import _fmt_curve
        from strat_backtest_spark.plans.kernel_oracle import _curve_sim_sql
        from tests.oracle_utils import compare

        sql_full = _curve_sim_sql("ma_cross").rsplit("LIMIT 150", 1)[0]
        shard_ok, shard_s = [], []
        for i in range(shards):
            ts = time.time()
            scon = duckdb.connect()
            scon.execute("SET memory_limit='100GB'")
            scon.execute("SET temp_directory='/tmp/duck_spill'")
            scon.execute(
                "CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{corpus}/events.parquet/*.parquet') "
                f"WHERE user_id % {shards} = {i}"
            )
            eng = _fmt_curve(
                spark.read.parquet(curve_dir).filter(
                    F.pmod(F.col("ticker").cast("long"), F.lit(shards)) == i
                )
            )
            try:
                res = compare(eng, scon, sql_full, "q59_curve")
                shard_ok.append(bool(res["ok"]))
                if not res["ok"]:
                    out[f"shard{i}_detail"] = res["detail"][:200]
            except Exception as exc:  # noqa: BLE001
                shard_ok.append(None)
                out[f"shard{i}_err"] = f"{type(exc).__name__}: {exc}"[:200]
            finally:
                scon.close()
            shard_s.append(round(time.time() - ts, 1))
            print(json.dumps({"shard": i, "ok": shard_ok[-1], "s": shard_s[-1]}),
                  file=sys.stderr, flush=True)
        out["oracle_ok"] = all(v is True for v in shard_ok)
        out["oracle_shards"] = shards
        out["oracle_shard_ok"] = shard_ok
        out["oracle_s"] = round(sum(shard_s), 1)


if __name__ == "__main__":
    main()

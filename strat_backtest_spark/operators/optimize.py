"""Hyper-parameter optimization (SURVEY.md §2.10; reference
optimize.py).

The reference's grid search forks a process pool but blocks per task
(quirk Q8, optimize.py:221-225) — effectively serial, one full
backtest per grid point. Here the WHOLE grid is one Spark job:

    bars ──→ ma_cross_feed_grid: one (ticker, date, close) row per bar
         ──→ run_kernel(runs=grid), one task per ticker: each distinct
             SMA length computed once per ticker, then every grid
             point's cross edges and order simulation in the walker
         ──→ final_net_worth_from_events: net worth at the last bar,
             telescoped from the sparse trade events
         ──→ argmax net worth per ticker (grid_search)

Nothing runs until the caller consumes the result: no persist, count
or checkpoint jobs while the plan is built.

Simulated annealing (reference optimize.py:138-207) keeps its
inherently sequential temperature loop on the driver, but evaluates
each step's full NEIGHBORHOOD as one small grid job — the cluster
absorbs the batch, the driver only walks the chain.
"""

from __future__ import annotations

import math
import random

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from strat_backtest_spark.operators.kernel import run_kernel, split_kernel_output
from strat_backtest_spark.operators.portfolio import final_net_worth_from_events
from strat_backtest_spark.operators.signals import ma_cross_feed_grid


def _grid_rows(fast_range, lagging_range) -> list[tuple[int, int, int]]:
    """(run_id, fast, lagging) rows for a grid — driver-local."""
    fasts = np.arange(*fast_range)
    laggings = np.arange(*lagging_range)
    return [
        (int(i), int(f), int(l))
        for i, (f, l) in enumerate((f, l) for f in fasts for l in laggings)
    ]


def _params_local_relation(spark: SparkSession, rows) -> DataFrame:
    """Params rows as a VALUES LocalRelation. ``createDataFrame`` builds
    an RDD-backed DataFrame: every consumer (even a broadcast) then runs
    a defaultParallelism-task job of near-empty Python pickle partitions
    just to read a handful of ints — measured ~0.7 s/task of pure Python
    worker spin-up in the q41 stage profile. A VALUES relation is plan
    data: broadcasts materialize driver-side with zero jobs."""
    if not rows:
        # 'VALUES' with an empty list is a ParseException; an empty grid
        # (e.g. expand_grid over an empty np.arange) must still return a
        # typed empty relation like createDataFrame([], schema) did
        return spark.sql(
            "SELECT CAST(NULL AS BIGINT) AS run_id, CAST(NULL AS INT) AS fast,"
            " CAST(NULL AS INT) AS lagging WHERE FALSE"
        )
    vals = ", ".join(
        f"(CAST({i} AS BIGINT), CAST({f} AS INT), CAST({l} AS INT))"
        for i, f, l in rows
    )
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t(run_id, fast, lagging)")


def expand_grid(spark: SparkSession, fast_range, lagging_range) -> DataFrame:
    """_Range-style [start, stop, step) triples → params DataFrame
    (reference: np.arange + itertools.product, optimize.py:27-38,218)."""
    return _params_local_relation(spark, _grid_rows(fast_range, lagging_range))


def evaluate_params(bars: DataFrame, params, initial_amount: float) -> DataFrame:
    """Final net worth for every (ticker, run_id): the shared engine of
    grid search and SA neighborhoods. ``params`` is a list of
    (run_id, fast, lagging) rows or a DataFrame of them.

    The kernel reads each ticker's bars once and simulates every grid
    point over them (``run_kernel``'s ``runs``). The objective needs
    only the LAST point of each net-worth curve, and at the last bar
    the curve telescopes to an aggregation over the kernel's sparse
    trade events:

        net_worth(T) = shares(T)·close(T) − Σ buy·close + Σ sell·close + init

    so no per-bar portfolio is built. The result is lazy, like any
    other plan; a caller that reuses it caches it."""
    if isinstance(params, DataFrame):
        params = [(r["run_id"], r["fast"], r["lagging"]) for r in params.collect()]
    rows = [(int(i), int(f), int(l)) for i, f, l in params]
    param_df = _params_local_relation(bars.sparkSession, rows)
    feed = ma_cross_feed_grid(bars)
    kernel_out = run_kernel(feed, initial_amount, runs=rows)
    _, events = split_kernel_output(kernel_out)
    return final_net_worth_from_events(
        bars, events, param_df.select("run_id"), initial_amount
    ).join(F.broadcast(param_df), "run_id")


def grid_search(
    bars: DataFrame,
    initial_amount: float,
    fast_range=(10, 40, 10),
    lagging_range=(50, 150, 50),
) -> DataFrame:
    """Best (fast, lagging) per ticker — reference Optimize._grid_search
    (optimize.py:209-229) as one distributed job. Deterministic argmax
    tiebreak: lowest run_id."""
    scored = evaluate_params(
        bars, _grid_rows(fast_range, lagging_range), initial_amount
    )
    from strat_backtest_spark.functions.numeric import round_half_up_spark_expr

    w = Window.partitionBy("ticker").orderBy(F.desc("net_worth"), F.asc("run_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "ticker",
            "fast",
            "lagging",
            # IEEE-stable rounding (not F.round): objective magnitudes
            # can reach ~1e11 where one double ULP straddles 1e-4
            F.expr(round_half_up_spark_expr("net_worth", 4)).alias("net_worth"),
        )
    )


def sa_chain(
    score,
    init_state: tuple[int, int],
    bounds: tuple[tuple[int, int], tuple[int, int]],
    T: float,
    iterations: int,
    neighbors_per_step: int,
    seed: int,
) -> dict:
    """The SA chain driver, parameterized by ``score(states) ->
    list[float]``: the walk (neighbor draws, argmax, Metropolis
    accepts) is fully determined by (seed, score values), so any
    engine that reproduces the objective bit-for-bit reproduces the
    walk. The q46 oracle exploits this: it replays this exact chain
    with a DuckDB-backed score (plans/common_stock.py) and checks the
    Spark walk visited the same states with the same objectives."""
    rng = np.random.default_rng(seed)
    pyrng = random.Random(seed)

    def neighbors(state):
        out = []
        (flo, fhi), (llo, lhi) = bounds
        while len(out) < neighbors_per_step:
            df_, dl = rng.integers(-10, 11, size=2)
            f = int(np.clip(state[0] + df_, flo, fhi))
            l = int(np.clip(state[1] + dl, llo, lhi))
            if (f, l) != tuple(state):
                out.append((f, l))
        return out

    state = tuple(init_state)
    [cur_cost] = score([state])
    best_state, best_cost = state, cur_cost
    history = [(state, cur_cost)]
    temp = T
    for _ in range(iterations):
        cand = neighbors(state)
        costs = score(cand)
        # best neighbor first: batched variant of the reference's
        # single-neighbor Metropolis step
        j = int(np.argmax(costs))
        new_state, new_cost = cand[j], costs[j]
        delta = new_cost - cur_cost
        if delta > 0 or math.exp(delta / temp) > pyrng.uniform(0, 1):
            state, cur_cost = new_state, new_cost
            if cur_cost > best_cost:
                best_state, best_cost = state, cur_cost
        history.append((state, cur_cost))
        temp *= 0.8
    return {"best_state": best_state, "best_net_worth": best_cost, "history": history}


def simulated_annealing(
    bars: DataFrame,
    initial_amount: float,
    init_state: tuple[int, int] = (10, 50),
    bounds: tuple[tuple[int, int], tuple[int, int]] = ((2, 60), (5, 250)),
    T: float = 100.0,
    iterations: int = 20,
    neighbors_per_step: int = 8,
    seed: int = 42,
) -> dict:
    """Metropolis SA with geometric cooling ×0.8 (reference
    optimize.py:138-207, ported without quirks Q15): each step scores a
    BATCH of clamped integer-step neighbors in one cluster job and
    Metropolis-accepts against the incumbent. Single-ticker bars
    expected (aggregate over tickers otherwise)."""
    # The chain re-consumes bars every step (and evaluate_params reads
    # them in two plan branches): pin them once so the upstream DAG
    # (scan + bar derivation + filters) doesn't re-run per iteration.
    # Single-ticker bars are small by contract; a persist() would do
    # at larger scale.
    bars = bars.localCheckpoint(eager=True)

    from strat_backtest_spark.functions.numeric import round_half_up_spark_expr

    def score(states: list[tuple[int, int]]) -> list[float]:
        rows = [(i, int(f), int(l)) for i, (f, l) in enumerate(states)]
        scored = evaluate_params(bars, rows, initial_amount)
        got = {
            r["run_id"]: r["net_worth"]
            for r in scored.groupBy("run_id")
            # round(4) like grid_search's output: the chain's accept
            # decisions then run on the same doubles the DuckDB replay
            # oracle computes (q46), instead of ULP-off unrounded sums
            .agg(
                F.expr(round_half_up_spark_expr("avg(net_worth)", 4)).alias(
                    "net_worth"
                )
            )
            .collect()
        }
        return [got.get(i, float("-inf")) for i in range(len(states))]

    return sa_chain(score, init_state, bounds, T, iterations, neighbors_per_step, seed)

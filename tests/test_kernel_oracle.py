"""Guards for the kernel-sim oracle layer (plans/kernel_oracle.py).

The oracles' value rests on two engine-parity properties that nothing
else pins: (1) the IEEE-stable rounding helpers produce bit-identical
results in Spark and DuckDB across the full magnitude range the
metrics can emit (including the >2^53 identity branch), and (2) every
generated oracle is valid DuckDB SQL (the catalog-wide oracle test
executes them, but only for the entries currently registered — this
parses each generator output directly, so a template edit cannot ship
a syntax error into a rarely-rotated entry).
"""

import math

import duckdb
import pytest

from conftest import SF_SMALL


MAGNITUDES = [
    0.0,
    1e-7,
    0.1234565,  # representation-tie neighborhood
    2.675,      # BigDecimal shortest-decimal divergence example
    466.72000000000116,
    -9533.280000000002,
    218336517999.48005,   # the q64 knife-edge magnitude
    2.0 ** 53 / 1e4,      # branch boundary at 4dp scale
    8.832612715093549e39,  # degenerate sharpe
    -2.6683803276453188e94,
    1.104261860920383e54,
    float("nan"),
]


@pytest.mark.parametrize("decimals", [4, 6])
def test_round_half_up_spark_expr_matches_sql(spark, decimals):
    from strat_backtest_spark.functions.numeric import (
        round_half_up_spark_expr,
        round_half_up_sql,
    )

    df = spark.createDataFrame([(v,) for v in MAGNITUDES], "x double")
    got = [
        r.y
        for r in df.selectExpr(f"{round_half_up_spark_expr('x', decimals)} AS y").collect()
    ]
    con = duckdb.connect()
    exp = [
        con.execute(
            f"SELECT {round_half_up_sql('x', decimals)} FROM (SELECT ?::DOUBLE AS x)",
            [v],
        ).fetchone()[0]
        for v in MAGNITUDES
    ]
    for v, g, e in zip(MAGNITUDES, got, exp):
        if math.isnan(v):
            assert math.isnan(g) and math.isnan(e)
        else:
            assert g == e, (v, g, e)


def test_generated_oracles_are_valid_duckdb_sql():
    from strat_backtest_spark.plans.kernel_oracle import (
        _GRID_RUNS,
        _curve_sim_sql,
        _ma_kernel_sim_sql,
        _metrics_sim_sql,
        _partial_sim_sql,
        _stoploss_sim_sql,
    )

    sqls = {
        "ma_single": _ma_kernel_sim_sql(
            [(0, 3, 8)],
            "SELECT ticker, tsh FROM finals",
        ),
        "ma_grid": _ma_kernel_sim_sql(_GRID_RUNS, "SELECT ticker, tsh FROM finals"),
        "curve_ma": _curve_sim_sql("ma_cross"),
        "curve_band": _curve_sim_sql("band"),
        "metrics": _metrics_sim_sql(),
        "partial": _partial_sim_sql(),
        "stoploss": _stoploss_sim_sql(),
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_SMALL}/events.parquet')"
        " LIMIT 0"
    )
    for name, sql in sqls.items():
        assert "{R(" not in sql, name
        rows = con.sql(sql).fetchall()  # empty input => empty output, but parses + runs
        assert rows == [], name

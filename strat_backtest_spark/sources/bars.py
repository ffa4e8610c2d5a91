"""Bar-table ingestion (SURVEY.md §2.1 S1/S5).

The reference globs ``*.csv`` into a dict of pandas frames keyed by
file stem (finance_data.py:91-103). Here a single distributed CSV scan
reads the whole directory and derives the ticker from the file name —
one long DataFrame instead of a dict, so per-ticker work becomes
``Window.partitionBy("ticker")`` and scales to any number of tickers.

Engine-native storage is parquet partitioned by ticker: columnar,
predicate-pushdown-able, and partition-pruned when a query names a
ticker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from strat_backtest_spark.schemas import BARS_CSV_SCHEMA, TESTDATA_TABLES


def load_bars_csv(spark: SparkSession, path: str, date_format: str = "yyyy-MM-dd") -> DataFrame:
    """Scan a CSV file or directory of ``<ticker>.csv`` files into the
    long `bars` layout.

    Reference parity: lowercase column names (strats.py:527-528) are
    fixed by the explicit schema; ticker = lowercased file stem
    (finance_data.py:99-103).
    """
    raw = (
        spark.read.schema(BARS_CSV_SCHEMA)
        .option("header", True)
        .option("dateFormat", date_format)
        .csv(path)
    )
    # substring_index instead of regexp_extract: regexp on top of
    # input_file_name() defeats codegen and runs ~10ms/row interpreted.
    fname = F.substring_index(F.input_file_name(), "/", -1)
    ticker = F.lower(F.substring_index(fname, ".", 1))
    return raw.select(
        ticker.alias("ticker"),
        "date",
        "open",
        "high",
        "low",
        "close",
        "volume",
    )


def load_bars_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_bars_csv(bars: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S5 — CSV sink (reference README.md:85,152 saves per-ticker CSVs).
    Spark-native analog: a header'd CSV directory partitioned by
    ticker — each ticker's bars land in their own subdirectory, the
    distributed equivalent of the reference's one-file-per-ticker dict."""
    bars.write.mode(mode).option("header", True).partitionBy("ticker").csv(path)


def write_bars_parquet(bars: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Engine-native sink: ticker-partitioned parquet.

    Partitioning by ticker gives free partition pruning for
    single-ticker backtests and co-locates each kernel group's input.
    """
    bars.write.mode(mode).partitionBy("ticker").parquet(path)


def normalize_events_ts(events: DataFrame) -> DataFrame:
    """Return ``events`` (batch or streaming) with ``ts`` as TIMESTAMP,
    branching on the dtype it landed as.

    Under ``nanosAsLong`` (vanilla Spark refuses NANOS) a
    TIMESTAMP(NANOS) file lands as raw ``bigint`` nanos, µs-aligned, so
    the micros conversion is lossless. A MICROS file without the UTC
    adjustment lands as ``timestamp_ntz``; ``unix_micros`` and
    streaming watermarks need TIMESTAMP (ltz), and the session runs UTC
    (session.py), so the cast keeps wall clock and epoch alike."""
    ts_type = dict(events.dtypes).get("ts")
    if ts_type == "bigint":
        return events.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
    if ts_type == "timestamp_ntz":
        return events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events


def load_testdata(spark: SparkSession, sf_dir: str, *tables: str) -> dict[str, DataFrame]:
    """Load the harness's synthetic tables (TESTDATA.md); ``events``
    comes with ``ts`` as TIMESTAMP (:func:`normalize_events_ts`)."""
    names = tables or TESTDATA_TABLES
    if "events" in names:
        # events.ts ships as TIMESTAMP(MICROS) today and shipped as
        # TIMESTAMP(NANOS) in earlier drops; runtime-set so any caller
        # session (an unconfigured one included) can read either
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out = {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in names}
    if "events" in out:
        out["events"] = normalize_events_ts(out["events"])
    return out


def bars_from_events(events: DataFrame) -> DataFrame:
    """Adapt the harness `events` table into the `bars` layout so
    backtest operators can run on synthetic data: each user_id becomes
    a ticker, `value` the close price, ts→date (first event per day).

    Deterministic: first value per (user, day) by (ts, event_id).
    Volume is rounded to 6dp BEFORE the integer floor — a floor of an
    unrounded float sum flips with summation order when |sum| lands
    within float-noise of an integer (the catalog's design rule,
    plans/catalog.py:13-14).
    """
    per_day = events.groupBy(
        F.col("user_id").cast("string").alias("ticker"),
        F.to_date("ts").alias("date"),
    ).agg(
        F.min_by("value", F.struct(F.col("ts"), F.col("event_id"))).alias("close"),
        F.sum("value").alias("volume_raw"),
    )
    return per_day.select(
        "ticker",
        "date",
        F.col("close").alias("open"),
        F.col("close").alias("high"),
        F.col("close").alias("low"),
        "close",
        F.floor(F.round(F.abs(F.col("volume_raw")), 6)).alias("volume"),
    )


def resample_bars(bars: DataFrame, freq: str = "week") -> DataFrame:
    """Downsample bars to a coarser calendar frequency (hypertable-
    rollup style): first open / max high / min low / last close /
    summed volume per (ticker, bucket). One hash aggregation — the
    min_by/max_by anchors replace a sort-within-group, so the rollup
    is a single shuffle with map-side partial aggregation, the same
    plan at any scale. ``freq`` is any date_trunc unit (week, month,
    quarter, year)."""
    bucket = F.date_trunc(freq, F.col("date")).cast("date").alias("__bucket")
    return (
        bars.groupBy("ticker", bucket)
        .agg(
            F.min_by("open", "date").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "date").alias("close"),
            F.sum("volume").alias("volume"),
        )
        .withColumnRenamed("__bucket", "date")
        .select("ticker", "date", "open", "high", "low", "close", "volume")
    )

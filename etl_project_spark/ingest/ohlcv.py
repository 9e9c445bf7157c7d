"""The reference's two DAGs re-expressed as Spark batch programs
(SURVEY.md §2f, §3 EP1/EP2).

EP1 5-minute ingest (crypto_prices_dag, airflow_dags.py:82-176):
    fetch → normalize → append to the bronze Parquet store, partitioned
    by (period_date, coin). The reference's per-coin task fan-out (O3)
    collapses into one DataFrame with a coin column.

EP2 daily export (crypto_prices_load_to_s3_redshift,
airflow_dags.py:178-314): one day's slice re-written to the gold store.
    Deliberate fixes over the reference (SURVEY.md §7):
    - idempotent dynamic partition overwrite instead of append-duplicates
      (re-running a day replaces it; airflow_dags.py:54's if_exists=append
      duplicated rows on re-run);
    - late rows for a past date are picked up because export re-reads the
      whole partition, not "rows inserted today".

Small-file problem: the reference ingests 1 row/coin/tick
(airflow_dags.py:35 limit=1) — naive translation writes pathological tiny
files, ~288 per coin per day. Every bronze day read (the tick's key scan,
``export_day``, ``compact_day``) goes through ``_read_days``, which packs
the day's files into one wave of ``defaultParallelism`` tasks: a scan
split into one task per handful of one-bar files pays per-task overhead
on every split, and a day is bounded by its cadence, so the packed tasks
stay small at any store size. ``_read_days`` lists only the given day
directories (``basePath`` keeps the partition columns), so a read costs
one day however old the store is, and it declares ``BRONZE_SCHEMA``
(sources/rest.py), so no read runs a schema-inference job. ``export_day``
counts its rows on the write job itself, so the day is scanned once.
``compact_day`` is the daily compaction job; the streaming variant in
etl_project_spark.streaming buffers in micro-batches instead.

A tick's fetched bars become a ``LocalTableScan`` (``session.local_frame``),
so the tick runs no Python worker. A dedupe tick against a day that has a
directory runs 2 jobs: the broadcast of the day's existing keys and the
append. A tick whose day has no directory yet (the first tick, or the
first one past midnight) has nothing to collide with and runs only the
append.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_project_spark.session import prepare
from etl_project_spark.sources.rest import (
    BRONZE_SCHEMA,
    OhlcvRestSource,
    normalize_bars,
)

PARTITION_COLS = ("period_date", "coin")


def ingest_tick(
    spark: SparkSession,
    source: OhlcvRestSource,
    bronze_path: str,
    period: str = "5MIN",
    limit: int = 1,
    dedupe: bool = False,
) -> int:
    """One EP1 tick: fetch the latest bar(s) per coin and append to
    bronze. Returns rows written.

    ``dedupe=True`` makes the append idempotent at bar granularity: the
    fetched batch is anti-joined against the bronze rows already holding
    its (coin, time_period_start) keys before writing, so a replayed
    tick (a restarted ``ingest_loop`` re-running the last uncommitted
    micro-batch, or a cron double-fire) appends nothing the store
    already has. The existing-keys scan is partition-pruned to the
    batch's (period_date, coin) partitions — one day of 5-min bars per
    coin, bounded — and broadcast into the anti-join. The row count is
    taken via ``Observation`` on the write job itself, so the (possibly
    non-deterministic) fetch lineage executes exactly once."""
    prepare(spark)
    rows = source.fetch_latest(period=period, limit=limit)
    if not rows:
        return 0
    df = source.to_df(spark, rows)
    if dedupe:
        df = _drop_already_ingested(spark, df, rows, bronze_path)
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    append_bars(df, bronze_path)
    return int(obs.get["n"])


def _drop_already_ingested(
    spark: SparkSession,
    df: DataFrame,
    rows: list[dict],
    bronze_path: str,
) -> DataFrame:
    """Anti-join a (tiny) fetched batch against the bronze keys it could
    collide with. Reads only the batch's own (period_date, coin)
    partitions; returns ``df`` unchanged when none of the batch's days
    has a directory yet (a missing store included).
    The keys need no ``distinct()``: a left-anti build side only answers
    "is there a match"."""
    dates = sorted({str(r["time_period_start"])[:10] for r in rows})
    coins = sorted({r["coin"] for r in rows})
    try:
        existing = _read_days(spark, bronze_path, dates)
    except AnalysisException:  # first tick of the day: nothing to collide with
        return df
    keys = existing.filter(F.col("coin").isin(coins)).select(
        "coin", "time_period_start"
    )
    return df.join(F.broadcast(keys), ["coin", "time_period_start"], "left_anti")


def _read_days(
    spark: SparkSession, path: str, dates: Iterable[str | dt.date]
) -> DataFrame:
    """The rows of the given ``period_date`` partitions, scanned in one
    wave of ``defaultParallelism`` tasks (see the module docstring).

    Only those day directories are listed (``basePath`` keeps the
    partition columns), and the declared ``BRONZE_SCHEMA`` means no
    schema-inference job. Several days are read through one
    ``period_date={a,b}`` glob, so a day with no directory drops out;
    raises ``AnalysisException`` when no given day has a directory, a
    missing store included."""
    days = sorted({f"period_date={str(d)[:10]}" for d in dates})  # date or datetime
    glob = days[0] if len(days) == 1 else "{" + ",".join(days) + "}"
    return (
        spark.read.schema(BRONZE_SCHEMA)
        .option("basePath", path)
        .parquet(f"{path.rstrip('/')}/{glob}")
        .coalesce(spark.sparkContext.defaultParallelism)
    )


def append_bars(df: DataFrame, bronze_path: str) -> None:
    """K1′: append to the partitioned bronze store."""
    df.write.mode("append").partitionBy(*PARTITION_COLS).parquet(bronze_path)


def _overwrite_partitions(df: DataFrame, path: str) -> None:
    """Idempotent write of ``df``'s (period_date, coin) partitions: the
    dynamic overwrite replaces exactly the partitions ``df`` holds rows
    for. Set per write, so the session's own overwrite mode is left
    alone for every other writer."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*PARTITION_COLS)
        .parquet(path)
    )


def export_day(
    spark: SparkSession, bronze_path: str, gold_path: str, ds: str | dt.date
) -> int:
    """EP2: re-write one day's slice bronze → gold, idempotently.

    Dynamic partition overwrite = the Spark-native replacement for the
    CSV → S3 → Redshift COPY chain (K2/K3/K4): the partitioned gold
    Parquet *is* the warehouse table. Returns rows exported, counted by
    an ``Observation`` on the write job; a day with no bronze rows
    writes no partition and leaves the other gold days as they were."""
    prepare(spark)
    try:
        day = _read_days(spark, bronze_path, [ds])
    except AnalysisException:  # no bronze directory for the day
        return 0
    obs = Observation()
    day = day.observe(obs, F.count(F.lit(1)).alias("n"))
    _overwrite_partitions(day, gold_path)
    return int(obs.get["n"])


def compact_day(
    spark: SparkSession, path: str, ds: str | dt.date, target_files: int = 1
) -> None:
    """Small-file compaction for one day partition (the 5-minute cadence
    writes ~288 tiny files/coin/day): rewrite the partition at
    target_files per coin via repartition, idempotent overwrite."""
    prepare(spark)
    try:
        day = _read_days(spark, path, [ds])
    except AnalysisException:  # no directory for the day: nothing to compact
        return
    _overwrite_partitions(day.repartition(target_files, "coin"), path)


def fake_bars(
    coins: Iterable[str] = ("bitcoin", "ethereum", "ripple"),
    start: str = "2023-04-26T00:00:00.0000000Z",
    n_bars: int = 12,
    base_price: float = 29000.0,
) -> list[dict]:
    """Deterministic CoinAPI-shaped bars for tests (no network): a bounded
    sawtooth walk on a 5-minute grid, mirroring the payload fields at
    airflow_dags.py:40-43."""
    t0 = dt.datetime.strptime(start[:19], "%Y-%m-%dT%H:%M:%S")
    out = []
    for ci, coin in enumerate(coins):
        price = base_price / (10 ** ci)
        for i in range(n_bars):
            s = t0 + dt.timedelta(minutes=5 * i)
            e = s + dt.timedelta(minutes=5)
            drift = ((i * 7 + ci * 3) % 11 - 5) / 1000.0
            o = price * (1 + drift)
            c = price * (1 + drift / 2)
            fmt = "%Y-%m-%dT%H:%M:%S.0000000Z"
            out.append(
                {
                    "time_period_start": s.strftime(fmt),
                    "time_period_end": e.strftime(fmt),
                    "time_open": (s + dt.timedelta(seconds=1)).strftime(fmt),
                    "time_close": (e - dt.timedelta(seconds=1)).strftime(fmt),
                    "price_open": round(o, 4),
                    "price_high": round(max(o, c) * 1.001, 4),
                    "price_low": round(min(o, c) * 0.999, 4),
                    "price_close": round(c, 4),
                    "volume_traded": round(10 + (i % 5) * 1.5, 4),
                    "trades_count": 100 + i,
                    "coin": coin,
                }
            )
    return out

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
files, ~288 per coin per day, and Parquet pays a fixed cost per file
opened (a Hadoop ``Configuration`` clone and a footer read). Every bronze
day read (the tick's key lookup, ``export_day``, ``compact_day``) goes
through ``_read_days``, which lists only the given day directories
(``basePath`` keeps the partition columns) with the declared
``BRONZE_SCHEMA`` (sources/rest.py), so a read costs one day however old
the store is and runs no schema-inference job.

The day snapshot: ``_read_days`` keeps, per process, the rows of each
bronze day it has read as Arrow on the driver, each row tagged with its
file, and pays for a file once per process instead of once per read.
Each call lists the day as before; the files the snapshot has not seen
are read in one job, filtered on ``_metadata.file_path`` (Spark prunes
the other files before opening them; a day whose files are mostly new is
read whole, which costs less than a filter naming each file) and packed
into one wave of ``defaultParallelism`` tasks; a file that left the
listing (compacted, overwritten, deleted) leaves the snapshot. The day comes back as a ``LocalTableScan``
(``session.local_frame``). A file is identified by its path, the rule
Spark's streaming file source uses for seen files: Spark writers never
rewrite a file in place, and a writer that does is unsupported. Per
store, the snapshot holds at most ``spark.sql.autoBroadcastJoinThreshold``
of listed file bytes (the scan's ``sizeInBytes``, known before anything
is collected), the bound under which the planner already collects a
relation onto the driver; the least recently read day goes first, a read
whose own days exceed the bound gets the packed day scan itself, and a
new ``applicationId`` starts an empty snapshot. A process per read gets
no reuse: the gain is for one process that reads a day more than once,
as the ticks and the day close of a long-running ingest do.

A tick's fetched bars become a ``LocalTableScan`` (``session.local_frame``),
so the tick runs no Python worker. A dedupe tick drops the bars already
in bronze on the driver, against the day snapshot: it runs one job to
read the files written since the day was last read (none when nothing
was) and one to append the bars that are left; a replay whose bars are
all present writes nothing and, on a warm snapshot, runs no job. A tick
whose day has no directory yet (the first tick, or the first one past
midnight) has nothing to collide with and runs only the append.
``export_day`` counts its rows on the write job itself; ``compact_day``
is the daily compaction job; the streaming variant in
etl_project_spark.streaming buffers in micro-batches instead.
"""

from __future__ import annotations

import datetime as dt
import threading
from collections import OrderedDict
from collections.abc import Iterable
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F

from etl_project_spark.session import local_frame, prepare
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
    fetched bars whose (coin, time_period_start) key the bronze store
    already holds are dropped on the driver before writing, so a
    replayed tick (a restarted ``ingest_loop`` re-running the last
    uncommitted micro-batch, or a cron double-fire) appends nothing the
    store already has, and runs no write job. The batch is a
    ``LocalTableScan`` of one row per fetched bar, so its rows come back
    to the driver without a job and the count needs none either."""
    prepare(spark)
    rows = source.fetch_latest(period=period, limit=limit)
    if not rows:
        return 0
    df = source.to_df(spark, rows)
    if dedupe:
        bars = _drop_already_ingested(spark, df.collect(), bronze_path)
        if not bars:
            return 0
        df, rows = local_frame(spark, bars, df.schema), bars
    append_bars(df, bronze_path)
    return len(rows)


def _drop_already_ingested(
    spark: SparkSession, bars: list[Row], bronze_path: str
) -> list[Row]:
    """The normalized ``bars`` whose (coin, time_period_start) key the
    bronze store does not hold yet. Reads only the bars' own day
    partitions, through the day snapshot (``_read_days``), and brings
    back only the keys the batch could collide with: none of the day's
    other rows reach Python. Returns ``bars`` unchanged when none of
    their days has a directory yet (a missing store included)."""
    try:
        day = _read_days(spark, bronze_path, {b.period_date for b in bars})
    except AnalysisException:  # first tick of the day: nothing to collide with
        return bars
    starts = {b.time_period_start for b in bars} - {None}
    present = day.filter(
        F.col("coin").isin(sorted({b.coin for b in bars}))
        & F.col("time_period_start").isin(
            [F.lit(str(t)).cast("timestamp_ntz") for t in sorted(starts)]
        )
    ).select("coin", "time_period_start")
    seen = {tuple(r) for r in present.collect()}
    return [b for b in bars if (b.coin, b.time_period_start) not in seen]


@dataclass
class _Day:
    """A snapshot entry: the rows of the bronze files of one read's days
    that are already on the driver, with the file each row came from."""

    files: set[str]
    rows: pa.Table
    nbytes: int  # listed file bytes of the days, as the scan estimates them


# Per-process snapshot of bronze days (module docstring): store root →
# the days one read names → entry, least recently read first.
_SNAPSHOT: dict[str, OrderedDict[tuple[str, ...], _Day]] = {}
_SNAPSHOT_APP_ID: str | None = None
_SNAPSHOT_LOCK = threading.Lock()


def _read_days(
    spark: SparkSession, path: str, dates: Iterable[str | dt.date]
) -> DataFrame:
    """The rows of the given ``period_date`` partitions: a
    ``LocalTableScan`` of the day snapshot, after reading the files it
    has not seen yet (see the module docstring).

    Only those day directories are listed (``basePath`` keeps the
    partition columns), and the declared ``BRONZE_SCHEMA`` means no
    schema-inference job. Several days are read through one
    ``period_date={a,b}`` glob, so a day with no directory drops out;
    raises ``AnalysisException`` when no given day has a directory, a
    missing store included. Days whose listed files exceed
    ``spark.sql.autoBroadcastJoinThreshold`` are not held: the scan
    itself is returned, packed in one wave of ``defaultParallelism``
    tasks."""
    global _SNAPSHOT_APP_ID
    # a date, a datetime or an ISO string
    days = tuple(sorted({f"period_date={str(d)[:10]}" for d in dates}))
    glob = days[0] if len(days) == 1 else "{" + ",".join(days) + "}"
    root = path.rstrip("/")
    scan = (
        spark.read.schema(BRONZE_SCHEMA)
        .option("basePath", path)
        .parquet(f"{root}/{glob}")
    )
    packed = spark.sparkContext.defaultParallelism
    bound = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    nbytes = int(scan._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    app_id = spark.sparkContext.applicationId
    with _SNAPSHOT_LOCK:
        if app_id != _SNAPSHOT_APP_ID:
            _SNAPSHOT.clear()
            _SNAPSHOT_APP_ID = app_id
        held = _SNAPSHOT.get(root, {}).pop(days, None)
    if nbytes > bound:  # too large to hold: the scan is the one way to serve it
        return scan.coalesce(packed)
    listed = {_metadata_spelling(f) for f in scan.inputFiles()}
    files, rows = (held.files & listed, held.rows) if held else (set(), None)
    if held and files != held.files:  # compacted, overwritten or deleted
        rows = rows.filter(pc.is_in(rows["_file"], pa.array(list(files), pa.string())))
    new = listed - files
    if rows is None or new:
        fresh, file_path = scan, F.col("_metadata.file_path")
        if len(new) < len(files):  # Spark prunes the other files before opening them
            fresh = scan.filter(file_path.isin(sorted(new)))
        else:  # mostly new: the whole day costs less than a filter naming each file
            rows = None
        fresh = (
            fresh.select("*", file_path.alias("_file"))
            .coalesce(packed)
            .toArrow()
        )
        rows = fresh if rows is None else pa.concat_tables([rows, fresh])
    with _SNAPSHOT_LOCK:
        snapshot = _SNAPSHOT.setdefault(root, OrderedDict())
        snapshot[days] = _Day(listed, rows, nbytes)
        while sum(e.nbytes for e in snapshot.values()) > bound:
            snapshot.popitem(last=False)
    return local_frame(spark, rows, BRONZE_SCHEMA)


def _metadata_spelling(path: str) -> str:
    """A path as ``_metadata.file_path`` spells it: ``inputFiles()``
    spells a local file ``file:///p``, the metadata column ``file:/p``."""
    if path.startswith("file:///"):
        return "file:/" + path[len("file:///") :]
    return path


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

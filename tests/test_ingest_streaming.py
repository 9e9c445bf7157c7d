"""End-to-end tests of the reference dataflow on Spark: EP1 ingest →
bronze, EP2 idempotent daily export → gold, compaction, CSV export
contract, and the Structured Streaming twins."""

from __future__ import annotations

import pyspark.sql.functions as F

from etl_project_spark.ingest import ohlcv
from etl_project_spark.sources.files import read_csv, write_csv_export
from etl_project_spark.sources.rest import OhlcvRestSource, normalize_bars
from etl_project_spark.streaming import pipeline as sp


def _source():
    bars = ohlcv.fake_bars()

    def fake_fetcher(url, headers):
        assert "X-CoinAPI-Key" in headers
        # serve the bar matching the coin symbol in the url
        for coin, sym in {
            "bitcoin": "BTC",
            "ethereum": "ETH",
            "ripple": "XRP",
        }.items():
            if sym in url:
                return [
                    {k: v for k, v in b.items() if k != "coin"}
                    for b in bars
                    if b["coin"] == coin
                ][:1]
        return []

    return OhlcvRestSource("test-key", fetcher=fake_fetcher)


def test_ingest_tick_roundtrip(spark, tmp_path):
    bronze = str(tmp_path / "bronze")
    n = ohlcv.ingest_tick(spark, _source(), bronze)
    assert n == 3  # one bar per coin, airflow_dags.py:35 limit=1
    df = spark.read.parquet(bronze)
    assert set(df.select("coin").distinct().toPandas()["coin"]) == {
        "bitcoin",
        "ethereum",
        "ripple",
    }
    # normalization: naive timestamps, derived period_date, double prices
    dtypes = dict(df.dtypes)
    assert dtypes["time_period_start"].startswith("timestamp")
    assert dtypes["price_close"] == "double"
    assert dtypes["period_date"] == "date"


def test_ingest_tick_dedupe_is_idempotent(spark, tmp_path):
    """ADVICE r5: a replayed tick (restart re-running the last
    uncommitted micro-batch) must not double-append bars. With
    dedupe=True the second identical tick anti-joins against bronze's
    (coin, time_period_start) keys and writes zero rows."""
    bronze = str(tmp_path / "bronze")
    n1 = ohlcv.ingest_tick(spark, _source(), bronze, dedupe=True)
    assert n1 == 3  # first tick: bronze absent, nothing to collide with
    n2 = ohlcv.ingest_tick(spark, _source(), bronze, dedupe=True)
    assert n2 == 0  # replay: every bar already ingested
    assert spark.read.parquet(bronze).count() == 3
    # without dedupe the same replay duplicates (the documented
    # at-least-once raw-append contract)
    n3 = ohlcv.ingest_tick(spark, _source(), bronze, dedupe=False)
    assert n3 == 3
    assert spark.read.parquet(bronze).count() == 6


def test_export_day_idempotent(spark, tmp_path):
    bronze, gold = str(tmp_path / "b"), str(tmp_path / "g")
    src = OhlcvRestSource("k")
    df = src.to_df(spark, ohlcv.fake_bars(n_bars=6))
    ohlcv.append_bars(df, bronze)
    ds = "2023-04-26"
    n1 = ohlcv.export_day(spark, bronze, gold, ds)
    n2 = ohlcv.export_day(spark, bronze, gold, ds)  # re-run: must not duplicate
    assert n1 == n2 == 18  # 6 bars × 3 coins on the single day
    assert spark.read.parquet(gold).count() == 18


def test_compact_day(spark, tmp_path):
    bronze = str(tmp_path / "b")
    src = OhlcvRestSource("k")
    # two appends → multiple files per partition
    for _ in range(2):
        ohlcv.append_bars(src.to_df(spark, ohlcv.fake_bars(n_bars=2)), bronze)
    before = spark.read.parquet(bronze).count()
    ohlcv.compact_day(spark, bronze, "2023-04-26")
    after_df = spark.read.parquet(bronze)
    assert after_df.count() == before  # content preserved


def _partition_bytes(root) -> dict[str, bytes]:
    """Every data file under a partitioned store, by relative path."""
    import os

    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if "=" in d and not f.startswith((".", "_")):
                path = os.path.join(d, f)
                with open(path, "rb") as fh:
                    out[os.path.relpath(path, root)] = fh.read()
    return out


def test_day_writers_keep_session_overwrite_mode(spark, tmp_path):
    """export_day and compact_day overwrite partitions dynamically per
    write: the session's partitionOverwriteMode is left as it was, and
    another day's gold partition survives the export."""
    bronze, gold = str(tmp_path / "b"), str(tmp_path / "g")
    src = OhlcvRestSource("k")
    for start in ("2023-04-26T00:00:00", "2023-04-27T00:00:00"):
        bars = ohlcv.fake_bars(start=start + ".0000000Z", n_bars=2)
        ohlcv.append_bars(src.to_df(spark, bars), bronze)
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")  # the default: a full overwrite
    assert ohlcv.export_day(spark, bronze, gold, "2023-04-26") == 6
    assert ohlcv.export_day(spark, bronze, gold, "2023-04-27") == 6
    ohlcv.compact_day(spark, bronze, "2023-04-26")
    assert spark.conf.get(key) == "static"
    days = spark.read.parquet(gold).groupBy("period_date").count()
    gold_days = {str(r["period_date"]): r["count"] for r in days.collect()}
    assert gold_days == {"2023-04-26": 6, "2023-04-27": 6}
    assert spark.read.parquet(bronze).count() == 12


def test_export_day_empty_day_writes_nothing(spark, tmp_path):
    """A date with no bronze rows exports 0 rows, writes no partition,
    and leaves the gold days already there byte-for-byte intact."""
    import os

    bronze, gold = str(tmp_path / "b"), str(tmp_path / "g")
    src = OhlcvRestSource("k")
    ohlcv.append_bars(src.to_df(spark, ohlcv.fake_bars(n_bars=3)), bronze)
    assert ohlcv.export_day(spark, bronze, gold, "2023-04-26") == 9
    before = _partition_bytes(gold)
    assert ohlcv.export_day(spark, bronze, gold, "2023-04-25") == 0
    assert _partition_bytes(gold) == before
    assert sorted(d for d in os.listdir(gold) if "=" in d) == [
        "period_date=2023-04-26"
    ]


def test_ingest_tick_dedupe_over_many_one_bar_files(spark, tmp_path):
    """Dedupe against a realistic bronze day: one file per bar per coin
    (the 5-minute cadence's layout), so the existing-keys scan packs
    many tiny files per task. A replay of an older bar keeps nothing,
    a new bar keeps one row per coin, and its replay keeps nothing."""
    import os

    bronze = str(tmp_path / "bronze")
    n_bars = 60
    bars = ohlcv.fake_bars(n_bars=n_bars + 1)
    new_bar_start = bars[n_bars]["time_period_start"]
    day = [b for b in bars if b["time_period_start"] < new_bar_start]
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try:
        ohlcv.append_bars(OhlcvRestSource("k").to_df(spark, day), bronze)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    for coin in ("bitcoin", "ethereum", "ripple"):
        part = os.path.join(bronze, "period_date=2023-04-26", f"coin={coin}")
        files = [f for f in os.listdir(part) if f.endswith(".parquet")]
        assert len(files) == n_bars

    def serving(i):
        def fetcher(url, headers):
            sym = url.split("/")[-2].split("_")[2]
            coin = {"BTC": "bitcoin", "ETH": "ethereum", "XRP": "ripple"}[sym]
            return [
                {k: v for k, v in b.items() if k != "coin"}
                for b in bars
                if b["coin"] == coin
            ][i : i + 1]

        return OhlcvRestSource("k", fetcher=fetcher)

    assert ohlcv.ingest_tick(spark, serving(n_bars // 3), bronze, dedupe=True) == 0
    assert ohlcv.ingest_tick(spark, serving(n_bars), bronze, dedupe=True) == 3
    assert ohlcv.ingest_tick(spark, serving(n_bars), bronze, dedupe=True) == 0
    keys = spark.read.parquet(bronze).select("coin", "time_period_start")
    assert keys.count() == keys.distinct().count() == 3 * (n_bars + 1)


def _jobs_run(spark, group, fn, *args):
    """``fn(*args)`` and the ids of the Spark jobs it ran, labelled with
    ``group`` through ``setJobGroup``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_to_df_plans_local_table_scan(spark):
    """The fetched bars reach the JVM as one Arrow table: the tick's frame
    is a LocalTableScan, not an RDD of pickled rows that needs a Python
    worker per partition."""
    df = _source().to_df(spark, _source().fetch_latest())
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert df.count() == 3


def test_local_frame_reads_tuples_dicts_and_rows(spark):
    """Tuples and Rows are read by position, dicts by field name (a missing
    name is null, an extra key ignored); an empty list keeps the schema."""
    from pyspark.sql import Row

    from etl_project_spark.session import local_frame

    ddl = "a long, b double, c string, v array<double>"
    rows = [(1, 2.0, "x", [1.0]), Row(2, 3.0, "y", []), {"b": 4.0, "a": 3, "z": 0}]
    df = local_frame(spark, rows, ddl)
    assert [tuple(r) for r in df.collect()] == [
        (1, 2.0, "x", [1.0]),
        (2, 3.0, "y", []),
        (3, 4.0, None, None),
    ]
    assert df.schema == spark.createDataFrame([], ddl).schema
    empty = local_frame(spark, [], ddl)
    assert empty.count() == 0 and empty.schema == df.schema
    assert "LocalTableScan" in empty._jdf.queryExecution().executedPlan().toString()


def test_tick_runs_one_job_first_and_none_on_a_warm_replay(spark, tmp_path):
    """The bronze schema is declared, so a tick infers none, and a dedupe
    tick reads the files the day snapshot has not seen with pyarrow on
    the driver: the first tick (no store, so no dedupe) runs only its
    write job; a replay reads the first tick's 3 files without a job and
    writes nothing; a replay against the warm snapshot runs no job
    either."""
    bronze = str(tmp_path / "bronze")
    n, jobs = _jobs_run(
        spark, "test:first_tick", ohlcv.ingest_tick, spark, _source(), bronze,
        "5MIN", 1, True,
    )
    assert n == 3 and len(jobs) == 1
    n, jobs = _jobs_run(
        spark, "test:dedupe_tick", ohlcv.ingest_tick, spark, _source(), bronze,
        "5MIN", 1, True,
    )
    assert n == 0 and jobs == []
    n, jobs = _jobs_run(
        spark, "test:warm_replay", ohlcv.ingest_tick, spark, _source(), bronze,
        "5MIN", 1, True,
    )
    assert n == 0 and jobs == []


def test_bronze_schema_is_what_the_tick_writes(spark, tmp_path):
    """The declared bronze schema equals the schema Spark infers from the
    store a tick wrote, so the constant cannot drift from the writer."""
    from etl_project_spark.sources.rest import BRONZE_SCHEMA

    bronze = str(tmp_path / "bronze")
    assert ohlcv.ingest_tick(spark, _source(), bronze) == 3
    assert spark.read.parquet(bronze).schema == BRONZE_SCHEMA


def _spy_listings(monkeypatch) -> list[list[str]]:
    """The files every bronze listing (``_list_days``) returns from now
    on, one list per listing."""
    list_days = ohlcv._list_days
    seen = []

    def spy(root, days):
        files = list_days(root, days)
        seen.append(list(files))
        return files

    monkeypatch.setattr(ohlcv, "_list_days", spy)
    return seen


def _spy_reads(monkeypatch) -> list[set[str]]:
    """The paths of the bronze files each snapshot read (one pyarrow
    dataset) brings to the driver from now on, one set per read."""
    dataset = ohlcv.pads.dataset
    reads = []

    def spy(paths, **kwargs):
        reads.append(set(paths))
        return dataset(paths, **kwargs)

    monkeypatch.setattr(ohlcv.pads, "dataset", spy)
    return reads


def _day_files(bronze, day) -> set[str]:
    import os

    return {
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(bronze, f"period_date={day}"))
        for f in fs
        if f.endswith(".parquet")
    }


def test_bronze_reads_list_only_the_day(spark, tmp_path, monkeypatch):
    """A store with many history days: the tick's key scan and
    ``export_day`` list and read only the current day's files, and their
    results are the ones a read of the whole store filtered to the day
    gives."""
    import datetime as dt
    import os

    bronze, gold = str(tmp_path / "b"), str(tmp_path / "g")
    history = [
        bar
        for d in range(40)
        for bar in ohlcv.fake_bars(
            start=f"{dt.date(2023, 3, 1) + dt.timedelta(days=d)}T00:00:00.0000000Z",
            n_bars=2,
        )
    ]
    ohlcv.append_bars(OhlcvRestSource("k").to_df(spark, history), bronze)
    ohlcv.append_bars(
        OhlcvRestSource("k").to_df(spark, ohlcv.fake_bars(n_bars=4)), bronze
    )
    day = "2023-04-26"
    assert len([d for d in os.listdir(bronze) if d.startswith("period_date=")]) > 40

    seen = _spy_listings(monkeypatch)
    reads = _spy_reads(monkeypatch)
    assert ohlcv.ingest_tick(spark, _source(), bronze, dedupe=True) == 0
    assert ohlcv.export_day(spark, bronze, gold, day) == 12
    assert len(seen) == 2
    day_files = _day_files(bronze, day)
    for files in seen:
        assert set(files) == day_files
    assert set().union(*reads) == day_files

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    whole = spark.read.parquet(bronze).filter(F.col("period_date") == F.lit(day))
    assert rows(spark.read.parquet(gold)) == rows(whole)


def test_read_days_drops_days_without_a_directory(spark, tmp_path):
    """Several days are read through one glob: a day with no directory
    drops out, and a read with no day directory raises like a missing
    store does."""
    import pytest
    from pyspark.errors import AnalysisException

    bronze = str(tmp_path / "b")
    ohlcv.append_bars(
        OhlcvRestSource("k").to_df(spark, ohlcv.fake_bars(n_bars=2)), bronze
    )
    assert ohlcv._read_days(spark, bronze, ["2023-04-27", "2023-04-26"]).count() == 6
    for path in (bronze, str(tmp_path / "missing")):
        with pytest.raises(AnalysisException):
            ohlcv._read_days(spark, path, ["2023-04-24", "2023-04-25"])


def _one_bar_day(spark, bronze, n_bars, start="2023-04-26T00:00:00.0000000Z"):
    """A bronze day of one file per bar and coin (the 5-minute cadence's
    layout); returns every bar of the day and the next bar, not written."""
    bars = ohlcv.fake_bars(start=start, n_bars=n_bars + 1)
    last = bars[n_bars]["time_period_start"]
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try:
        ohlcv.append_bars(
            OhlcvRestSource("k").to_df(
                spark, [b for b in bars if b["time_period_start"] < last]
            ),
            bronze,
        )
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    return bars, last


def _serving(bars, start):
    """A source that serves, per coin, the bar starting at ``start``."""

    def fetcher(url, headers):
        sym = url.split("/")[-2].split("_")[2]
        coin = {"BTC": "bitcoin", "ETH": "ethereum", "XRP": "ripple"}[sym]
        return [
            {k: v for k, v in b.items() if k != "coin"}
            for b in bars
            if b["coin"] == coin and b["time_period_start"] == start
        ]

    return OhlcvRestSource("k", fetcher=fetcher)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _store_day(spark, bronze, day):
    return spark.read.parquet(bronze).filter(F.col("period_date") == F.lit(day))


def test_warm_tick_reads_only_the_new_files(spark, tmp_path, monkeypatch):
    """After a warm read of the day, a tick whose day gained k files
    (the previous tick's, one per coin) reads exactly those k files, with
    no job, and keeps the replayed bars out."""
    bronze, day = str(tmp_path / "b"), "2023-04-26"
    bars, last = _one_bar_day(spark, bronze, 10)
    assert ohlcv._read_days(spark, bronze, [day]).count() == 30
    before = _day_files(bronze, day)
    assert ohlcv.ingest_tick(spark, _serving(bars, last), bronze, dedupe=True) == 3
    new = _day_files(bronze, day) - before
    assert len(new) == 3
    reads = _spy_reads(monkeypatch)
    n, jobs = _jobs_run(
        spark, "test:warm_tick", ohlcv.ingest_tick, spark, _serving(bars, last),
        bronze, "5MIN", 1, True,
    )
    assert n == 0 and jobs == []
    assert reads == [new]


def test_snapshot_sees_a_file_an_outside_writer_adds(spark, tmp_path):
    """A bar written into the day by pyarrow after the day was read is
    seen by the next dedupe (its coin's bar is not appended again) and
    by ``export_day``."""
    import os

    import pyarrow.parquet as pq

    bronze, gold, day = str(tmp_path / "b"), str(tmp_path / "g"), "2023-04-26"
    bars, last = _one_bar_day(spark, bronze, 4)
    assert ohlcv.export_day(spark, bronze, gold, day) == 12
    btc = [b for b in bars if b["coin"] == "bitcoin" and b["time_period_start"] == last]
    table = (
        OhlcvRestSource("k").to_df(spark, btc).drop("period_date", "coin").toArrow()
    )
    part = os.path.join(bronze, f"period_date={day}", "coin=bitcoin")
    pq.write_table(table, os.path.join(part, "part-backfill-000.parquet"))
    assert ohlcv.ingest_tick(spark, _serving(bars, last), bronze, dedupe=True) == 2
    assert ohlcv.export_day(spark, bronze, gold, day) == 15
    keys = _store_day(spark, bronze, day).select("coin", "time_period_start")
    assert keys.count() == keys.distinct().count() == 15
    assert _rows(spark.read.parquet(gold)) == _rows(_store_day(spark, bronze, day))


def test_compacted_files_leave_the_snapshot(spark, tmp_path):
    """``compact_day`` replaces the day's files: the removed files leave
    the snapshot on the next read, and ``export_day`` gives the whole
    store filtered to the day, with no row doubled."""
    from urllib.parse import unquote, urlparse

    bronze, gold, day = str(tmp_path / "b"), str(tmp_path / "g"), "2023-04-26"
    _one_bar_day(spark, bronze, 8)
    assert ohlcv.export_day(spark, bronze, gold, day) == 24
    ohlcv.compact_day(spark, bronze, day)
    compacted = _day_files(bronze, day)
    assert len(compacted) == 3
    assert ohlcv.export_day(spark, bronze, gold, day) == 24
    (held,) = ohlcv._SNAPSHOT[bronze].values()
    assert {unquote(urlparse(f).path) for f in held.files} == compacted
    assert _rows(spark.read.parquet(gold)) == _rows(_store_day(spark, bronze, day))
    assert spark.read.parquet(gold).distinct().count() == 24


def test_day_listing_skips_what_spark_skips(spark, tmp_path):
    """A day directory that also holds a ``_SUCCESS`` marker, checksum
    files, a file still being copied, an empty data file and a
    ``_temporary`` attempt directory reads exactly the rows Spark's own
    read of the store gives for the day: none of those files is read or
    held."""
    import os
    import shutil

    bronze, day = str(tmp_path / "b"), "2023-04-26"
    _one_bar_day(spark, bronze, 3)
    part = os.path.join(bronze, f"period_date={day}", "coin=bitcoin")
    data = sorted(f for f in os.listdir(part) if f.endswith(".parquet"))[0]
    attempt = os.path.join(part, "_temporary", "0")
    os.makedirs(attempt)
    for copy in (
        os.path.join(attempt, data),  # a bar twice, if it were read
        os.path.join(part, data + "._COPYING_"),
        os.path.join(part, "." + data),
    ):
        shutil.copy(os.path.join(part, data), copy)
    for marker in (
        "_SUCCESS",
        "coin=bitcoin/_SUCCESS",
        "coin=bitcoin/.part-0.crc",
        "coin=bitcoin/part-empty.parquet",  # Spark skips an empty file
    ):
        open(os.path.join(bronze, f"period_date={day}", marker), "w").close()
    assert _rows(ohlcv._read_days(spark, bronze, [day])) == _rows(
        _store_day(spark, bronze, day)
    )
    (held,) = ohlcv._SNAPSHOT[bronze].values()
    assert len(held.files) == 9 and held.rows.num_rows == 9


def test_uri_and_relative_roots_share_the_snapshot(spark, tmp_path, monkeypatch):
    """A ``file:`` URI and a relative path name the same local store as
    its absolute path: the same rows, one snapshot entry under the
    absolute path, and the day's files read once."""
    import os

    bronze, day = str(tmp_path / "b"), "2023-04-26"
    _one_bar_day(spark, bronze, 3)
    want = _rows(_store_day(spark, bronze, day))
    reads = _spy_reads(monkeypatch)
    for root in (bronze, f"file://{bronze}", f"file:{bronze}/", os.path.relpath(bronze)):
        assert _rows(ohlcv._read_days(spark, root, [day])) == want
    assert [len(r) for r in reads] == [9]
    assert [k for k in ohlcv._SNAPSHOT if k.startswith(str(tmp_path))] == [bronze]


def _close_a_day(spark, root):
    """Ticks (a new bar, its replay), the day's export and compaction on a
    one-bar-file day: what each step returned, and the stores after."""
    bronze, gold, day = f"{root}/b", f"{root}/g", "2023-04-26"
    bars, last = _one_bar_day(spark, bronze, 6)
    ticks = [
        ohlcv.ingest_tick(spark, _serving(bars, last), bronze, dedupe=True)
        for _ in range(2)
    ]
    exported = ohlcv.export_day(spark, bronze, gold, day)
    ohlcv.compact_day(spark, bronze, day)
    plan = ohlcv._read_days(spark, bronze, [day])._jdf.queryExecution()
    return (
        ticks,
        exported,
        _rows(spark.read.parquet(gold)),
        _rows(spark.read.parquet(bronze)),
        plan.executedPlan().toString(),
    )


def test_scan_path_matches_the_snapshot(spark, tmp_path, monkeypatch):
    """With ``spark.sql.autoBroadcastJoinThreshold=-1`` no day fits the
    snapshot's bound, and a store off the local filesystem is never
    held, so every bronze read of either is the day scan itself; tick,
    export and compaction give what the snapshot path gives."""
    held = _close_a_day(spark, str(tmp_path / "held"))
    key = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(key, "-1")
    try:
        scanned = _close_a_day(spark, str(tmp_path / "scanned"))
        assert str(tmp_path / "scanned" / "b") not in ohlcv._SNAPSHOT
    finally:
        spark.conf.unset(key)
    with monkeypatch.context() as m:  # as an s3a:// or hdfs:// root would be
        m.setattr(ohlcv, "_local_root", lambda path: None)
        remote = _close_a_day(spark, str(tmp_path / "remote"))
    assert str(tmp_path / "remote" / "b") not in ohlcv._SNAPSHOT
    assert held[:2] == scanned[:2] == remote[:2] == ([3, 0], 21)
    assert held[2:4] == scanned[2:4] == remote[2:4]
    assert "LocalTableScan" in held[4] and "FileScan" not in held[4]
    assert "FileScan parquet" in scanned[4] and "FileScan parquet" in remote[4]


def test_snapshot_bound_evicts_the_oldest_day(spark, tmp_path, monkeypatch):
    """The snapshot holds at most ``spark.sql.autoBroadcastJoinThreshold``
    of listed bytes per store: a third day over the bound evicts the
    least recently read one. A new ``applicationId`` clears it."""
    bronze = str(tmp_path / "b")
    days = ["2023-04-26", "2023-04-27", "2023-04-28"]
    for day in days:
        _one_bar_day(spark, bronze, 4, start=f"{day}T00:00:00.0000000Z")
    sizes = []
    for day in days:
        ohlcv._read_days(spark, bronze, [day])
        sizes.append(ohlcv._SNAPSHOT[bronze][(f"period_date={day}",)].nbytes)
    assert max(sizes) * 2 < sum(sizes) * 0.8  # two days fit, three do not
    key = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(key, str(int(sum(sizes) * 0.8)))
    try:
        ohlcv._SNAPSHOT.pop(bronze)
        for day in days:
            assert ohlcv._read_days(spark, bronze, [day]).count() == 12
        assert list(ohlcv._SNAPSHOT[bronze]) == [
            (f"period_date={day}",) for day in days[1:]
        ]
        monkeypatch.setattr(ohlcv, "_SNAPSHOT_APP_ID", "an-earlier-app")
        ohlcv._read_days(spark, bronze, days[:1])
        assert list(ohlcv._SNAPSHOT) == [bronze]
        assert list(ohlcv._SNAPSHOT[bronze]) == [(f"period_date={days[0]}",)]
    finally:
        spark.conf.unset(key)


def test_csv_export_contract(spark, tmp_path):
    """K2: headerless, id first — column order load-bearing (SURVEY.md §1)."""
    path = str(tmp_path / "csv")
    df = spark.createDataFrame(
        [(10.5, 1, "a"), (20.5, 2, "b")], "volume double, id int, name string"
    )
    write_csv_export(df, path, single_file=True)
    back = read_csv(
        spark, path, schema="id int, volume double, name string", header=False
    )
    rows = {r["id"]: r for r in back.collect()}
    assert rows[1]["volume"] == 10.5 and rows[2]["name"] == "b"


def test_streaming_bars_match_batch(spark, sf_dir, tmp_path):
    """AvailableNow streaming windowed bars == batch ts4 OHLCV resample."""
    from etl_project_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "events_stream")
    # Append-mode watermarking only emits windows the watermark has passed,
    # so the stream's final real window would otherwise stay open forever.
    # A sentinel event far past the last real bar closes them all; its own
    # (still-open) window is never emitted, so it can't pollute the output.
    sentinel_ts = ev.agg(
        (F.max("ts") + F.expr("INTERVAL 2 HOURS")).alias("t")
    ).collect()[0]["t"]
    sentinel = ev.limit(1).withColumn("ts", F.lit(sentinel_ts).cast(dict(ev.dtypes)["ts"]))
    ev.unionByName(sentinel).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = sp.file_event_stream(spark, src_dir, schema)
    bars = sp.windowed_bars(stream, window="1 hour")
    sp.run_available_now(
        bars, str(tmp_path / "ckpt"), output_mode="append", queryName="bars_test"
    )
    got = spark.sql("SELECT * FROM bars_test")
    from etl_project_spark.registry import get

    expected = get("ts4_ohlcv_resample").fn(spark, sf_dir)
    g = {tuple(map(str, r)) for r in got.collect()}
    e = {tuple(map(str, r)) for r in expected.collect()}
    assert g == e


def test_stateful_running_totals_match_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState running totals after consuming the whole
    stream == plain batch groupBy aggregate."""
    from etl_project_spark.catalog import load_table
    from etl_project_spark.streaming import stateful

    ev = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "ev_state")
    ev.write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = sp.file_event_stream(spark, src_dir, schema)
    out = stateful.running_totals(stream)
    sp.run_available_now(
        out, str(tmp_path / "ck_state"), output_mode="update", queryName="state_test"
    )
    # update mode re-emits per batch; keep each key's final emission
    got = {
        r["user_id"]: (r["n_events"], round(r["sum_value"], 6), r["max_value"])
        for r in spark.sql("SELECT * FROM state_test").collect()
    }
    expected = {
        r["user_id"]: (r["n"], round(r["s"], 6), r["mx"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("s"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert got == expected


def test_stateful_threshold_alert_latches(spark, tmp_path):
    """The alert fires exactly once per key even across micro-batches."""
    from etl_project_spark.streaming import stateful

    rows = [(1, 10.0), (1, 100.0), (1, 150.0), (2, 5.0), (3, 99.5)]
    df = spark.createDataFrame(rows, "user_id long, value double")
    src_dir = str(tmp_path / "alert_src")
    # two files → availableNow processes them as separate micro-batches,
    # exercising the cross-batch latch
    df.filter(F.col("value") < 99).write.parquet(src_dir)
    df.filter(F.col("value") >= 99).write.mode("append").parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = sp.file_event_stream(spark, src_dir, schema, max_files_per_trigger=1)
    out = stateful.threshold_alerts(stream, threshold=99.0)
    sp.run_available_now(
        out, str(tmp_path / "ck_alert"), output_mode="update", queryName="alert_test"
    )
    alerts = spark.sql("SELECT * FROM alert_test").collect()
    by_key = {}
    for r in alerts:
        by_key.setdefault(r["user_id"], []).append(r["first_alert_value"])
    assert set(by_key) == {1, 3}  # user 2 never crosses
    assert all(len(v) == 1 for v in by_key.values())  # exactly-once latch


def test_streaming_sessions_run(spark, sf_dir, tmp_path):
    from etl_project_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "ev2")
    ev.write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = sp.file_event_stream(spark, src_dir, schema)
    sess = sp.keyed_session_stats(stream)
    sp.run_available_now(
        sess, str(tmp_path / "ck2"), output_mode="append", queryName="sess_test"
    )
    out = spark.sql("SELECT * FROM sess_test")
    assert out.count() > 0
    assert set(out.columns) == {
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        "sum_value",
    }


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: replayed event_ids across
    micro-batches are dropped; output is one row per id."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [(i, t0 + dt.timedelta(seconds=i), float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    src_dir = str(tmp_path / "dd_src")
    df.write.parquet(src_dir)                      # batch 1
    df.write.mode("append").parquet(src_dir)       # batch 2 = full replay
    schema = spark.read.parquet(src_dir).schema
    stream = sp.file_event_stream(spark, src_dir, schema, max_files_per_trigger=1)
    out = sp.dedup_stream(stream, ["event_id"], watermark="1 hour")
    sp.run_available_now(
        out, str(tmp_path / "ck_dd"), output_mode="append", queryName="dd_test"
    )
    got = spark.sql("SELECT event_id FROM dd_test").toPandas()["event_id"]
    assert sorted(got) == list(range(10))


def test_streaming_enrich_with_dim(spark, sf_dir, tmp_path):
    """Stream-static join attaches dimension attrs to every event."""
    from etl_project_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").limit(200)
    src_dir = str(tmp_path / "en_src")
    ev.write.parquet(src_dir)
    n_src = spark.read.parquet(src_dir).count()
    dim = spark.createDataFrame(
        [("click", "ui"), ("view", "ui"), ("error", "ops")],
        "event_type string, team string",
    )
    schema = spark.read.parquet(src_dir).schema
    stream = sp.file_event_stream(spark, src_dir, schema)
    out = sp.enrich_stream(stream, dim, on="event_type")
    sp.run_available_now(
        out, str(tmp_path / "ck_en"), output_mode="append", queryName="en_test"
    )
    got = spark.sql("SELECT * FROM en_test")
    assert got.count() == n_src  # left join keeps every event
    assert "team" in got.columns
    assert got.filter(F.col("team").isNotNull()).count() > 0


def test_partition_overwrite_sink_idempotent(spark, tmp_path):
    """Replaying the same data through a fresh checkpoint converges to
    the same gold content (idempotent overwrite), unlike blind append."""
    import datetime as dt

    rows = [
        (i, dt.date(2024, 1, 1 + (i % 2)), float(i)) for i in range(8)
    ]
    df = spark.createDataFrame(rows, "id long, period_date date, value double")
    src_dir, gold = str(tmp_path / "po_src"), str(tmp_path / "po_gold")
    df.write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    for attempt in range(2):  # second run = full replay, fresh checkpoint
        stream = sp.file_event_stream(spark, src_dir, schema)
        q = sp.partition_overwrite_sink(
            stream, gold, str(tmp_path / f"ck_po_{attempt}")
        )
        q.awaitTermination()
    out = spark.read.parquet(gold)
    assert out.count() == 8  # not 16: replay overwrote, didn't append
    assert {str(d["period_date"]) for d in out.select("period_date").distinct().collect()} == {
        "2024-01-01",
        "2024-01-02",
    }


def test_python_datasource_reads_coinapi_format(spark):
    """S1 as a native Spark 4 Python DataSource: spark.read.format
    ("coinapi") with a hermetic fixture — one input partition per coin,
    rows normalized downstream like any other source."""
    import json as _json

    from etl_project_spark.sources.rest import (
        normalize_bars,
        register_coinapi_source,
    )

    bars = ohlcv.fake_bars(n_bars=2)
    by_coin = {}
    for b in bars:
        by_coin.setdefault(b["coin"], []).append(
            {k: v for k, v in b.items() if k != "coin"}
        )
    register_coinapi_source(spark)
    raw = (
        spark.read.format("coinapi")
        .option("fixture_json", _json.dumps(by_coin))
        .option("limit", "2")
        .load()
    )
    assert raw.rdd.getNumPartitions() == 3  # one per coin (O3 fan-out)
    df = normalize_bars(raw)
    assert df.count() == 6
    assert set(r["coin"] for r in df.select("coin").distinct().collect()) == {
        "bitcoin",
        "ethereum",
        "ripple",
    }
    assert dict(df.dtypes)["time_period_start"].startswith("timestamp")
    assert dict(df.dtypes)["period_date"] == "date"


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream click→purchase attribution == the same interval
    join run as plain batch over identical inputs."""
    from etl_project_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").limit(3000)
    clicks_dir, purch_dir = str(tmp_path / "ss_c"), str(tmp_path / "ss_p")
    ev.filter(F.col("event_type") == "click").write.parquet(clicks_dir)
    ev.filter(F.col("event_type") == "purchase").write.parquet(purch_dir)
    c_schema = spark.read.parquet(clicks_dir).schema
    p_schema = spark.read.parquet(purch_dir).schema
    out = sp.clicks_to_purchases(
        sp.file_event_stream(spark, clicks_dir, c_schema),
        sp.file_event_stream(spark, purch_dir, p_schema),
    )
    sp.run_available_now(
        out, str(tmp_path / "ck_ss"), output_mode="append", queryName="ss_test"
    )
    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.sql("SELECT * FROM ss_test").collect()
    }
    c = spark.read.parquet(clicks_dir).selectExpr(
        "user_id AS c_user", "CAST(ts AS timestamp) AS click_ts",
        "event_id AS click_id"
    )
    p = spark.read.parquet(purch_dir).selectExpr(
        "user_id AS p_user", "CAST(ts AS timestamp) AS purchase_ts",
        "event_id AS purchase_id"
    )
    expected = {
        (r["click_id"], r["purchase_id"])
        for r in c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 30 minutes")
            ),
        ).collect()
    }
    assert got == expected
    assert len(got) > 0


def test_format_round_trips(spark, sf_dir, tmp_path):
    """parquet/orc/json/csv round-trips preserve rows and values; the
    columnar formats also preserve the schema without a reader hint."""
    from etl_project_spark.catalog import load_table
    from etl_project_spark.sources.files import read_table, write_table

    src = load_table(spark, sf_dir, "orders").limit(500)
    want = {
        (r["o_orderkey"], str(r["o_orderdate"]), r["o_totalprice"])
        for r in src.collect()
    }
    for fmt in ["parquet", "orc", "json", "csv"]:
        path = str(tmp_path / fmt)
        opts = {"header": "true"} if fmt == "csv" else {}
        write_table(src, path, fmt=fmt, **opts)
        schema = src.schema if fmt in ("json", "csv") else None
        back = read_table(spark, path, fmt=fmt, schema=schema, **opts)
        got = {
            (r["o_orderkey"], str(r["o_orderdate"]), r["o_totalprice"])
            for r in back.collect()
        }
        assert got == want, fmt
        if fmt in ("parquet", "orc"):
            assert back.schema == src.schema


def test_stateful_shard_packer_matches_greedy_replay(spark, sf_dir, tmp_path):
    """Streaming shard packing over the whole corpus == a driver-side
    greedy replay in the same (source, doc_id) order, and every shard
    except each source's open last one respects the token budget."""
    from etl_project_spark.catalog import load_table
    from etl_project_spark.streaming import stateful

    budget = 512
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            "doc_id",
            F.size(F.split(F.lower("text"), " ")).alias("n_tokens"),
        )
    )
    src_dir = str(tmp_path / "docs_pack")
    docs.write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = sp.file_event_stream(spark, src_dir, schema)
    out = stateful.shard_packer(stream, shard_tokens=budget)
    sp.run_available_now(
        out, str(tmp_path / "ck_pack"), output_mode="append", queryName="pack_test"
    )
    got = {
        (r["source"], r["doc_id"]): r["shard_id"]
        for r in spark.sql("SELECT * FROM pack_test").collect()
    }
    # greedy replay per source in doc_id order (single batch => batch
    # order == global doc_id order within each source group)
    expected = {}
    fill: dict[str, tuple[int, int]] = {}
    for r in sorted(docs.collect(), key=lambda r: (r["source"], r["doc_id"])):
        shard, filled = fill.get(r["source"], (0, 0))
        if filled > 0 and filled + r["n_tokens"] > budget:
            shard, filled = shard + 1, 0
        expected[(r["source"], r["doc_id"])] = shard
        fill[r["source"]] = (shard, filled + r["n_tokens"])
    assert got == expected


def test_stateful_latest_snapshot_matches_batch_cdc1(spark, sf_dir, tmp_path):
    """applyInPandasWithState latest-value snapshot after consuming the
    whole stream == the batch cdc1 aggregate (same tie-break)."""
    from etl_project_spark.catalog import load_table
    from etl_project_spark.operators.cdc import cdc1_latest_snapshot
    from etl_project_spark.streaming import stateful

    ev = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "ev_snap")
    ev.write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = sp.file_event_stream(spark, src_dir, schema)
    out = stateful.latest_snapshot(stream)
    sp.run_available_now(
        out, str(tmp_path / "ck_snap"), output_mode="update", queryName="snap_test"
    )
    got = {
        (r["user_id"], r["event_type"]): (
            r["last_ts"],
            round(r["last_value"], 9),
            r["n_versions"],
        )
        for r in spark.sql("SELECT * FROM snap_test").collect()
    }
    expected = {
        (r["user_id"], r["event_type"]): (
            r["last_ts"],
            round(r["last_value"], 9),
            r["n_versions"],
        )
        for r in cdc1_latest_snapshot(spark, sf_dir).collect()
    }
    assert got == expected


def test_streaming_session_paths_match_batch_an3(spark, sf_dir, tmp_path):
    """AvailableNow session_window sessionization == an3's lag/cumsum
    sessionization: after replaying the whole events table, the
    per-session path rows aggregate to exactly an3's top paths
    (including the strict gap>1800 boundary and (ts, event_id)
    tie-breaks)."""
    from etl_project_spark.catalog import load_table
    from etl_project_spark.registry import get

    ev = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "ev_sessions")
    # append-mode sessions emit only once the watermark passes their
    # gap; a sentinel far past the last event closes every real
    # session (its own open session is never emitted — filtered below)
    sentinel_ts = ev.agg(
        (F.max("ts") + F.expr("INTERVAL 6 HOURS")).alias("t")
    ).collect()[0]["t"]
    sentinel = (
        ev.limit(1)
        .withColumn("ts", F.lit(sentinel_ts).cast(dict(ev.dtypes)["ts"]))
        .withColumn("user_id", F.lit(-1).cast("long"))
    )
    ev.unionByName(sentinel).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = sp.file_event_stream(spark, src_dir, schema)
    sessions = sp.session_paths_stream(stream)
    sp.run_available_now(
        sessions,
        str(tmp_path / "ck_sessions"),
        output_mode="append",
        queryName="sess_paths_test",
    )
    got = (
        spark.sql("SELECT * FROM sess_paths_test")
        .filter(F.col("user_id") >= 0)  # drop the sentinel user
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(20)
        .collect()
    )
    expected = get("an3_session_paths").fn(spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in expected]


def test_stateful_heavy_hitters_superset(spark, sf_dir, tmp_path):
    """Streaming MG sketch after consuming the whole corpus: the union
    of per-group candidates covers every true >=1/k heavy hitter, and
    state stays bounded at <= k counters per group."""
    from collections import Counter

    from etl_project_spark.catalog import load_table
    from etl_project_spark.streaming import stateful

    k, n_groups = 32, 8
    tok = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).withColumn("grp", F.pmod(F.xxhash64("w"), F.lit(n_groups)).cast("int"))
    src_dir = str(tmp_path / "tok_src")
    tok.write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = sp.file_event_stream(spark, src_dir, schema)
    out = stateful.heavy_hitters_stream(stream, k=k, n_groups=n_groups)
    sp.run_available_now(
        out, str(tmp_path / "ck_hh"), output_mode="update", queryName="hh_test"
    )
    rows = spark.sql("SELECT * FROM hh_test").collect()
    # last emission per (grp, w) is the final sketch content
    candidates = {r["w"] for r in rows}
    per_group = Counter(r["grp"] for r in rows)
    assert all(c <= k for c in per_group.values()), per_group
    counts = Counter(
        w
        for d in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
        for w in d["text"].lower().split(" ")
    )
    n = sum(counts.values())
    true_hh = {w for w, c in counts.items() if c * k >= n}
    assert true_hh, "vacuous corpus"
    assert true_hh <= candidates, true_hh - candidates


def test_stateful_bucket_counts_match_batch_dq3(spark, sf_dir, tmp_path):
    """Streaming bucket counts after replaying the monitored window ==
    the batch dq3 psi report's n_cur column (same reference-fitted
    grid, same clamp rule)."""
    from etl_project_spark.catalog import load_table
    from etl_project_spark.operators.core import PSI_SPLIT, PSI_BUCKETS
    from etl_project_spark.registry import all_queries
    from etl_project_spark.streaming import stateful

    ev = load_table(spark, sf_dir, "events")
    split = F.lit(PSI_SPLIT).cast("timestamp")
    ref = ev.filter(F.col("ts") < split)
    bounds = ref.agg(
        F.min("value").alias("mn"),
        ((F.max("value") - F.min("value")) / PSI_BUCKETS).alias("w"),
    ).collect()[0]
    cur = ev.filter(F.col("ts") >= split).select("value")
    src_dir = str(tmp_path / "psi_src")
    cur.write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = sp.file_event_stream(spark, src_dir, schema)
    out = stateful.bucket_counts_stream(
        stream, mn=bounds["mn"], width=bounds["w"], n_buckets=PSI_BUCKETS
    )
    sp.run_available_now(
        out, str(tmp_path / "ck_psi"), output_mode="update",
        queryName="psi_test",
    )
    # last emission per bucket = final running count
    rows = spark.sql(
        "SELECT bucket, MAX(n_cur) AS n_cur FROM psi_test GROUP BY bucket"
    ).collect()
    got = {r["bucket"]: r["n_cur"] for r in rows}
    want = {
        r["bucket"]: r["n_cur"]
        for r in all_queries()["dq3_psi_drift"](spark, sf_dir).collect()
        if r["n_cur"] > 0
    }
    assert got == want


def test_surrogate_id_dense_deterministic(spark):
    """with_surrogate_id(dense, order_by): ids are exactly start..n in
    sort order, and a second run reproduces them bit-for-bit — the
    SERIAL re-expression the reference's id-first CSV contract needs
    (airflow_dags.py:66-69)."""
    from etl_project_spark.sources.files import with_surrogate_id

    df = spark.range(0, 1000).select(
        (F.col("id") * 37 % 1000).alias("k"),
        (F.col("id") % 7).alias("v"),
    ).drop("id")
    out = with_surrogate_id(df, mode="dense", order_by=["k"])
    rows = out.orderBy("id").collect()
    assert [r["id"] for r in rows] == list(range(1, 1001))
    # dense numbering follows the sort order exactly
    ks = [r["k"] for r in rows]
    assert ks == sorted(ks)
    # id column rides first
    assert out.columns[0] == "id"
    again = with_surrogate_id(df, mode="dense", order_by=["k"]).collect()
    assert sorted((r["id"], r["k"], r["v"]) for r in again) == sorted(
        (r["id"], r["k"], r["v"]) for r in rows
    )
    # without order_by: dense over the incoming partitions as they are,
    # stamped in the JVM (no Python worker in the executed plan)
    unordered = with_surrogate_id(df.repartition(7), mode="dense")
    assert sorted(r["id"] for r in unordered.collect()) == list(range(1, 1001))
    for dense in (out, unordered):
        plan = dense._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan and "PythonMapInArrow" not in plan


def test_surrogate_id_unique_mode(spark):
    """mode='unique': monotonically_increasing_id — unique, id first,
    zero-shuffle (no dense guarantee)."""
    from etl_project_spark.sources.files import with_surrogate_id

    df = spark.range(0, 500).select((F.col("id") % 9).alias("v"))
    out = with_surrogate_id(df, mode="unique")
    assert out.columns[0] == "id"
    ids = [r["id"] for r in out.collect()]
    assert len(set(ids)) == 500


def test_csv_export_assigns_id_when_missing(spark, tmp_path):
    """An id-less day slice exports with a dense 1-based id first —
    the reference's SERIAL contract reproduced end to end. The one-file
    export runs only its write job and writes the bytes the multi-file
    numbering gives."""
    from etl_project_spark.sources.files import with_surrogate_id

    path = str(tmp_path / "csv_id")
    df = spark.createDataFrame(
        [(30.5, "c"), (10.5, "a"), (20.5, "b")], "volume double, name string"
    )
    _, jobs = _jobs_run(
        spark, "test:csv_export", write_csv_export, df, path, True, "dense", ["name"]
    )
    assert len(jobs) == 1  # the ids are numbered inside the write job
    back = read_csv(
        spark, path, schema="id long, volume double, name string", header=False
    )
    rows = sorted(back.collect(), key=lambda r: r["id"])
    assert [r["id"] for r in rows] == [1, 2, 3]
    assert [r["name"] for r in rows] == ["a", "b", "c"]
    # the same file the multi-file numbering gives, written as one file
    ref = str(tmp_path / "csv_ref")
    with_surrogate_id(df, order_by=["name"]).coalesce(1).write.csv(ref)
    assert _csv_bytes(path) == _csv_bytes(ref)
    # without order_by: the incoming order, still dense from 1
    many = spark.range(0, 50, numPartitions=4).select((F.col("id") * 2).alias("v"))
    write_csv_export(many, str(tmp_path / "csv_unordered"), single_file=True)
    back = read_csv(spark, str(tmp_path / "csv_unordered"), schema="id long, v long")
    assert sorted((r["id"], r["v"]) for r in back.collect()) == [
        (i + 1, 2 * i) for i in range(50)
    ]


def _csv_bytes(path) -> bytes:
    """The data files of a CSV directory, concatenated in name order."""
    import glob

    return b"".join(
        open(f, "rb").read() for f in sorted(glob.glob(f"{path}/part-*"))
    )


def test_dsir_vocab_stream_replays_to_batch_pp7(spark, sf_dir, tmp_path):
    """Running-vocab DSIR (SURVEY §12.6): after an AvailableNow replay
    of the exploded corpus in 4 micro-batches, the final streamed
    vocabulary snapshot scored through the SAME dsir_score_tokens code
    path equals the batch pp7 weights exactly."""
    from etl_project_spark.catalog import load_table
    from etl_project_spark.operators.dedup import _tokens
    from etl_project_spark.operators.pipeline import (
        PP7_TARGET,
        dsir_score_tokens,
    )
    from etl_project_spark.registry import all_queries
    from etl_project_spark.streaming import stateful

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "source", F.explode(_tokens()).alias("w"))
    src_dir = str(tmp_path / "dsir_src")
    # 4 files + maxFilesPerTrigger=1 -> 4 micro-batches: the vocabulary
    # state must genuinely accumulate across batches, not be rebuilt
    tok.repartition(4).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = sp.file_event_stream(
        spark, src_dir, schema, max_files_per_trigger=1
    )
    out = stateful.dsir_vocab_stream(stream, target=PP7_TARGET)
    sp.run_available_now(
        out, str(tmp_path / "ck_dsir"), output_mode="update",
        queryName="dsir_test",
    )
    # counters grow monotonically: MAX per token = final state
    vocab = spark.sql(
        "SELECT w, MAX(cr) AS cr, MAX(ct) AS ct FROM dsir_test GROUP BY w"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["log_ratio"])
        for r in dsir_score_tokens(tok, vocab).collect()
    }
    want = {
        r["doc_id"]: (r["n_tokens"], r["log_ratio"])
        for r in all_queries()["pp7_dsir_weights"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for d, (n, lr) in want.items():
        assert got[d][0] == n, d
        assert abs(got[d][1] - lr) < 2e-6, (d, got[d][1], lr)


def test_ingest_loop_processing_time_ticks(spark, tmp_path):
    """O1 steady-state: the processingTime loop fetches-and-appends on
    every trigger — after >=2 ticks the bronze store holds multiples of
    the per-tick row count (3 coins x 1 bar), proving the cadence loop
    actually re-fetches rather than processing once (the literal
    re-expression of the reference's */5 cron DAG)."""
    import itertools
    import time as _time

    calls = itertools.count()

    def fetcher(url, headers):
        # one fresh bar per coin per fetch: unique start times per tick
        # so appended batches are distinguishable
        n = next(calls)
        bars = ohlcv.fake_bars(coins=("bitcoin",), n_bars=1)
        for b in bars:
            b["time_period_start"] = (
                f"2023-04-26T{(n // 12) % 24:02d}:{(n % 12) * 5:02d}:00.0000000Z"
            )
        return bars

    src = OhlcvRestSource("k", coins={"bitcoin": "BITSTAMP_SPOT_BTC_USD"},
                          fetcher=fetcher)
    bronze = str(tmp_path / "bronze_loop")
    q = sp.ingest_loop(
        spark, src, bronze, str(tmp_path / "ck_loop"), interval="1 seconds"
    )
    try:
        import os

        deadline = _time.time() + 45
        while _time.time() < deadline:
            if os.path.isdir(bronze):
                try:
                    if spark.read.parquet(bronze).count() >= 2:
                        break
                except Exception:
                    pass  # first file still being written
            _time.sleep(1)
    finally:
        q.stop()
    got = spark.read.parquet(bronze)
    assert got.count() >= 2
    # every tick appended a distinct bar
    assert got.select("time_period_start").distinct().count() >= 2


def test_ingest_loop_restart_resumes_from_checkpoint(spark, tmp_path):
    """Stopping the processingTime loop and restarting it against the
    same checkpoint resumes the cadence (new ticks keep appending) —
    the restart semantics the streaming checkpoint owns in place of an
    external scheduler."""
    import os
    import time as _time

    # Each fetch serves the NEXT 5-min bar, like a live feed advancing.
    # (With a frozen bar the r6 idempotent dedupe would — correctly —
    # append nothing after the first tick and the test could not tell a
    # resumed query from a dead one.)
    tick_no = {"n": 0}

    def fetcher(url, headers):
        bars = ohlcv.fake_bars(coins=("bitcoin",), n_bars=tick_no["n"] + 1)
        tick_no["n"] += 1
        return bars[-1:]

    src = OhlcvRestSource(
        "k", coins={"bitcoin": "BITSTAMP_SPOT_BTC_USD"}, fetcher=fetcher
    )
    bronze = str(tmp_path / "bronze_rs")
    ck = str(tmp_path / "ck_rs")

    def run_until_rows(target: int) -> int:
        q = sp.ingest_loop(spark, src, bronze, ck, interval="1 seconds")
        try:
            deadline = _time.time() + 45
            while _time.time() < deadline:
                if os.path.isdir(bronze):
                    try:
                        n = spark.read.parquet(bronze).count()
                        if n >= target:
                            return n
                    except Exception:
                        pass
                _time.sleep(1)
        finally:
            q.stop()
        return spark.read.parquet(bronze).count()

    n1 = run_until_rows(1)
    assert n1 >= 1
    n2 = run_until_rows(n1 + 1)
    assert n2 > n1  # the restarted query kept ticking and appending


def test_stateful_rolling_zscore_matches_batch_ts7(spark, sf_dir, tmp_path):
    """Time-ordered 4-file replay of events through rolling_zscore_stream
    flags exactly the anomalies batch ts7_rolling_zscore reports, with
    the same stats at 6dp (the state walk reproduces the window frame
    because files are disjoint time slices replayed one per batch)."""
    from etl_project_spark.catalog import load_table
    from etl_project_spark.registry import get
    from etl_project_spark.streaming import stateful

    ev = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "ev_zscore")
    # 4 disjoint time slices, one file each, named in replay order
    tsu = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = ev.select(
        F.expr(
            "percentile(unix_micros(cast(ts as timestamp)),"
            " array(0.25, 0.5, 0.75))"
        ).alias("q")
    ).collect()[0]["q"]
    slices = [tsu <= bounds[0]]
    for lo, hi in zip(bounds, bounds[1:]):
        slices.append((tsu > lo) & (tsu <= hi))
    slices.append(tsu > bounds[-1])
    for i, cond in enumerate(slices):
        ev.filter(cond).coalesce(1).write.parquet(f"{src_dir}/slice={i}")
    schema = spark.read.parquet(f"{src_dir}/slice=0").schema
    import glob as globmod

    files_dir = str(tmp_path / "ev_zscore_files")
    import os
    import shutil

    os.makedirs(files_dir)
    for i in range(4):
        (part,) = globmod.glob(f"{src_dir}/slice={i}/part-*.parquet")
        dst = f"{files_dir}/{i:02d}.parquet"
        shutil.copy(part, dst)
        # FileStreamSource orders batches by modification time — pin
        # strictly increasing mtimes so replay order == time order
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    stream = sp.file_event_stream(
        spark, files_dir, schema, max_files_per_trigger=1
    )
    out = stateful.rolling_zscore_stream(stream)
    sp.run_available_now(
        out,
        str(tmp_path / "ck_zscore"),
        output_mode="update",
        queryName="zscore_test",
    )
    got = {
        (r["user_id"], r["event_id"], round(r["zscore"], 4))
        for r in spark.sql("SELECT * FROM zscore_test").collect()
    }
    expected = {
        (r["user_id"], r["event_id"], round(r["zscore"], 4))
        for r in get("ts7_rolling_zscore").fn(spark, sf_dir).collect()
    }
    assert got == expected
    assert expected, "vacuous fixture: no anomalies"


def test_stateful_type_mix_matches_batch_dq7(spark, sf_dir, tmp_path):
    """Replaying the whole events table through type_mix_stream yields
    final per-type (n_ref, n_cur) counters equal to batch dq7's
    columns (same fixed time split)."""
    from etl_project_spark.catalog import load_table
    from etl_project_spark.operators.core import PSI_SPLIT
    from etl_project_spark.registry import get
    from etl_project_spark.streaming import stateful

    ev = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "ev_typemix")
    ev.write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = sp.file_event_stream(spark, src_dir, schema)
    out = stateful.type_mix_stream(stream, split=PSI_SPLIT)
    sp.run_available_now(
        out,
        str(tmp_path / "ck_typemix"),
        output_mode="update",
        queryName="typemix_test",
    )
    rows = spark.sql(
        "SELECT event_type, n_ref, n_cur FROM typemix_test"
    ).collect()
    # last emission per type is the final snapshot
    final = {}
    for r in rows:
        final[r["event_type"]] = (r["n_ref"], r["n_cur"])
    expected = {
        r["event_type"]: (r["n_ref"], r["n_cur"])
        for r in get("dq7_categorical_drift").fn(spark, sf_dir).collect()
    }
    assert final == expected


def test_stateful_copurchase_matches_batch_an8(spark, sf_dir, tmp_path):
    """Replaying lineitem in 3 row-sliced files (orders deliberately
    split across batches) through copurchase_pairs_stream emits each
    within-order pair exactly once; counting emissions and applying
    an8's support floor reproduces batch an8's n_pair relation."""
    from etl_project_spark.catalog import load_table
    from etl_project_spark.operators.analytics import (
        AN8_MIN_SUP,
        an8_copurchase_pairs,
    )
    from etl_project_spark.streaming import stateful

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber"
    )
    src_dir = str(tmp_path / "li_pairs")
    import os

    os.makedirs(src_dir)
    # slice by line number, NOT order: most orders straddle slices,
    # exercising the incremental pairs(S∪N)−pairs(S) emission
    for i, cond in enumerate(
        [F.col("l_linenumber") <= 2, F.col("l_linenumber").between(3, 4),
         F.col("l_linenumber") >= 5]
    ):
        import glob as globmod
        import shutil

        part_dir = str(tmp_path / f"li_slice_{i}")
        li.filter(cond).coalesce(1).write.parquet(part_dir)
        (part,) = globmod.glob(f"{part_dir}/part-*.parquet")
        dst = f"{src_dir}/{i:02d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    schema = spark.read.parquet(src_dir).schema
    stream = sp.file_event_stream(
        spark, src_dir, schema, max_files_per_trigger=1
    )
    out = stateful.copurchase_pairs_stream(stream)
    sp.run_available_now(
        out,
        str(tmp_path / "ck_pairs"),
        output_mode="update",
        queryName="pairs_test",
    )
    emitted = spark.sql("SELECT * FROM pairs_test").collect()
    # exactly-once per (order, pair)
    keys = [(r.okey, r.part_a, r.part_b) for r in emitted]
    assert len(keys) == len(set(keys))
    from collections import Counter

    counts = Counter((r.part_a, r.part_b) for r in emitted)
    got = {k: n for k, n in counts.items() if n >= AN8_MIN_SUP}
    expected = {
        (r.part_a, r.part_b): r.n_pair
        for r in an8_copurchase_pairs(spark, sf_dir).collect()
    }
    assert got == expected
    assert expected


def test_stateful_attribution_matches_batch_an9(spark, sf_dir, tmp_path):
    """Time-ordered 4-file replay of events through attribution_stream
    emits exactly batch an9_attribution's rows — credited touches,
    gaps, AND the unattributed-NULL purchases (the state walk
    reproduces the UNBOUNDED..1 PRECEDING frame because files are
    disjoint time slices replayed one per batch and each batch is
    sorted by (ts, event_id) before the walk)."""
    from etl_project_spark.catalog import load_table
    from etl_project_spark.registry import get
    from etl_project_spark.streaming import stateful

    ev = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "ev_attr")
    tsu = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = ev.select(
        F.expr(
            "percentile(unix_micros(cast(ts as timestamp)),"
            " array(0.25, 0.5, 0.75))"
        ).alias("q")
    ).collect()[0]["q"]
    slices = [tsu <= bounds[0]]
    for lo, hi in zip(bounds, bounds[1:]):
        slices.append((tsu > lo) & (tsu <= hi))
    slices.append(tsu > bounds[-1])
    for i, cond in enumerate(slices):
        ev.filter(cond).coalesce(1).write.parquet(f"{src_dir}/slice={i}")
    schema = spark.read.parquet(f"{src_dir}/slice=0").schema
    import glob as globmod
    import os
    import shutil

    files_dir = str(tmp_path / "ev_attr_files")
    os.makedirs(files_dir)
    for i in range(4):
        (part,) = globmod.glob(f"{src_dir}/slice={i}/part-*.parquet")
        dst = f"{files_dir}/{i:02d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    stream = sp.file_event_stream(
        spark, files_dir, schema, max_files_per_trigger=1
    )
    out = stateful.attribution_stream(stream)
    sp.run_available_now(
        out,
        str(tmp_path / "ck_attr"),
        output_mode="update",
        queryName="attr_test",
    )

    def canon(rows):
        return {
            (
                r["conv_event_id"],
                r["user_id"],
                round(r["revenue"], 6),
                r["touch_event_id"],
                r["touch_type"],
                r["gap_sec"],
            )
            for r in rows
        }

    got = canon(spark.sql("SELECT * FROM attr_test").collect())
    expected = canon(get("an9_attribution").fn(spark, sf_dir).collect())
    assert got == expected
    assert any(t[3] is not None for t in expected), "no credited touches"
    assert any(t[3] is None for t in expected), "no unattributed rows"


def test_stateful_ewma_matches_batch_ts8(spark, sf_dir, tmp_path):
    """Time-ordered 4-file replay of events through ewma_stream: the
    final (max n_obs) emission per user equals batch ts8_ewma_forecast
    exactly — the recursive fold split across micro-batches is the
    same fold."""
    from etl_project_spark.catalog import load_table
    from etl_project_spark.registry import get
    from etl_project_spark.streaming import stateful

    ev = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "ev_ewma")
    tsu = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = ev.select(
        F.expr(
            "percentile(unix_micros(cast(ts as timestamp)),"
            " array(0.25, 0.5, 0.75))"
        ).alias("q")
    ).collect()[0]["q"]
    slices = [tsu <= bounds[0]]
    for lo, hi in zip(bounds, bounds[1:]):
        slices.append((tsu > lo) & (tsu <= hi))
    slices.append(tsu > bounds[-1])
    for i, cond in enumerate(slices):
        ev.filter(cond).coalesce(1).write.parquet(f"{src_dir}/slice={i}")
    schema = spark.read.parquet(f"{src_dir}/slice=0").schema
    import glob as globmod
    import os
    import shutil

    files_dir = str(tmp_path / "ev_ewma_files")
    os.makedirs(files_dir)
    for i in range(4):
        (part,) = globmod.glob(f"{src_dir}/slice={i}/part-*.parquet")
        dst = f"{files_dir}/{i:02d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    stream = sp.file_event_stream(
        spark, files_dir, schema, max_files_per_trigger=1
    )
    out = stateful.ewma_stream(stream)
    sp.run_available_now(
        out,
        str(tmp_path / "ck_ewma"),
        output_mode="update",
        queryName="ewma_test",
    )
    final = spark.sql(
        """SELECT user_id, n_obs, ewma_level FROM (
               SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY n_obs DESC) AS rn
               FROM ewma_test) WHERE rn = 1"""
    )
    got = {
        (r["user_id"], r["n_obs"], r["ewma_level"])
        for r in final.collect()
    }
    expected = {
        (r["user_id"], r["n_obs"], r["ewma_level"])
        for r in get("ts8_ewma_forecast").fn(spark, sf_dir).collect()
    }
    assert got == expected
    assert expected


def test_stateful_holt_matches_batch_ts9(spark, sf_dir, tmp_path):
    """Time-ordered 4-file replay of events through holt_stream: the
    final (max n_obs) emission per user equals batch ts9_holt_forecast
    exactly — the two-state recursive fold split across micro-batches
    is the same fold."""
    from etl_project_spark.catalog import load_table
    from etl_project_spark.registry import get
    from etl_project_spark.streaming import stateful

    ev = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "ev_holt")
    tsu = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = ev.select(
        F.expr(
            "percentile(unix_micros(cast(ts as timestamp)),"
            " array(0.25, 0.5, 0.75))"
        ).alias("q")
    ).collect()[0]["q"]
    slices = [tsu <= bounds[0]]
    for lo, hi in zip(bounds, bounds[1:]):
        slices.append((tsu > lo) & (tsu <= hi))
    slices.append(tsu > bounds[-1])
    for i, cond in enumerate(slices):
        ev.filter(cond).coalesce(1).write.parquet(f"{src_dir}/slice={i}")
    schema = spark.read.parquet(f"{src_dir}/slice=0").schema
    import glob as globmod
    import os
    import shutil

    files_dir = str(tmp_path / "ev_holt_files")
    os.makedirs(files_dir)
    for i in range(4):
        (part,) = globmod.glob(f"{src_dir}/slice={i}/part-*.parquet")
        dst = f"{files_dir}/{i:02d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    stream = sp.file_event_stream(
        spark, files_dir, schema, max_files_per_trigger=1
    )
    out = stateful.holt_stream(stream)
    sp.run_available_now(
        out,
        str(tmp_path / "ck_holt"),
        output_mode="update",
        queryName="holt_test",
    )
    final = spark.sql(
        """SELECT user_id, n_obs, holt_level, holt_trend, forecast_1
           FROM (
               SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY n_obs DESC) AS rn
               FROM holt_test) WHERE rn = 1"""
    )
    got = {tuple(r) for r in final.collect()}
    expected = {
        tuple(r)
        for r in get("ts9_holt_forecast").fn(spark, sf_dir).collect()
    }
    assert got == expected


def test_stateful_sketches_match_batch(spark, sf_dir, tmp_path):
    """Time-ordered 4-file replay of events through the sketch twins:
    (1) hll_register_stream's final per-bucket emission equals the
    batch merged register relation, so the estimate computed from the
    streamed registers replays a12 exactly; (2) cms_cell_stream's
    final per-cell emission equals a13's batch cell relation. Both
    states are monotone (max / count), so the max-per-key emission IS
    the converged sketch regardless of how the replay slices."""
    from etl_project_spark.catalog import load_table
    from etl_project_spark.operators import sketches as sk
    from etl_project_spark.streaming import stateful

    ev = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "ev_sk")
    tsu = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = ev.select(
        F.expr(
            "percentile(unix_micros(cast(ts as timestamp)),"
            " array(0.25, 0.5, 0.75))"
        ).alias("q")
    ).collect()[0]["q"]
    slices = [tsu <= bounds[0]]
    for lo, hi in zip(bounds, bounds[1:]):
        slices.append((tsu > lo) & (tsu <= hi))
    slices.append(tsu > bounds[-1])
    for i, cond in enumerate(slices):
        ev.filter(cond).coalesce(1).write.parquet(f"{src_dir}/slice={i}")
    schema = spark.read.parquet(f"{src_dir}/slice=0").schema
    import glob as globmod
    import os
    import shutil

    files_dir = str(tmp_path / "ev_sk_files")
    os.makedirs(files_dir)
    for i in range(4):
        (part,) = globmod.glob(f"{src_dir}/slice={i}/part-*.parquet")
        dst = f"{files_dir}/{i:02d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    # HLL registers
    stream = sp.file_event_stream(
        spark, files_dir, schema, max_files_per_trigger=1
    )
    sp.run_available_now(
        stateful.hll_register_stream(stream),
        str(tmp_path / "ck_hll"),
        output_mode="update",
        queryName="hll_regs",
    )
    got_regs = {
        (r["bucket"], r["rho"])
        for r in spark.sql(
            "SELECT bucket, MAX(rho) AS rho FROM hll_regs GROUP BY bucket"
        ).collect()
    }
    batch_regs = {
        (r["bucket"], r["rho"])
        for r in sk._hll_registers(ev)
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
        .collect()
    }
    assert got_regs == batch_regs

    # CMS cells
    stream2 = sp.file_event_stream(
        spark, files_dir, schema, max_files_per_trigger=1
    )
    sp.run_available_now(
        stateful.cms_cell_stream(stream2),
        str(tmp_path / "ck_cms"),
        output_mode="update",
        queryName="cms_cells",
    )
    got_cells = {
        (r["row_"], r["col_"], r["c"])
        for r in spark.sql(
            "SELECT row_, col_, MAX(c) AS c FROM cms_cells"
            " GROUP BY row_, col_"
        ).collect()
    }
    h = sk._h32(
        F.concat(
            F.col("row_").cast("string"),
            F.lit(":"),
            F.col("user_id").cast("string"),
        )
    )
    batch_cells = {
        (r["row_"], r["col_"], r["c"])
        for r in ev.select(
            F.col("user_id"),
            F.explode(
                F.array(*[F.lit(i) for i in range(sk.CM_D)])
            ).alias("row_"),
        )
        .select("row_", (h % sk.CM_W).alias("col_"))
        .groupBy("row_", "col_")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert got_cells == batch_cells


# --- randomized micro-batch slicing fuzz (VERDICT r8 #8) ----------------------
# The fixed replay tests above slice the stream at ONE hand-picked
# boundary; this fuzzes the boundary itself: under ANY partition of the
# input into micro-batches, the stateful twin's final per-key state must
# equal the batch aggregate (count/sum/max are commutative-monoid state,
# so slicing must be unobservable — a state-merge bug or a
# dropped/double-counted batch shows up as a mismatch for SOME slicing).
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@given(n_slices=st.integers(2, 5), salt=st.integers(0, 7))
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
def test_stateful_totals_invariant_under_random_slicing(
    spark, sf_dir, tmp_path, n_slices, salt
):
    """running_totals consumed as n_slices hash-drawn micro-batches
    (one file per slice, maxFilesPerTrigger=1) == the batch groupBy,
    for every drawn (n_slices, salt)."""
    from etl_project_spark.catalog import load_table
    from etl_project_spark.streaming import stateful

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    tag = f"{n_slices}_{salt}"
    src = str(tmp_path / f"slice_src_{tag}")
    slicer = F.pmod(
        F.xxhash64(F.col("event_id") + F.lit(salt)), F.lit(n_slices)
    )
    for i in range(n_slices):
        ev.filter(slicer == i).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = sp.file_event_stream(
        spark, src, schema, max_files_per_trigger=1
    )
    out = stateful.running_totals(stream)
    qn = f"slice_fuzz_{tag}"
    sp.run_available_now(
        out,
        str(tmp_path / f"ck_slice_{tag}"),
        output_mode="update",
        queryName=qn,
    )
    # update mode re-emits per batch in append order; the dict keeps
    # each key's final emission (the existing running-totals idiom)
    got = {
        r["user_id"]: (r["n_events"], round(r["sum_value"], 6), r["max_value"])
        for r in spark.sql(f"SELECT * FROM {qn}").collect()
    }
    expected = {
        r["user_id"]: (r["n"], round(r["s"], 6), r["mx"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("s"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert got == expected


def test_stateful_hourly_state_matches_batch_ts10(spark, sf_dir, tmp_path):
    """Replaying the event stream through hourly_quantized_stream must
    reproduce batch ts10's hourly relation EXACTLY — same quantized
    sums, same counts — and the published value_mean re-derives from
    the streaming snapshot through the identical floor(sq/n + 0.5)
    re-quantization. Integer state makes this bit-exact under any
    micro-batch slicing."""
    import math

    from etl_project_spark.catalog import load_table
    from etl_project_spark.operators.timeseries import TS10_Q
    from etl_project_spark.registry import all_queries
    from etl_project_spark.streaming import stateful

    ev = load_table(spark, sf_dir, "events").select("ts", "value")
    src_dir = str(tmp_path / "ts10_src")
    ev.write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = sp.file_event_stream(spark, src_dir, schema)
    out = stateful.hourly_quantized_stream(stream)
    sp.run_available_now(
        out, str(tmp_path / "ck_ts10"), output_mode="update",
        queryName="ts10_state",
    )
    # last emission per hour = the hour's final (sq, n) state
    got = {
        r["h"]: (r["sq"], r["n_events"])
        for r in spark.sql(
            "SELECT h, max_by(sq, n_events) AS sq,"
            " MAX(n_events) AS n_events FROM ts10_state GROUP BY h"
        ).collect()
    }
    vq = F.floor(F.col("value") * TS10_Q + F.lit(0.5)).cast("long")
    want = {
        r["h"]: (r["sq"], r["n"])
        for r in ev.filter(F.col("value").isNotNull())
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.sum(vq).alias("sq"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
    # the batch operator's published per-hour stats re-derive from the
    # streaming snapshot through the same re-quantization
    ts10 = {
        r["bucket_hour"]: (r["value_mean"], r["n_events"])
        for r in all_queries()["ts10_seasonal_decomposition"](
            spark, sf_dir
        ).collect()
    }
    # ts10 publishes the observed hours whose hour-of-day earned a
    # seasonal index (on a gapped fixture some hods never get a full
    # 25-calendar-hour window) — always a subset of the streaming
    # state, never outside it
    assert set(ts10) <= set(got)
    assert ts10
    for h, stats in ts10.items():
        sq, n = got[h]
        assert stats == (math.floor(sq / n + 0.5) / TS10_Q, n)


@given(n_slices=st.integers(2, 5), salt=st.integers(0, 7))
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
def test_hourly_state_invariant_under_random_slicing(
    spark, sf_dir, tmp_path, n_slices, salt
):
    """hourly_quantized_stream's integer state is a commutative monoid,
    so its final per-hour (sq, n) must equal the batch aggregate under
    every hash-drawn micro-batch slicing — the docstring's any-slicing
    claim, fuzzed."""
    from etl_project_spark.catalog import load_table
    from etl_project_spark.operators.timeseries import TS10_Q
    from etl_project_spark.streaming import stateful

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "value"
    )
    tag = f"h{n_slices}_{salt}"
    src = str(tmp_path / f"hslice_src_{tag}")
    slicer = F.pmod(
        F.xxhash64(F.col("event_id") + F.lit(salt)), F.lit(n_slices)
    )
    for i in range(n_slices):
        ev.filter(slicer == i).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = sp.file_event_stream(
        spark, src, schema, max_files_per_trigger=1
    )
    out = stateful.hourly_quantized_stream(stream.select("ts", "value"))
    qn = f"hslice_fuzz_{tag}"
    sp.run_available_now(
        out, str(tmp_path / f"ck_hslice_{tag}"), output_mode="update",
        queryName=qn,
    )
    got = {
        r["h"]: (r["sq"], r["n_events"])
        for r in spark.sql(
            f"SELECT h, max_by(sq, n_events) AS sq,"
            f" MAX(n_events) AS n_events FROM {qn} GROUP BY h"
        ).collect()
    }
    vq = F.floor(F.col("value") * TS10_Q + F.lit(0.5)).cast("long")
    want = {
        r["h"]: (r["sq"], r["n"])
        for r in ev.filter(F.col("value").isNotNull())
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.sum(vq).alias("sq"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_streaming_scd2_changelog_matches_batch_cdc2(spark, sf_dir, tmp_path):
    """scd2_history_stream after an AvailableNow replay: applying the
    emitted changelog (last emission per version identity wins, in
    sink order) must equal the batch cdc2 SCD2 rebuild row-for-row —
    the same (ts, event_id) total order, intervals and is_current."""
    from etl_project_spark.catalog import load_table
    from etl_project_spark.registry import get
    from etl_project_spark.streaming import stateful

    ev = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "ev_scd2")
    ev.write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = sp.file_event_stream(spark, src_dir, schema)
    out = stateful.scd2_history_stream(stream)
    sp.run_available_now(
        out, str(tmp_path / "ck_scd2"), output_mode="update",
        queryName="scd2_test",
    )
    applied = {}
    for r in spark.sql("SELECT * FROM scd2_test").collect():
        applied[(r["user_id"], r["event_type"], r["valid_from"],
                 r["event_id"])] = (
            round(r["value"], 9), r["valid_to"], r["is_current"]
        )
    got = {
        (k[0], k[1], k[2], v[0], v[1], v[2])
        for k, v in applied.items()
    }
    expected = {
        (
            r["user_id"], r["event_type"], r["valid_from"],
            round(r["value"], 9), r["valid_to"], r["is_current"],
        )
        for r in get("cdc2_scd2_history").fn(spark, sf_dir).collect()
    }
    assert got == expected

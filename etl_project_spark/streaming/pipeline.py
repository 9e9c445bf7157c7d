"""Structured Streaming forms of the reference's dataflow (SURVEY.md §2f).

O1 — the 5-minute micro-batch ingest DAG (cron ``*/5 * * * *`` with
``catchup=False``, /root/reference/dags/airflow_dags.py:82-89) maps onto:
- ``trigger(processingTime="5 minutes")`` for the steady-state cadence, or
- ``Trigger.AvailableNow`` for the catchup=False "process what's there
  then stop" semantics (used by the tests for determinism).

Event-time analytics with late data (absent from the reference, whose
cadence was wall-clock cron, SURVEY.md §2g) use watermarks; the custom
stateful form uses ``applyInPandasWithState``.

Solves the reference's small-file pathology (1 row/coin/tick,
airflow_dags.py:35) structurally: micro-batch sinks buffer a full trigger
interval per file, and the daily compaction job (ingest.ohlcv.compact_day)
handles the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_project_spark.session import prepare


def file_event_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-arrival source: each new file in `path` is a micro-batch of
    events — the streaming analog of the reference's per-tick ingest."""
    prepare(spark)
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_bars(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming OHLCV bar derivation: watermarked tumbling windows with
    open/close via min_by/max_by — the streaming twin of
    operators.timeseries.ts4_ohlcv_resample. Late rows within the
    watermark merge into their bar; older ones drop (state is bounded)."""
    # Watermarks require TIMESTAMP, not TIMESTAMP_NTZ; under the engine's
    # UTC session tz the cast is value-preserving.
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(
            F.min_by(value_col, ts_col).alias("price_open"),
            F.max(value_col).alias("price_high"),
            F.min(value_col).alias("price_low"),
            F.max_by(value_col, ts_col).alias("price_close"),
            F.sum(value_col).alias("volume"),
            F.count("*").alias("trades_count"),
        )
        .select(F.col("w.start").alias("bar_start"), "price_open", "price_high",
                "price_low", "price_close", "volume", "trades_count")
    )


def keyed_session_stats(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization via session_window + watermark: per-key
    session aggregates; sessions close when the watermark passes their
    gap, bounding state."""
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), key_col)
        .agg(
            F.count("*").alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def session_paths_stream(
    events: DataFrame,
    gap_s: int = 1800,
    watermark: str = "1 minute",
) -> DataFrame:
    """Streaming twin of the an3 session-path miner
    (operators/analytics.py): sessionize each user's event stream and
    emit one ordered 'a>b>c' path row per CLOSED session; the path
    popularity ranking is then a tiny batch aggregate over this stream's
    sink (sessions are the reduction — paths-per-count is O(distinct
    paths), not O(events)).

    Boundary parity with the batch lag/cumsum rule (strict: gap >
    ``gap_s`` splits) is exact, not approximate: the batch rule compares
    SECOND-FLOORED epochs (``cast long`` truncates), so the stream
    windows on ``date_trunc('second', ts)`` with a ``gap_s + 1`` second
    session_window — merge iff floored-delta < gap_s + 1 iff
    floored-delta <= gap_s, the batch predicate. Raw ts stays in the
    collect struct so within-session ordering keeps the (ts, event_id)
    tie-break. Replay equality with an3's top paths is pinned in
    tests/test_ingest_streaming.py.

    At scale: state is one open session per (user, gap-chain) in the
    state store (same user_id hash shuffle as the batch window),
    evicted as the watermark passes; late events within the watermark
    merge/extend sessions exactly like the batch recompute would."""
    ev = events.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.date_trunc("second", F.col("ts").cast("timestamp")).alias("ts_s"),
        "event_id",
        "event_type",
    )
    return (
        ev.withWatermark("ts_s", watermark)
        .groupBy(
            F.session_window("ts_s", f"{gap_s + 1} seconds").alias("w"),
            "user_id",
        )
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "path",
        )
    )


def run_available_now(
    stream_df: DataFrame,
    checkpoint_dir: str,
    output_mode: str = "append",
    queryName: str = "etl_stream",
):
    """Trigger.AvailableNow run to a memory sink: process everything
    currently available, then stop — the reference's catchup=False
    semantics. Returns the finished StreamingQuery; read results with
    ``spark.sql(f"SELECT * FROM {queryName}")``."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(queryName)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def dedup_stream(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose `keys` already appeared
    within the watermark horizon (``dropDuplicatesWithinWatermark``).
    The streaming twin of operators.dedup.dd1 — and the fix for the
    reference's append-duplicates-on-rerun behavior
    (/root/reference/dags/airflow_dags.py:54 'if_exists=append' with no
    key) applied at ingest time. State is bounded: keys older than the
    watermark are evicted, so this scales to unbounded streams where a
    global dropDuplicates could not."""
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def enrich_stream(
    stream_df: DataFrame,
    dim_df: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (small) static dimension — Spark plans it as a broadcast hash join
    per batch, so the stream never shuffles. This is the streaming form
    of j1_broadcast_dim_join and the idiomatic way to attach dimension
    attributes (coin metadata, user profile, nation name) at ingest."""
    return stream_df.join(F.broadcast(dim_df), on=on, how=how)


def partition_overwrite_sink(
    stream_df: DataFrame,
    gold_dir: str,
    checkpoint_dir: str,
    partition_col: str = "period_date",
):
    """foreachBatch sink with idempotent dynamic partition overwrite:
    each micro-batch rewrites exactly the partitions it touches, so a
    replayed batch (failure recovery, checkpoint rewind) converges to
    the same bytes instead of appending duplicates — the exactly-once
    fix for the reference's daily COPY (SURVEY.md §1 'append-only, no
    idempotency'; /root/reference/dags/airflow_dags.py:279-310).

    At scale: the overwrite touches only the micro-batch's partitions
    (dynamic mode), and sink commits are serialized by batchId, which
    Spark replays deterministically from the checkpoint."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(gold_dir)
        )

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def clicks_to_purchases(
    clicks: DataFrame,
    purchases: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the same
    user's clicks in the preceding `within` window. Both sides are
    watermarked so the join state (buffered unmatched rows) is bounded —
    Spark evicts a buffered click once the watermark guarantees no
    qualifying purchase can still arrive. The batch twin of this shape
    is j6_asof_join; at 100 TB both sides shuffle once on user_id and
    state stays proportional to the interval, not the stream."""
    c = clicks.select(
        F.col(key_col).alias("c_user"),
        F.col(ts_col).cast("timestamp").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col(key_col).alias("p_user"),
        F.col(ts_col).cast("timestamp").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def ingest_loop(
    spark: SparkSession,
    source,
    bronze_path: str,
    checkpoint_dir: str,
    interval: str = "5 minutes",
    period: str = "5MIN",
    limit: int = 1,
):
    """O1's literal long-running form: a ``processingTime`` micro-batch
    driver on the reference's cron cadence (``*/5 * * * *``,
    /root/reference/dags/airflow_dags.py:82-89) — each trigger fetches
    the latest bar(s) per coin from the REST source and appends them to
    the partitioned bronze store via ``ingest_tick``. The rate source
    is the clock; its rows are ignored — it exists so the scheduling,
    checkpointing, and restart semantics are Structured Streaming's
    (a restarted query resumes the cadence from the checkpoint; no
    external cron, no Airflow). The foreachBatch side effect is made
    idempotent at bar granularity (``ingest_tick(dedupe=True)`` drops
    the fetched bars whose (coin, time_period_start) key bronze already
    holds), so the at-least-once replay of the last uncommitted
    micro-batch after a crash appends no duplicate bars. The loop is one
    long-running process, so its ticks share the ingest module's day
    snapshot: a tick reads only the bronze files written since the last
    one, not the whole day.
    ``run_available_now`` + ``file_event_stream`` remain the
    deterministic catchup=False twin the tests replay; this is the
    steady-state driver a deployment leaves running. Returns the live
    StreamingQuery — caller owns ``stop()``."""
    from etl_project_spark.ingest.ohlcv import ingest_tick

    prepare(spark)
    ticks = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )

    def tick(_batch_df: DataFrame, _batch_id: int) -> None:
        ingest_tick(
            spark, source, bronze_path, period=period, limit=limit, dedupe=True
        )

    return (
        ticks.writeStream.foreachBatch(tick)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=interval)
        .start()
    )

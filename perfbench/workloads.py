"""The benchmark's workloads: which ops a pass runs, in what order.

Both are a closed loop with one client: each op starts when the one
before it has finished. A query op is built (the registered function
returns its DataFrame) and then run with a noop-sink action; the two
are timed apart because some operators run Spark jobs while the
DataFrame is built. The run's seed sets the op order of every pass and,
for ``warehouse``, the OHLCV bar stream.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import time
from fractions import Fraction

# op name -> family (the operators module that registers it). Ten of the
# sixteen dashboard queries, one to three per family: with the ticks and
# the close on a full day of small files, the other six (a3g, t1, q5, q8,
# q21, j2) would add about 15 s to a run, more than the time budget has.
DASHBOARD_OPS = {
    "a3_daily_stats": "core",
    "t2_topk_by_value": "core",
    "a4_distinct_agg": "core",
    "q1_pricing_summary": "tpch",
    "q3_shipping_priority": "tpch",
    "q6_forecast_revenue": "tpch",
    "j6_asof_join": "joins",
    "w1_topn_per_key": "windows",
    "ts1_tumbling_5min": "timeseries",
    "ts4_ohlcv_resample": "timeseries",
}
CORPUS_OPS = {
    "dd4_minhash_lsh_pairs": "dedup",
    "dd8_jaccard_prefix_join": "dedup",
    "dd7_dup_clusters": "dedup",
    "gr2_kcore_layers": "graph",
    "x20_ivfpq_trained_serving": "similarity",
    "rk7_prf_expansion": "ranking",
}

# The reference ingests one bar per coin every 5 minutes (cron */5) and
# exports once a day (@daily): 288 ticks per close. A pass runs the four
# ticks around midnight for real (bars 23:50 .. 00:05) and, before it
# starts and untimed, writes the day's other bars as the one-bar files
# those ticks would have left, so the ticks and the close see a full
# day of small bronze files.
NEW_TICKS_PER_PASS = 4
# The cold pass's day holds only its last hour: the first pass then pays
# the first-time costs (codegen, JIT, Python-worker spawn) without a
# full-day scan, which a run has no time for twice.
COLD_DAY_BARS = 12
# A cron double-fire re-delivers the latest bar. The reference has no
# replay rate to copy; one replay in five ticks is this benchmark's choice.
REPLAYS_PER_PASS = 1
BAR_MINUTES = 5
FIRST_DAY = dt.datetime(2024, 3, 1)
BAR_FMT = "%Y-%m-%dT%H:%M:%S.0000000Z"


class QueryWorkload:
    """A pass runs every op once, in an order drawn from the seed."""

    ops: dict[str, str] = {}

    def __init__(self, spark, queries, data_dir, run_dir, rng):
        self.spark = spark
        self.queries = queries
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.rng = rng
        self.families = dict(self.ops)
        self.last_df = {}

    def _items(self, pass_no: int) -> list:
        items = list(self.ops)
        self.rng.shuffle(items)
        return items

    def run_query(self, rec, name: str, pass_no: int) -> float:
        prefix = "cold_" if pass_no == 0 else ""
        fn = self.queries[name]
        start = _clock()
        df = rec.timed(name, prefix + "build", pass_no, fn, self.spark, self.data_dir)
        rec.timed(name, prefix + "action", pass_no, _noop_sink, df)
        self.last_df[name] = df
        return _clock() - start

    def run_item(self, rec, item, pass_no: int) -> dict[str, float]:
        return {item: self.run_query(rec, item, pass_no)}

    def run_pass(self, rec, pass_no: int) -> dict:
        self.prepare_pass(pass_no)
        start = _clock()
        op_seconds: dict[str, float] = {}
        attempted = failed = 0
        for item in self._items(pass_no):
            attempted += 1
            try:
                op_seconds.update(self.run_item(rec, item, pass_no))
            except Exception as exc:  # one failed op must not stop the run
                failed += 1
                print(f"op {item} failed in pass {pass_no}: {exc!r}"[:2000], flush=True)
        attempted, failed = self.finish_pass(rec, pass_no, op_seconds, attempted, failed)
        return {
            "seconds": _clock() - start,
            "attempted": attempted,
            "failed": failed,
            "op_seconds": op_seconds,
        }

    def prepare_pass(self, pass_no: int) -> None:
        """Untimed preparation before a pass."""

    def finish_pass(self, rec, pass_no, op_seconds, attempted, failed):
        return attempted, failed

    def collect_outputs(self, rec, pass_no: int) -> dict:
        return {
            name: rec.timed(name, "check", pass_no, df.toPandas)
            for name, df in self.last_df.items()
        }

    def check_store(self) -> list[str]:
        return []

    def summary(self, warm_passes: list[dict]) -> tuple[dict, dict, dict]:
        """Workload-specific (end-to-end metrics, layer metrics, identity)."""
        return {}, {}, {}


class Corpus(QueryWorkload):
    """One LLM-curation batch: near-dup pairs and clusters, k-core
    layers, IVF-PQ serving and pseudo-relevance feedback. Multi-second
    ops bound by shuffle, Python kernels and jobs run while the
    DataFrame is built, behind process-scoped memos, so the cold pass
    fills the memos and the steady passes hit them."""

    ops = CORPUS_OPS


class Warehouse(QueryWorkload):
    """The reference's own surface in one loop: the 5-minute OHLCV
    ingest tick fires between the dashboard's short analytical queries
    against a day of small bronze files, and each pass ends by closing
    the day the bar stream just left (export to gold, compact bronze,
    write the CSV export)."""

    ops = DASHBOARD_OPS

    def __init__(self, spark, queries, data_dir, run_dir, rng):
        super().__init__(spark, queries, data_dir, run_dir, rng)
        from etl_project_spark.sources.rest import DEFAULT_COINS

        self.bronze = os.path.join(run_dir, "bronze")
        self.gold = os.path.join(run_dir, "gold")
        self.csv = os.path.join(run_dir, "csv")
        self.stream = BarStream(rng, DEFAULT_COINS)
        self.source = _timed_source(self.stream)
        self.fetched = self.written = 0
        self.ticks = 0
        self.replays = 0
        self.day_rows: dict[str, int] = {}  # rows export_day reported per day
        self.layer: dict[str, list[float]] = {}

    def _items(self, pass_no: int) -> list:
        queries = super()._items(pass_no)
        ticks = [True] * NEW_TICKS_PER_PASS + [False] * REPLAYS_PER_PASS
        self.rng.shuffle(ticks)
        while pass_no == 0 and not ticks[0]:  # the run's first tick has nothing to replay
            self.rng.shuffle(ticks)
        n = len(queries) + len(ticks)
        at = set(self.rng.sample(range(n), len(ticks)))
        q, t = iter(queries), iter(ticks)
        return [("tick", next(t)) if i in at else next(q) for i in range(n)]

    def prepare_pass(self, pass_no: int) -> None:
        self.stream.backfill(pass_no, self.bronze)

    def _note(self, key: str, seconds: float) -> None:
        self.layer.setdefault(key, []).append(seconds)

    def run_item(self, rec, item, pass_no: int) -> dict[str, float]:
        if isinstance(item, str):
            return super().run_item(rec, item, pass_no)
        from etl_project_spark.ingest.ohlcv import ingest_tick

        _, new_bar = item
        self.stream.advance(pass_no, new_bar)
        phase = "cold_tick" if pass_no == 0 else "tick"
        self.source.seconds = 0.0
        start = _clock()
        n = rec.timed(
            "ingest", phase, pass_no, ingest_tick,
            self.spark, self.source, self.bronze, "5MIN", 1, True,
        )
        seconds = _clock() - start
        self.ticks += 1
        self.replays += not new_bar
        self.fetched += len(self.stream.coins)
        self.written += n
        if pass_no:
            self._note("ingest.ingest_tick_s", seconds)
            self._note("sources.fetch_to_df_s", self.source.seconds)
        return {f"tick{self.ticks}": seconds}

    def finish_pass(self, rec, pass_no, op_seconds, attempted, failed):
        from etl_project_spark.ingest.ohlcv import compact_day, export_day
        from etl_project_spark.sources.files import write_csv_export
        from pyspark.sql import functions as F

        ds = (FIRST_DAY + dt.timedelta(days=pass_no)).date().isoformat()
        prefix = "cold_" if pass_no == 0 else ""
        bronze_files = _count_files(self.bronze)
        attempted += 1
        try:
            t0 = _clock()
            n = rec.timed("close", prefix + "export", pass_no, export_day,
                          self.spark, self.bronze, self.gold, ds)
            t1 = _clock()
            rec.timed("close", prefix + "compact", pass_no, compact_day,
                      self.spark, self.bronze, ds)
            t2 = _clock()
            day = self.spark.read.parquet(self.gold).filter(
                F.col("period_date") == F.lit(ds).cast("date"))
            rec.timed("close", prefix + "csv", pass_no, write_csv_export,
                      day, os.path.join(self.csv, ds), True, "dense",
                      ["coin", "time_period_start"])
            t3 = _clock()
        except Exception as exc:
            print(f"day close {ds} failed: {exc!r}"[:2000], flush=True)
            return attempted, failed + 1
        self.day_rows[ds] = n
        op_seconds["close"] = t3 - t0
        if pass_no:
            self._note("ingest.export_day_s", t1 - t0)
            self._note("ingest.compact_day_s", t2 - t1)
            self._note("sources.write_csv_export_s", t3 - t2)
            self._note("ingest.bronze_files", bronze_files)
            self._note("day_close_s", t3 - t0)
        return attempted, failed

    def check_store(self) -> list[str]:
        """The ETL outputs against the generator's own bar ledger."""
        import pyarrow.dataset as pads

        bad = []
        table = pads.dataset(self.bronze, format="parquet", partitioning="hive").to_table(
            columns=["coin", "time_period_start"])
        keys = list(zip(table.column("coin").to_pylist(),
                        (t.strftime(BAR_FMT) for t in table.column("time_period_start").to_pylist())))
        if len(keys) != len(set(keys)):
            bad.append(f"ingest: {len(keys) - len(set(keys))} duplicate (coin, time_period_start) rows")
        if set(keys) != self.stream.delivered:
            bad.append("ingest: bronze keys differ from the bars delivered")
        kept = Fraction(self.written, self.fetched)
        expected = Fraction(self.ticks - self.replays, self.ticks)
        if kept != expected:
            bad.append(f"ingest: kept_ratio {kept} != non-replay share {expected}")
        for ds, n in self.day_rows.items():
            want = sum(1 for _, bar in self.stream.delivered if bar.startswith(ds))
            ids = _csv_ids(os.path.join(self.csv, ds))
            if n != want:
                bad.append(f"close: export_day {ds} wrote {n} rows, expected {want}")
            if ids != list(range(1, want + 1)):
                bad.append(f"close: CSV ids for {ds} are not dense 1..{want}")
        return bad

    def summary(self, warm_passes: list[dict]) -> tuple[dict, dict, dict]:
        ticks = [[s for k, s in p["op_seconds"].items() if k.startswith("tick")]
                 for p in warm_passes]
        layer = {k: statistics.median(v) for k, v in self.layer.items()}
        day_close = layer.pop("day_close_s", float("nan"))
        layer["ingest.kept_ratio"] = self.written / self.fetched
        metrics = {"tick_p50_s": statistics.median(s for p in ticks for s in p),
                   "tick_tail_s": slowest_per_pass(ticks),
                   "day_close_s": day_close}
        return metrics, layer, {"tick_samples": sum(map(len, ticks))}


class BarStream:
    """Seeded stand-in for CoinAPI: a random walk per coin on the 5-minute
    grid. Before pass ``p`` the bars of day ``FIRST_DAY + p`` up to 23:45
    that no tick delivered are written straight to bronze; the pass's
    ticks then deliver the bars 23:50-00:05 around the midnight that ends
    the day. A replay re-delivers the latest bar."""

    def __init__(self, rng, coins: dict[str, str]):
        self.rng = rng
        self.coins = coins
        self.coin_of = {symbol: coin for coin, symbol in coins.items()}
        self.price = {coin: 30000.0 / 10 ** i for i, coin in enumerate(coins)}
        self.next_in_pass = {}
        self.current: dict[str, dict] = {}
        self.delivered: set[tuple[str, str]] = set()

    def _bars(self, start: dt.datetime) -> dict[str, dict]:
        """The next bar of every coin, starting at ``start``; recorded as
        delivered."""
        end = start + dt.timedelta(minutes=BAR_MINUTES)
        bars = {}
        for coin in self.coins:
            p = self.price[coin]
            close = round(p * (1 + self.rng.uniform(-0.004, 0.004)), 6)
            self.price[coin] = close
            bars[coin] = {
                "time_period_start": start,
                "time_period_end": end,
                "time_open": start + dt.timedelta(seconds=1),
                "time_close": end - dt.timedelta(seconds=1),
                "price_open": p,
                "price_high": round(max(p, close) * 1.001, 6),
                "price_low": round(min(p, close) * 0.999, 6),
                "price_close": close,
                "volume_traded": round(self.rng.uniform(1, 50), 4),
                "trades_count": self.rng.randint(50, 500),
            }
            self.delivered.add((coin, start.strftime(BAR_FMT)))
        return bars

    def advance(self, pass_no: int, new_bar: bool) -> None:
        if not new_bar:
            return
        k = self.next_in_pass.get(pass_no, 0)
        self.next_in_pass[pass_no] = k + 1
        start = FIRST_DAY + dt.timedelta(days=pass_no, hours=23, minutes=50 + BAR_MINUTES * k)
        self.current = {
            coin: {f: v.strftime(BAR_FMT) if isinstance(v, dt.datetime) else v
                   for f, v in bar.items()}
            for coin, bar in self._bars(start).items()
        }

    def backfill(self, pass_no: int, bronze: str) -> None:
        """Write the bars of day ``FIRST_DAY + pass_no`` from the first one
        no tick delivered up to 23:45, one file per bar and coin in the
        bronze layout (``period_date=<day>/coin=<coin>/``), as the ticks
        of that day would have. The previous pass's ticks delivered the
        day's first two bars; the cold pass's day starts at 23:00."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        # the columns and types ingest_tick writes: naive timestamps
        # (TIMESTAMP_NTZ), double prices and volume, long trade count
        schema = pa.schema(
            [(c, pa.timestamp("us")) for c in
             ("time_period_start", "time_period_end", "time_open", "time_close")]
            + [(c, pa.float64()) for c in
               ("price_open", "price_high", "price_low", "price_close", "volume_traded")]
            + [("trades_count", pa.int64())])
        day = FIRST_DAY + dt.timedelta(days=pass_no)
        day_bars = 24 * 60 // BAR_MINUTES
        last = day_bars - 2  # 23:45; the ticks bring 23:50 and 23:55
        first = day_bars - COLD_DAY_BARS if pass_no == 0 else NEW_TICKS_PER_PASS - 2
        for k in range(first, last):
            start = day + dt.timedelta(minutes=BAR_MINUTES * k)
            for coin, bar in self._bars(start).items():
                part = os.path.join(bronze, f"period_date={day.date().isoformat()}",
                                    f"coin={coin}")
                os.makedirs(part, exist_ok=True)
                table = pa.Table.from_pylist([bar], schema=schema)
                pq.write_table(table, os.path.join(part, f"part-backfill-{k:03d}.parquet"))

    def fetch(self, url: str, headers: dict) -> list[dict]:
        return [dict(self.current[self.coin_of[url.split("/")[-2]]])]


def _timed_source(stream: BarStream):
    """An ``OhlcvRestSource`` whose fetch and DataFrame build are timed
    from outside, so the sources layer gets its own figure."""
    from etl_project_spark.sources.rest import OhlcvRestSource

    class TimedSource(OhlcvRestSource):
        seconds = 0.0

        def fetch_latest(self, period="5MIN", limit=1):
            t = _clock()
            try:
                return super().fetch_latest(period, limit)
            finally:
                self.seconds += _clock() - t

        def to_df(self, spark, rows):
            t = _clock()
            try:
                return super().to_df(spark, rows)
            finally:
                self.seconds += _clock() - t

    return TimedSource("perfbench", fetcher=stream.fetch)


def slowest_per_pass(samples: list[list[float]]) -> float:
    """The tail: the median over passes of each pass's slowest sample."""
    return statistics.median(max(p) for p in samples if p)


def _count_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


def _csv_ids(path: str) -> list[int]:
    ids = []
    for name in sorted(os.listdir(path)):
        if name.endswith(".csv"):
            with open(os.path.join(path, name)) as f:
                ids.extend(int(line.split(",", 1)[0]) for line in f if line.strip())
    return sorted(ids)


def _noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


_clock = time.perf_counter


WORKLOADS = {"warehouse": Warehouse, "corpus": Corpus}

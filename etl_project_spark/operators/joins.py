"""Join operators.

The reference has **no joins** (SURVEY.md §2g — table-per-coin, all queries
single-table); the engine ships the full join surface mandated by the
extension plan (SURVEY.md §7 phase 3): broadcast-hash for small dims,
sort-merge for fact-fact, semi/anti, and an as-of join (the canonical
time-series operator the reference's OHLCV domain implies).

Scale notes per operator are in each docstring; the global rules:
- dims (region/nation/supplier) are broadcast — verify BroadcastHashJoin
  in ``.explain``; no shuffle of the fact side.
- fact⋈fact (orders⋈lineitem) shuffles both sides on the key; at 100 TB
  the production layout buckets both tables by orderkey so this becomes a
  shuffle-free zipped scan.
- the as-of join is a union + single shuffle by entity key — NOT a range
  cross-join; state per key is one running value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_project_spark.catalog import load_table
from etl_project_spark.registry import register
from etl_project_spark.session import local_frame


@register(
    "j1_broadcast_dim_join",
    oracle="""
    SELECT r.r_name AS region_name, COUNT(*) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
)
def j1_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast hash join onto a 5-row dim: the fact side never shuffles.
    ``F.broadcast`` makes the intent explicit rather than relying on the
    autoBroadcastJoinThreshold estimate."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(F.count("*").alias("n_nations"))
    )


@register(
    "j2_fact_fact_join",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(SUM(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """,
)
def j2_fact_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact equi-join (orders⋈lineitem) + aggregate. Both sides
    shuffle on orderkey (sort-merge or AQE-chosen shuffled-hash); at scale,
    bucketing both tables by orderkey removes the shuffle entirely
    (sources/tables.py:create_bucketed_facts, verified shuffle-free in
    tests/test_layout.py)."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "j3_semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
    """,
)
def j3_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one large order. Semi
    join shuffles only keys of the probe side — no payload duplication."""
    customer = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "j4_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j4_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders at all (the classic
    data-quality probe)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "j5_outer_join",
    oracle="""
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(o.o_totalprice), 0.0) AS DOUBLE) AS total_spend
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY 1
    """,
)
def j5_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join + aggregate: order count / spend per customer,
    zero-filled for order-less customers."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum("o_totalprice"), F.lit(0.0)).alias("total_spend"),
        )
    )


@register(
    "j7_nation_flows",
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(28,10))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
    JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
    JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
    WHERE cn.n_name <> sn.n_name
    GROUP BY 1, 2
    """,
)
def j7_nation_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped trade-flow matrix: revenue between distinct
    (customer nation, supplier nation) pairs. One fact-fact shuffle
    (lineitem⋈orders on orderkey); customer/supplier/nation all
    broadcast — the fact side is shuffled exactly once."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            # decimal-sum: double SUM is summation-order-dependent at
            # ~1e-14 relative, enough to flip a printed digit at decimal
            # boundaries; fixed-point accumulation is exact and
            # order-free in both engines, then one deterministic
            # decimal→double conversion
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(28,10)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "j8_part_revenue",
    oracle="""
    SELECT p.p_brand, p.p_type,
           CAST(SUM(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE) AS revenue,
           CAST(SUM(l.l_quantity) AS DOUBLE) AS sum_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 15
    GROUP BY 1, 2
    """,
)
def j8_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand/type revenue for small parts: selective dim filter
    (p_size <= 15) applied BEFORE the broadcast, so only matching part
    rows ship to executors."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 15)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


@register(
    "j6_asof_join",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
               CASE WHEN event_type = 'click' THEN ts END AS click_ts
        FROM events WHERE event_type IN ('purchase', 'click')
    ), filled AS (
        SELECT user_id, ts, event_id, value, is_p,
               MAX(click_ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS last_click_ts
        FROM tagged
    )
    SELECT event_id, user_id, ts, value, last_click_ts
    FROM filled WHERE is_p = 1
    """,
)
def j6_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, Spark-first: for every purchase event, the most recent
    click at-or-before it by the same user.

    Implemented as union-tag + running ``max(click_ts)`` window — ONE
    shuffle on user_id and O(1) state per row, instead of the naive
    range cross-join (quadratic) or per-row subquery. This is the
    scalable pattern for quote⋈trade-style as-of joins at 100 TB: both
    "sides" co-partition by entity key and merge in event-time order.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = tagged.withColumn("last_click_ts", F.max("click_ts").over(w))
    return filled.filter(F.col("is_p") == 1).select(
        "event_id", "user_id", "ts", "value", "last_click_ts"
    )


@register(
    "j9_range_join",
    oracle="""
    WITH bands AS (
        SELECT * FROM (VALUES
            ('low',    0.0,   20.0),
            ('mid',   20.0,   60.0),
            ('high',  60.0,   90.0),
            ('spike', 90.0, 1e308)
        ) AS t(band, lo, hi)
    )
    SELECT b.band, COUNT(*) AS n_events,
           CAST(SUM(e.value) AS DOUBLE) AS sum_value
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band ORDER BY b.band
    """,
)
def j9_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: each event lands in the value band whose
    [lo, hi) interval contains it — the band dim carries only bounds, so
    the join predicate is pure inequality. Planned as BroadcastNestedLoop
    over the 4-row bands side: per-row interval probing with ZERO
    shuffle of the fact table; at 100 TB the bands stay a broadcast and
    the agg is map-side partial. (For large range dims the same shape
    becomes a bucketed interval index — bin the fact by floor(value/step)
    and equi-join the bin — but a handful of bands never needs it.)"""
    bands = local_frame(
        spark,
        [
            ("low", 0.0, 20.0),
            ("mid", 20.0, 60.0),
            ("high", 60.0, 90.0),
            ("spike", 90.0, float("1e308")),
        ],
        "band string, lo double, hi double",
    )
    e = load_table(spark, sf_dir, "events")
    return (
        e.join(
            F.broadcast(bands),
            (e.value >= bands.lo) & (e.value < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .orderBy("band")
    )


J11_BUCKET_US = 3_600_000_000  # 1-hour interval-index buckets


@register(
    "j11_interval_overlap_join",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER w < INTERVAL '30 minutes'
                    THEN 0 ELSE 1 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sess_id
        FROM marked
    ), sess AS (
        SELECT user_id, MIN(ts) AS s, MAX(ts) AS e
        FROM numbered GROUP BY user_id, sess_id
    )
    SELECT a.user_id AS user_a, a.s AS start_a,
           b.user_id AS user_b, b.s AS start_b,
           CAST(epoch_us(LEAST(a.e, b.e)) - epoch_us(GREATEST(a.s, b.s))
                AS BIGINT) AS overlap_us
    FROM sess a JOIN sess b
      ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
    """,
)
def j11_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP self-join — which users' activity sessions ran
    concurrently, and for how long — via the BUCKETED INTERVAL INDEX
    j9's docstring names as the scale path but a broadcast could dodge
    there: both sides here are data-derived session sets (ts3's
    30-minute-gap sessions), so neither broadcasts at 100 TB and a
    naive inequality join would be a quadratic BroadcastNestedLoop.
    Decomposition: every session explodes to the 1-hour epoch buckets
    it touches (sessions are gap-bounded, so each spans O(1) buckets),
    candidate pairs equi-join on bucket — a plain shuffled hash join on
    a dense integer key — the exact overlap predicate filters bucket
    co-residents that don't actually overlap, and DISTINCT collapses
    pairs that co-occur in two buckets. Work is proportional to true
    bucket co-residency, never |sessions|²; skewed hot hours split
    under AQE like any hash join. The oracle IS the naive inequality
    join — same relation, quadratic plan — so the hash check proves the
    decomposition exact, including the touch-at-a-point overlap_us = 0
    edge. Engine parity: overlap duration in integer MICROSECONDS
    (epoch_us both sides — float seconds would round at 2^-22 s for
    2024 epochs); Spark's session_window [t, t+gap) matches the
    oracle's strict-< lag test (the ts3 contract)."""
    ev = load_table(spark, sf_dir, "events")
    sess = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    # events.ts is TIMESTAMP_NTZ; unix_micros wants TIMESTAMP — the cast
    # is exact under the session's pinned UTC (session.prepare), matching
    # DuckDB's epoch_us over the naive value
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    spans = sess.select(
        "user_id",
        "s",
        "e",
        F.explode(
            F.sequence(
                (us("s") / J11_BUCKET_US).cast("long"),
                (us("e") / J11_BUCKET_US).cast("long"),
            )
        ).alias("bucket"),
    )
    # distinct column names on the two sides: self-join lineage makes
    # `a.bucket == b.bucket` resolve trivially true (Spark warns and
    # plans a cross join — right answer, quadratic plan)
    a = spans.select(
        F.col("bucket").alias("bucket_a"),
        F.col("user_id").alias("user_a"),
        F.col("s").alias("start_a"),
        F.col("e").alias("end_a"),
    )
    b = spans.select(
        F.col("bucket").alias("bucket_b"),
        F.col("user_id").alias("user_b"),
        F.col("s").alias("start_b"),
        F.col("e").alias("end_b"),
    )
    return (
        a.join(
            b,
            on=[
                F.col("bucket_a") == F.col("bucket_b"),
                F.col("user_a") < F.col("user_b"),
                F.col("start_a") <= F.col("end_b"),
                F.col("start_b") <= F.col("end_a"),
            ],
        )
        .select(
            "user_a",
            "start_a",
            "user_b",
            "start_b",
            (
                F.least(us("end_a"), us("end_b"))
                - F.greatest(us("start_a"), us("start_b"))
            ).alias("overlap_us"),
        )
        .distinct()
    )


J12_TOLERANCE_US = 3_600_000_000  # 1 hour, integer microseconds


@register(
    "j12_asof_tolerance_join",
    oracle=f"""
    WITH tagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
               CASE WHEN event_type = 'click' THEN epoch_us(ts) END
                   AS click_us
        FROM events WHERE event_type IN ('purchase', 'click')
    ), filled AS (
        SELECT user_id, ts, event_id, value, is_p,
               MAX(click_us) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS last_click_us
        FROM tagged
    )
    SELECT event_id, user_id, ts, value,
           CASE WHEN epoch_us(ts) - last_click_us <= {J12_TOLERANCE_US}
                THEN last_click_us END AS matched_click_us,
           (last_click_us IS NOT NULL
            AND epoch_us(ts) - last_click_us <= {J12_TOLERANCE_US})
               AS within_tolerance
    FROM filled WHERE is_p = 1
    """,
)
def j12_asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE (pandas merge_asof's `tolerance`, kdb
    wj's window): j6's most-recent-click-per-purchase, but a match
    older than 1 hour is nulled out — the form feature pipelines
    actually use ("the click that CAUSED this purchase", not "any
    click ever"). Same union-tag + running-max plan as j6 (ONE shuffle
    on user_id, O(1) state per row — never a range cross-join); the
    tolerance is a post-window null-out on exact integer microsecond
    arithmetic (the an9 lookback rule), so it adds zero plan cost at
    any scale."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    ts_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
        F.when(F.col("event_type") == "click", ts_us).alias("click_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = tagged.withColumn("last_click_us", F.max("click_us").over(w))
    gap = ts_us - F.col("last_click_us")
    return filled.filter(F.col("is_p") == 1).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(gap <= J12_TOLERANCE_US, F.col("last_click_us")).alias(
            "matched_click_us"
        ),
        (
            F.col("last_click_us").isNotNull()
            & (gap <= J12_TOLERANCE_US)
        ).alias("within_tolerance"),
    )

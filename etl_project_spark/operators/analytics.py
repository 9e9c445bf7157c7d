"""Product-analytics operators over ``events`` plus an entity-resolution
join over ``part`` — the user-behavior query family the reference's
dashboard layer (SURVEY §2d A3: group-by-day dashboard sums) grows into
once the warehouse holds more than one metric: funnel conversion, cohort
retention, session path mining, fuzzy record matching, and mergeable
distinct-count rollups.

All JVM-side DataFrame compositions; every query except the HLL rollup
(approximate by construction, checked within tolerance of the exact
count) carries a full hash-equality DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_project_spark.catalog import load_table
from etl_project_spark.registry import register
from etl_project_spark.session import local_frame

FUNNEL_STEPS = ("signup", "view", "click", "purchase")
SESSION_GAP_S = 1800  # 30-minute inactivity gap, strict (gap > 1800 splits)
TOP_PATHS = 20
FUZZY_MAX_DIST = 2
# length-bucket width for j10's composite blocking key; must be >=
# FUZZY_MAX_DIST so names within the edit-distance bound land in the
# same or adjacent buckets (2-probe coverage)
_LEN_BUCKET = 3


@register(
    "an1_event_funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY e.user_id
    ), s4 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN s3 ON e.user_id = s3.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY e.user_id
    )
    SELECT 1 AS step_order, 'signup' AS step, COUNT(*) AS n_users FROM s1
    UNION ALL
    SELECT 2, 'view', COUNT(*) FROM s2
    UNION ALL
    SELECT 3, 'click', COUNT(*) FROM s3
    UNION ALL
    SELECT 4, 'purchase', COUNT(*) FROM s4
    """,
)
def an1_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion: how many users completed signup, then
    (strictly later) a view, then a click, then a purchase — each step's
    anchor is the EARLIEST event that continues the sequence (the
    standard greedy funnel semantics; a later signup can't resurrect a
    funnel the first one already advanced further).

    Shape: each step is a per-user min-aggregate over a scan filtered to
    ONE event type — the filter is pushed into the parquet scan, so step
    k reads only that type's rows and joins against the (user-level,
    orders-of-magnitude smaller) step k-1 frontier. The frontier join
    key is user_id throughout, so at 100 TB all four steps co-locate
    under one partitioning of the user dimension and AQE broadcasts the
    shrinking frontiers; a single-pass sorted-array formulation exists
    (aggregate HOF over collect_list) but trades relational pushdown for
    a per-user sort — the join form is the one that prunes."""
    ev = load_table(spark, sf_dir, "events")

    def step_min(event_type: str, frontier: DataFrame | None) -> DataFrame:
        e = ev.filter(F.col("event_type") == event_type)
        if frontier is not None:
            e = e.join(frontier, "user_id").filter(F.col("ts") > F.col("t"))
        return e.groupBy("user_id").agg(F.min("ts").alias("t"))

    frontiers: list[DataFrame] = []
    cur: DataFrame | None = None
    for st in FUNNEL_STEPS:
        cur = step_min(st, cur)
        frontiers.append(cur)
    rows = [
        f.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i + 1).alias("step_order"),
            F.lit(st).alias("step"),
            "n_users",
        )
        for i, (st, f) in enumerate(zip(FUNNEL_STEPS, frontiers))
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


@register(
    "an2_cohort_retention",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id
    )
    -- date-typed outputs go out as midnight timestamps (engine-canon
    -- parity, same convention as a3/ts5)
    SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
           DATEDIFF('day', cohort_day, CAST(e.ts AS DATE)) AS day_offset,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    GROUP BY cohort_day, day_offset
    """,
)
def an2_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day, and
    for each (cohort_day, day_offset) the count of distinct cohort
    members active that many days later — the dashboard query behind
    every retention curve.

    Shape: one per-user min-date aggregate (the cohort dimension), one
    join back on user_id, one (cohort, offset) count-distinct. Both the
    aggregate and the join hash on user_id, so a single repartition
    serves both stages; at 100 TB the cohort map is a fraction of one
    day's events and AQE broadcasts it, while the count-distinct's
    expand shuffles (cohort_day, offset, user_id) triples — bounded by
    events, partial-aggregated map-side."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    return (
        ev.join(first_seen, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias(
                "day_offset"
            ),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .withColumn("cohort_day", F.col("cohort_day").cast("timestamp"))
    )


@register(
    "an3_session_paths",
    oracle=f"""
    WITH g AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN EPOCH(ts) - EPOCH(LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id))
                        > {SESSION_GAP_S}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), s AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM g
    ), paths AS (
        SELECT user_id, session_id,
               STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path
        FROM s GROUP BY user_id, session_id
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path ASC
    LIMIT {TOP_PATHS}
    """,
)
def an3_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session paths: sessionize each user's events with a strict
    30-minute inactivity gap (the lag/cumsum formulation — identical
    boundary semantics in both engines, unlike session_window's
    interval-overlap rule; see ts3), join each session's event types
    into an ordered 'a>b>c' path string, and rank the {TOP_PATHS} most
    common paths (ties broken by path text, so the cut is
    deterministic).

    Shape: one shuffle on user_id serves the lag window, the cumsum
    window, and the per-session path aggregation (same partitioning,
    back to back — no re-exchange); the path GROUP BY is the only
    second shuffle, over session-level rows. The per-session ordering
    uses array_sort(collect_list(struct)) rather than a sorted window
    collect — the struct sort key (ts, event_id) makes the path
    deterministic under timestamp ties."""
    ev = load_table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # TIMESTAMP_NTZ has no direct long cast in Spark 4; hop through LTZ
    # (session tz is UTC via prepare(), so the hop is value-preserving
    # and matches DuckDB's EPOCH on the same naive timestamps)
    epoch = F.col("ts").cast("timestamp_ltz").cast("long")
    gap = epoch - F.lag(epoch).over(by_user)
    sess = (
        ev.withColumn(
            "new_session",
            F.when(gap > SESSION_GAP_S, F.lit(1)).otherwise(F.lit(0)),
        )
        .withColumn(
            "session_id",
            F.sum("new_session").over(
                by_user.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    paths = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(TOP_PATHS)
    )


@register(
    "j10_fuzzy_blocked_join",
    oracle=f"""
    SELECT a.p_partkey AS key1, b.p_partkey AS key2,
           a.p_name AS name1, b.p_name AS name2,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
     AND ABS(LEN(a.p_name) - LEN(b.p_name)) <= {FUZZY_MAX_DIST}
    WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
    """,
)
def j10_fuzzy_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution join: part records whose names are within
    edit distance {FUZZY_MAX_DIST}, candidate-blocked on a COMPOSITE
    key — the standard blocked fuzzy-match (dedupe/record-linkage)
    pattern: equi-join on a cheap blocking key first, pay the O(len*k)
    edit distance only within blocks, never all-pairs.

    Blocking key: (p_brand, floor(length(p_name)/{_LEN_BUCKET})) with
    adjacent-bucket probing. Edit distance <= {FUZZY_MAX_DIST} bounds
    the length delta by {FUZZY_MAX_DIST}, and bucket width
    {_LEN_BUCKET} > {FUZZY_MAX_DIST} - 1 means matching names sit in
    the SAME or ADJACENT buckets — so each record emits two probe rows
    (its bucket and bucket+1) and a pair is enumerated exactly once,
    where probe == max(bucket_a, bucket_b). Recall is guaranteed by
    construction; the length-gap guard stays as a residual filter
    inside matched buckets.

    Why this survives 100x data where brand-only blocking dies: with
    ~25 brands, block size grows linearly with the corpus and
    comparisons as sum-of-block-squares — 10,000x the levenshtein work
    at 100x rows, with the length filter applied only AFTER the join
    enumerates each pair. The composite key prunes at HASH TIME: block
    cardinality scales with brands x length-buckets, and within a
    block every candidate already has a compatible length. The same
    2-probe scheme extends to any 1-D bucketed blocking attribute
    (prefix token, phonetic code) when lengths alone are too coarse."""
    par = spark.sparkContext.defaultParallelism
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.floor(F.length("p_name") / _LEN_BUCKET).alias("lb"),
    )
    # 2 probe rows per record cover {same bucket, adjacent buckets}
    probed = part.withColumn(
        "pb", F.explode(F.array(F.col("lb"), F.col("lb") + 1))
    )
    # the stream side must be partitioned for the DP work to
    # parallelize: a small `part` file is one split, and a broadcast
    # join would run every levenshtein in a single task (measured 32x
    # serialization at sf0.1); one tiny shuffle on the blocking key
    # buys 32-way comparison parallelism and scale-out skew spread
    a = probed.repartition(par, "p_brand", "pb").alias("a")
    b = probed.alias("b")
    # banded DP: levenshtein with a threshold early-exits (returns -1
    # past the bound) — O(len*k) per pair instead of O(len^2)
    dist = F.levenshtein(
        F.col("a.p_name"), F.col("b.p_name"), FUZZY_MAX_DIST
    )
    len_gap = F.abs(
        F.length(F.col("a.p_name")) - F.length(F.col("b.p_name"))
    )
    return (
        a.join(
            b,
            # ONE condition expression, cheapest predicates first:
            # Catalyst merges a separate .filter(dist) into the join
            # condition AHEAD of the cheap guards (measured — every
            # candidate paid the DP before any pruning), so the
            # guards-then-DP order is pinned here explicitly
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.pb") == F.col("b.pb"))
            # each pair matches at exactly one probe: the larger bucket
            & (
                F.col("a.pb")
                == F.greatest(F.col("a.lb"), F.col("b.lb"))
            )
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & (len_gap <= FUZZY_MAX_DIST)
            & (dist >= 0)
            & (dist <= FUZZY_MAX_DIST),
        )
        .select(
            F.col("a.p_partkey").alias("key1"),
            F.col("b.p_partkey").alias("key2"),
            F.col("a.p_name").alias("name1"),
            F.col("b.p_name").alias("name2"),
            dist.alias("dist"),
        )
    )


@register(
    "a8_hll_daily_merge",
    oracle=None,  # approximate — no hash-equality oracle possible
    # checker compares the merged-sketch estimate against the exact
    # distinct count within rtol (Datasketches HLL, lgK=14 → rse ~0.8%,
    # 3-sigma ~2.5%)
    approx_oracle="""
    SELECT COUNT(DISTINCT user_id) AS n_users_est FROM events
    """,
    rtol=0.025,
)
def a8_hll_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count rollup: build one Datasketches HLL
    sketch of active users PER DAY, then union the daily sketches into
    the month's distinct-user estimate — the two-level pattern that
    makes 100 TB rollup tables re-aggregatable: persist tiny per-
    partition sketches once, answer any coarser distinct-count (weekly,
    monthly, all-time, any day subset) by merging sketches instead of
    rescanning raw events. This is what a5's one-shot HLL can't do —
    approx_count_distinct yields a number, not a mergeable state.

    Shape: one (day) aggregation producing ~30 sketch blobs, one
    single-row union — the second stage is O(days), independent of
    event count."""
    ev = load_table(spark, sf_dir, "events")
    # lgConfigK pinned to 14 so the sketch's error budget matches the
    # registered rtol (rse ~0.8%, 3-sigma ~2.5%); Spark's default lgK=12
    # would make 2.5% only ~1.5 sigma once the sketch leaves sparse mode
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", 14).alias("sketch")
    )
    return daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("n_users_est")
    )


@register(
    "an4_twap",
    oracle="""
    WITH t AS (
        -- integer microseconds (not EPOCH's fractional-second double):
        -- both engines weight identical exact intervals
        SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day, value,
               epoch_us(LEAD(ts) OVER (
                   PARTITION BY CAST(ts AS DATE)
                   ORDER BY ts, event_id)) - epoch_us(ts) AS dt
        FROM events
    )
    SELECT day,
           ROUND(SUM(value * dt) / SUM(dt), 6) AS twap,
           COUNT(*) AS n_intervals
    FROM t WHERE dt IS NOT NULL
    GROUP BY day
    """,
)
def an4_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily time-weighted average price: each observation weighted by
    how long it remained the latest value (seconds until the next event
    that day; the day's final observation carries no weight). The
    standard TWAP the reference's OHLCV product implies but never
    computes — close prices weight a 1-second tick and an 8-hour lull
    equally; TWAP doesn't.

    Shape: one lead window partitioned by day (ties broken by event_id,
    so both engines weight identical intervals) feeding one day-level
    aggregation — the window and the groupBy share the same hash
    partitioning, so the plan has a single exchange. At 100 TB day
    partitioning makes the window run inside each date partition with
    no cross-partition state."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    by_day = Window.partitionBy(day).orderBy("ts", "event_id")
    epoch = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    dt = F.lead(epoch).over(by_day) - epoch
    t = ev.select(
        day.cast("timestamp").alias("day"),
        "value",
        dt.alias("dt"),
    ).filter(F.col("dt").isNotNull())
    return t.groupBy("day").agg(
        F.round(F.sum(F.col("value") * F.col("dt")) / F.sum("dt"), 6).alias(
            "twap"
        ),
        F.count(F.lit(1)).alias("n_intervals"),
    )


PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85


def _pagerank_oracle(iters: int) -> str:
    """Unrolled fixed-iteration PageRank as nested CTEs — ANSI SQL, no
    recursive-CTE aggregation (which most engines reject), so DuckDB can
    hash-check the iterative Spark computation exactly."""
    d = PAGERANK_DAMPING
    base = """
    WITH edges AS (
        SELECT sn.n_name AS src, cn.n_name AS dst, COUNT(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        WHERE cn.n_name <> sn.n_name
        GROUP BY 1, 2
    ), t AS (
        SELECT src, dst,
               CAST(w AS DOUBLE) / SUM(w) OVER (PARTITION BY src) AS p
        FROM edges
    ), nodes AS (
        SELECT src AS nation FROM edges
        UNION
        SELECT dst AS nation FROM edges
    ), nn AS (SELECT COUNT(*) AS n FROM nodes
    ), r0 AS (
        SELECT nation, 1.0 / n AS rank FROM nodes CROSS JOIN nn
    )"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""", r{i} AS (
        SELECT nodes.nation,
               {1.0 - d} / n + {d} * COALESCE(c.s, 0) AS rank
        FROM nodes CROSS JOIN nn
        LEFT JOIN (
            SELECT t.dst, SUM(r{i - 1}.rank * t.p) AS s
            FROM r{i - 1} JOIN t ON r{i - 1}.nation = t.src
            GROUP BY t.dst
        ) c ON nodes.nation = c.dst
    )""")
    return (
        base
        + "".join(steps)
        + f"\n    SELECT nation, ROUND(rank, 6) AS rank FROM r{iters}"
    )


@register("an5_nation_pagerank", oracle=_pagerank_oracle(PAGERANK_ITERS))
def an5_nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation trade graph (edges = lineitem
    counts between supplier and customer nations, the j7 flow matrix):
    {PAGERANK_ITERS} fixed power iterations with damping
    {PAGERANK_DAMPING} — the iterative-algorithm pattern (Pregel on
    DataFrames) beyond dd7's connected components: per iteration, one
    rank⋈edges join and one in-neighbor aggregation. Dangling nodes
    (no out-edges) keep only their teleport share — their mass is not
    redistributed, so ranks sum to 1 only on dangling-free graphs; the
    oracle and the numpy cross-check implement the same rule.

    Scale shape: the expensive part — building the edge relation — is
    ONE fact shuffle (lineitem⋈orders; all dims broadcast, the j7
    plan), executed exactly once: the transition relation is bounded by
    |nations|^2 = 625 rows, so it is collected to the driver and
    re-created as a local frame — the 5 iterations never touch the
    corpus again, every per-iteration join is a broadcast over |V|
    rows, and no persisted block outlives the call (a .persist() here
    leaked one cached relation per invocation across a long-lived
    session — bench loops, the 130-query registry sweep). At real
    graph scale (edges too big to collect) the same loop runs with
    rank/edges co-partitioned by vertex key, persisted+checkpointed
    every ~10 rounds, each iteration one shuffle. The oracle unrolls
    the same iterations as nested CTEs — fixed-point arithmetic parity
    within round(6)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("dst")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("src")
    )
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    trans_rows = edges.select(
        "src",
        "dst",
        (
            F.col("w").cast("double")
            / F.sum("w").over(Window.partitionBy("src"))
        ).alias("p"),
    ).collect()  # one corpus scan total; <=625 rows by construction
    trans = local_frame(spark, trans_rows, "src string, dst string, p double")
    nodes = (
        trans.select(F.col("src").alias("nation"))
        .union(trans.select(F.col("dst").alias("nation")))
        .distinct()
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    nodes_n = nodes.crossJoin(F.broadcast(nn))
    rank = nodes_n.select(
        "nation", "n", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    for _ in range(PAGERANK_ITERS):
        contrib = (
            rank.join(trans, rank.nation == trans.src)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("p")).alias("s"))
        )
        rank = (
            nodes_n.join(
                F.broadcast(contrib),
                nodes_n.nation == contrib.dst,
                "left",
            )
            .select(
                "nation",
                "n",
                (
                    F.lit(1.0 - PAGERANK_DAMPING) / F.col("n")
                    + F.lit(PAGERANK_DAMPING)
                    * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return rank.select("nation", F.round("rank", 6).alias("rank"))


@register(
    "an6_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT event_type AS prev_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ), pairs AS (
        SELECT prev_type, next_type, COUNT(*) AS n_transitions
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY prev_type, next_type
    ), outdeg AS (
        -- CAST: SUM(int) -> HUGEINT in DuckDB -> pandas float64
        SELECT prev_type, CAST(SUM(n_transitions) AS BIGINT) AS n_from
        FROM pairs GROUP BY prev_type
    )
    SELECT p.prev_type, p.next_type, p.n_transitions, o.n_from,
           ROUND(CAST(p.n_transitions AS DOUBLE) / o.n_from, 6) AS p_cond
    FROM pairs p JOIN outdeg o USING (prev_type)
    """,
)
def an6_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    every (event_type → next event_type) pair with its count, the
    source type's total outgoing transitions, and the conditional
    probability P(next|prev) — the model behind user-flow Sankey
    charts, next-action prediction baselines, and anomaly screens
    (a transition whose observed rate collapses versus this matrix is
    a product regression). Transitions follow each user's own timeline
    (ties broken by event_id so both engines pair identical events).

    Shape: ONE user-partitioned lead window (same exchange an3's
    sessionization uses), a (prev, next) aggregation — bounded by
    event-type-squared, tiny forever — and a window-sum denominator
    over the already-aggregated matrix rows (lm1's trick: never a
    second corpus scan). The conditional probability is a single IEEE
    division of exact integers — bit-identical across engines."""
    ev = load_table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("prev_type"),
        F.lead("event_type").over(order).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    pairs = seq.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    n_from = F.sum("n_transitions").over(Window.partitionBy("prev_type"))
    return pairs.select(
        "prev_type",
        "next_type",
        "n_transitions",
        n_from.alias("n_from"),
        F.round(
            F.col("n_transitions").cast("double") / n_from, 6
        ).alias("p_cond"),
    )


AN7_ANCHOR = "2001-08-02"  # day after the last order in the fixture
AN7_QS = (0.2, 0.4, 0.6, 0.8)  # quintile cutpoints


@register(
    "an7_rfm_segmentation",
    oracle=f"""
    WITH rfm AS (
        SELECT o_custkey AS custkey,
               DATEDIFF('day', CAST(MAX(o_orderdate) AS DATE),
                        DATE '{AN7_ANCHOR}') AS recency_days,
               COUNT(*) AS frequency,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(28, 10)))
                          AS DOUBLE), 2) AS monetary
        FROM orders GROUP BY o_custkey
    ), cuts AS (
        SELECT
            {", ".join(f"ROUND(quantile_cont(recency_days, {q}), 6) AS r{i}"
                       for i, q in enumerate(AN7_QS))},
            {", ".join(f"ROUND(quantile_cont(frequency, {q}), 6) AS f{i}"
                       for i, q in enumerate(AN7_QS))},
            {", ".join(f"ROUND(quantile_cont(monetary, {q}), 6) AS m{i}"
                       for i, q in enumerate(AN7_QS))}
        FROM rfm
    )
    SELECT custkey, recency_days, frequency, monetary,
           -- recency scores INVERT (recent = low days = high score)
           CAST(5 - (CAST(recency_days > r0 AS INT)
                     + CAST(recency_days > r1 AS INT)
                     + CAST(recency_days > r2 AS INT)
                     + CAST(recency_days > r3 AS INT))
                AS BIGINT) AS r_score,
           CAST(1 + (CAST(frequency > f0 AS INT)
                     + CAST(frequency > f1 AS INT)
                     + CAST(frequency > f2 AS INT)
                     + CAST(frequency > f3 AS INT))
                AS BIGINT) AS f_score,
           CAST(1 + (CAST(monetary > m0 AS INT)
                     + CAST(monetary > m1 AS INT)
                     + CAST(monetary > m2 AS INT)
                     + CAST(monetary > m3 AS INT))
                AS BIGINT) AS m_score
    FROM rfm CROSS JOIN cuts
    """,
)
def an7_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency / frequency / monetary
    quintile scores per customer, the classic marketing-analytics
    segmentation (and the lm3-pattern showcase: quintiles come from
    ONE exact-percentile aggregate broadcast back over the customers,
    NEVER an ntile/rank window — a global ntile drags every customer
    to one reducer, the 100 TB anti-pattern). Recency scores invert
    (bought recently → 5); cutoff comparisons use the ROUND(.,6)
    published cutoffs on exact integer/2dp-decimal features, so the
    strict-> tie behavior is engine-identical (the dq4 rule: Spark
    percentile() == DuckDB quantile_cont at 6dp on these inputs).

    Shape: one orders scan → per-customer aggregate (map-side
    combined, the only corpus-wide exchange, checkpointed) → a 1-row
    percentile aggregate broadcast back → scan-local scoring. Output
    is O(customers)."""
    o = load_table(spark, sf_dir, "orders")
    rfm = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.datediff(
                F.lit(AN7_ANCHOR).cast("date"),
                F.max("o_orderdate").cast("date"),
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(
                F.sum(
                    F.col("o_totalprice").cast("decimal(28,10)")
                ).cast("double"),
                2,
            ).alias("monetary"),
        )
        .localCheckpoint(eager=True)
    )
    cut_cols = []
    for dim in ("recency_days", "frequency", "monetary"):
        for i, q in enumerate(AN7_QS):
            cut_cols.append(
                F.round(
                    F.expr(f"percentile({dim}, {q})"), 6
                ).alias(f"{dim[0]}{i}")
            )
    cuts = rfm.agg(*cut_cols)

    def score(col: str, prefix: str):
        return sum(
            (F.col(col) > F.col(f"{prefix}{i}")).cast("long")
            for i in range(len(AN7_QS))
        )

    return rfm.crossJoin(F.broadcast(cuts)).select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        (F.lit(5) - score("recency_days", "r")).cast("long").alias("r_score"),
        (F.lit(1) + score("frequency", "f")).cast("long").alias("f_score"),
        (F.lit(1) + score("monetary", "m")).cast("long").alias("m_score"),
    )


AN8_MIN_SUP = 2  # minimum co-occurrence count for a reported pair


@register(
    "an8_copurchase_pairs",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey
        FROM lineitem
    ), item AS (
        SELECT pkey, COUNT(*) AS n_item FROM basket GROUP BY pkey
    ), n AS (
        SELECT COUNT(DISTINCT okey) AS n_orders FROM basket
    ), pairs AS (
        SELECT a.pkey AS part_a, b.pkey AS part_b, COUNT(*) AS n_pair
        FROM basket a
        JOIN basket b ON a.okey = b.okey AND a.pkey < b.pkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {AN8_MIN_SUP}
    )
    SELECT part_a, part_b,
           CAST(n_pair AS BIGINT) AS n_pair,
           CAST(fa.n_item AS BIGINT) AS n_a,
           CAST(fb.n_item AS BIGINT) AS n_b,
           ROUND(CAST(n_pair AS DOUBLE) / n_orders, 6) AS support,
           ROUND(CAST(n_pair AS DOUBLE) / fa.n_item, 6) AS conf_a_b,
           ROUND(CAST(n_pair AS DOUBLE) / fb.n_item, 6) AS conf_b_a,
           ROUND(CAST(n_pair AS DOUBLE) * n_orders
                 / (fa.n_item * fb.n_item), 6) AS lift
    FROM pairs
    JOIN item fa ON pairs.part_a = fa.pkey
    JOIN item fb ON pairs.part_b = fb.pkey
    CROSS JOIN n
    """,
)
def an8_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET MINING (a-priori frequent 2-itemsets): part pairs
    co-occurring in >= {AN8_MIN_SUP} orders, with support, directional
    confidence, and lift — the co-purchase association signal behind
    "customers also bought". Extension scope (SURVEY section 2h growth
    of the reference's dashboard analytics family).

    Shape — the scale design is what matters here: baskets build as
    ONE groupBy(order).collect_set(part) shuffle (basket sizes are
    bounded by order size, never corpus-sized), pair GENERATION is
    basket-local (explode x explode inside the row — there is NO
    corpus-wide self-join anywhere), and the a-priori prune applies
    BEFORE pair generation as a broadcast frequent-item array
    intersect (a pair frequent => both items frequent, so the prune
    is lossless by the a-priori property; it only removes work, not
    results). Pair counts map-side combine into the second exchange;
    the metric joins broadcast the O(parts) item-count relation and
    the 1-row order count. At 100 TB the only heavy exchanges are the
    basket build and the pair count, both linear in line items."""
    li = load_table(spark, sf_dir, "lineitem")
    # one lineitem scan -> per-order deduped item sets; checkpointed:
    # three consumers (item counts, order count, pair generation)
    order_sets = (
        li.groupBy(F.col("l_orderkey").alias("okey"))
        .agg(F.collect_set("l_partkey").alias("items"))
        .localCheckpoint(eager=True)
    )
    member = order_sets.select(
        "okey", F.explode("items").alias("pkey")
    )
    item = member.groupBy("pkey").agg(
        F.count(F.lit(1)).alias("n_item")
    )
    n_orders = order_sets.agg(F.count(F.lit(1)).alias("n_orders"))
    # a-priori prune: only items that can appear in a frequent pair
    freq_arr = item.filter(F.col("n_item") >= AN8_MIN_SUP).agg(
        F.collect_list("pkey").alias("freq_items")
    )
    pruned = (
        order_sets.crossJoin(F.broadcast(freq_arr))
        .select(
            F.array_intersect("items", "freq_items").alias("items")
        )
        .filter(F.size("items") >= 2)
    )
    pairs = (
        pruned.select(F.explode("items").alias("part_a"), "items")
        .select("part_a", F.explode("items").alias("part_b"))
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= AN8_MIN_SUP)
    )
    fa = item.select(
        F.col("pkey").alias("part_a"), F.col("n_item").alias("n_a")
    )
    fb = item.select(
        F.col("pkey").alias("part_b"), F.col("n_item").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(fa), "part_a")
        .join(F.broadcast(fb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_pair",
            "n_a",
            "n_b",
            F.round(
                F.col("n_pair").cast("double") / F.col("n_orders"), 6
            ).alias("support"),
            F.round(
                F.col("n_pair").cast("double") / F.col("n_a"), 6
            ).alias("conf_a_b"),
            F.round(
                F.col("n_pair").cast("double") / F.col("n_b"), 6
            ).alias("conf_b_a"),
            F.round(
                F.col("n_pair").cast("double")
                * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


AN9_WINDOW_DAYS = 7  # attribution lookback: touch must precede by <= 7d


@register(
    "an9_attribution",
    oracle=f"""
    WITH o AS (
        SELECT event_id, ts, user_id, event_type, value,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN event_id END IGNORE NULLS)
                   OVER w AS t_id,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN ts END IGNORE NULLS)
                   OVER w AS t_ts,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN event_type END IGNORE NULLS)
                   OVER w AS t_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS conv_event_id, user_id, value AS revenue,
           CASE WHEN epoch_us(ts) - epoch_us(t_ts)
                     <= {AN9_WINDOW_DAYS} * 86400000000 THEN t_id END
               AS touch_event_id,
           CASE WHEN epoch_us(ts) - epoch_us(t_ts)
                     <= {AN9_WINDOW_DAYS} * 86400000000 THEN t_type END
               AS touch_type,
           CASE WHEN epoch_us(ts) - epoch_us(t_ts)
                     <= {AN9_WINDOW_DAYS} * 86400000000
                THEN (epoch_us(ts) - epoch_us(t_ts)) // 1000000 END
               AS gap_sec
    FROM o WHERE event_type = 'purchase'
    """,
)
def an9_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH CONVERSION ATTRIBUTION: every purchase is credited
    to the same user's most recent click/view that happened STRICTLY
    BEFORE it and within a {AN9_WINDOW_DAYS}-day lookback; purchases
    with no qualifying touch stay in the relation unattributed (NULL
    touch columns) — the marketing-analytics primitive the funnel
    (an1) and session-path (an3) ops stop short of. Output is the
    per-conversion attribution manifest (conversion, revenue, credited
    touch, touch type, gap seconds) a channel-level rollup consumes.

    Shape: ONE pass — a single user-partitioned ordered window
    (ties broken by event_id; frame ends at 1 PRECEDING so a touch at
    the exact purchase timestamp orders by event_id, and the purchase
    itself can never self-attribute) carries the last touch forward
    via last_value(... ignore nulls); the lookback is a post-window
    null-out, NOT a join. No as-of join, no self-join: one shuffle on
    user_id total, and window partitions are per-user event counts —
    bounded, never corpus-wide. Gap math is exact integer
    microseconds (unix_micros/epoch_us) floor-divided to seconds, so
    both engines agree bit-for-bit. At 100 TB this is the plan you
    want: attribution is embarrassingly parallel across users."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("click", "view")
    o = ev.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        F.last(F.when(is_touch, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("t_id"),
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("t_ts"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("t_type"),
    ).filter(F.col("event_type") == "purchase")
    gap_us = F.unix_micros(F.col("ts").cast("timestamp_ltz")) - F.unix_micros(
        F.col("t_ts").cast("timestamp_ltz")
    )
    in_window = gap_us <= AN9_WINDOW_DAYS * 86_400_000_000
    return o.select(
        F.col("event_id").alias("conv_event_id"),
        "user_id",
        F.col("value").alias("revenue"),
        F.when(in_window, F.col("t_id")).alias("touch_event_id"),
        F.when(in_window, F.col("t_type")).alias("touch_type"),
        F.when(in_window, F.floor(gap_us / 1_000_000))
        .cast("long")
        .alias("gap_sec"),
    )


@register(
    "an10_new_vs_returning",
    oracle="""
    WITH active AS (
        SELECT DISTINCT user_id,
               CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day FROM events
    ), first_seen AS (
        SELECT user_id, MIN(day) AS first_day FROM active GROUP BY user_id
    )
    SELECT a.day,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(SUM(CASE WHEN a.day = f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN a.day > f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returning
    FROM active a JOIN first_seen f USING (user_id)
    GROUP BY a.day
    """,
)
def an10_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split NEW vs RETURNING — the activation-vs-
    retention dashboard decomposition of a3's raw daily counts (a user
    is new on their first-ever active day, returning after). Pairs
    with a11's rolling WAU and an2's cohort matrix.

    Shape: one (user, day) dedupe, a user-level MIN aggregate, and a
    join back on user_id — all three share the user_id hash
    partitioning so the plan reuses one exchange lineage; output is
    O(days). No window, no self-join of raw events; at 100 TB the
    (user, day) relation is the bounded activity spine every retention
    metric here derives from."""
    ev = load_table(spark, sf_dir, "events")
    active = ev.select(
        "user_id", F.to_date("ts").cast("timestamp").alias("day")
    ).distinct()
    first_seen = active.groupBy("user_id").agg(
        F.min("day").alias("first_day")
    )
    return (
        active.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.sum(
                F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
            ).cast("long").alias("n_new"),
            F.sum(
                F.when(F.col("day") > F.col("first_day"), 1).otherwise(0)
            ).cast("long").alias("n_returning"),
        )
    )


@register(
    "an11_engagement_gini",
    oracle="""
    WITH pc AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ), b AS (
        SELECT c, CAST(COUNT(*) AS BIGINT) AS k FROM pc GROUP BY c
    ), w AS (
        SELECT c, k,
               CAST(SUM(k) OVER (ORDER BY c) - k AS BIGINT) AS prefix
        FROM b
    ), agg AS (
        SELECT CAST(SUM(k) AS BIGINT) AS n,
               CAST(SUM(c * k) AS BIGINT) AS t,
               CAST(SUM(c * (k * prefix + (k * (k + 1)) // 2)) AS BIGINT)
                   AS s
        FROM w
    )
    SELECT n AS n_users, t AS n_events,
           ROUND((2.0 * s - (n + 1) * t) / (1.0 * n * t), 6) AS gini
    FROM agg
    """,
)
def an11_engagement_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT of per-user event counts — the engagement-
    inequality number behind "x% of users generate y% of traffic"
    (and, corpus-side, the doc-contribution skew a data mix audits).
    Gini = (2·Σᵢ i·cᵢ − (n+1)·Σc) / (n·Σc) over counts sorted
    ascending; ties contribute the same sum under any permutation, so
    the statistic is deterministic without a tie-break rule.

    Shape — the pp1 two-phase prefix-sum pattern, NOT a global sort:
    the rank-weighted sum needs each count's global ascending position,
    but equal counts are interchangeable, so bucket BY THE COUNT VALUE
    (k_c users per distinct count c), run the one unbounded-ordered
    window over the BUCKET relation (|distinct count values| rows —
    hundreds, never users), and expand each bucket's rank range in
    closed form: Σ ranks = k·prefix + k(k+1)/2. All accumulators exact
    integers (s ≤ n²·max_c « 2^53 here; a 10^9-user deployment
    switches s to DECIMAL(38) — same plan), final Gini two float ops
    over identical operands."""
    ev = load_table(spark, sf_dir, "events")
    pc = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    b = pc.groupBy("c").agg(F.count(F.lit(1)).alias("k"))
    w = Window.orderBy("c")
    wb = b.select(
        "c", "k", (F.sum("k").over(w) - F.col("k")).alias("prefix")
    )
    agg = wb.agg(
        F.sum("k").alias("n"),
        F.sum(F.col("c") * F.col("k")).alias("t"),
        F.sum(
            F.col("c")
            * (F.col("k") * F.col("prefix") + F.expr("(k * (k + 1)) DIV 2"))
        ).alias("s"),
    )
    return agg.select(
        F.col("n").alias("n_users"),
        F.col("t").alias("n_events"),
        F.round(
            (F.lit(2.0) * F.col("s") - (F.col("n") + 1) * F.col("t"))
            / (F.lit(1.0) * F.col("n") * F.col("t")),
            6,
        ).alias("gini"),
    )


@register(
    "dq11_weekly_scorecard",
    oracle="""
    SELECT DATE_TRUNC('week', CAST(ts AS DATE))::TIMESTAMP AS week,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_value,
           ROUND(CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS null_value_rate,
           CAST(SUM(CASE WHEN props IS NULL OR props = ''
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_props
    FROM events
    GROUP BY 1
    """,
)
def dq11_weekly_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEEKLY DATA-HEALTH SCORECARD over the event stream: volumes,
    distinct users/types, NULL-value and empty-props rates per week —
    the first dashboard an on-call engineer reads when an upstream
    producer breaks (a null-rate step or a vanished event type dates
    the incident to a week before anyone bisects code). Complements
    dq3/dq7 (distribution drift) with plain integrity accounting.

    Shape: one scan into one O(weeks) aggregate; the two COUNT
    DISTINCTs expand-partial-aggregate map-side. Every published
    number is an exact integer except the one rate division."""
    ev = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.to_date("ts")).alias("week")
    null_val = F.sum(
        F.when(F.col("value").isNull(), 1).otherwise(0)
    )
    return ev.groupBy(week).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        null_val.cast("long").alias("n_null_value"),
        F.round(null_val / F.count(F.lit(1)), 6).alias("null_value_rate"),
        F.sum(
            F.when(
                F.col("props").isNull() | (F.col("props") == ""), 1
            ).otherwise(0)
        ).cast("long").alias("n_empty_props"),
    )


@register(
    "an12_time_to_convert",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
                   AS first_click_us,
               MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                   AS first_purchase_us
        FROM events GROUP BY user_id
    ), gaps AS (
        SELECT first_purchase_us - first_click_us AS gap_us
        FROM firsts
        WHERE first_click_us IS NOT NULL
          AND first_purchase_us IS NOT NULL
          AND first_purchase_us >= first_click_us
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(1.0 * COUNT(*)
                 / (SELECT COUNT(*) FROM firsts), 6) AS conv_rate,
           ROUND(quantile_cont(gap_us, 0.5), 6) AS p50_gap_us,
           ROUND(quantile_cont(gap_us, 0.9), 6) AS p90_gap_us
    FROM gaps
    """,
)
def an12_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TO-CONVERT distribution: for every user whose first
    purchase follows their first click, the exact microsecond gap
    between the two — published as conversion rate + interpolated
    p50/p90 latency. an1 counts funnel stages, an9 assigns credit;
    this is the third product question ("HOW LONG does conversion
    take") a growth dashboard pairs with them.

    Shape: ONE conditional-MIN aggregate per user (no ordered window,
    no self-join — first-click and first-purchase fall out of the
    same groupBy), then a single global percentile aggregate over the
    O(converted-users) gap relation. Gaps are exact integer
    microseconds (the an4/j11 rule) and Spark's exact percentile()
    equals DuckDB's quantile_cont at 6dp on integer inputs (the lm3
    precedent)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", us)).alias(
            "first_click_us"
        ),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias(
            "first_purchase_us"
        ),
    )
    n_users = firsts.agg(F.count(F.lit(1)).alias("n_users"))
    gaps = firsts.filter(
        F.col("first_click_us").isNotNull()
        & F.col("first_purchase_us").isNotNull()
        & (F.col("first_purchase_us") >= F.col("first_click_us"))
    ).select(
        (F.col("first_purchase_us") - F.col("first_click_us")).alias(
            "gap_us"
        )
    )
    agg = gaps.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr("percentile(gap_us, 0.5)").alias("p50"),
        F.expr("percentile(gap_us, 0.9)").alias("p90"),
    )
    return agg.crossJoin(F.broadcast(n_users)).select(
        "n_users",
        "n_converted",
        F.round(F.lit(1.0) * F.col("n_converted") / F.col("n_users"), 6).alias(
            "conv_rate"
        ),
        F.round(F.col("p50"), 6).alias("p50_gap_us"),
        F.round(F.col("p90"), 6).alias("p90_gap_us"),
    )

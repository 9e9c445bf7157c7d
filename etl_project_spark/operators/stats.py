"""Statistical testing and modeling operators — two-sample KS drift,
Kaplan–Meier survival with censoring, grouped OLS regression.

The dq family already measures drift through binned lenses (dq3 PSI,
dq6 token KL, dq7 categorical shift, dq10 embedding centroids); this
module adds the bin-free classical tests a data-quality platform runs
beside them, each made DIFFERENTIALLY HASH-CHECKABLE with the
engine's exactness rules. Extension scope (SURVEY §2h): the reference
stops at dashboard aggregates; these are the statistics its analysts
would run next.

Exactness recipes (see the module-level rules in clustering.py /
sketches.py):
- KS: the statistic's numerator |F1−F2|·n1·n2 is PURE INT64 (counts
  cross-multiplied — no float CDF anywhere), so the supremum and its
  location are exact; one final IEEE division under ROUND(6).
- Kaplan–Meier: the survival curve is an INTEGER recurrence
  s_i = floor(s_{i−1}·(n_i−d_i)/n_i + 0.5) in 1e−6 units (km1's
  requantize rule — exact-int operands make the lone IEEE division
  deterministic), walked by a driver loop over the BOUNDED step table
  on the Spark side and by a recursive CTE on the DuckDB side — both
  engines take the identical path step by step.
- OLS: every moment is an exact int64 sum over quantized inputs; the
  published coefficients are a FIXED chain of single IEEE ops over
  identical doubles, under ROUND(6) (the lm2/a10 precedent).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_project_spark.catalog import load_table
from etl_project_spark.registry import register
from etl_project_spark.session import local_frame

KS_GROUP_A = "A"  # returned items
KS_GROUP_B = "R"  # refused/R flag — the reference's other closed flag
KS_STEP = 4096  # value-bucket width for the window-free cumulative sums

KM_DAY_US = 86_400_000_000  # one day of microseconds
KM_SCALE = 1_000_000  # survival published in 1e-6 units

OLS_GROUP = "l_returnflag"


@register(
    "dq14_ks_drift",
    oracle=f"""
    WITH pool AS (
        SELECT v, CAST(SUM(ca) AS BIGINT) AS ca,
               CAST(SUM(cb) AS BIGINT) AS cb
        FROM (
            SELECT l_extendedprice AS v,
                   CASE WHEN l_returnflag = '{KS_GROUP_A}' THEN 1
                        ELSE 0 END AS ca,
                   CASE WHEN l_returnflag = '{KS_GROUP_B}' THEN 1
                        ELSE 0 END AS cb
            FROM lineitem
            WHERE l_returnflag IN ('{KS_GROUP_A}', '{KS_GROUP_B}')
        ) GROUP BY v
    ), n AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS n1,
               CAST(SUM(cb) AS BIGINT) AS n2
        FROM pool
    ), cum AS (
        SELECT v,
               CAST(SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS cca,
               CAST(SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS ccb
        FROM pool
    )
    SELECT n.n1, n.n2,
           CAST(ABS(cca * n.n2 - ccb * n.n1) AS BIGINT) AS d_num,
           ROUND(CAST(ABS(cca * n.n2 - ccb * n.n1) AS DOUBLE)
                 / CAST(n.n1 * n.n2 AS DOUBLE), 6) AS ks,
           v AS ks_at
    FROM cum, n
    QUALIFY ROW_NUMBER() OVER (
        ORDER BY ABS(cca * n.n2 - ccb * n.n1) DESC, v) = 1
    """,
)
def dq14_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test between the price
    distributions of returnflag '{KS_GROUP_A}' and '{KS_GROUP_B}' line
    items: the supremum of |F1 − F2| over the pooled empirical CDFs,
    published with its EXACT integer numerator (|c1·n2 − c2·n1| — no
    float CDF exists anywhere in the comparison), its location (the
    smallest value attaining the supremum), and the KS statistic as
    one ROUND(6) division. The bin-free complement to dq3's PSI: PSI
    needs a binning choice and saturates on shape-preserving shifts;
    KS is distribution-free and exact.

    Shape (two-phase cumulative sums — the pp1 bucket pattern): pooled
    per-value counts bucket by the value-monotone key
    floor(v / {KS_STEP}) (prices span ~26 buckets at any SF since
    TPC-H price ranges are SF-invariant); running sums use a window
    PARTITIONED by bucket and the cross-bucket prefix (plus n1/n2)
    comes from one window pass over the ~26-row BUCKET-TOTALS relation
    (r13 — the only unpartitioned window orders that bounded relation,
    never the pool; before, the offsets were a driver collect that
    forced an eager checkpoint of the 392k-row pool and split the
    statistic into three jobs). The supremum is a
    TakeOrderedAndProject top-1 (the t1 pattern). No corpus-sized
    driver pull anywhere; the oracle uses a plain global INTEGER
    window (exact — only windowed DOUBLE sums are non-portable)."""
    li = load_table(spark, sf_dir, "lineitem")
    pool = (
        li.filter(F.col("l_returnflag").isin(KS_GROUP_A, KS_GROUP_B))
        .select(
            F.col("l_extendedprice").alias("v"),
            (F.col("l_returnflag") == KS_GROUP_A)
            .cast("long")
            .alias("ca"),
            (F.col("l_returnflag") == KS_GROUP_B)
            .cast("long")
            .alias("cb"),
        )
        .groupBy("v")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
        .withColumn("vb", F.floor(F.col("v") / KS_STEP).cast("long"))
    )
    # r13 (VERDICT r12 #5): the bucket-total prefix offsets fold on the
    # ~26-row BUCKET relation with the pp1 two-phase window pattern
    # instead of a driver collect — the eager localCheckpoint of the
    # 392k-row pool, the separate totals job, and the createDataFrame
    # round-trip all disappear; the whole statistic is ONE lazy plan
    # ending in a top-1 (interleaved A/B at sf0.1: medians 1.43 ->
    # 1.29 s, mins 1.31 -> 1.20, identical output — the bigger win is
    # structural: one job instead of three serial ones, nothing
    # corpus-sized materialized). The only unpartitioned window orders the
    # bucket-totals relation, bounded by the SF-invariant TPC-H price
    # range (~26 rows at any corpus size — see SCALE.md §global
    # windows); the pool itself is consumed by both the totals branch
    # and the cumulative branch, whose shared scan+groupBy(v) subtree
    # is exchange-reused (no HOF lambdas anywhere in it).
    over_buckets = Window.orderBy("vb")
    offsets = (
        pool.groupBy("vb")
        .agg(F.sum("ca").alias("sa"), F.sum("cb").alias("sb"))
        .select(
            "vb",
            (F.sum("sa").over(over_buckets) - F.col("sa")).alias("oa"),
            (F.sum("sb").over(over_buckets) - F.col("sb")).alias("ob"),
            F.sum("sa").over(
                Window.orderBy("vb").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("n1"),
            F.sum("sb").over(
                Window.orderBy("vb").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("n2"),
        )
    )
    w = (
        Window.partitionBy("vb")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = pool.join(F.broadcast(offsets), "vb").select(
        "v",
        (F.sum("ca").over(w) + F.col("oa")).alias("cca"),
        (F.sum("cb").over(w) + F.col("ob")).alias("ccb"),
        "n1",
        "n2",
    )
    d_num = F.abs(
        F.col("cca") * F.col("n2") - F.col("ccb") * F.col("n1")
    )
    return (
        cum.select("v", d_num.alias("d_num"), "n1", "n2")
        .orderBy(F.desc("d_num"), F.asc("v"))
        .limit(1)
        .select(
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            "d_num",
            F.round(
                F.col("d_num").cast("double")
                / (F.col("n1") * F.col("n2")).cast("double"),
                6,
            ).alias("ks"),
            F.col("v").alias("ks_at"),
        )
    )


@register(
    "an13_kaplan_meier",
    oracle=f"""
    WITH RECURSIVE f AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'click'
                        THEN epoch_us(ts) END) AS c,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN epoch_us(ts) END) AS p,
               MAX(epoch_us(ts)) AS last_us
        FROM events GROUP BY user_id
    ), cohort AS (
        SELECT CASE WHEN p IS NOT NULL AND p >= c
                    THEN (p - c) // {KM_DAY_US}
                    ELSE (last_us - c) // {KM_DAY_US} END AS day,
               CASE WHEN p IS NOT NULL AND p >= c THEN 1 ELSE 0 END
                   AS ev
        FROM f WHERE c IS NOT NULL
    ), steps AS (
        SELECT day,
               CAST(SUM(ev) AS BIGINT) AS d,
               CAST(SUM(1 - ev) AS BIGINT) AS cns,
               ROW_NUMBER() OVER (ORDER BY day) AS rn,
               CAST(COALESCE(SUM(SUM(ev) + SUM(1 - ev)) OVER (
                    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS BIGINT) AS prior
        FROM cohort GROUP BY day
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cohort
    ), atrisk AS (
        SELECT rn, day, d, cns, tot.n - prior AS at_risk
        FROM steps, tot
    ), kms(rn, s) AS (
        SELECT 0, CAST({KM_SCALE} AS BIGINT)
        UNION ALL
        SELECT a.rn,
               CAST(FLOOR(kms.s * (a.at_risk - a.d) * 1.0
                          / a.at_risk + 0.5) AS BIGINT)
        FROM kms JOIN atrisk a ON a.rn = kms.rn + 1
    )
    SELECT a.day, a.at_risk, a.d AS events, a.cns AS censored,
           k.s AS surv_e6,
           ROUND(k.s / {KM_SCALE}.0, 6) AS surv
    FROM atrisk a JOIN kms k ON k.rn = a.rn
    """,
)
def an13_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-convert WITH CENSORING
    — the estimator an12's converters-only latency distribution cannot
    be: users who never purchase are right-censored at their last
    observed event instead of dropped, so the curve is unbiased by
    still-active users (the product-limit estimator every retention /
    reliability analysis runs). Per conversion-day step: the risk set
    n_i (all users still unconverted and uncensored entering the day),
    conversions d_i, censorings, and the survival probability
    S_i = Π (1 − d_j/n_j).

    Differential form: durations quantize to DAYS via exact integer
    division, making the step table BOUNDED (≤ the corpus's event-day
    span — 15 rows at sf0.1) regardless of user count; survival is the
    INTEGER recurrence s_i = floor(s_{{i−1}}·(n_i−d_i)/n_i + 0.5) in
    1e-6 units — exact-int operands, one IEEE division per step (the
    km1 requantize rule), so both engines walk the identical sequence:
    Spark folds the collected bounded step table on the driver (the
    a15 bounded-pull pattern), the oracle walks a RECURSIVE CTE joined
    on step rank — the first recursive-CTE ORACLE in the registry
    (grammar 38/41 fuzz the engine surface; this puts it to work).

    Scale: the per-user reduction is one conditional-MIN/MAX groupBy
    (an12's shape — no window, no self-join); everything after
    operates on the bounded step relation. At 100 TB only the step
    table (days × 4 ints) ever reaches the driver."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", us)).alias("c"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("p"),
        F.max(us).alias("last_us"),
    )
    converted = F.col("p").isNotNull() & (F.col("p") >= F.col("c"))
    cohort = firsts.filter(F.col("c").isNotNull()).select(
        F.when(
            converted, F.expr(f"(p - c) DIV {KM_DAY_US}")
        )
        .otherwise(F.expr(f"(last_us - c) DIV {KM_DAY_US}"))
        .alias("day"),
        converted.cast("long").alias("ev"),
    )
    steps = sorted(
        (r["day"], r["d"], r["cns"])
        for r in cohort.groupBy("day")
        .agg(
            F.sum("ev").alias("d"),
            F.sum(F.lit(1) - F.col("ev")).alias("cns"),
        )
        .collect()
    )  # bounded: one row per distinct duration day
    remaining = sum(d + cns for _, d, cns in steps)
    s = KM_SCALE
    rows = []
    for day, d, cns in steps:
        at_risk = remaining
        s = math.floor(s * (at_risk - d) / at_risk + 0.5)
        rows.append((day, at_risk, d, cns, s))
        remaining -= d + cns
    return local_frame(
        spark,
        rows,
        "day long, at_risk long, events long, censored long,"
        " surv_e6 long",
    ).select(
        "day",
        "at_risk",
        "events",
        "censored",
        "surv_e6",
        F.round(F.col("surv_e6") / KM_SCALE, 6).alias("surv"),
    )


@register(
    "a16_grouped_ols",
    oracle=f"""
    WITH q AS (
        SELECT {OLS_GROUP} AS grp,
               CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS x,
               CAST(FLOOR(l_extendedprice + 0.5) AS BIGINT) AS y
        FROM lineitem
    ), m AS (
        SELECT grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM q GROUP BY grp
    ), d AS (
        SELECT grp, n,
               CAST(sx AS DOUBLE) / n AS ax,
               CAST(sy AS DOUBLE) / n AS ay,
               CAST(sxx AS DOUBLE) / n AS axx,
               CAST(sxy AS DOUBLE) / n AS axy,
               CAST(syy AS DOUBLE) / n AS ayy
        FROM m
    )
    SELECT grp, n,
           ROUND((axy - ax * ay) / (axx - ax * ax), 6) AS slope,
           ROUND(ay - ((axy - ax * ay) / (axx - ax * ax)) * ax, 6)
               AS intercept,
           ROUND(((axy - ax * ay) * (axy - ax * ay))
                 / ((axx - ax * ax) * (ayy - ay * ay)), 6) AS r2
    FROM d
    """,
)
def a16_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares fit of price (whole dollars)
    on quantity with goodness-of-fit: slope, intercept, and R² per
    returnflag — the one-variable regression a pricing dashboard runs
    beside a10's global correlation (a10 answers "are they related";
    this answers "by how much per unit, and how well does the line
    fit, per segment").

    Exactness: inputs quantize to int64 (quantity is integral;
    price to whole dollars keeps SUM(y²) far inside int64 at any SF —
    ~2.4e16 at sf1 per group), all five moments are exact integer
    sums with map-side partial aggregation, and the published
    coefficients are a FIXED chain of single IEEE ops over the
    moment ratios — identical doubles in, identical doubles out both
    engines (the lm2/a10 rule), ROUND(6) as the boundary guard. One
    scan, one groupBy on a 3-value key; nothing else."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select(
        F.col(OLS_GROUP).alias("grp"),
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") + 0.5).cast("long").alias("y"),
    )
    m = q.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    ax = F.col("sx").cast("double") / F.col("n")
    ay = F.col("sy").cast("double") / F.col("n")
    axx = F.col("sxx").cast("double") / F.col("n")
    axy = F.col("sxy").cast("double") / F.col("n")
    ayy = F.col("syy").cast("double") / F.col("n")
    cov = axy - ax * ay
    varx = axx - ax * ax
    vary = ayy - ay * ay
    return m.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.round(cov / varx, 6).alias("slope"),
        F.round(ay - (cov / varx) * ax, 6).alias("intercept"),
        F.round((cov * cov) / (varx * vary), 6).alias("r2"),
    )


MW_TYPE_A = "click"  # event-type samples for the rank-sum test
MW_TYPE_B = "error"
MW_STEP = 32  # value-bucket width (events.value spans ~0-500)


@register(
    "dq15_mannwhitney_u",
    oracle=f"""
    WITH pool AS (
        SELECT v, CAST(SUM(ca) AS BIGINT) AS ca,
               CAST(SUM(cb) AS BIGINT) AS cb
        FROM (
            SELECT value AS v,
                   CASE WHEN event_type = '{MW_TYPE_A}' THEN 1
                        ELSE 0 END AS ca,
                   CASE WHEN event_type = '{MW_TYPE_B}' THEN 1
                        ELSE 0 END AS cb
            FROM events
            WHERE event_type IN ('{MW_TYPE_A}', '{MW_TYPE_B}')
              AND value IS NOT NULL
        ) GROUP BY v
    ), n AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS n1,
               CAST(SUM(cb) AS BIGINT) AS n2
        FROM pool
    ), ranked AS (
        SELECT v, ca, cb,
               CAST(COALESCE(SUM(ca + cb) OVER (ORDER BY v ROWS
                    BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS prior
        FROM pool
    ), r1 AS (
        SELECT CAST(SUM(ca * (2 * prior + (ca + cb) + 1)) AS BIGINT)
            AS r1_2x
        FROM ranked
    )
    SELECT n.n1, n.n2,
           CAST(r1.r1_2x - n.n1 * (n.n1 + 1) AS BIGINT) AS u1_2x,
           CAST(2 * n.n1 * n.n2 - (r1.r1_2x - n.n1 * (n.n1 + 1))
                AS BIGINT) AS u2_2x,
           ROUND(CAST(r1.r1_2x - n.n1 * (n.n1 + 1) AS DOUBLE)
                 / CAST(2 * n.n1 * n.n2 AS DOUBLE), 6) AS auc
    FROM n, r1
    """,
)
def dq15_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test between the '{MW_TYPE_A}' and
    '{MW_TYPE_B}' event-value samples — the nonparametric location
    test that pairs with dq14's KS: KS asks "are the distributions
    different anywhere", U asks "does one stochastically dominate",
    and U/(n1·n2) IS the AUC / probability-of-superiority effect size
    a monitoring dashboard actually thresholds on.

    Exactness — the DOUBLED-RANK trick: with ties averaged, a tie
    group of t values after `prior` predecessors has average rank
    prior + (t+1)/2, so TWICE the rank sum is the pure integer
    Σ ca·(2·prior + t + 1) — no fractional rank ever exists; U is
    published in the same 2× units (u1_2x + u2_2x = 2·n1·n2 as the
    built-in identity check) and the AUC is one ROUND(6) division.

    Shape: per-value pooled counts, cross-value prefix via the same
    window-free bucketed pattern as dq14 (value-monotone buckets +
    driver-folded offsets; the EXCLUSIVE prior uses a 1-PRECEDING
    frame inside the bucket), then ONE global aggregate — no top-k,
    no unpartitioned window, nothing corpus-sized on the driver."""
    ev = load_table(spark, sf_dir, "events")
    pool = (
        ev.filter(
            F.col("event_type").isin(MW_TYPE_A, MW_TYPE_B)
            & F.col("value").isNotNull()
        )
        .select(
            F.col("value").alias("v"),
            (F.col("event_type") == MW_TYPE_A).cast("long").alias("ca"),
            (F.col("event_type") == MW_TYPE_B).cast("long").alias("cb"),
        )
        .groupBy("v")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
        .withColumn("vb", F.floor(F.col("v") / MW_STEP).cast("long"))
        .localCheckpoint()
    )
    totals = sorted(
        (r["vb"], r["st"])
        for r in pool.groupBy("vb")
        .agg(F.sum(F.col("ca") + F.col("cb")).alias("st"))
        .collect()
    )  # bounded: ~16 value-range buckets
    offsets, acc = [], 0
    for vb, st in totals:
        offsets.append((vb, acc))
        acc += st
    odf = local_frame(spark, offsets or [(0, 0)], "vb long, off long")
    w = (
        Window.partitionBy("vb")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = pool.join(F.broadcast(odf), "vb").select(
        "ca",
        "cb",
        (
            F.coalesce(
                F.sum(F.col("ca") + F.col("cb")).over(w), F.lit(0)
            )
            + F.col("off")
        ).alias("prior"),
    )
    agg = ranked.agg(
        F.sum("ca").alias("n1"),
        F.sum("cb").alias("n2"),
        F.sum(
            F.col("ca")
            * (2 * F.col("prior") + (F.col("ca") + F.col("cb")) + 1)
        ).alias("r1_2x"),
    )
    u1 = F.col("r1_2x") - F.col("n1") * (F.col("n1") + 1)
    return agg.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        u1.cast("long").alias("u1_2x"),
        (2 * F.col("n1") * F.col("n2") - u1).cast("long").alias("u2_2x"),
        F.round(
            u1.cast("double")
            / (2 * F.col("n1") * F.col("n2")).cast("double"),
            6,
        ).alias("auc"),
    )

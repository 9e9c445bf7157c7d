"""Managed-table layout: the engine's warehouse DDL surface (K5/K6 in
SURVEY.md §2b) plus the bucketed fact layout that removes the
orders⋈lineitem shuffle.

The reference declares its schema twice as hand-written DDL strings
(/root/reference/dags/airflow_dags.py:90-154 for Postgres, 207-277 for
Redshift) and delegates physical layout entirely to the databases. Here
the layout IS the engine's concern:

- dimension tables: plain parquet `saveAsTable` (broadcast at join time,
  layout irrelevant);
- fact tables: `bucketBy(n, key).sortBy(key)` on the join key. Two
  tables bucketed the same way co-locate matching keys file-for-file, so
  an equi-join on the bucket key needs NO shuffle — at 100 TB that is
  the difference between re-shuffling terabytes per query and a local
  merge per bucket;
- time-partitioned tables: `partitionBy("period_date")` so date filters
  prune directories (the reference's manual `WHERE period_date = ds`
  pushdown, airflow_dags.py:61-65, becomes free partition pruning).

Bucket metadata lives in the session catalog (`spark.sql.warehouse.dir`);
`spark.table(name)` exposes it to Catalyst, which then plans
SortMergeJoin without Exchange (verified in tests/test_layout.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_project_spark.catalog import load_table
from etl_project_spark.session import local_frame, prepare

FACT_BUCKET_KEYS = {"orders": "o_orderkey", "lineitem": "l_orderkey"}


def _drop_table_and_location(
    spark: SparkSession, qualified: str, database: str | None = None
) -> None:
    """Idempotency across sessions: the session catalog forgets managed
    tables when the JVM exits, but their warehouse directories persist —
    a later CREATE then fails with LOCATION_ALREADY_EXISTS. Drop the
    catalog entry AND any orphaned location (Hadoop FS API, so the same
    code works on local disk, HDFS, or S3A)."""
    spark.sql(f"DROP TABLE IF EXISTS {qualified}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    table = qualified.rsplit(".", 1)[-1]
    loc = (
        f"{warehouse}/{database}.db/{table}" if database else f"{warehouse}/{table}"
    )
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(loc)
    fs = path.getFileSystem(hconf)
    if fs.exists(path):
        fs.delete(path, True)


def create_bucketed_facts(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = 8,
    database: str = "bucketed",
) -> None:
    """Write orders + lineitem as managed tables bucketed AND sorted by
    orderkey. Idempotent (overwrite). ``n_buckets`` scales with data: at
    100 TB pick buckets so one bucket ≈ one task's memory (~hundreds of
    MB), and keep the SAME count on both sides — mismatched counts
    reintroduce the shuffle."""
    prepare(spark)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    for name, key in FACT_BUCKET_KEYS.items():
        _drop_table_and_location(spark, f"{database}.{name}", database)
        (
            load_table(spark, sf_dir, name)
            .write.mode("overwrite")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(f"{database}.{name}")
        )


def bucketed_order_revenue(
    spark: SparkSession, database: str = "bucketed"
) -> DataFrame:
    """The j2 fact⋈fact query over the bucketed layout: joins on the
    bucket key, so the physical plan has NO Exchange on either side (the
    scan itself delivers the partitioning Catalyst requires)."""
    from pyspark.sql import functions as F

    o = spark.table(f"{database}.orders")
    l = spark.table(f"{database}.lineitem")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )


def create_partitioned_table(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    partition_cols: tuple[str, ...] = ("period_date",),
) -> None:
    """K5/K6 create-table surface for time-partitioned stores: one
    declaration, layout included (vs the reference's duplicated DDL
    strings). Date-filter queries prune to matching directories."""
    _drop_table_and_location(spark, name)
    (
        df.write.mode("overwrite")
        .partitionBy(*partition_cols)
        .format("parquet")
        .saveAsTable(name)
    )


def _zorder_oracle() -> str:
    """Spread-bit chain as stacked CTEs (each rebinds sd/sk through one
    magic-mask step) — pure BIGINT ops, identical in both engines."""
    from etl_project_spark.functions.layout import _SPREAD_MASKS

    parts = [
        """
    WITH base AS (
        SELECT o_orderkey,
               DATEDIFF('day', DATE '1992-01-01', o_orderdate) AS d,
               o_custkey % 4096 AS k
        FROM orders
    ), c0 AS (
        SELECT o_orderkey, d, k, d AS sd, k AS sk FROM base
    )"""
    ]
    prev = "c0"
    for i, (shift, mask) in enumerate(_SPREAD_MASKS, 1):
        parts.append(f""", c{i} AS (
        SELECT o_orderkey, d, k,
               (sd | (sd << {shift})) & {mask} AS sd,
               (sk | (sk << {shift})) & {mask} AS sk
        FROM {prev}
    )""")
        prev = f"c{i}"
    parts.append(f"""
    SELECT o_orderkey, d, k, sd | (sk << 1) AS zkey FROM {prev}
    """)
    return "".join(parts)


def _register_zorder_query() -> None:
    from pyspark.sql import DataFrame, SparkSession

    from etl_project_spark.catalog import load_table
    from etl_project_spark.functions.layout import zorder_key
    from etl_project_spark.registry import register

    @register("ly1_zorder_key", oracle=_zorder_oracle())
    def ly1_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Z-order (Morton) clustering key over orders: date ordinal x
        customer ordinal, bit-interleaved into one 64-bit sort key —
        the multidimensional layout primitive behind Delta/Iceberg
        OPTIMIZE ZORDER. Sorting files by this key bounds BOTH
        dimensions inside every parquet row group, so min/max stats
        prune conjunctive two-column scans that partitioning (one
        dim) and linear sorting (one dim) cannot; the pruning win is
        measured against a linear sort in
        tests/test_layout.py::test_zorder_bounds_both_dimensions.
        Pure long arithmetic in whole-stage codegen, scan-local — the
        oracle recomputes every key exactly."""
        o = load_table(spark, sf_dir, "orders")
        d = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        k = F.col("o_custkey") % 4096
        return o.select(
            "o_orderkey",
            d.alias("d"),
            k.alias("k"),
            zorder_key(d, k).alias("zkey"),
        )


_register_zorder_query()


LY2_FILES = 64  # simulated file count per layout
# (predicate, d_lo, d_hi, k_lo, k_hi); open dimensions span the domain
LY2_PREDICATES = [  # orders span d = 1096..~3500 (1995-01-01 onward)
    ("d_and_k", 1400, 1430, 100, 200),
    ("d_only", 2000, 2100, 0, 4095),
    ("k_only", 1096, 4000, 0, 50),
]


def _zorder_chain() -> str:
    """The ly1 spread-bit CTE chain, ending in relation ``zr`` with
    (o_orderkey, d, k, zkey) so callers can stack more CTEs on top."""
    from etl_project_spark.functions.layout import _SPREAD_MASKS

    parts = [
        """
    WITH base AS (
        SELECT o_orderkey,
               DATEDIFF('day', DATE '1992-01-01', o_orderdate) AS d,
               o_custkey % 4096 AS k
        FROM orders
    ), c0 AS (
        SELECT o_orderkey, d, k, d AS sd, k AS sk FROM base
    )"""
    ]
    prev = "c0"
    for i, (shift, mask) in enumerate(_SPREAD_MASKS, 1):
        parts.append(f""", c{i} AS (
        SELECT o_orderkey, d, k,
               (sd | (sd << {shift})) & {mask} AS sd,
               (sk | (sk << {shift})) & {mask} AS sk
        FROM {prev}
    )""")
        prev = f"c{i}"
    parts.append(f""", zr AS (
        SELECT o_orderkey, d, k, sd | (sk << 1) AS zkey FROM {prev}
    )""")
    return "".join(parts)


def _ly2_oracle() -> str:
    preds = ", ".join(
        f"('{p}', {dl}, {dh}, {kl}, {kh})"
        for p, dl, dh, kl, kh in LY2_PREDICATES
    )
    n = LY2_FILES

    def stats(key: str, layout: str) -> str:
        return f"""
    b_{layout} AS (
        SELECT MIN({key}) AS mn, MAX({key}) AS mx FROM zr
    ), f_{layout} AS (
        SELECT LEAST(CAST(FLOOR(({key} - mn) * {n}.0 / (mx - mn + 1))
                          AS BIGINT), {n - 1}) AS file_id, d, k
        FROM zr CROSS JOIN b_{layout}
    ), s_{layout} AS (
        SELECT file_id, MIN(d) AS mn_d, MAX(d) AS mx_d,
               MIN(k) AS mn_k, MAX(k) AS mx_k, COUNT(*) AS n_rows
        FROM f_{layout} GROUP BY file_id
    )"""

    return (
        _zorder_chain()
        + ","
        + stats("zkey", "z")
        + ","
        + stats("d", "lin")
        + f""", preds(predicate, d_lo, d_hi, k_lo, k_hi) AS (
        VALUES {preds}
    ), stats AS (
        SELECT 'zorder' AS layout, * FROM s_z
        UNION ALL SELECT 'linear_date', * FROM s_lin
    )
    SELECT layout, predicate,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN mx_d >= d_lo AND mn_d <= d_hi
                          AND mx_k >= k_lo AND mn_k <= k_hi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_files_scanned,
           CAST(SUM(CASE WHEN mx_d >= d_lo AND mn_d <= d_hi
                          AND mx_k >= k_lo AND mn_k <= k_hi
                     THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
    FROM stats CROSS JOIN preds
    GROUP BY layout, predicate
    """
    )


def _register_pruning_query() -> None:
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import functions as F

    from etl_project_spark.catalog import load_table
    from etl_project_spark.functions.layout import zorder_key
    from etl_project_spark.registry import register

    @register("ly2_pruning_stats", oracle=_ly2_oracle())
    def ly2_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Zone-map PRUNING SIMULATION over two physical layouts — the
        quantified version of ly1's claim. Orders are tiled into
        {LY2_FILES} simulated files per layout (equal-width buckets of
        the sort key's range: z-order key vs linear date ordinal), each
        file carries its per-column min/max zone map — exactly what
        parquet row-group stats / Delta file stats store — and three
        representative predicates (conjunctive two-dim, date-only,
        customer-only) are tested for which files their ranges can
        skip. The output is the OPTIMIZE-planner's decision table:
        rows_scanned per layout per predicate, showing the z-order
        layout bounding BOTH dimensions while the linear layout prunes
        only its sort dimension (measured end-to-end on real parquet in
        tests/test_layout.py; this query hash-checks the arithmetic).

        Shape: the keyed relation is computed ONCE (materialized, like
        dq4's projection) and feeds both layouts' bucket stats; file
        ids are scan-local arithmetic against a broadcast 1-row bounds
        aggregate (NO global sort — equal-width range tiling stands in
        for the range-partitioned sort a real OPTIMIZE runs, same
        zone-map semantics); zone maps are a {LY2_FILES}-row relation,
        predicates a 3-row literal — everything after the two
        bucket-stat aggregates is metadata-sized, which is the point:
        pruning decisions at 100 TB read file stats, never data.
        Engine parity: pure integer arithmetic throughout (the bucket
        division is exact-int-in-double, floored identically)."""
        o = load_table(spark, sf_dir, "orders")
        d = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        k = F.col("o_custkey") % 4096
        zr = o.select(
            d.alias("d"), k.alias("k"), zorder_key(d, k).alias("zkey")
        ).localCheckpoint(eager=True)

        def stats(key: str, layout: str) -> DataFrame:
            b = zr.agg(
                F.min(key).alias("mn"), F.max(key).alias("mx")
            )
            fid = F.least(
                F.floor(
                    (F.col(key) - F.col("mn"))
                    * float(LY2_FILES)
                    / (F.col("mx") - F.col("mn") + 1)
                ).cast("long"),
                F.lit(LY2_FILES - 1).cast("long"),
            )
            return (
                zr.crossJoin(F.broadcast(b))
                .select(fid.alias("file_id"), "d", "k")
                .groupBy("file_id")
                .agg(
                    F.min("d").alias("mn_d"),
                    F.max("d").alias("mx_d"),
                    F.min("k").alias("mn_k"),
                    F.max("k").alias("mx_k"),
                    F.count(F.lit(1)).alias("n_rows"),
                )
                .select(F.lit(layout).alias("layout"), "*")
            )

        st = stats("zkey", "zorder").unionByName(stats("d", "linear_date"))
        preds = local_frame(
            spark,
            LY2_PREDICATES,
            "predicate string, d_lo long, d_hi long, k_lo long, k_hi long",
        )
        hit = (
            (F.col("mx_d") >= F.col("d_lo"))
            & (F.col("mn_d") <= F.col("d_hi"))
            & (F.col("mx_k") >= F.col("k_lo"))
            & (F.col("mn_k") <= F.col("k_hi"))
        )
        return (
            st.crossJoin(F.broadcast(preds))
            .groupBy("layout", "predicate")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_files"),
                F.sum(hit.cast("long")).cast("long").alias("n_files_scanned"),
                F.sum(
                    F.when(hit, F.col("n_rows")).otherwise(F.lit(0))
                )
                .cast("long")
                .alias("rows_scanned"),
            )
        )


_register_pruning_query()

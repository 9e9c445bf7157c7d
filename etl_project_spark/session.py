"""SparkSession factory with the engine's standard configuration.

The reference pins every timestamp to naive UTC (tz stripped at
/root/reference/dags/airflow_dags.py:45-48); we reproduce that convention
with a UTC session timezone and TIMESTAMP_NTZ columns.

Scale posture: AQE on (runtime coalescing + skew-join splitting), explicit
shuffle partitioning sized for the local harness but overridable for a real
cluster, Arrow enabled for the pandas-UDF paths.

Python workers: ``get_spark`` starts them through
``etl_project_spark.worker_daemon`` (``spark.python.daemon.module``), which
is ``pyspark.daemon`` with ``zipimporter.invalidate_caches`` made to skip
archives that have not changed on disk. Without it every Python-worker
task re-reads pyspark.zip, the Spark core jar and py4j's directories on
Python 3.11 (0.13-0.29 s a task); on Python >= 3.12 it is harmless. The
package root goes on ``spark.executorEnv.PYTHONPATH`` so the daemon module
imports from any working directory.

Rows held on the driver become a DataFrame through ``local_frame`` (one
Arrow batch, planned as ``LocalTableScan``), never through
``createDataFrame(list)``, whose pickled-row RDD needs a Python worker per
partition.
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

if TYPE_CHECKING:
    import pyarrow as pa

# the directory holding the ``etl_project_spark`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Session-settable confs every query needs regardless of who built the
# SparkSession (the driver's verify harness builds its own). Applied by
# ``prepare(spark)`` at query time, defensively.
_RUNTIME_CONFS = {
    # naive-UTC convention (SURVEY.md §1): deterministic timestamp maths.
    "spark.sql.session.timeZone": "UTC",
    # the driver testdata's events.parquet stores TIMESTAMP(NANOS) which
    # Spark's vectorized reader rejects; read as long-nanos and convert
    # (see catalog.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # AQE: runtime shuffle coalescing + skew-join handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for the few pandas-UDF operators.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def prepare(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-built session."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — get_spark sets it at build time
    return spark


def get_spark(
    app_name: str = "etl-project-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults target the local[32] harness; on a real cluster pass
    ``master=None`` with spark-submit-provided master and raise
    ``shuffle_partitions`` to ~2-3x total cores (or rely on AQE coalescing
    from a high initial value).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Whole-stage codegen emits one class per query shape; a session
        # running many distinct queries fills the JVM's default 240MB JIT
        # code cache, after which generated code runs INTERPRETED (10-20x
        # slowdowns on random queries). Size it for a query-diverse
        # workload and let the sweeper evict cold code.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        # split wide scans finer than the 128MB default so local[32]
        # parallelizes small test files; harmless at scale (AQE coalesces).
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # Python workers fork from a daemon that does not re-read unchanged
        # zip archives on every task (module docstring); the package root
        # on the workers' path makes it importable from any directory.
        .config("spark.python.daemon.module", "etl_project_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return prepare(builder.getOrCreate())


def local_frame(
    spark: SparkSession, rows: Iterable[Any] | pa.Table, schema: StructType | str
) -> DataFrame:
    """Rows held on the driver as a DataFrame that plans as
    ``LocalTableScan``: the rows go to the JVM as one Arrow table, so no
    job, RDD or Python worker is involved, and the relation carries its
    real size for the optimizer.

    A row is a tuple or a ``Row`` (read by position) or a dict (read by
    field name: a missing name is null, an extra key is ignored), as
    ``createDataFrame`` reads them. ``rows`` may also be a
    ``pyarrow.Table``, read by column name (an extra column is ignored).
    ``schema`` is a ``StructType`` or a DDL string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.names

    def values(row: Any) -> tuple:
        if isinstance(row, dict):
            return tuple(row.get(n) for n in names)
        return tuple(row)

    arrow = to_arrow_schema(schema)
    if isinstance(rows, pa.Table):
        table = rows.select(names).cast(arrow)
    else:
        columns = list(zip(*map(values, rows))) or [()] * len(names)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
        )
    return spark.createDataFrame(table, schema)

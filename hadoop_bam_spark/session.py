"""SparkSession construction tuned for this engine.

Local test/bench runs use ``local[N]``; the same configs are what we would
ship as cluster defaults (AQE on, Arrow on, shuffle partitions sized to the
job rather than Spark's 200 default).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory holding the ``hadoop_bam_spark`` package
IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Half the machine's physical memory in whole GiB, from 1g to 32g
    (Spark's own 1g when the size is unknown)."""
    if phys_bytes is None:
        try:
            phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (AttributeError, OSError, ValueError):
            return "1g"
    return f"{min(32, max(1, phys_bytes // 2**31))}g"


def export_import_root() -> None:
    """Append :data:`IMPORT_ROOT` to ``PYTHONPATH``. The JVM inherits this
    environment and passes it to every Python worker, so planner and task
    workers import the engine from wherever the driver found it."""
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if IMPORT_ROOT not in map(os.path.abspath, paths):
        os.environ["PYTHONPATH"] = os.pathsep.join([*paths, IMPORT_ROOT])


def get_spark(
    app_name: str = "hadoop_bam_spark",
    shuffle_partitions: int | None = None,
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    export_import_root()

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python DataSource V2 filter pushdown (bam/vcf sources implement it)
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_df(spark: SparkSession, rows, schema: str):
    """Small driver-side row list -> DataFrame through the Arrow path.

    ``spark.createDataFrame(list, schema)`` parallelizes the list into
    ``defaultParallelism`` Python-RDD slices; EVERY downstream execution
    of the plan then launches one Python worker per slice just to
    re-emit a handful of pickled rows — ~12 process-tree CPU-s per run
    at ``local[32]`` for a 25-row frame (measured r18; the broadcast
    build re-runs the scan on each action). A pandas frame instead
    takes the Arrow `createDataFrame` path: rows are converted ONCE on
    the driver and the runtime scan is pure JVM (guide §4 — eliminate
    the Python boundary).

    For dimension-sized, null-free rows only (chain blocks, contig
    sizes): pandas' NaN coercion is not handled here. ``schema`` must
    be a DDL string; column order follows it.
    """
    import pandas as pd

    names = [c.strip().rsplit(" ", 1)[0].strip() for c in schema.split(",")]
    rows = list(rows)
    if not rows:  # empty pandas frames lose dtypes; the plain path is fine
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame(
        pd.DataFrame.from_records(rows, columns=names), schema
    )


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load the synthetic parquet tables and register temp views."""
    dfs = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(name)
            dfs[name] = df
    return dfs

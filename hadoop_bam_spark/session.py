"""SparkSession construction tuned for this engine.

Local test/bench runs use ``local[N]``; the same configs are what we would
ship as cluster defaults (AQE on, Arrow on, shuffle partitions sized to the
job rather than Spark's 200 default).
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import socket
import tempfile
from collections.abc import Mapping

from pyspark import SparkContext
from pyspark.sql import SparkSession

#: the directory holding the ``hadoop_bam_spark`` package
IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

UDS_ENABLED = "spark.python.unix.domain.socket.enabled"
UDS_DIR = "spark.python.unix.domain.socket.dir"
#: bytes a Unix socket path may hold: ``sun_path`` is 108 with its NUL
SUN_PATH_MAX = 107
#: Spark names every socket it makes ``.<uuid4>.sock``
_SOCK_NAME = "." + "0" * 36 + ".sock"
_DIR_PREFIX = "hbs-uds-"
#: ``tempfile.mkdtemp`` appends eight random characters to the prefix
_DIR_NAME = _DIR_PREFIX + "x" * 8
#: this process's private socket directory, once made
_socket_dir_made: str | None = None


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


def socket_parent(
    conf: Mapping[str, str], master: str, tmpdir: str, af_unix: bool
) -> str | None:
    """Where :func:`get_spark` makes its private socket directory: ``tmpdir``,
    else ``/tmp``, the first in which Spark's socket paths fit ``sun_path``.
    ``None`` keeps the engine out of it: the caller's ``conf`` sets either
    Unix-socket key (it wins, with Spark's defaults for the other), the
    master is not ``local`` (executors on other hosts have no such
    directory), neither directory fits, or the platform has no ``AF_UNIX``
    (loopback TCP)."""
    if (UDS_ENABLED in conf or UDS_DIR in conf or not af_unix
            or not master.startswith("local")):
        return None
    for parent in (tmpdir, "/tmp"):
        path = os.path.join(os.path.abspath(parent), _DIR_NAME, _SOCK_NAME)
        if len(os.fsencode(path)) <= SUN_PATH_MAX:
            return parent
    return None


def _socket_dir(parent: str) -> str:
    """This process's private socket directory, made under ``parent`` on
    first use and removed with every socket in it at interpreter exit."""
    global _socket_dir_made
    if _socket_dir_made is None:
        _socket_dir_made = tempfile.mkdtemp(
            prefix=_DIR_PREFIX, dir=os.path.abspath(parent))
        atexit.register(_remove_socket_dir, _socket_dir_made, os.getpid())
    return _socket_dir_made


def _remove_socket_dir(path: str, owner_pid: int) -> None:
    if os.getpid() == owner_pid:  # not in a forked child
        shutil.rmtree(path, ignore_errors=True)


def worker_transport() -> str:
    """How the active SparkContext talks to its Python workers: ``"unix"``
    (domain sockets) or ``"tcp"`` (loopback; also with no active context)."""
    sc = SparkContext._active_spark_context
    if sc is None:
        return "tcp"
    on = sc.getConf().get(UDS_ENABLED, os.environ.get("PYSPARK_UDS_MODE", "false"))
    return "unix" if on.lower() == "true" else "tcp"


def local_cpus() -> int:
    """Cores of the local master: ``SPARK_GRAFT_CPUS`` (which
    :func:`get_spark` sets from a ``local[N]`` master), else the machine's.
    Python workers inherit the driver's environment, so the source planners
    (:func:`hadoop_bam_spark.sources.split_size`) read the same number."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def master_cores(master: str) -> int | None:
    """Task slots of a local master: ``N`` for ``local[N]`` and
    ``local[N,F]``, ``os.cpu_count()`` for ``local[*]``, 1 for ``local``;
    None for any other master."""
    m = re.fullmatch(r"local(?:\[(\*|[1-9]\d*)(?:,\d+)?\])?", master.strip())
    if m is None:
        return None
    n = m.group(1)
    if n is None:
        return 1
    if n == "*":
        return os.cpu_count() or 1
    return int(n)


def get_spark(
    app_name: str = "hadoop_bam_spark",
    shuffle_partitions: int | None = None,
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or f"local[{local_cpus()}]"
    cores = master_cores(master)
    if cores is not None and SparkContext._active_spark_context is None:
        # the JVM about to start, and every Python worker it launches,
        # inherits this, so the split planners size for the session's slots
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    cpus = local_cpus()
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
    extra_conf = dict(extra_conf or {})
    # Python worker traffic over Unix domain sockets: on loopback TCP every
    # small command reply waits out the 40 ms delayed ACK (Nagle's
    # algorithm), several times per region query.
    parent = socket_parent(
        extra_conf, master, tempfile.gettempdir(), hasattr(socket, "AF_UNIX"))
    if parent is not None:
        extra_conf[UDS_ENABLED] = "true"
        extra_conf[UDS_DIR] = _socket_dir(parent)
    for k, v in extra_conf.items():
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

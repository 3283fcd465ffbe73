"""The two per-command costs of a reused Python worker, and the session
defaults that reach Spark's Python workers.

- Lazy zipimport invalidation (``hadoop_bam_spark/_zipimport_compat.py``):
  PySpark calls ``importlib.invalidate_caches()`` at the start of every
  worker command.
- The frozen import heap (``hadoop_bam_spark/_worker_gc.py``): PySpark's
  daemon runs ``gc.collect()`` after every command of a reused worker.

The unit tests run in-process with no Spark. The worker tests report from
inside the Python workers themselves: a fix that reached only the driver
would pass a driver-side check and save nothing.
"""

import gc
import importlib
import json
import os
import subprocess
import sys
import textwrap
import weakref
import zipfile
import zipimport

import pytest

from hadoop_bam_spark import _worker_gc, _zipimport_compat
from hadoop_bam_spark._zipimport_compat import LazyZipImporter
from hadoop_bam_spark.formats.sam import SAMHeader
from hadoop_bam_spark.session import IMPORT_ROOT, default_driver_memory

from tests import writers

eager_interpreter = pytest.mark.skipif(
    not _zipimport_compat._eager(zipimport.zipimporter),
    reason="this interpreter's zipimport already invalidates lazily",
)


@pytest.fixture
def import_state(monkeypatch):
    """Private copies of the import system's hook list and finder cache,
    with the interpreter's own zipimporter hook as before install()."""
    hooks = [zipimport.zipimporter if h is LazyZipImporter else h for h in sys.path_hooks]
    monkeypatch.setattr(sys, "path_hooks", hooks)
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    yield
    for name in [m for m in sys.modules if m.startswith("zc_probe_")]:
        del sys.modules[name]


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@eager_interpreter
def test_invalidate_reads_nothing_until_next_lookup(tmp_path, monkeypatch, import_state):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_probe_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zc_probe_a").VALUE == 1
    assert type(sys.path_importer_cache[archive]) is zipimport.zipimporter

    assert _zipimport_compat.install()
    assert type(sys.path_importer_cache[archive]) is LazyZipImporter
    assert LazyZipImporter in sys.path_hooks
    assert zipimport.zipimporter not in sys.path_hooks

    _write_zip(archive, {"zc_probe_a": "VALUE = 1\n", "zc_probe_b": "VALUE = 2\n"})
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p)
    )
    importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("zc_probe_b").VALUE == 2
    assert reads == [archive]


@eager_interpreter
def test_new_importers_are_lazy_after_install(tmp_path, monkeypatch, import_state):
    assert _zipimport_compat.install()
    archive = str(tmp_path / "late.zip")
    _write_zip(archive, {"zc_probe_late": "VALUE = 3\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zc_probe_late").VALUE == 3
    assert type(sys.path_importer_cache[archive]) is LazyZipImporter


def test_install_is_a_no_op_when_zipimport_is_lazy(monkeypatch, import_state):
    class Lazy(zipimport.zipimporter):
        def invalidate_caches(self):  # Python 3.13's version
            zipimport._zip_directory_cache.pop(self.archive, None)

    monkeypatch.setattr(zipimport, "zipimporter", Lazy)
    hooks, cache = list(sys.path_hooks), dict(sys.path_importer_cache)
    assert not _zipimport_compat.install()
    assert sys.path_hooks == hooks
    assert {k: type(v) for k, v in sys.path_importer_cache.items()} == {
        k: type(v) for k, v in cache.items()
    }


def test_default_driver_memory_is_half_of_physical_memory():
    gib = 2**30
    assert default_driver_memory(15 * gib + 600 * 2**20) == "7g"
    assert default_driver_memory(64 * gib) == "32g"
    assert default_driver_memory(256 * gib) == "32g"
    assert default_driver_memory(1 * gib) == "1g"
    assert default_driver_memory() in {f"{n}g" for n in range(1, 33)}


@pytest.fixture
def worker_gc(monkeypatch, tmp_path):
    """``_worker_gc`` as a reused worker would see it; on teardown the hook
    is gone and the heap unfrozen, so no other test runs frozen."""
    assert _worker_gc._freeze_new_imports not in gc.callbacks
    monkeypatch.setenv("SPARK_REUSE_WORKER", "1")
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.setattr(_worker_gc, "_modules_at_freeze", len(sys.modules))
    yield tmp_path
    if _worker_gc._freeze_new_imports in gc.callbacks:
        gc.callbacks.remove(_worker_gc._freeze_new_imports)
    gc.unfreeze()
    for name in [m for m in sys.modules if m.startswith("gc_probe_")]:
        del sys.modules[name]


def test_worker_gc_is_a_no_op_outside_reused_workers(monkeypatch):
    monkeypatch.delenv("SPARK_REUSE_WORKER", raising=False)
    callbacks = list(gc.callbacks)
    assert not _worker_gc.install()
    assert gc.callbacks == callbacks
    assert gc.get_freeze_count() == 0


def test_worker_gc_freezes_after_new_imports(worker_gc):
    (worker_gc / "gc_probe_a.py").write_text("VALUE = 1\n")
    assert _worker_gc.install()
    assert not _worker_gc.install()
    gc.collect()
    assert gc.get_freeze_count() == 0  # no module imported since install
    importlib.import_module("gc_probe_a")
    gc.collect()
    frozen = gc.get_freeze_count()
    assert frozen > 0
    gc.collect()
    assert gc.get_freeze_count() == frozen


def test_worker_gc_still_collects_new_cycles(worker_gc):
    class Node:
        pass

    def cycle():
        node = Node()
        node.self = node
        return weakref.ref(node)

    for name in ("gc_probe_b", "gc_probe_c"):
        (worker_gc / f"{name}.py").write_text("VALUE = 2\n")
    assert _worker_gc.install()
    importlib.import_module("gc_probe_b")
    gc.collect()
    frozen = gc.get_freeze_count()
    assert frozen > 0
    ref = cycle()
    gc.collect()
    assert ref() is None
    # a collection that ends in a freeze collects the garbage first
    ref = cycle()
    importlib.import_module("gc_probe_c")
    gc.collect()
    assert ref() is None
    assert gc.get_freeze_count() > frozen


# ---------------------------------------------------------------- workers


def _small_bam(path, n=300):
    hdr = SAMHeader()
    hdr.lines = ["@HD\tVN:1.6\tSO:coordinate", "@SQ\tSN:chr1\tLN:1000000"]
    hdr.sequences["chr1"] = (0, 1_000_000)
    rows = [
        (f"q{i}", 0, "chr1", 1 + 10 * i, 30, "4M", None, 0, 0, "ACGT", "IIII", None)
        for i in range(n)
    ]
    with open(path, "wb") as f:
        writers.write_bam(f, hdr, rows)
    return n


def _worker_probe():
    """A function, pickled by value, that reports from the process it runs
    in: the finder classes of the zip entries in ``sys.path_importer_cache``,
    the ``_read_directory`` calls one ``invalidate_caches()`` makes, the
    frozen object count, the tracked objects a collection would walk
    (``gc.get_objects()`` does not list frozen ones), and the files pyspark
    and py4j were imported from."""

    def probe():
        import gc
        import importlib
        import sys
        import zipimport

        import py4j
        import pyspark

        finders = sorted({
            type(f).__name__
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        })
        calls = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda p: calls.append(p) or read_directory(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        return (",".join(finders), len(calls), gc.get_freeze_count(),
                len(gc.get_objects()), f"{pyspark.__file__},{py4j.__file__}")

    return probe


def _probe_source():
    """``format("bam")`` with one report row per partition: the planner
    worker's probe result, taken in ``partitions()``, and the task worker's,
    taken after reading the partition through the engine's reader."""
    from pyspark.sql.datasource import InputPartition

    from hadoop_bam_spark.sources.bam_source import BAMDataSource, BAMReader

    probe = _worker_probe()

    class ProbePartition(InputPartition):
        def __init__(self, inner, planner):
            self.inner, self.planner = inner, planner

    class ProbeReader(BAMReader):
        def partitions(self):
            planner = probe()
            return [ProbePartition(p, planner) for p in super().partitions()]

        def read(self, partition):
            n = sum(b.num_rows for b in super().read(partition.inner))
            yield (n, *partition.planner, *probe())

    class ProbeSource(BAMDataSource):
        @classmethod
        def name(cls):
            return "bam_zipimport_probe"

        def schema(self):
            return (
                "n long, plan_finders string, plan_reads int, plan_frozen long,"
                " plan_young long, plan_files string, task_finders string,"
                " task_reads int, task_frozen long, task_young long,"
                " task_files string"
            )

        def reader(self, schema):
            return ProbeReader(self.options)

    return ProbeSource


def _worker_reports(spark, path, n):
    """One query through ``_probe_source`` and one ``mapInArrow`` job: the
    probe result of every planner, scan-task and plain-task worker, as
    ``(finders, reads, frozen, young, files)``."""
    import pyarrow as pa

    from hadoop_bam_spark.formats import bgzf

    spark.dataSource.register(_probe_source())
    rows = spark.read.format("bam_zipimport_probe").load(path).collect()
    assert sum(r.n for r in rows) == n

    probe = _worker_probe()

    def report(batches):
        # like the engine's sink closures, this one imports the engine in
        # the worker: bgzf is pickled by reference
        size = sum(
            len(bgzf.compress_block(b.column(0).to_numpy().tobytes())) for b in batches
        )
        finders, calls, frozen, young, files = probe()
        yield pa.RecordBatch.from_pydict({
            "finders": [finders], "reads": [calls], "frozen": [frozen],
            "young": [young], "files": [files], "size": [size],
        })

    tasks = (
        spark.range(4, numPartitions=4)
        .mapInArrow(report, "finders string, reads long, frozen long, young long,"
                            " files string, size long")
        .collect()
    )
    reports = [(r.plan_finders, r.plan_reads, r.plan_frozen, r.plan_young, r.plan_files)
               for r in rows]
    reports += [(r.task_finders, r.task_reads, r.task_frozen, r.task_young, r.task_files)
                for r in rows]
    reports += [(r.finders, r.reads, r.frozen, r.young, r.files) for r in tasks]
    return reports


@eager_interpreter
def test_engine_workers_invalidate_lazily(spark, tmp_path):
    """No worker holds an eager ``zipimporter``. The boot hook drops Spark's
    pyspark and py4j zips where installed copies have the same versions;
    the importer of what stays (the spark-core jar Spark also puts on the
    path, or a zip of another version) is lazy."""
    path = str(tmp_path / "probe.bam")
    reports = _worker_reports(spark, path, _small_bam(path))
    assert all("zipimporter" not in finders.split(",") for finders, *_ in reports), reports
    assert all(calls == 0 for _, calls, *_ in reports), reports


def test_workers_import_pyspark_and_py4j_from_installed_copies(spark, tmp_path):
    """Spark puts ``pyspark.zip`` and ``py4j-*-src.zip`` first on every
    worker's path; with installed copies of the same versions the boot
    hook drops them, so planner, scan-task and plain-task workers import
    them from files, whose bytecode Python caches."""
    path = str(tmp_path / "probe.bam")
    reports = _worker_reports(spark, path, _small_bam(path))
    assert all(os.path.isfile(f) for *_, files in reports for f in files.split(",")), reports


def test_workers_keep_a_zip_of_another_version(tmp_path):
    """A driver whose workers would find a pyspark of another version ahead
    of ``site-packages``: the workers keep ``pyspark.zip`` and import
    pyspark from it, and still drop the py4j zip, whose installed copy
    matches."""
    fake = tmp_path / "other" / "pyspark"
    fake.mkdir(parents=True)
    (fake / "__init__.py").write_text("")
    (fake / "version.py").write_text("__version__: str = '0.0.0'\n")
    path = str(tmp_path / "other.bam")
    script = tmp_path / "other.py"
    script.write_text(textwrap.dedent(f"""
        import json, os, sys
        sys.path.insert(0, {IMPORT_ROOT!r})
        from hadoop_bam_spark.session import get_spark
        from tests.test_zipimport_compat import _small_bam, _worker_reports
        # read by the JVM and its workers; this interpreter's path is set
        os.environ["PYTHONPATH"] = {str(fake.parent)!r}
        spark = get_spark("boot_probe", master="local[2]", shuffle_partitions=2,
                          extra_conf={{"spark.ui.showConsoleProgress": "false"}})
        reports = _worker_reports(spark, {path!r}, _small_bam({path!r}))
        spark.stop()
        print(json.dumps(reports))
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    reports = json.loads(out.stdout.splitlines()[-1])
    assert len(reports) >= 6, reports
    for *_, files in reports:
        pyspark_file, py4j_file = files.split(",")
        assert pyspark_file.endswith(os.path.join("pyspark.zip", "pyspark", "__init__.py"))
        assert os.path.isfile(py4j_file)


def test_engine_workers_freeze_their_imports(spark, tmp_path):
    """From a reused worker's second engine command on, the daemon's
    per-command collection walks only what recent commands allocated: the
    imports are frozen. Unfrozen, a worker holds 40-75k tracked objects."""
    path = str(tmp_path / "probe.bam")
    n = _small_bam(path)
    _worker_reports(spark, path, n)
    reports = _worker_reports(spark, path, n)
    assert all(frozen > 0 for _, _, frozen, _, _ in reports), reports
    assert all(young < 5000 for _, _, _, young, _ in reports), reports


def test_workers_import_engine_from_any_cwd(tmp_path):
    """A driver that finds the engine through its own ``sys.path`` only,
    run from a directory that is not the repository, with no ``PYTHONPATH``:
    the planner and task workers still import the engine."""
    path = str(tmp_path / "cwd.bam")
    n = _small_bam(path)
    script = tmp_path / "count.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {IMPORT_ROOT!r})
        from hadoop_bam_spark.session import get_spark
        from hadoop_bam_spark.sources import register_all
        spark = get_spark("cwd_probe", master="local[1]", shuffle_partitions=1,
                          extra_conf={{"spark.ui.showConsoleProgress": "false"}})
        register_all(spark)
        print(spark.conf.get("spark.driver.memory"),
              spark.read.format("bam").load({path!r}).count())
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-2:] == ["1g", str(n)]

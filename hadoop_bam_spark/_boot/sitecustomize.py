"""Python worker boot hook: import pyspark and py4j from installed bytecode.

Spark starts every Python worker with ``$SPARK_HOME/python/lib/pyspark.zip``
and ``py4j-*-src.zip`` first on ``PYTHONPATH``. zipimport caches no
bytecode, so each new worker daemon compiles pyspark from source: a fresh
``import pyspark.daemon, pyspark.worker`` took 1.0-1.6 s from the zips and
0.3-0.45 s from an installed copy of the same version (4 vCPU).

``session.export_import_root`` puts this directory on the ``PYTHONPATH``
the JVM passes to its workers, and Python's ``site`` imports this module
before the worker imports anything. It drops each of Spark's two zips from
``sys.path`` when the rest of the path holds an installed copy of the
package with the same ``__version__``, read as text from both ``version.py``
files; on any other version the zip stays. Where no such zip is on the
path (the driver, any other process) it changes nothing. Then it runs the
next ``sitecustomize`` on the path, so a distribution's or a user's hook
still runs. It prints nothing: the daemon reports its port on stdout.

Only what ``site`` has loaded already is imported here, the import
machinery for the chained hook aside.
"""

import os
import sys
import zipimport


def _zip_package(entry: str):
    """The package one of Spark's zips holds, by the zip's file name."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith(".zip"):
        return "py4j"
    return None


def _version(text: str):
    """The ``__version__`` string a ``version.py`` assigns."""
    for line in text.splitlines():
        if line.startswith("__version__"):
            return line.partition("=")[2].strip().strip("'\"") or None
    return None


def _zip_version(archive: str, package: str):
    try:
        data = zipimport.zipimporter(archive).get_data(
            os.path.join(package, "version.py"))
    except (OSError, zipimport.ZipImportError):
        return None
    return _version(data.decode("utf-8", "replace"))


def _installed_version(entries, package: str):
    """The version of the first copy of ``package`` an import would find
    in the directories ``entries``."""
    for entry in entries:
        pkg = os.path.join(entry, package)
        if os.path.isfile(os.path.join(pkg, "__init__.py")):
            try:
                with open(os.path.join(pkg, "version.py"), encoding="utf-8",
                          errors="replace") as f:
                    return _version(f.read())
            except OSError:
                return None
    return None


def redundant_zips(path):
    """The entries of ``path`` that are Spark's pyspark or py4j zip and
    whose package the rest of ``path`` holds installed at the same
    version."""
    zips = [e for e in path if _zip_package(e)]
    rest = [e for e in path if e not in zips]
    drop = []
    for entry in zips:
        package = _zip_package(entry)
        version = _zip_version(entry, package)
        if version is not None and version == _installed_version(rest, package):
            drop.append(entry)
    return drop


def next_hook(path, here: str):
    """The spec of the first ``sitecustomize`` on ``path`` after ``here``,
    or None. ``site`` has already removed duplicate entries from
    ``sys.path``, so ``here`` is listed once."""
    from importlib.machinery import PathFinder

    at = [os.path.abspath(e) for e in path]
    return PathFinder.find_spec("sitecustomize", path[at.index(here) + 1:])


def _boot() -> None:
    drop = redundant_zips(sys.path)
    if drop:
        sys.path[:] = [e for e in sys.path if e not in drop]
        for entry in drop:
            sys.path_importer_cache.pop(entry, None)
            zipimport._zip_directory_cache.pop(entry, None)
    spec = next_hook(sys.path, os.path.dirname(os.path.abspath(__file__)))
    if spec is not None and spec.loader is not None:
        import importlib.util

        module = importlib.util.module_from_spec(spec)
        sys.modules["sitecustomize"] = module
        spec.loader.exec_module(module)


if __name__ == "sitecustomize":
    _boot()

"""Every ``hadoop_bam_spark`` import in the repo must resolve.

A function-local import (``def f(): from hadoop_bam_spark.x import y``)
only fails when ``f`` runs, so deleting or moving a module can leave a
dangling import that no other test reaches. This test parses every source
file with ``ast``, finds each engine import at any depth, and checks that
the module exists and, for ``from A import b``, that ``b`` is a submodule
of ``A`` or an attribute of it.
"""

import ast
import importlib
import importlib.util
import os

from tests.conftest import REPO

_PKG = "hadoop_bam_spark"
_DIRS = (_PKG, "tests", "perfbench")
_FILES = ("bench.py", "__spark_entry__.py", "tools_dump_plans.py")


def _sources():
    for d in _DIRS:
        for root, _, files in os.walk(os.path.join(REPO, d)):
            for f in sorted(files):
                if f.endswith(".py"):
                    yield os.path.join(root, f)
    for f in _FILES:
        yield os.path.join(REPO, f)


def _engine_imports(path):
    """(line, module, name-or-None) for each engine import in ``path``;
    relative imports are resolved against the file's package."""
    rel = os.path.relpath(path, REPO)
    package = os.path.dirname(rel).replace(os.sep, ".")
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            targets = [(alias.name, None) for alias in node.names]
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                parts = package.split(".")
                base = parts[: len(parts) - node.level + 1]
                mod = ".".join(p for p in [*base, mod] if p)
            targets = [(mod, a.name) for a in node.names if a.name != "*"]
        else:
            continue
        for mod, name in targets:
            if mod == _PKG or mod.startswith(_PKG + "."):
                yield node.lineno, mod, name


def _resolves(mod, name):
    try:
        if importlib.util.find_spec(mod) is None:
            return False
        if name is None:
            return True
        module = importlib.import_module(mod)
    except ImportError:
        return False
    if hasattr(module, name):
        return True
    # a submodule not yet imported is not an attribute of its package
    return (
        hasattr(module, "__path__")
        and importlib.util.find_spec(f"{mod}.{name}") is not None
    )


def test_every_engine_import_resolves():
    dangling = []
    for path in _sources():
        for line, mod, name in _engine_imports(path):
            if not _resolves(mod, name):
                target = f"{mod}.{name}" if name else mod
                dangling.append(f"{os.path.relpath(path, REPO)}:{line}: {target}")
    assert not dangling, "unresolvable engine imports:\n" + "\n".join(dangling)

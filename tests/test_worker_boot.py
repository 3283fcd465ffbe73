"""The Python workers' boot hook (``hadoop_bam_spark/_boot/sitecustomize.py``),
with no Spark: a fake ``pyspark.zip`` and ``py4j-*-src.zip`` stand for
Spark's, and a fake installed directory for ``site-packages``. The
subprocess tests boot a real interpreter through ``site``, as a worker
does; the worker-side checks are in ``tests/test_zipimport_compat.py``."""

import importlib.util
import os
import subprocess
import sys
import zipfile
from types import SimpleNamespace

import pytest

from hadoop_bam_spark.session import BOOT_DIR

_spec = importlib.util.spec_from_file_location(
    "boot_sitecustomize", os.path.join(BOOT_DIR, "sitecustomize.py"))
boot = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(boot)  # under this name the hook does not run

#: what the subprocess reports: where each package came from, and whether
#: each fake zip is still on ``sys.path``
REPORT = """
import sys, pyspark, py4j
print(pyspark.ORIGIN, py4j.ORIGIN,
      *[any(p.endswith(z) for p in sys.path) for z in ("pyspark.zip", "py4j-0.0.1-src.zip")])
"""


def _package(name, origin, version_line):
    return {
        f"{name}/__init__.py": f"ORIGIN = {origin!r}\n",
        f"{name}/version.py": version_line + "\n",
    }


def _zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _tree(root, files):
    for name, text in files.items():
        (root / name).parent.mkdir(parents=True, exist_ok=True)
        (root / name).write_text(text)
    return str(root)


@pytest.fixture
def fake(tmp_path):
    """Spark's two zips at pyspark 9.0.0 and py4j 0.0.1, in pyspark's and
    py4j's own ``version.py`` styles, and an installed directory with the
    same versions."""
    lib = tmp_path / "lib"
    lib.mkdir()
    return SimpleNamespace(
        pyspark_zip=_zip(lib / "pyspark.zip",
                         _package("pyspark", "zip", "__version__: str = '9.0.0'")),
        py4j_zip=_zip(lib / "py4j-0.0.1-src.zip",
                      _package("py4j", "zip", "__version__ = '0.0.1'")),
        installed=_tree(tmp_path / "site", {
            **_package("pyspark", "installed", "__version__: str = '9.0.0'"),
            **_package("py4j", "installed", "__version__ = '0.0.1'"),
        }),
        root=tmp_path,
    )


def _python(*path, code=REPORT):
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYTHON")}
    env["PYTHONPATH"] = os.pathsep.join(path)
    out = subprocess.run([sys.executable, "-c", code], env=env, capture_output=True,
                         text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stderr == ""
    return out.stdout


def test_same_version_zips_are_dropped(fake):
    path = [fake.pyspark_zip, fake.py4j_zip, fake.installed]
    assert boot.redundant_zips(path) == [fake.pyspark_zip, fake.py4j_zip]
    assert _python(*path, BOOT_DIR).split() == ["installed", "installed", "False", "False"]
    assert _python(*path, BOOT_DIR, code="") == ""


def test_other_version_or_no_installed_copy_keeps_zip(fake):
    other = _tree(fake.root / "other",
                  _package("pyspark", "installed", "__version__: str = '9.0.1'"))
    path = [fake.pyspark_zip, fake.py4j_zip, other, fake.installed]
    # the first installed pyspark is another version; py4j matches
    assert boot.redundant_zips(path) == [fake.py4j_zip]
    assert _python(*path, BOOT_DIR).split() == ["zip", "installed", "True", "False"]
    empty = str(fake.root / "empty")
    assert boot.redundant_zips([fake.pyspark_zip, fake.py4j_zip, empty]) == []


def test_no_zip_on_the_path_changes_nothing(tmp_path):
    code = "import sys; print(sys.path)"
    plain = _python(str(tmp_path), code=code)
    hooked = _python(str(tmp_path), BOOT_DIR, code=code)
    assert hooked == plain.replace(repr(str(tmp_path)), f"{str(tmp_path)!r}, {BOOT_DIR!r}")
    assert _python(str(tmp_path), BOOT_DIR, code="") == ""


def test_later_sitecustomize_still_runs(fake):
    marker = fake.root / "marker"
    user = _tree(fake.root / "user", {
        "sitecustomize.py": f"with open({str(marker)!r}, 'w') as f: f.write(__file__)\n"})
    path = [fake.pyspark_zip, fake.py4j_zip, fake.installed, BOOT_DIR, user]
    assert _python(*path).split() == ["installed", "installed", "False", "False"]
    assert marker.read_text() == os.path.join(user, "sitecustomize.py")
    marker.unlink()
    assert _python(BOOT_DIR, user, code="import sitecustomize; print(sitecustomize.__file__)") \
        == os.path.join(user, "sitecustomize.py") + "\n"
    assert marker.exists()

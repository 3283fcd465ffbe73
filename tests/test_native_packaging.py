"""Package-time native kernel build (setup.py optional extension).

Pins the install contract: ``pip install .`` (here: the equivalent
``setup.py build_ext``) compiles ``formats/rans_kernel.c`` into an
ABI-tagged ``_rans_kernel*.so``; the runtime's ``_packaged_so`` lookup
finds it next to the formats package BEFORE falling back to the
per-machine JIT compile; a missing compiler degrades to a logged skip
(``Extension(optional=True)``), never an install failure — and the
suite stays green with ``SPARK_GRAFT_NO_NATIVE=1`` (the pure-Python
paths, exercised elsewhere via the numpy_only monkeypatches).
"""

import os
import shutil
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FORMATS = os.path.join(REPO, "hadoop_bam_spark", "formats")

needs_cc = pytest.mark.skipif(
    shutil.which(os.environ.get("CC", "cc")) is None,
    reason="no C compiler")


def _build_ext(tmp_path):
    lib = tmp_path / "lib"
    r = subprocess.run(
        [sys.executable, "setup.py", "build_ext",
         "--build-lib", str(lib), "--build-temp", str(tmp_path / "bt")],
        cwd=REPO, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr
    sos = list(lib.rglob("_rans_kernel*.so"))
    assert len(sos) == 1, sos
    return sos[0]


@needs_cc
def test_build_ext_produces_so_and_decodes(tmp_path):
    """The packaged artifact is a working kernel: decode parity with
    the pure-Python encoder through SPARK_GRAFT_RANS_SO (same dlopen
    the packaged lookup uses, without touching the source tree)."""
    so = _build_ext(tmp_path)
    script = textwrap.dedent("""
        from hadoop_bam_spark.formats import rans_native
        from hadoop_bam_spark.formats.rans import (
            rans_encode_order0, rans_encode_order1)
        assert rans_native.available()
        assert rans_native.loaded_path().endswith(".so")
        data = bytes([(i * 7) % 23 + 65 for i in range(5000)])
        for enc in (rans_encode_order0, rans_encode_order1):
            e = enc(data)
            assert rans_native.decode(e[9:], e[0], len(data)) == data
        # encode walks present in a freshly built kernel
        assert rans_native._load()._has_encode
        print("PACKAGED-OK", rans_native.loaded_path())
    """)
    env = dict(os.environ, SPARK_GRAFT_RANS_SO=str(so),
               PYTHONPATH=REPO)
    env.pop("SPARK_GRAFT_NO_NATIVE", None)
    r = subprocess.run([sys.executable, "-c", script], env=env,
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr
    assert "PACKAGED-OK" in r.stdout


@needs_cc
def test_packaged_so_lookup_wins_over_jit(tmp_path):
    """Installed-wheel layout: the .so sits NEXT TO the formats package
    and _packaged_so finds it without env vars or a JIT compile. The
    file is dropped into the live tree for the subprocess and removed
    after (gitignored either way)."""
    so = _build_ext(tmp_path)
    dest = os.path.join(FORMATS, os.path.basename(so))
    shutil.copyfile(so, dest)
    try:
        script = textwrap.dedent("""
            from hadoop_bam_spark.formats import rans_native
            p = rans_native._packaged_so()
            assert p and "_rans_kernel" in p, p
            assert rans_native.available()
            assert rans_native.loaded_path() == p, (
                rans_native.loaded_path(), p)
            print("LOOKUP-OK")
        """)
        env = dict(os.environ, PYTHONPATH=REPO)
        env.pop("SPARK_GRAFT_NO_NATIVE", None)
        env.pop("SPARK_GRAFT_RANS_SO", None)
        r = subprocess.run([sys.executable, "-c", script], env=env,
                           capture_output=True, text=True, timeout=120)
        assert r.returncode == 0, r.stderr
        assert "LOOKUP-OK" in r.stdout
    finally:
        os.unlink(dest)


def test_missing_compiler_skips_not_fails(tmp_path):
    """Extension(optional=True): with the compiler hidden, build_ext
    logs and succeeds with NO .so — the pip-install contract for
    compiler-less hosts."""
    lib = tmp_path / "lib"
    env = dict(os.environ, CC="/nonexistent-cc", PATH="/usr/bin-empty")
    r = subprocess.run(
        [sys.executable, "setup.py", "build_ext",
         "--build-lib", str(lib), "--build-temp", str(tmp_path / "bt")],
        cwd=REPO, capture_output=True, text=True, timeout=300, env=env)
    assert r.returncode == 0, r.stderr
    assert not list(lib.rglob("*.so"))


def test_c_source_single_file_of_truth():
    """rans_native reads its JIT source from the SAME rans_kernel.c the
    setup.py extension compiles — no drift possible."""
    from hadoop_bam_spark.formats import rans_native

    with open(os.path.join(FORMATS, "rans_kernel.c")) as fh:
        assert rans_native._C_SOURCE == fh.read()
    # and the wheel ships it (package-data) so installed trees can JIT
    with open(os.path.join(REPO, "pyproject.toml")) as fh:
        assert "rans_kernel.c" in fh.read()


def test_build_ships_package_data(tmp_path):
    """The files a wheel packs beyond the packages' modules: the rANS
    kernel source, and the Python workers' boot hook, whose ``_boot``
    directory has no ``__init__.py`` for packages.find to pick up. A wheel
    packs what ``build_py`` lays out, so this builds that tree, from a
    copy of the sources so the build leaves nothing in the checkout."""
    src = tmp_path / "src"
    src.mkdir()
    for name in ("pyproject.toml", "setup.py", "README.md"):
        shutil.copy(os.path.join(REPO, name), src)
    shutil.copytree(os.path.join(REPO, "hadoop_bam_spark"), src / "hadoop_bam_spark",
                    ignore=shutil.ignore_patterns("__pycache__", "*.so"))
    lib = tmp_path / "lib"
    r = subprocess.run([sys.executable, "setup.py", "build_py", "--build-lib", str(lib)],
                       cwd=src, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr
    assert (lib / "hadoop_bam_spark" / "_boot" / "sitecustomize.py").is_file()
    assert (lib / "hadoop_bam_spark" / "formats" / "rans_kernel.c").is_file()

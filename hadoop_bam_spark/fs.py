"""Filesystem abstraction for sources and sinks.

Local POSIX paths use the builtins; URLs with a scheme route to fsspec when
it is installed (``s3://``, ``gs://``, ``hdfs://``, ...), so planning, the
part-merge contract, and sidecar index reads work on object storage without
touching the format code. A built-in ``memory://`` filesystem (per-process,
dict-backed) exists regardless of fsspec so the abstraction itself is
testable in this environment — fsspec paths take exactly the same call
sites.

The reference gets this for free from Hadoop's FileSystem API; this module
is the Spark-Python equivalent seam.
"""

from __future__ import annotations

import io
import os
import posixpath
from typing import BinaryIO

_MEM: dict[str, bytes] = {}

MEMORY_SCHEME = "memory://"


def _is_mem(path: str) -> bool:
    return path.startswith(MEMORY_SCHEME)


def _scheme(path: str) -> str | None:
    i = path.find("://")
    return path[:i] if i > 0 else None


def strip_local(path: str) -> str:
    return path[7:] if path.startswith("file://") else path


class _MemWriter(io.BytesIO):
    def __init__(self, key: str, append: bool = False):
        super().__init__()
        self._key = key
        if append and key in _MEM:
            self.write(_MEM[key])

    def close(self):
        _MEM[self._key] = self.getvalue()
        super().close()


def open_file(path: str, mode: str = "rb") -> BinaryIO:
    """Open ``path`` for binary/text I/O on whichever filesystem owns it."""
    if _is_mem(path):
        text = "t" in mode
        if "w" in mode or "a" in mode:
            if text:
                raise ValueError("memory:// supports binary writes only")
            return _MemWriter(path, append="a" in mode)
        data = _MEM.get(path)
        if data is None:
            raise FileNotFoundError(path)
        return io.StringIO(data.decode()) if text else io.BytesIO(data)
    scheme = _scheme(path)
    if scheme in (None, "file"):
        return open(strip_local(path), mode)
    import fsspec  # deferred: optional dependency

    return fsspec.open(path, mode).open()


def exists(path: str) -> bool:
    if _is_mem(path):
        return path in _MEM
    scheme = _scheme(path)
    if scheme in (None, "file"):
        return os.path.exists(strip_local(path))
    import fsspec

    fs, p = fsspec.core.url_to_fs(path)
    return fs.exists(p)


def file_size(path: str) -> int:
    if _is_mem(path):
        return len(_MEM[path])
    scheme = _scheme(path)
    if scheme in (None, "file"):
        return os.path.getsize(strip_local(path))
    import fsspec

    fs, p = fsspec.core.url_to_fs(path)
    return fs.size(p)


def is_dir(path: str) -> bool:
    if _is_mem(path):
        prefix = path.rstrip("/") + "/"
        return any(k.startswith(prefix) for k in _MEM)
    scheme = _scheme(path)
    if scheme in (None, "file"):
        return os.path.isdir(strip_local(path))
    import fsspec

    fs, p = fsspec.core.url_to_fs(path)
    return fs.isdir(p)


def listdir(path: str) -> list[str]:
    """Names (not full paths) of direct children."""
    if _is_mem(path):
        prefix = path.rstrip("/") + "/"
        return sorted(
            {k[len(prefix):].split("/")[0] for k in _MEM if k.startswith(prefix)}
        )
    scheme = _scheme(path)
    if scheme in (None, "file"):
        return os.listdir(strip_local(path))
    import fsspec

    fs, p = fsspec.core.url_to_fs(path)
    return [posixpath.basename(e.rstrip("/")) for e in fs.ls(p, detail=False)]


def join(path: str, *names: str) -> str:
    if _scheme(path) or _is_mem(path):
        return path.rstrip("/") + "/" + "/".join(names)
    return os.path.join(path, *names)


def makedirs(path: str) -> None:
    if _is_mem(path) or _scheme(path) not in (None, "file"):
        return  # object stores have no directories
    os.makedirs(strip_local(path), exist_ok=True)


def remove_tree(path: str) -> None:
    """Delete a directory and everything under it (missing is fine)."""
    if _is_mem(path):
        prefix = path.rstrip("/") + "/"
        for k in [k for k in _MEM if k.startswith(prefix) or k == path]:
            del _MEM[k]
        return
    scheme = _scheme(path)
    if scheme in (None, "file"):
        import shutil

        shutil.rmtree(strip_local(path), ignore_errors=True)
        return
    import fsspec

    fs, p = fsspec.core.url_to_fs(path)
    if fs.exists(p):
        fs.rm(p, recursive=True)


def remove(path: str) -> None:
    """Delete one file (missing is fine)."""
    if _is_mem(path):
        _MEM.pop(path, None)
        return
    scheme = _scheme(path)
    if scheme in (None, "file"):
        try:
            os.remove(strip_local(path))
        except FileNotFoundError:
            pass
        return
    import fsspec

    f, p = fsspec.core.url_to_fs(path)
    if f.exists(p):
        f.rm_file(p)


def rename(src: str, dst: str) -> None:
    """Move ``src`` to ``dst`` on the same filesystem — a metadata
    operation locally (os.replace), a server-side move via fsspec for
    object stores, a key move for memory://. The sharded sinks use this
    for the commit step so no data byte ever funnels through the driver."""
    if _is_mem(src):
        _MEM[dst] = _MEM.pop(src)
        return
    scheme = _scheme(src)
    if scheme in (None, "file"):
        os.replace(strip_local(src), strip_local(dst))
        return
    import fsspec

    f, p = fsspec.core.url_to_fs(src)
    _, q = fsspec.core.url_to_fs(dst)
    f.mv(p, q)


def mem_clear() -> None:
    """Test helper: drop every memory:// object in this process."""
    _MEM.clear()

"""Keep a reused Python worker's imports out of PySpark's per-command
``gc.collect()``.

A reused PySpark worker (``SPARK_REUSE_WORKER`` set) runs a full
``gc.collect()`` after every command (``pyspark/daemon.py``). That walks
every container object the worker holds: pyspark, numpy, pyarrow, pandas and
this engine, tens of thousands of objects that never become garbage. On a
4-vCPU box it took 11-14 ms per planner command and 27-30 ms per task, where
the commands' own work took about 1 ms and 5 ms.

:func:`install` hooks ``gc.callbacks``. When a full collection stops and
``sys.modules`` has grown or shrunk since the last freeze, the hook calls
``gc.freeze()``: every object that survived the collection moves to the
permanent generation, which later collections skip. After the daemon's
collect nothing is left to collect, so only live objects are frozen. A later
command that imports more (pyspark's Arrow serializer imports pandas in the
first task) gets its modules frozen after it. Reference counting still frees
frozen objects, and cycles made after a freeze are still collected.
"""

from __future__ import annotations

import gc
import os
import sys

_modules_at_freeze = 0


def _freeze_new_imports(phase: str, info: dict) -> None:
    global _modules_at_freeze
    if phase == "stop" and info["generation"] == 2 and len(sys.modules) != _modules_at_freeze:
        _modules_at_freeze = len(sys.modules)
        gc.freeze()


def install() -> bool:
    """Add the freeze hook in a reused PySpark worker. Returns False, changing
    nothing, in any other process or when the hook is already there."""
    if not os.environ.get("SPARK_REUSE_WORKER") or _freeze_new_imports in gc.callbacks:
        return False
    gc.callbacks.append(_freeze_new_imports)
    return True

"""Skip re-reading unchanged zip archives on ``importlib.invalidate_caches()``.

PySpark calls ``importlib.invalidate_caches()`` at the start of every Python
task, so that files added with ``addPyFile`` become importable. On an
interpreter whose ``zipimporter`` reads eagerly (CPython up to 3.12), that
call makes every zip importer re-parse its archive's whole central directory:
a worker holds about 16 of them (``pyspark.zip`` sub-packages, py4j, the
spark-core jar), about 125 ms per task for archives that never change.

Inside a PySpark Python worker, ``install`` wraps
``zipimporter.invalidate_caches`` so that an importer re-reads only when its
archive's ``(st_ino, st_size, st_mtime_ns)`` differs from the values taken
just before its last read. A changed, replaced or missing archive still
goes through the stock method. The driver's import machinery, and an
interpreter whose ``zipimporter`` already reads lazily (``_get_files``,
CPython 3.13+), are left as they are.
"""

from __future__ import annotations

import os
import zipimport

_STOCK = zipimport.zipimporter.invalidate_caches


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_if_changed(importer: zipimport.zipimporter) -> None:
    """``importer.invalidate_caches()`` unless its archive is unchanged
    since the importer's last read through this function."""
    sig = _signature(importer.archive)
    if sig is not None and getattr(importer, "_read_signature", None) == sig:
        return
    _STOCK(importer)
    importer._read_signature = sig


def install() -> None:
    """Route ``zipimporter.invalidate_caches`` through
    ``invalidate_if_changed`` in a PySpark Python worker on an interpreter
    whose zip importers read eagerly; a no-op anywhere else."""
    if hasattr(zipimport.zipimporter, "_get_files"):
        return
    from pyspark.core.files import SparkFiles

    if SparkFiles._is_running_on_worker:
        zipimport.zipimporter.invalidate_caches = invalidate_if_changed

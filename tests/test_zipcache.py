"""The zip-archive guard on ``zipimporter.invalidate_caches``.

The first tests drive ``_zipcache.invalidate_if_changed`` directly over a
temporary zip, with no Spark session: an unchanged archive is not re-read,
a rewritten or replaced one is, and a deleted one behaves as at stock. The
last two check where the guard is installed: inside reused PySpark Python
workers, where PySpark's per-task ``importlib.invalidate_caches()`` then
leaves every cached zip directory in place, and not on the driver.
"""

from __future__ import annotations

import importlib.util
import os
import zipfile
import zipimport

import pytest

eager_only = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this interpreter's zipimporter reads lazily; no guard installs",
)


def _write_zip(path, modules: dict[str, int]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value}\n")


def _load(importer, name):
    spec = importer.find_spec(name)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture
def reads(monkeypatch):
    """Counts zipimport's central-directory reads."""
    calls = []
    stock = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def archive(tmp_path):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"m1": 1})
    yield path
    zipimport._zip_directory_cache.pop(path, None)


@eager_only
def test_unchanged_archive_is_not_reread(archive, reads):
    from time_series_and_data_lakes_spark._zipcache import invalidate_if_changed

    importer = zipimport.zipimporter(archive)
    reads.clear()
    invalidate_if_changed(importer)
    files = importer._files
    assert reads == [archive]
    invalidate_if_changed(importer)
    invalidate_if_changed(importer)
    assert reads == [archive]
    assert importer._files is files
    assert zipimport._zip_directory_cache[archive] is files
    assert _load(importer, "m1").VALUE == 1


@eager_only
@pytest.mark.parametrize("how", ["in_place", "rename"])
def test_rewritten_archive_is_reread_and_new_module_imports(archive, reads, how):
    from time_series_and_data_lakes_spark._zipcache import invalidate_if_changed

    importer = zipimport.zipimporter(archive)
    reads.clear()
    invalidate_if_changed(importer)
    assert importer.find_spec("m2") is None
    if how == "in_place":
        _write_zip(archive, {"m1": 1, "m2": 2})
    else:
        _write_zip(archive + ".new", {"m1": 1, "m2": 2})
        os.replace(archive + ".new", archive)
    invalidate_if_changed(importer)
    assert reads == [archive, archive]
    assert _load(importer, "m2").VALUE == 2


@eager_only
def test_deleted_archive_behaves_as_stock(archive):
    from time_series_and_data_lakes_spark._zipcache import invalidate_if_changed

    importer = zipimport.zipimporter(archive)
    invalidate_if_changed(importer)
    os.remove(archive)
    invalidate_if_changed(importer)
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache
    invalidate_if_changed(importer)
    assert importer._files == {}


def _probe(batches):
    """One task: which cached zip directories were replaced since this
    worker's previous probe task. The snapshot is kept on the worker's
    ``zipimport`` module, so it holds the old objects and outlives the task."""
    import os
    import zipimport

    import pandas as pd

    import time_series_and_data_lakes_spark  # noqa: F401  installs the guard

    for _ in batches:
        pass
    prev = getattr(zipimport, "_zipcache_probe", None)
    cur = dict(zipimport._zip_directory_cache)
    replaced = (
        []
        if prev is None
        else sorted(k for k in prev["cache"] if cur.get(k) is not prev["cache"][k])
    )
    n = 1 if prev is None else prev["n"] + 1
    zipimport._zipcache_probe = {"cache": cur, "n": n}
    yield pd.DataFrame(
        {"pid": [os.getpid()], "n": [n], "replaced": [",".join(replaced)]}
    )


@eager_only
def test_reused_worker_keeps_unchanged_zip_directories(spark):
    """From a reused worker's third task on, the per-task
    ``importlib.invalidate_caches()`` replaces no cached zip directory:
    the first task imports the package (installing the guard), the second
    task's call reads each archive once more and records its signature."""
    per_pid: dict[int, list] = {}
    for _ in range(24):
        (row,) = (
            spark.range(1)
            .coalesce(1)
            .mapInPandas(_probe, "pid long, n long, replaced string")
            .collect()
        )
        per_pid.setdefault(row.pid, []).append(row)
        if max(len(v) for v in per_pid.values()) >= 4:
            break
    later = [r for rows in per_pid.values() for r in rows if r.n >= 3]
    assert later, f"no Python worker ran three probe tasks: {per_pid}"
    assert all(r.replaced == "" for r in later), later


def test_driver_keeps_stock_invalidate_caches():
    from time_series_and_data_lakes_spark import _zipcache

    assert zipimport.zipimporter.invalidate_caches is _zipcache._STOCK
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"

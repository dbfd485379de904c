"""Replacing lake files by rename: one install step for every lake writer
that swaps files, and the exactly-once micro-batch ledger around it.

:func:`replace_dir` installs a staged dir over a live one (used by the
windowed export and retention's compaction): live dir to the hidden
backup ``.replaced-{name}``, staging into place, backup deleted. A crash
between the renames leaves the live name missing until :func:`recover`
puts the backup back.

:func:`commit_batch` gives the narrow store's streaming ingest sink
exactly-once micro-batches. A bare write in ``foreachBatch`` is
at-least-once: a crash between the write and the checkpoint's commit
replays the batch, which duplicates its append. Protocol per micro-batch
``N``:

1. STAGE: sweep staging debris, then the sink writes the batch's
   partitioned output to the hidden ``{store}/.staging-{tag}-N`` dir
   (dot-prefixed, so readers never see it; under the store, so installs are
   renames). Live partitions are untouched; a crash here stages again.
2. Record the ``staged`` marker. From here the staged files are the redo
   log: a replay installs them and never stages again.
3. INSTALL by rename: each staged file moves into its live partition as
   ``b{N}-{file}``. Installed files leave staging, so a replay mid-install
   moves only what remains.
4. Record ``applied``, then delete staging and the ``staged`` marker. A
   replay that finds ``applied`` only cleans up.

Every transition is one filesystem create/rename/delete, so every crash
point replays into the same final state. The markers live in
``{checkpoint}/applied_batches/`` and ``staged_batches/`` on the
checkpoint's filesystem, which may differ from the store's. Soundness needs
atomic rename: true on HDFS, local filesystems and ABFS, NOT on S3A, where
rename is copy-then-delete and a crash mid-rename can leave a partial entry
(a partial window or leaf, or a staged file that replay installs over
complete data); on S3 use a transactional table format instead.
"""

from __future__ import annotations

from typing import Callable

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Fault-injection hook: tests set it to "mid_stage" / "after_stage" /
# "mid_install" / "after_install" / "before_cleanup" to crash at that
# ledger transition, or "mid_swap" to crash between the two renames of an
# install; foreachBatch runs on the driver, so the value is visible.
_FAIL_POINT: str | None = None

BACKUP_PREFIX = ".replaced-"  # hidden: Spark file listing never reads it


def _maybe_fail(point: str) -> None:
    if _FAIL_POINT == point:
        raise RuntimeError(f"injected sink crash at {point}")


def _rename(pfs, src, dest) -> None:
    # Hadoop's rename reports most failures by RETURNING false; unchecked,
    # the step after it would delete the only copy of the data
    if not pfs.rename(src, dest):
        raise IOError(f"install rename failed: {src} -> {dest}")


def _backup(dest):
    return SparkContext._jvm.org.apache.hadoop.fs.Path(
        dest.getParent(), BACKUP_PREFIX + dest.getName()
    )


def recover(pfs, dest) -> None:
    """Put back the backup that a crash between an install's two renames
    left in place of ``dest`` (a Hadoop ``Path`` on ``pfs``); delete any
    other, stale, backup of it."""
    backup = _backup(dest)
    if pfs.exists(backup):
        if pfs.exists(dest):
            pfs.delete(backup, True)
        else:
            _rename(pfs, backup, dest)


def replace_dir(pfs, src, dest) -> None:
    """Install dir ``src`` (on ``pfs``, beside ``dest``) as ``dest``."""
    recover(pfs, dest)
    backup = _backup(dest) if pfs.exists(dest) else None
    if backup is not None:
        _rename(pfs, dest, backup)
        _maybe_fail("mid_swap")
    _rename(pfs, src, dest)
    if backup is not None:
        pfs.delete(backup, True)


def _sweep_debris(pfs, store, prefix: str) -> None:
    # this batch's partial stage, and dirs stranded by earlier batches or an
    # abandoned checkpoint (their replay never runs). A store holding ONLY
    # this sink's debris (a bootstrap batch crashed mid-stage) goes too, so
    # staging sees no store rather than an uninferrable empty dir; any
    # other entry, hidden or not, means the dir is not ours to delete.
    if not pfs.exists(store):
        return
    entries = [s.getPath() for s in pfs.listStatus(store)]
    for p in entries:
        if p.getName().startswith(prefix):
            pfs.delete(p, True)
    if all(p.getName().startswith(prefix) or p.getName() == "_SUCCESS" for p in entries):
        pfs.delete(store, True)


def _leaf_partitions(pfs, root) -> list:
    """(path relative to ``root``, data files) per partition dir under
    ``root`` that holds data files; ``.``/``_`` names are skipped."""
    leaves, todo = [], [(root, "")]
    while todo:
        d, rel = todo.pop()
        files = []
        for s in pfs.listStatus(d):
            name = s.getPath().getName()
            if name.startswith((".", "_")):
                continue
            if s.isDirectory():
                todo.append((s.getPath(), f"{rel}/{name}" if rel else name))
            else:
                files.append(s.getPath())
        if rel and files:
            leaves.append((rel, files))
    return leaves


def commit_batch(
    spark: SparkSession,
    batch_id: int,
    checkpoint_dir: str,
    store_path: str,
    tag: str,
    stage: Callable[[str], bool],
) -> None:
    """Commit micro-batch ``batch_id`` into ``store_path`` exactly once.

    ``stage(staging_dir)`` writes the batch's partitioned output there and
    returns False when there is nothing to write (then only ``applied`` is
    recorded). ``tag`` names the staging dir; staged files are appended to
    their live partitions as ``b{batch_id}-{file}``."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    conf = spark._jsc.hadoopConfiguration()
    applied = hpath(f"{checkpoint_dir}/applied_batches/{batch_id}")
    staged = hpath(f"{checkpoint_dir}/staged_batches/{batch_id}")
    staging = hpath(f"{store_path}/.staging-{tag}-{batch_id}")
    # markers on the checkpoint's filesystem, data on the store's: one
    # handle for both fails split deployments (s3a:// store, hdfs://
    # checkpoint) with Hadoop's "Wrong FS" error
    fs = applied.getFileSystem(conf)
    pfs = staging.getFileSystem(conf)

    # once batch N runs, only N itself can replay: earlier markers are dead
    for marker in (applied, staged):
        ledger = marker.getParent()
        if fs.exists(ledger):
            for s in fs.listStatus(ledger):
                name = s.getPath().getName()
                if name.isdigit() and int(name) < batch_id:
                    fs.delete(s.getPath(), False)

    if fs.exists(applied):  # replay of a fully-committed batch
        if pfs.exists(staging):  # crashed between applied and cleanup
            pfs.delete(staging, True)
        if fs.exists(staged):
            fs.delete(staged, False)
        return

    if not fs.exists(staged):
        _sweep_debris(pfs, hpath(store_path), f".staging-{tag}-")
        if not stage(str(staging)):
            fs.create(applied, True).close()
            return
        _maybe_fail("mid_stage")  # staging written, marker not yet
        fs.create(staged, True).close()
    _maybe_fail("after_stage")

    for rel, files in _leaf_partitions(pfs, staging):
        dest_dir = hpath(f"{store_path}/{rel}")
        pfs.mkdirs(dest_dir)
        for f in files:
            dest = hpath(f"{dest_dir}/b{batch_id}-{f.getName()}")
            if pfs.exists(dest):  # a rename raced a crash
                pfs.delete(dest, True)
            _rename(pfs, f, dest)
            _maybe_fail("mid_install")
    _maybe_fail("after_install")

    fs.create(applied, True).close()
    _maybe_fail("before_cleanup")  # applied recorded, leftovers remain
    pfs.delete(staging, True)
    fs.delete(staged, False)

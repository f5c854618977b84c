"""Small-file compaction for the tiered store (maintenance op).

Every :func:`lineage.commit_cells` batch appends its cells to
``tier=<t>/run=<id>`` already packed to :func:`file_count` files of
~``DEFAULT_TARGET_FILE_BYTES``, so a run committed once per tier needs
no compaction (:func:`compact_dir` skips it without a Spark job).  Files
still accrue when a run is resumed in many slices, or when a streaming
maintainer commits per micro-batch: each batch adds its own files, and
the directory ends up with many files far smaller than the
scan-efficient size.  At corpus scale that is the classic small-file
problem: a 1000-executor scan of a tier pays an open + footer read per
file, and the namenode/listing cost grows with file count, not data
size.

This module is the parquet-branch analogue of Iceberg's
``rewrite_data_files`` maintenance procedure (the catalog branch of
:mod:`fruits_spark.engine.io` would issue
``CALL <catalog>.system.rewrite_data_files(table => …)`` instead — no
Iceberg runtime in this sandbox, same seam as io.py).

Protocol (crash-safe; every store directory uses it, the manifest too):

1. measure the live directory; if already at or below the bin-packed
   target file count, or at one file per leaf partition directory (the
   best a partitioned rewrite can reach), do nothing (idempotent, cheap
   to schedule);
2. read + ``coalesce(target)`` + write to the staging dir (coalesce,
   not repartition: bin-packing must not shuffle — it only narrows the
   write parallelism of a scan);
3. two renames: live -> old, staged -> live; remove old.

Staging/debris names are DOT-PREFIXED siblings
(``.<name>__compacting`` / ``.<name>__old``): Spark's file index skips
dot-prefixed paths unconditionally, so a whole-tier
``spark.read.parquet(tier dir)`` never sees a half-finished copy or a
crash leftover as an extra ``run=`` partition.  (Underscore prefixes
are NOT enough here: names containing ``=`` survive Spark's hidden-path
filter and parse as partition dirs.)

Concurrency contract (three parties, one advisory ``flock`` per
directory — the lock file is itself dot-prefixed):

* **compactors** (and :func:`lineage.retire_runs`) take the lock
  EXCLUSIVE for the whole measure-stage-swap critical section;
* **appenders** (:func:`lineage.commit_cells` data and manifest
  writes) take it SHARED, heal, then append — concurrent commits
  proceed freely, but a commit can never land files between a
  compactor's snapshot and its live->old rename (which would silently
  delete the new cells while their manifest rows survive);
* **readers** calling :func:`recover_dir` defensively take it
  NON-BLOCKING and no-op when it is held, so a healer can never race
  the live compactor's own rename pair.

As insurance against writers that bypass the lock, :func:`compact_dir`
re-lists the live directory after staging and aborts the swap if the
file set changed under it.
"""

from __future__ import annotations

import math
import os
import shutil
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_TARGET_FILE_BYTES = 128 << 20


def file_count(
    nbytes: int,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    max_files: int | None = None,
) -> int:
    """Files to write ``nbytes`` in at ~``target_file_bytes`` each: at
    least one, and at most ``max_files`` (a ``coalesce`` cannot raise
    a write's partition count, and an unknown plan size — Spark reports
    ``Long.MaxValue`` — must not reach ``coalesce(int)``)."""
    k = max(1, math.ceil(nbytes / target_file_bytes))
    return k if max_files is None else min(k, max_files)


def _sibling(path: str, suffix: str) -> str:
    """Dot-prefixed sibling of ``path``, invisible to Spark's partition
    discovery and file index.  DOT, not underscore: Spark's
    ``shouldFilterOut`` keeps underscore-prefixed names that contain
    ``=`` (they parse as hive partition dirs — ``_run=r1__old`` would
    surface as a conflicting ``_run`` partition column), while
    dot-prefixed names are filtered unconditionally."""
    d, b = os.path.split(os.path.abspath(path))
    return os.path.join(d, "." + b + suffix)


def staged_path(path: str) -> str:
    return _sibling(path, "__compacting")


def old_path(path: str) -> str:
    return _sibling(path, "__old")


def count_data_files(path: str) -> int:
    """Number of data files under ``path`` (recursive; ignores Spark's
    ``_SUCCESS``/``.crc`` bookkeeping)."""
    n = 0
    for root, _dirs, files in os.walk(path):
        n += sum(
            1 for f in files if not f.startswith(("_", "."))
        )
    return n


def _list_data_files(path: str) -> frozenset:
    """Relative paths of data files under ``path`` (snapshot for the
    concurrent-writer guard)."""
    out = []
    for root, _dirs, files in os.walk(path):
        rel = os.path.relpath(root, path)
        out.extend(
            os.path.join(rel, f) for f in files
            if not f.startswith(("_", "."))
        )
    return frozenset(out)


def dir_data_bytes(path: str) -> int:
    """Total bytes of data files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


@contextmanager
def dir_lock(path: str, shared: bool = False, blocking: bool = True):
    """Advisory ``flock`` guarding compaction of ``path`` (see module
    docstring for who takes it in which mode).  Yields True when the
    lock was acquired; with ``blocking=False`` yields False instead of
    waiting.  Crash-with-lock-held is harmless: flock dies with the fd.
    """
    import fcntl

    lock_file = _sibling(path, "__compact.lock")
    os.makedirs(os.path.dirname(lock_file), exist_ok=True)
    fd = os.open(lock_file, os.O_CREAT | os.O_RDWR)
    mode = fcntl.LOCK_SH if shared else fcntl.LOCK_EX
    if not blocking:
        mode |= fcntl.LOCK_NB
    acquired = False
    try:
        try:
            fcntl.flock(fd, mode)
            acquired = True
        except OSError:
            pass  # non-blocking miss: yield False below
        yield acquired
    finally:
        if acquired:
            fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def drop_dir(path: str) -> None:
    """Retention: remove ``path``, its staging debris and its lock file
    while holding its EXCLUSIVE lock, so no compactor or appender is
    inside and no holder is left on the unlinked lock inode."""
    lock = _sibling(path, "__compact.lock")
    sibs = (path, staged_path(path), old_path(path))
    if not any(os.path.exists(p) for p in sibs + (lock,)):
        return  # nothing to drop (and no tier dir to create for a lock)
    with dir_lock(path):
        for p in sibs:
            shutil.rmtree(p, ignore_errors=True)
        os.remove(lock)


def recover_dir(path: str, have_lock: bool = False) -> None:
    """Heal a compaction swap interrupted between its two renames, and
    clear stale staging debris once the live dir is back.

    Safe for readers to call defensively: it acquires the directory's
    compaction lock NON-BLOCKING and no-ops while a live compactor (or
    appender) holds it — healing must never race the very swap it
    repairs.  ``have_lock=True`` skips acquisition for callers already
    inside :func:`dir_lock`, exclusive or shared (a healer renames only
    into a missing live dir, so shared healers cannot undo each other)."""
    def _heal() -> None:
        staged, old = staged_path(path), old_path(path)
        try:
            if not os.path.exists(path):
                if os.path.exists(staged) and os.path.exists(old):
                    # crashed after live -> old: the staged copy is
                    # complete (fully written before the first rename)
                    os.rename(staged, path)
                elif os.path.exists(old):
                    os.rename(old, path)
            # live present (possibly just restored): anything left under
            # the staging names is debris from a crash after the swap
            # (or a staged copy that never got promoted) — remove it so
            # the next compaction starts clean
            if os.path.exists(path):
                for p in (staged, old):
                    if os.path.exists(p):
                        shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass

    if have_lock:
        _heal()
        return
    with dir_lock(path, blocking=False) as got:
        if got:
            _heal()


def compact_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    partition_cols: tuple[str, ...] = (),
) -> dict:
    """Bin-pack one parquet directory to ~``target_file_bytes`` files.

    ``partition_cols`` must name the directory's hive-style partition
    layout (e.g. ``("source",)`` for io.write_tier outputs) so the
    rewrite reproduces it; partition pruning on those columns keeps
    working after compaction.  Returns
    ``{files_before, files_after, bytes, skipped}``."""
    from pyspark.sql.types import StringType, StructField, StructType

    recover_dir(path)
    if not os.path.isdir(path):
        return {"files_before": 0, "files_after": 0, "bytes": 0,
                "skipped": True}
    with dir_lock(path):
        recover_dir(path, have_lock=True)
        snapshot = _list_data_files(path)
        before = len(snapshot)
        nbytes = dir_data_bytes(path)
        target = file_count(nbytes, target_file_bytes)
        # per-partition-dir floor: coalesce packs within each hive
        # partition independently, so the best reachable count is one
        # file per leaf partition directory
        leaves = len({os.path.dirname(f) for f in snapshot})
        if before <= max(target, leaves):
            return {"files_before": before, "files_after": before,
                    "bytes": nbytes, "skipped": True}
        df = spark.read.parquet(path)
        if partition_cols:
            # partition values as written: type inference would read
            # source=007 as 7 and the rewrite would write source=7
            df = spark.read.schema(StructType([
                StructField(f.name, StringType(), f.nullable)
                if f.name in partition_cols else f for f in df.schema
            ])).parquet(path)
        staged, old = staged_path(path), old_path(path)
        for p in (staged, old):
            if os.path.exists(p):
                shutil.rmtree(p)
        w = df.coalesce(target).write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(staged)
        # concurrent-writer guard: locked appenders cannot have run
        # while we hold the exclusive lock, but a writer that bypassed
        # the lock could have appended between the snapshot and here —
        # its files would be swept away by the swap while their
        # manifest rows survive (permanent silent cell loss).  Abort
        # instead; the caller reschedules.
        if _list_data_files(path) != snapshot:
            shutil.rmtree(staged, ignore_errors=True)
            return {"files_before": before, "files_after": before,
                    "bytes": nbytes, "skipped": True,
                    "aborted_concurrent_write": True}
        os.rename(path, old)
        os.rename(staged, path)
        shutil.rmtree(old)
        return {"files_before": before, "files_after": count_data_files(path),
                "bytes": nbytes, "skipped": False}


def compact_run(
    spark: SparkSession,
    base: str,
    tiers: list[str],
    run_id: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    codec_partition_cols: tuple[str, ...] = ("source",),
) -> dict:
    """Compact one run's on-disk state across tiers: the lineage-
    committed cell data (``tier=<t>/run=<id>``, unpartitioned) and the
    codec blob tables (``codec_<t>/run=<id>``, hive-partitioned by
    source).  Safe to schedule after every commit — already-packed
    directories are skipped without a Spark job, and a commit landing
    mid-compaction blocks on the shared lock instead of losing cells."""
    stats: dict = {}
    for t in tiers:
        stats[t] = compact_dir(
            spark,
            os.path.join(base, f"tier={t}", f"run={run_id}"),
            target_file_bytes,
        )
        stats[f"codec_{t}"] = compact_dir(
            spark,
            os.path.join(base, f"codec_{t}", f"run={run_id}"),
            target_file_bytes,
            partition_cols=codec_partition_cols,
        )
    return stats

"""Per-partition lineage + metrics checkpoints for exact resume.

The engine processes a run as independent (source, bucket) *cells*.  Each
completed cell commits one manifest row ``(run_id, tier, source, bucket,
n_docs, n_points, n_tokens)`` to a lineage table (parquet directory,
append-only — the same protocol works on Iceberg via ``writeTo.append``).
A re-run of the same ``run_id`` anti-joins the manifest and recomputes
only missing cells, so a killed job resumes exactly (FIXTURES.md T3) and
metrics (points/s, tokens/s per tier) fall out of the manifest for free.

Commit protocol: write data for the pending cells to
``{out}/run={run_id}/part-{attempt}`` first, then append manifest rows —
a cell is only considered done once its manifest row is visible, making
the data write idempotent (duplicate data from a crashed attempt is
ignored because its manifest row was never committed; readers go through
``completed_cells``).

Each commit is sized for the store: its cell count comes from an
``Observation`` on the data write, not a ``count()`` job, and both
writes are coalesced to :func:`~fruits_spark.engine.compact.file_count`
files, so a run committed once per tier leaves nothing to compact.
Manifest reads pass ``MANIFEST_SCHEMA`` and so start no footer
inference job.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

MANIFEST_SCHEMA = (
    "run_id string, tier string, source string, bucket int, "
    "n_docs long, n_tokens long, n_points long"
)


def manifest_path(base: str) -> str:
    return os.path.join(base, "_lineage")


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    """The manifest at ``path`` with its known schema (no inference job)."""
    return spark.read.schema(MANIFEST_SCHEMA).parquet(path)


def recover_manifest(base: str, clean: bool = False) -> None:
    """Crash recovery for the retire swap (see :func:`retire_runs`):
    if the manifest directory is missing but a committed ``_retiring``
    (the fully-written new manifest) or ``_old`` (the pre-retire one)
    exists, restore it — a crash between the two renames must never
    leave readers with an empty lineage.  Called before every manifest
    read; a no-op in the healthy state.

    Readers only RESTORE (rename into place, tolerating losing the race
    to another recoverer); debris removal (``clean=True``) is reserved
    for :func:`retire_runs` — a reader must never delete ``_retiring``
    while a live retire is between its two renames."""
    import shutil

    path = manifest_path(base)
    tmp, old = path + "_retiring", path + "_old"
    if not os.path.exists(path):
        try:
            if os.path.exists(tmp):
                # new manifest was fully written: promote it
                os.rename(tmp, path)
            elif os.path.exists(old):
                # crashed before the new manifest was ready: roll back
                os.rename(old, path)
            else:
                return
        except OSError:
            # concurrent recover/retire won the rename — fall through;
            # the manifest is (or is about to be) in place
            pass
    if not clean:
        return
    # writer path: manifest present (or just restored) — clear debris
    for p in (tmp, old):
        if os.path.exists(p):
            shutil.rmtree(p)


def completed_cells(spark: SparkSession, base: str, run_id: str, tier: str) -> DataFrame:
    """Cells already committed for (run_id, tier); empty DF if no manifest."""
    recover_manifest(base)
    path = manifest_path(base)
    try:
        m = read_manifest(spark, path)
    except Exception:
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return m.where((F.col("run_id") == run_id) & (F.col("tier") == tier))


def pending_cells(
    rolled: DataFrame, spark: SparkSession, base: str, run_id: str, tier: str
) -> DataFrame:
    """Tier cells not yet committed (anti-join on the manifest)."""
    done = completed_cells(spark, base, run_id, tier).select("source", "bucket")
    return rolled.join(F.broadcast(done), ["source", "bucket"], "left_anti")


def commit_cells(
    cells: DataFrame,
    spark: SparkSession,
    base: str,
    run_id: str,
    tier: str,
    n_points_per_doc: int,
) -> int:
    """Write pending cell data, then commit their manifest rows.
    Returns the number of cells committed.

    The commit works from a built cache of ``cells``: an input the
    caller cached is used as is (and its cache built first if no action
    has run on it yet); any other input is cached here, built, and
    released at the end.  The built cache's size in bytes and partition
    count give ``k = compact.file_count(...)``, and both the data and
    the manifest rows are written through ``coalesce(k)``, so one commit
    adds files of about the compaction target size.  The cell count is
    an ``Observation`` on the data write: over a caller's built cache a
    commit is two Spark jobs, the data write and the manifest write.
    An empty input writes nothing.

    Both appends take SHARED advisory locks (the data dir's compaction
    lock, the manifest's rewrite lock): concurrent commits proceed
    freely, but a commit can never interleave with an exclusive rewriter
    (:func:`fruits_spark.engine.compact.compact_dir`,
    :func:`compact_manifest` / :func:`retire_runs`) whose
    snapshot-then-swap would silently drop the freshly appended files."""
    from .compact import dir_lock, file_count

    data_path = os.path.join(base, f"tier={tier}", f"run={run_id}")
    # Spark finds cached data by plan, so unpersisting an input the
    # caller had cached would evict the caller's own table: cache (and
    # unpersist) only an input that was not cached already
    own_cache = cells.storageLevel == StorageLevel.NONE
    if own_cache:
        cells = cells.cache()
    try:
        nbytes, parts = _built_cache_size(cells)
        if nbytes == 0:
            return 0
        k = file_count(nbytes, max_files=parts)
        seen = Observation()
        with dir_lock(data_path, shared=True):
            (cells.observe(seen, F.count(F.lit(1)).alias("n"))
             .coalesce(k).write.mode("append").parquet(data_path))
        n = seen.get["n"]
        manifest = cells.select(
            F.lit(run_id).alias("run_id"),
            F.lit(tier).alias("tier"),
            "source",
            "bucket",
            F.col("n_docs").cast("long"),
            F.col("sum_tok").cast("long").alias("n_tokens"),
            (F.col("sum_tok").cast("long") * n_points_per_doc).alias("n_points"),
        )
        with manifest_write_lock(base, shared=True):
            manifest.coalesce(k).write.mode("append").parquet(
                manifest_path(base))
        return n
    finally:
        if own_cache:
            cells.unpersist()


def _built_cache_size(cells: DataFrame) -> tuple[int, int]:
    """(bytes, partitions) of the cached ``cells``, from the in-memory
    relation's statistics.  Builds the cache first (one job) if no
    action has run on it: an unbuilt cache reports its plan's estimate,
    often ``Long.MaxValue``, and counting its partitions would run the
    plan's shuffle stages anyway.  The relation comes from the cache
    manager: a DataFrame that ran an action before it was cached keeps
    an uncached plan of its own."""
    cache_manager = cells.sparkSession._jsparkSession.sharedState() \
        .cacheManager()
    rel = cache_manager.lookupCachedData(cells._jdf).get() \
        .cachedRepresentation()
    buffers = rel.cacheBuilder()
    if not buffers.isCachedColumnBuffersLoaded():
        cells.count()  # the cache build, not a row count
    return (int(rel.computeStats().sizeInBytes()),
            buffers.cachedColumnBuffers().getNumPartitions())


def run_metrics(spark: SparkSession, base: str, run_id: str) -> DataFrame:
    """Aggregate manifest metrics per tier for a run."""
    recover_manifest(base)
    m = read_manifest(spark, manifest_path(base))
    return (
        m.where(F.col("run_id") == run_id)
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("cells"),
            F.sum("n_docs").alias("docs"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("n_points").alias("points"),
        )
    )


def retire_runs(
    spark: SparkSession, base: str, tiers: list[str], run_ids: list[str]
) -> None:
    """Retention for the TIER DATA and the manifest: remove each retired
    run's ``tier=<t>/run=<id>`` directory and rewrite the manifest
    without its rows (codec blobs are retired separately through
    :mod:`fruits_spark.engine.io`).  Manifest rewrite is write-new-then-
    swap; a crash between the two renames is healed by
    :func:`recover_manifest` on the next read (the ``_retiring`` copy is
    complete before the live manifest is ever moved aside).

    Retirement is serialized through an advisory lock file
    (``_retire.lock``): two concurrent ``retire_runs`` calls on the same
    base would otherwise race on the shared ``_retiring`` staging name —
    B's ``recover_manifest(clean=True)`` can delete A's fully-written
    staging copy between A's two renames.  The lock makes the second
    caller wait instead of failing; crash-with-lock-held is harmless
    because ``flock`` locks die with the process."""
    with manifest_write_lock(base):
        _retire_locked(spark, base, tiers, run_ids)


def manifest_write_lock(base: str, shared: bool = False):
    """Advisory lock serializing manifest writers on one base.
    REWRITERS (:func:`retire_runs`, :func:`compact_manifest`) take it
    EXCLUSIVE — they share the ``_retiring``/``_old`` staging names and
    their read-then-swap must not interleave with appends.  Append-only
    commit writers (:func:`commit_cells`) take it SHARED so concurrent
    commits still proceed freely.  Readers never take it."""
    from contextlib import contextmanager

    @contextmanager
    def _lock():
        import fcntl

        os.makedirs(base, exist_ok=True)
        fd = os.open(
            os.path.join(base, "_retire.lock"), os.O_CREAT | os.O_RDWR
        )
        try:
            fcntl.flock(fd, fcntl.LOCK_SH if shared else fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    return _lock()


def _retire_locked(
    spark: SparkSession, base: str, tiers: list[str], run_ids: list[str]
) -> None:
    import shutil

    recover_manifest(base, clean=True)
    for t in tiers:
        for r in run_ids:
            p = os.path.join(base, f"tier={t}", f"run={r}")
            if os.path.exists(p):
                shutil.rmtree(p)
    path = manifest_path(base)
    try:
        m = read_manifest(spark, path)
    except Exception:
        return
    kept = m.where(~F.col("run_id").isin(run_ids))
    _swap_in_manifest(path, kept)


def _swap_in_manifest(path: str, kept: DataFrame) -> None:
    """Write-new-then-swap a manifest rewrite (caller holds the lock;
    :func:`recover_manifest` heals a crash between the renames)."""
    import shutil

    tmp = path + "_retiring"
    kept.write.mode("overwrite").parquet(tmp)
    old = path + "_old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


def compact_manifest(spark: SparkSession, base: str, target_files: int = 1) -> dict:
    """Maintenance: rewrite the lineage manifest into ``target_files``
    parquet files.

    The manifest is append-only — every :func:`commit_cells` call adds a
    small file, so a long-lived base accrues one file per commit batch
    and every resume anti-join / metrics read pays a file-open per
    commit ever made.  Compaction is the same staged-swap used by
    retirement (shared lock, shared staging names, healed by
    :func:`recover_manifest`); on Iceberg deployments the equivalent is
    ``CALL <catalog>.system.rewrite_manifests``.  A manifest already at
    ``target_files`` or fewer is left as it is, without a Spark job.
    Returns file counts before/after."""
    from .compact import count_data_files

    with manifest_write_lock(base):
        recover_manifest(base, clean=True)
        path = manifest_path(base)
        before = count_data_files(path)
        if before <= target_files:  # packed already, or no manifest
            return {"files_before": before, "files_after": before}
        m = read_manifest(spark, path)
        _swap_in_manifest(path, m.coalesce(target_files))
        return {"files_before": before, "files_after": count_data_files(path)}

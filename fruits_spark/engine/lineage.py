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

Manifest layout: ``{out}/_lineage/run_id=<r>/tier=<t>/part-*``, so one
commit adds files to one leaf.  Every read is for one run
(:func:`read_manifest`): it lists only that run's leaves and passes
``MANIFEST_SCHEMA`` (no inference job; run ids stay strings however
numeric they look).  A base written before this layout has an
unpartitioned manifest, which these reads do not see.

One lock: the manifest is a store directory under
:mod:`~fruits_spark.engine.compact`'s ``dir_lock`` like any other.
Commits append under it SHARED; :func:`compact_manifest` is
``compact_dir``; readers heal with ``recover_dir``; :func:`retire_runs`
holds it EXCLUSIVE and drops a run's directory with one rename.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from . import compact

MANIFEST_SCHEMA = (
    "run_id string, tier string, source string, bucket int, "
    "n_docs long, n_tokens long, n_points long"
)


def manifest_path(base: str) -> str:
    return os.path.join(base, "_lineage")


def _run_dir(spark: SparkSession, path: str, run_id: str) -> str:
    """The ``run_id=<r>`` directory of the manifest at ``path``, with the
    value escaped as Spark's partitioned writer escapes it."""
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog \
        .ExternalCatalogUtils
    return os.path.join(path, utils.getPartitionPathString("run_id", run_id))


def read_manifest(spark: SparkSession, base: str, run_id: str) -> DataFrame:
    """Run ``run_id``'s manifest rows, read from its leaves only with the
    known schema (no inference job); empty if the run has none.  Heals
    an interrupted manifest compaction first."""
    path = manifest_path(base)
    compact.recover_dir(path)
    run_dir = _run_dir(spark, path, run_id)
    if not os.path.isdir(run_dir):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return (spark.read.schema(MANIFEST_SCHEMA).option("basePath", path)
            .parquet(run_dir))


def completed_cells(spark: SparkSession, base: str, run_id: str, tier: str) -> DataFrame:
    """Cells already committed for (run_id, tier); empty DF if none."""
    return read_manifest(spark, base, run_id).where(F.col("tier") == tier)


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

    Both appends hold their directory's ``dir_lock`` SHARED, so no
    exclusive rewriter's swap can drop them, and first heal an
    interrupted compaction there: an append into a fresh live dir would
    leave the complete staged copy to be swept away as debris."""
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
        k = compact.file_count(nbytes, max_files=parts)
        seen = Observation()
        with compact.dir_lock(data_path, shared=True):
            compact.recover_dir(data_path, have_lock=True)
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
        path = manifest_path(base)
        with compact.dir_lock(path, shared=True):
            compact.recover_dir(path, have_lock=True)
            (manifest.coalesce(k).write.partitionBy("run_id", "tier")
             .mode("append").parquet(path))
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
    return (
        read_manifest(spark, base, run_id)
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
    run's ``tier=<t>/run=<id>`` directory, then drop its manifest
    directory ``run_id=<id>`` with one rename to its dot-prefixed
    :func:`~fruits_spark.engine.compact.old_path` sibling (invisible to
    Spark's file index) and a delete.  No Spark job and no rewrite: a
    reader sees a run whole or not at all.  Codec blobs are retired
    separately through :mod:`fruits_spark.engine.io`.

    Holds the manifest's EXCLUSIVE ``dir_lock``, so concurrent retires
    serialize and no commit appends to a run while it is dropped; each
    run dir goes with its lock file and debris (``compact.drop_dir``).  A
    crash after the rename leaves an invisible ``.run_id=<id>__old``
    that the next retire of that run removes."""
    import shutil

    path = manifest_path(base)
    with compact.dir_lock(path):
        compact.recover_dir(path, have_lock=True)
        for t in tiers:
            for r in run_ids:
                compact.drop_dir(os.path.join(base, f"tier={t}", f"run={r}"))
        for r in run_ids:
            live = _run_dir(spark, path, r)
            old = compact.old_path(live)
            shutil.rmtree(old, ignore_errors=True)
            if os.path.exists(live):
                os.rename(live, old)
                shutil.rmtree(old)


def compact_manifest(spark: SparkSession, base: str) -> dict:
    """Maintenance: bin-pack the manifest to one file per ``(run_id,
    tier)`` leaf with :func:`~fruits_spark.engine.compact.compact_dir`
    (its lock, staged swap and heal).  Each :func:`commit_cells` call
    adds a file to its leaf, so a run resumed in many slices accrues
    files that every resume anti-join and metrics read opens; a manifest
    already at one file per leaf is left as it is, without a Spark job.
    On Iceberg deployments the equivalent is
    ``CALL <catalog>.system.rewrite_manifests``.  Returns file counts
    before/after."""
    stats = compact.compact_dir(spark, manifest_path(base),
                                partition_cols=("run_id", "tier"))
    return {"files_before": stats["files_before"],
            "files_after": stats["files_after"]}

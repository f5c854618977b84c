"""Store-cycle passes must not redo work: a commit keeps the caller's
cache, counts inside its write and writes right-sized files, compaction
skips a directory or manifest already at its floor, manifest reads
infer no schema, retirement drops directories (lock files included)
without a job, and a tier read heals an interrupted compaction.  Job
counts come from job groups and the status tracker, so timing noise
cannot hide a regression."""

import os

import pytest
from pyspark import StorageLevel

from fruits_spark.engine import compact as CP
from fruits_spark.engine import lineage as LI

CELLS = [(f"s{i % 3}", i, i + 1, 10 * i + 5) for i in range(12)]
CELL_SCHEMA = "source string, bucket int, n_docs long, sum_tok long"


def test_commit_cells_keeps_caller_cache(spark, tmp_path):
    base = str(tmp_path / "store")
    cells = spark.createDataFrame(CELLS, CELL_SCHEMA).cache()
    cells.count()
    assert LI.commit_cells(cells, spark, base, "r1", "t1k",
                           n_points_per_doc=2) == len(CELLS)
    assert cells.storageLevel != StorageLevel.NONE

    data = spark.read.parquet(os.path.join(base, "tier=t1k", "run=r1"))
    assert sorted(tuple(r) for r in data.select(
        "source", "bucket", "n_docs", "sum_tok").collect()) == sorted(CELLS)
    manifest = spark.read.parquet(LI.manifest_path(base))
    assert sorted(tuple(r) for r in manifest.select(
        "run_id", "tier", "source", "bucket", "n_docs", "n_tokens",
        "n_points").collect()) == sorted(
        ("r1", "t1k", s, b, n, t, 2 * t) for s, b, n, t in CELLS)
    cells.unpersist()


def test_commit_cells_releases_its_own_cache(spark, tmp_path):
    base = str(tmp_path / "store")
    cells = spark.createDataFrame(CELLS, CELL_SCHEMA)
    LI.commit_cells(cells, spark, base, "r1", "t1k", n_points_per_doc=2)
    assert cells.storageLevel == StorageLevel.NONE


def _files(path):
    return {f: os.path.getmtime(os.path.join(path, f))
            for f in CP._list_data_files(path)}


def _partitioned(spark, path, n_tasks):
    df = spark.createDataFrame(
        [(i, f"s{i % 3}", float(i)) for i in range(300)],
        "doc_id long, source string, v double",
    )
    df.repartition(n_tasks).write.partitionBy("source").parquet(path)
    return sorted(tuple(r) for r in df.collect())


def test_compact_skips_partitioned_dir_at_one_file_per_leaf(spark,
                                                            tmp_path):
    path = str(tmp_path / "packed")
    _partitioned(spark, path, n_tasks=1)
    files = _files(path)
    assert len(files) == 3
    stats = CP.compact_dir(spark, path, partition_cols=("source",))
    assert stats["skipped"] and stats["files_after"] == 3
    assert _files(path) == files


def test_compact_packs_fragmented_partitioned_dir_to_one_file_per_leaf(
        spark, tmp_path):
    path = str(tmp_path / "frag")
    expect = _partitioned(spark, path, n_tasks=10)
    assert CP.count_data_files(path) > 3
    stats = CP.compact_dir(spark, path, partition_cols=("source",))
    assert not stats["skipped"] and stats["files_after"] == 3
    assert len({os.path.dirname(f) for f in CP._list_data_files(path)}) == 3
    back = spark.read.parquet(path)
    assert sorted((r.doc_id, r.source, r.v) for r in back.collect()) == expect


# --- the commit's job and file budget ---------------------------------------

def _jobs(spark, fn):
    """(result, Spark jobs started) of ``fn()``, counted through a job
    group and the status tracker (works with the UI off)."""
    import uuid

    sc = spark.sparkContext
    group = f"store-cycle-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store hears of jobs through the listener bus: drain it
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _built(spark):
    """The test cells over 4 partitions, cached and built."""
    cells = spark.createDataFrame(CELLS, CELL_SCHEMA).repartition(4).cache()
    cells.count()
    return cells


def _rows(df, cols=("source", "bucket", "n_docs", "sum_tok")):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_file_count_rule():
    target = CP.DEFAULT_TARGET_FILE_BYTES
    assert CP.file_count(0) == 1
    assert CP.file_count(1) == 1
    assert CP.file_count(target) == 1
    assert CP.file_count(target + 1) == 2
    assert CP.file_count(10 * target, max_files=4) == 4
    assert CP.file_count(3 * target, max_files=8) == 3
    # an unbuilt cache reports Long.MaxValue: clamped to a plain int
    huge = CP.file_count((1 << 63) - 1, max_files=8)
    assert huge == 8 and isinstance(huge, int)
    assert CP.file_count(250, target_file_bytes=100) == 3


def test_commit_of_built_cache_runs_two_jobs_one_file_each(spark, tmp_path):
    base = str(tmp_path / "store")
    cells = _built(spark)
    n, jobs = _jobs(spark, lambda: LI.commit_cells(
        cells, spark, base, "r1", "t1k", n_points_per_doc=2))
    assert n == len(CELLS)
    assert jobs == 2  # the data write and the manifest write, no count
    data = os.path.join(base, "tier=t1k", "run=r1")
    assert CP.count_data_files(data) == 1
    assert CP.count_data_files(LI.manifest_path(base)) == 1
    assert _rows(spark.read.parquet(data)) == sorted(CELLS)
    cells.unpersist()


def test_compact_run_after_one_commit_runs_no_job(spark, tmp_path):
    base = str(tmp_path / "store")
    cells = _built(spark)
    for tier in ("t1k", "t100k"):
        LI.commit_cells(cells, spark, base, "r1", tier, n_points_per_doc=2)
    stats, jobs = _jobs(spark, lambda: CP.compact_run(
        spark, base, ["t1k", "t100k"], "r1"))
    assert jobs == 0
    assert all(s["skipped"] for s in stats.values())
    cells.unpersist()


def test_manifest_reads_run_no_inference_job(spark, tmp_path):
    base = str(tmp_path / "store")
    cells = _built(spark)
    LI.commit_cells(cells, spark, base, "r1", "t1k", n_points_per_doc=2)
    metrics, jobs = _jobs(spark, lambda: LI.run_metrics(spark, base, "r1"))
    assert jobs == 0
    _, jobs = _jobs(spark, lambda: LI.completed_cells(
        spark, base, "r1", "t1k"))
    assert jobs == 0
    row = metrics.first()
    assert (row.cells, row.tokens) == (
        len(CELLS), sum(t for *_, t in CELLS))
    cells.unpersist()


def test_compact_manifest_skips_packed_manifest(spark, tmp_path):
    base = str(tmp_path / "store")
    cells = spark.createDataFrame(CELLS, CELL_SCHEMA)
    for b in (0, 1):
        LI.commit_cells(cells.where(cells.bucket % 2 == b), spark, base,
                        "r1", "t1k", n_points_per_doc=2)
    mpath = LI.manifest_path(base)
    assert CP.count_data_files(mpath) >= 2
    assert LI.compact_manifest(spark, base)["files_after"] == 1
    files = _files(mpath)
    stats, jobs = _jobs(spark, lambda: LI.compact_manifest(spark, base))
    assert jobs == 0
    assert stats == {"files_before": 1, "files_after": 1}
    assert _files(mpath) == files
    assert LI.completed_cells(spark, base, "r1", "t1k").count() == len(CELLS)


def _visible(path):
    """Entries of ``path`` that Spark's file index reads."""
    return sorted(d for d in os.listdir(path) if not d.startswith((".", "_")))


def test_retire_runs_runs_no_job(spark, tmp_path):
    """Retirement drops the run's tier and manifest directories: no
    Spark job and no manifest rewrite.  The timestamp run id has a
    ``:``, which Spark escapes in the partition directory name."""
    base = str(tmp_path / "store")
    cells = _built(spark)
    old, kept = "2026-08-16T00:00", "r2"
    for run in (old, kept):
        LI.commit_cells(cells, spark, base, run, "t1k", n_points_per_doc=2)
    mpath = LI.manifest_path(base)
    kept_files = _files(mpath)
    _, jobs = _jobs(spark, lambda: LI.retire_runs(spark, base, ["t1k"],
                                                  [old]))
    assert jobs == 0
    assert _visible(os.path.join(base, "tier=t1k")) == [f"run={kept}"]
    assert _visible(mpath) == [f"run_id={kept}"]
    assert _files(mpath) == {f: t for f, t in kept_files.items()
                             if f.startswith(f"run_id={kept}")}
    assert LI.completed_cells(spark, base, old, "t1k").count() == 0
    assert _rows(LI.completed_cells(spark, base, kept, "t1k"),
                 ("source", "bucket", "n_docs", "n_tokens")) == sorted(CELLS)
    cells.unpersist()


def test_retire_leaves_no_dot_entry_of_the_run(spark, tmp_path):
    """Retirement removes the run's lock files (and any staging debris)
    from ``tier=`` and ``codec_`` dirs, not only its data: a long-lived
    base must not gain one ``.run=<r>__compact.lock`` per run."""
    from fruits_spark.engine import io as IO

    base = str(tmp_path / "store")
    cells = _built(spark)
    for run in ("r1", "r2"):
        LI.commit_cells(cells, spark, base, run, "t1k", n_points_per_doc=2)
        IO.write_tier(cells, base, "codec_t1k", run)
        CP.compact_run(spark, base, ["t1k"], run)  # locks both run dirs
    for d in ("tier=t1k", "codec_t1k"):
        assert ".run=r1__compact.lock" in os.listdir(os.path.join(base, d))
    IO.drop_retired_partitions(spark, base, "codec_t1k", ["r1"])
    LI.retire_runs(spark, base, ["t1k"], ["r1"])
    for d in ("tier=t1k", "codec_t1k"):
        left = sorted(os.listdir(os.path.join(base, d)))
        assert [e for e in left if "r1" in e] == [], (d, left)
        assert "run=r2" in left
    cells.unpersist()


def test_tier_read_heals_interrupted_compaction(spark, tmp_path):
    """A tier read heals a compaction swap that crashed between its two
    renames: ``tier=t1k/run=r1`` left as a complete staged copy plus
    the old live dir, beside a live ``run=r2``; the read sees both."""
    from fruits_spark.engine import io as IO

    base = str(tmp_path / "store")
    cells = _built(spark)
    for run in ("r1", "r2"):
        LI.commit_cells(cells, spark, base, run, "t1k", n_points_per_doc=2)
    live = os.path.join(base, "tier=t1k", "run=r1")
    spark.read.parquet(live).coalesce(1).write.parquet(CP.staged_path(live))
    os.rename(live, CP.old_path(live))
    got = IO.read_tier(spark, base, "t1k")
    assert sorted(r.run for r in got.select("run").distinct().collect()) \
        == ["r1", "r2"]
    assert got.count() == 2 * len(CELLS)
    assert os.path.exists(live) and not os.path.exists(CP.old_path(live))
    cells.unpersist()


def test_compact_manifest_at_one_file_per_leaf_runs_no_job(spark, tmp_path):
    base = str(tmp_path / "store")
    cells = _built(spark)
    runs, tiers = ("r1", "r2"), ("t1k", "t100k")
    for run in runs:
        for tier in tiers:
            LI.commit_cells(cells, spark, base, run, tier,
                            n_points_per_doc=2)
    mpath = LI.manifest_path(base)
    leaves = sorted(os.path.dirname(f) for f in CP._list_data_files(mpath))
    assert leaves == sorted(os.path.join(f"run_id={r}", f"tier={t}")
                            for r in runs for t in tiers)
    stats, jobs = _jobs(spark, lambda: LI.compact_manifest(spark, base))
    assert jobs == 0
    assert stats == {"files_before": 4, "files_after": 4}
    cells.unpersist()


def _crash_mid_manifest_compaction(spark, base):
    """Commit r1/t1k in two slices, then leave the manifest as a crash
    between a compaction's two renames does: the staged copy complete,
    the live dir moved to old."""
    cells = spark.createDataFrame(CELLS, CELL_SCHEMA)
    for b in (0, 1):
        LI.commit_cells(cells.where(cells.bucket % 2 == b), spark, base,
                        "r1", "t1k", n_points_per_doc=2)
    mpath = LI.manifest_path(base)
    (spark.read.schema(LI.MANIFEST_SCHEMA).parquet(mpath).coalesce(1)
     .write.partitionBy("run_id", "tier").parquet(CP.staged_path(mpath)))
    os.rename(mpath, CP.old_path(mpath))
    return cells, mpath


def test_manifest_compaction_crash_healed_by_completed_cells(spark,
                                                             tmp_path):
    base = str(tmp_path / "store")
    _, mpath = _crash_mid_manifest_compaction(spark, base)
    assert LI.completed_cells(spark, base, "r1", "t1k").count() == len(CELLS)
    assert CP.count_data_files(mpath) == 1  # the staged copy, promoted
    assert not os.path.exists(CP.staged_path(mpath))
    assert not os.path.exists(CP.old_path(mpath))


def test_commit_heals_manifest_compaction_crash_before_appending(spark,
                                                                 tmp_path):
    """A commit into a manifest whose compaction crashed mid-swap must
    not start a fresh live dir: that would leave the complete staged
    copy, and every row committed before, to be removed as debris."""
    base = str(tmp_path / "store")
    cells, _ = _crash_mid_manifest_compaction(spark, base)
    LI.commit_cells(cells, spark, base, "r1", "t100k", n_points_per_doc=2)
    for tier in ("t1k", "t100k"):
        assert LI.completed_cells(spark, base, "r1", tier).count() \
            == len(CELLS)


def test_commit_empty_input_writes_nothing(spark, tmp_path):
    base = str(tmp_path / "store")
    cells = _built(spark)
    LI.commit_cells(cells, spark, base, "r1", "t1k", n_points_per_doc=2)
    data = os.path.join(base, "tier=t1k", "run=r1")
    before = _rows(spark.read.parquet(data))
    manifest_files = _files(LI.manifest_path(base))

    for empty in (cells.where(cells.bucket < 0),
                  spark.createDataFrame([], CELL_SCHEMA)):
        assert LI.commit_cells(empty, spark, base, "r1", "t1k",
                               n_points_per_doc=2) == 0
    assert _files(LI.manifest_path(base)) == manifest_files
    assert _rows(spark.read.parquet(data)) == before
    assert LI.completed_cells(spark, base, "r1", "t1k").count() == len(CELLS)
    cells.unpersist()


def test_commit_uncached_input_matches_cached(spark, tmp_path):
    cached = _built(spark)
    uncached = spark.createDataFrame(CELLS, CELL_SCHEMA).repartition(4)
    out = {}
    for name, cells in (("cached", cached), ("uncached", uncached)):
        base = str(tmp_path / name)
        assert LI.commit_cells(cells, spark, base, "r1", "t1k",
                               n_points_per_doc=2) == len(CELLS)
        out[name] = (
            _rows(spark.read.parquet(os.path.join(base, "tier=t1k",
                                                  "run=r1"))),
            _rows(spark.read.parquet(LI.manifest_path(base)),
                  ("run_id", "tier", "source", "bucket", "n_docs",
                   "n_tokens", "n_points")),
            CP.count_data_files(os.path.join(base, "tier=t1k", "run=r1")),
        )
    assert out["uncached"] == out["cached"]
    assert out["cached"][2] == 1
    assert uncached.storageLevel == StorageLevel.NONE
    cached.unpersist()


def test_crash_between_data_and_manifest_then_resume(spark, tmp_path,
                                                     monkeypatch):
    """A commit that dies after its data write leaves data rows with no
    manifest rows; a resume recommits those cells, and both the manifest
    metrics and the routed read still count each cell once."""
    from contextlib import contextmanager

    from pyspark.sql import functions as F

    from fruits_spark.engine import rollup as RU

    base = str(tmp_path / "store")
    fc = ["x"]
    fine_rows = [(f"s{i % 3}", i, i % 4 + 1, 10 * i + 5, float(i),
                  float(i % 7)) for i in range(40)]
    fine = spark.createDataFrame(
        fine_rows, CELL_SCHEMA + ", sum_x double, max_x double").cache()
    coarse = RU.reagg_tier(
        fine, fc, F.floor(F.col("bucket") / 10).cast("int")).cache()

    real_lock = CP.dir_lock

    @contextmanager
    def dying_lock(path, shared=False, **k):
        if path == LI.manifest_path(base) and shared:
            raise RuntimeError("killed before the manifest append")
        with real_lock(path, shared=shared, **k) as got:
            yield got

    with monkeypatch.context() as m:
        m.setattr(CP, "dir_lock", dying_lock)
        with pytest.raises(RuntimeError, match="killed"):
            LI.commit_cells(fine, spark, base, "r1", "t1k",
                            n_points_per_doc=1)
    assert LI.completed_cells(spark, base, "r1", "t1k").count() == 0

    for tier, cells in (("t1k", fine), ("t100k", coarse)):
        pending = LI.pending_cells(cells, spark, base, "r1", tier)
        assert LI.commit_cells(pending, spark, base, "r1", tier,
                               n_points_per_doc=1) == cells.count()
    # the data dir holds the crashed attempt's rows twice
    t1k_dir = os.path.join(base, "tier=t1k", "run=r1")
    assert spark.read.parquet(t1k_dir).count() == 2 * len(fine_rows)

    got = {r.tier: (r.cells, r.tokens)
           for r in LI.run_metrics(spark, base, "r1").collect()}
    tokens = sum(r[3] for r in fine_rows)
    assert got == {"t1k": (len(fine_rows), tokens),
                   "t100k": (coarse.count(), tokens)}

    def tier(t):
        return spark.read.parquet(os.path.join(base, f"tier={t}")) \
            .withColumn("run", F.col("run").cast("string"))

    lo, hi = 5, 33
    routed = RU.route_query_cells(tier("t1k"), tier("t100k"), 10, lo, hi,
                                  fc).collect()
    direct = [r for r in fine_rows if lo <= r[1] < hi]
    expect = {}
    for s, _b, n, t, sx, mx in direct:
        a = expect.setdefault(s, [0, 0, 0.0, float("-inf")])
        a[0] += n
        a[1] += t
        a[2] += sx
        a[3] = max(a[3], mx)
    assert {r.source: [r.n_docs, r.sum_tok, r.sum_x, r.max_x]
            for r in routed} == expect
    fine.unpersist()
    coarse.unpersist()

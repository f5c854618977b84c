import os

import pytest

from fruits_spark.engine import compact as CP
from fruits_spark.engine import lineage as LI


def _fragmented(spark, tmp_path, n_files=12):
    path = str(tmp_path / "frag")
    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    df.repartition(n_files).write.parquet(path)
    return path, sorted((r.id, r.v) for r in df.collect())


def test_compact_dir_packs_and_preserves_rows(spark, tmp_path):
    path, expect = _fragmented(spark, tmp_path)
    assert CP.count_data_files(path) == 12
    stats = CP.compact_dir(spark, path)
    assert not stats["skipped"]
    assert stats["files_before"] == 12
    # 1000 tiny rows << 128 MB -> bin-packs to a single file
    assert stats["files_after"] == 1
    got = sorted(
        (r.id, r.v) for r in spark.read.parquet(path).collect()
    )
    assert got == expect


def test_compact_dir_idempotent_skip(spark, tmp_path):
    path, _ = _fragmented(spark, tmp_path)
    CP.compact_dir(spark, path)
    again = CP.compact_dir(spark, path)
    assert again["skipped"] and again["files_after"] == 1


def test_compact_dir_missing_dir_is_noop(spark, tmp_path):
    stats = CP.compact_dir(spark, str(tmp_path / "nope"))
    assert stats == {"files_before": 0, "files_after": 0, "bytes": 0,
                     "skipped": True}


def test_compact_dir_preserves_hive_partitions(spark, tmp_path):
    path = str(tmp_path / "part")
    df = spark.createDataFrame(
        [(i, f"s{i % 3}", float(i)) for i in range(300)],
        "doc_id long, source string, v double",
    )
    df.repartition(10).write.partitionBy("source").parquet(path)
    before = CP.count_data_files(path)
    assert before > 3
    stats = CP.compact_dir(spark, path, partition_cols=("source",))
    # floor is one file per hive partition value
    assert stats["files_after"] == 3
    back = spark.read.parquet(path)
    assert sorted(
        r.source for r in back.select("source").distinct().collect()
    ) == ["s0", "s1", "s2"]
    assert back.where("source = 's1'").count() == 100
    got = sorted((r.doc_id, r.source, r.v) for r in back.collect())
    assert got == sorted((i, f"s{i % 3}", float(i)) for i in range(300))


def test_compact_keeps_numeric_partition_values(spark, tmp_path):
    """All-numeric, zero-padded partition values come back as written:
    partition type inference would read ``source=007`` as 7 and the
    rewrite would write ``source=7``."""
    path = str(tmp_path / "codec")
    rows = [(i, ("007", "010")[i % 2], float(i)) for i in range(40)]
    spark.createDataFrame(rows, "doc_id long, source string, v double") \
        .repartition(4).write.partitionBy("source").parquet(path)
    stats = CP.compact_dir(spark, path, partition_cols=("source",))
    assert not stats["skipped"] and stats["files_after"] == 2
    assert sorted(d for d in os.listdir(path)
                  if not d.startswith(("_", "."))) == ["source=007",
                                                       "source=010"]
    back = spark.read.schema("doc_id long, v double, source string") \
        .parquet(path)
    assert sorted((r.doc_id, r.source, r.v) for r in back.collect()) \
        == sorted(rows)


def test_compact_manifest_keeps_numeric_run_id(spark, tmp_path):
    """Run ``007`` still matches ``completed_cells`` after a manifest
    compaction (as ``run_id=7`` it would not, and a ``--resume`` would
    commit every cell again)."""
    base = str(tmp_path / "store")
    cells = spark.createDataFrame(
        [("s0", b, 10, 100) for b in range(4)],
        "source string, bucket int, n_docs long, sum_tok long",
    )
    for b in range(2):
        LI.commit_cells(cells.where(cells.bucket % 2 == b), spark, base,
                        "007", "t1k", n_points_per_doc=3)
    assert LI.compact_manifest(spark, base)["files_after"] == 1
    assert LI.completed_cells(spark, base, "007", "t1k").count() == 4
    assert LI.pending_cells(cells, spark, base, "007", "t1k").count() == 0


def test_recover_dir_promotes_staged_else_rolls_back(spark, tmp_path):
    path, expect = _fragmented(spark, tmp_path)
    staged, old = CP.staged_path(path), CP.old_path(path)
    # crash AFTER live -> old (staged copy complete): promote staged
    spark.read.parquet(path).coalesce(1).write.parquet(staged)
    os.rename(path, old)
    CP.recover_dir(path)
    assert os.path.isdir(path) and not os.path.exists(staged)
    got = sorted((r.id, r.v) for r in spark.read.parquet(path).collect())
    assert got == expect
    # old is debris after a promote: recover_dir clears it itself now
    # that the live dir is back
    assert not os.path.exists(old)
    # crash with only old present (before staging finished): roll back
    os.rename(path, old)
    CP.recover_dir(path)
    assert os.path.isdir(path) and not os.path.exists(old)


def test_stale_old_is_invisible_to_whole_tier_reads(spark, tmp_path):
    """A crash between the second rename and the debris rmtree leaves
    an old copy around; with dot-prefixed staging names Spark's file
    index skips it, so a whole-tier read never double-counts."""
    base = str(tmp_path / "store")
    cells = spark.createDataFrame(
        [("s0", b, 10, 100) for b in range(4)],
        "source string, bucket int, n_docs long, sum_tok long",
    )
    LI.commit_cells(cells, spark, base, "r1", "t1k", n_points_per_doc=3)
    live = os.path.join(base, "tier=t1k", "run=r1")
    # simulate the crash leftover: a full copy under the old name
    import shutil

    shutil.copytree(live, CP.old_path(live))
    tier_dir = os.path.join(base, "tier=t1k")
    got = spark.read.parquet(tier_dir)
    assert got.count() == 4  # not 8: the __old copy is invisible
    assert [r.run for r in got.select("run").distinct().collect()] == ["r1"]
    # and recover_dir clears the debris (live dir present)
    CP.recover_dir(live)
    assert not os.path.exists(CP.old_path(live))


def test_recover_dir_noops_while_lock_held(spark, tmp_path):
    """A reader's defensive recover_dir must not promote a staged copy
    out from under the compactor that is mid-swap holding the lock."""
    path, _ = _fragmented(spark, tmp_path, n_files=2)
    staged = CP.staged_path(path)
    spark.read.parquet(path).coalesce(1).write.parquet(staged)
    with CP.dir_lock(path) as got:
        assert got
        CP.recover_dir(path)  # must be a no-op: lock is held
        assert os.path.exists(staged)
    CP.recover_dir(path)  # lock free: now clears the stale staged copy
    assert not os.path.exists(staged)


def test_commit_blocks_during_compaction(spark, tmp_path):
    """commit_cells' data append takes the dir lock SHARED, so it
    queues behind an exclusive compactor instead of landing files that
    the swap would silently delete."""
    import threading
    import time

    base = str(tmp_path / "store")
    cells = spark.createDataFrame(
        [("s0", b, 10, 100) for b in range(2)],
        "source string, bucket int, n_docs long, sum_tok long",
    )
    LI.commit_cells(
        cells.where(cells.bucket == 0), spark, base, "r1", "t1k",
        n_points_per_doc=3,
    )
    live = os.path.join(base, "tier=t1k", "run=r1")
    done = threading.Event()

    def _commit():
        LI.commit_cells(
            cells.where(cells.bucket == 1), spark, base, "r1", "t1k",
            n_points_per_doc=3,
        )
        done.set()

    with CP.dir_lock(live):  # pose as a compactor mid-swap
        t = threading.Thread(target=_commit)
        t.start()
        assert not done.wait(timeout=3.0)  # append is queued, not landed
    assert done.wait(timeout=60.0)  # lock released: commit completes
    t.join()
    assert spark.read.parquet(live).count() == 2


def test_compact_aborts_on_unlocked_concurrent_write(spark, tmp_path,
                                                     monkeypatch):
    """Belt-and-braces: a writer that bypasses the lock and lands a
    file between the compactor's snapshot and its swap must abort the
    compaction, never sweep the new file away."""
    path, expect = _fragmented(spark, tmp_path)
    extra_src = str(tmp_path / "extra")
    extra = spark.range(5).selectExpr("id + 10000 AS id", "id AS v")
    extra.coalesce(1).write.parquet(extra_src)
    data_file = next(
        f for f in os.listdir(extra_src)
        if not f.startswith(("_", "."))
    )

    real_list = CP._list_data_files
    state = {"n": 0}

    def sneaky_list(p):
        state["n"] += 1
        if state["n"] == 2:  # the post-staging re-list: inject a write
            import shutil

            shutil.copy(
                os.path.join(extra_src, data_file),
                os.path.join(path, "part-sneak.parquet"),
            )
        return real_list(p)

    monkeypatch.setattr(CP, "_list_data_files", sneaky_list)
    stats = CP.compact_dir(spark, path)
    assert stats["skipped"] and stats.get("aborted_concurrent_write")
    assert not os.path.exists(CP.staged_path(path))
    got = sorted((r.id, r.v) for r in spark.read.parquet(path).collect())
    assert got == sorted(
        expect + [(r.id, r.v) for r in extra.collect()]
    )


def test_compact_manifest_packs_without_losing_rows(spark, tmp_path):
    base = str(tmp_path / "store")
    cells = spark.createDataFrame(
        [("s0", b, 10, 100) for b in range(4)],
        "source string, bucket int, n_docs long, sum_tok long",
    )
    # four append batches -> >= 4 manifest files
    for i in range(4):
        LI.commit_cells(
            cells.where(cells.bucket == i), spark, base, "r1", "t1k",
            n_points_per_doc=3,
        )
    mpath = LI.manifest_path(base)
    files_before = CP.count_data_files(mpath)
    assert files_before >= 4
    rows_before = sorted(
        map(tuple, spark.read.parquet(mpath).collect())
    )
    stats = LI.compact_manifest(spark, base)
    assert stats["files_before"] == files_before
    assert stats["files_after"] == 1
    assert sorted(map(tuple, spark.read.parquet(mpath).collect())) \
        == rows_before
    # resume semantics intact: all 4 cells still read as committed
    done = LI.completed_cells(spark, base, "r1", "t1k")
    assert done.count() == 4


def test_compact_manifest_empty_base(spark, tmp_path):
    stats = LI.compact_manifest(spark, str(tmp_path / "empty"))
    assert stats["files_before"] == stats["files_after"] == 0

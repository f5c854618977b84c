"""Store-cycle passes must not redo work: a commit keeps the caller's
cache, and compaction skips a directory already at its floor."""

import os

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

"""SparkSession factory with engine-tuned defaults.

Settings chosen for the 100 TB design point and validated on local[*]:
AQE on (runtime coalescing + skew-join splitting), Arrow enabled with a
bounded records-per-batch so pandas-UDF peak memory stays flat regardless
of sequence length, and shuffle partitions sized by the caller (rule of
thumb: 2-3x total executor cores; the 32-core sandbox uses 32-64).

Arrow batch default of 512 rows is measured, not guessed: the flat
segmented kernels are memory-bandwidth-bound; ~512 rows x ~256 tokens x
8 B ≈ 1 MB keeps every scan pass cache-resident per worker, which is
what makes them SCALE — 2->8 cores efficiency 0.94 at 512 rows vs 0.71
at 1024 (larger batches contend for shared L3/DRAM).

Python workers: for a ``local[...]`` master, and when this package was
loaded from a directory (not a ``--py-files`` zip), the Python worker
daemon is :mod:`fruits_spark.engine.pyworker`, and the package's parent
directory goes on the workers' ``PYTHONPATH`` so the daemon imports
from any cwd.  That daemon drops Spark's archives (pyspark.zip, the
py4j zip, the spark-core jar) from the worker path when pyspark and
py4j resolve from a directory at the same version, which removes a
fixed 0.1-0.3 s per Python task: PySpark's worker calls
``importlib.invalidate_caches()`` before each task, and on Python 3.11
that re-reads every cached archive's central directory.  Cluster
masters and spark-submit ``--py-files`` sessions keep the stock daemon.

The default master is ``local[SPARK_GRAFT_CPUS]``, which defaults to
``os.cpu_count()``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PYPATH = "spark.executorEnv.PYTHONPATH"


def worker_daemon_conf(
    master: str, pkg_dir: str, pythonpath: str | None = None
) -> dict[str, str]:
    """Settings that run Python workers under the archive-free daemon
    (module docstring): empty unless ``master`` is ``local[...]`` and
    ``pkg_dir``, the directory this package was loaded from, is a real
    directory.  ``pythonpath`` (a caller's own worker PYTHONPATH) stays
    on the path behind the package root."""
    if not master.startswith("local[") or not os.path.isdir(pkg_dir):
        return {}
    root = os.path.dirname(os.path.abspath(pkg_dir))
    return {
        "spark.python.daemon.module": "fruits_spark.engine.pyworker",
        _PYPATH: os.pathsep.join(p for p in (root, pythonpath) if p),
    }


def build_session(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    app: str = "fruits-spark",
    arrow_batch: int = 512,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = int(cpus) if master.startswith("local[") and cpus.isdigit() else 32
        shuffle_partitions = max(n, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch)
        )
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
        # glibc tuning for the python workers: the flat kernels allocate
        # multi-MB scratch arrays per Arrow batch; with default malloc
        # thresholds every one is a fresh mmap/munmap pair, and at 32
        # concurrent workers the munmap TLB shootdowns + zone-lock
        # contention dominate (measured: local[32] extraction swings
        # 2.9-5.0 s untuned vs a tight 2.9-3.1 s tuned on the same
        # dataset).  Raising the thresholds keeps scratch memory pooled
        # inside each worker; arenas capped so RSS stays bounded.
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_ARENA_MAX", "2")
        # the engine's cached tables (per-doc features, tier cells) are
        # overwhelmingly DoubleType, for which Spark's in-memory
        # columnar cache has no real codec (PassThrough) — the encoder
        # selection/stats pass is pure overhead.  Measured interleaved
        # in a quiet window: extract cache build 1.18->1.11 s, tier
        # cache 1.41->1.33 s (-5-6 % each)
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
    )
    conf = dict(extra or {})
    if "spark.python.daemon.module" not in conf:  # a caller's choice wins
        pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        conf.update(worker_daemon_conf(master, pkg_dir, conf.get(_PYPATH)))
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()

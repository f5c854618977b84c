"""Table I/O seam: Iceberg catalog tables in production, parquet paths
as the sandbox stand-in.

The north-rule deployment stores the token table and the tier outputs as
Iceberg tables partitioned by ``(source, bucket(doc_id))`` — partition
pruning, snapshot isolation, and ``writeTo(...).append()`` commits come
from the format.  This container has no Iceberg runtime jar (no network
installs), so the engine routes all I/O through this module with ONE
naming/retention contract for both branches:

  * a tier write is addressed as ``(base, table, run_id)``;
  * catalog branch (``SPARK_GRAFT_CATALOG`` names a configured Iceberg
    catalog): rows land in ``{catalog}.{table}`` with a ``run_id``
    column appended; retention is a metadata-light
    ``DELETE … WHERE run_id IN (…)``;
  * parquet branch: rows land under ``{base}/{table}/run={run_id}``
    partitioned by the same columns; retention removes the run
    subdirectories.

Everything else in the engine (rollups, gap-fill, lineage commits) is
format-agnostic — it only ever sees DataFrames from/for this module.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import compact


def _catalog() -> str | None:
    return os.environ.get("SPARK_GRAFT_CATALOG") or None


def _table_ident(table: str) -> str:
    """A path-ish tier name -> a valid catalog table identifier."""
    return re.sub(r"[^A-Za-z0-9_]+", "_", table).strip("_")


def read_table(spark: SparkSession, name: str) -> DataFrame:
    """Read an input table by catalog name or parquet path."""
    cat = _catalog()
    if cat:
        return spark.read.table(f"{cat}.{_table_ident(name)}")
    return spark.read.parquet(name)


def write_tier(
    df: DataFrame,
    base: str,
    table: str,
    run_id: str,
    partition_cols: tuple[str, ...] = ("source",),
) -> None:
    """Write one run's tier cells.  Re-writing the same (table, run_id)
    replaces that run only (idempotent re-runs), never other runs."""
    cat = _catalog()
    if cat:
        ident = f"{cat}.{_table_ident(table)}"
        out = df.withColumn("run_id", F.lit(run_id))
        if spark_table_exists(df.sparkSession, ident):
            # conditional overwrite = ONE Iceberg snapshot (atomic
            # replace-where); a DELETE-then-append pair could lose the
            # run if the job died between the two commits
            out.writeTo(ident).overwrite(F.col("run_id") == run_id)
        else:
            out.writeTo(ident).partitionedBy(
                *[F.col(c) for c in partition_cols]
            ).create()
        return
    (
        df.write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(os.path.join(base, table, f"run={run_id}"))
    )


def spark_table_exists(spark: SparkSession, ident: str) -> bool:
    """True iff the catalog resolves ``ident``.  Only analysis errors
    (missing table) map to False — a transient catalog/connection error
    propagates instead of silently routing the caller to a create()
    that would then fail with a misleading 'table already exists'."""
    from pyspark.errors import AnalysisException

    try:
        return spark.catalog.tableExists(ident)
    except AnalysisException:
        return False


def drop_retired_partitions(
    spark: SparkSession, base: str, table: str, run_ids: list[str]
) -> None:
    """Retention: drop the given runs from a tier table.  Iceberg: one
    ``DELETE WHERE run_id IN (…)`` (metadata-light, snapshots expire on
    their own schedule); parquet: remove ``run=<id>`` subdirectories
    with their lock files (``compact.drop_dir``)."""
    cat = _catalog()
    if cat:
        ident = f"{cat}.{_table_ident(table)}"
        # escape quotes: run ids come straight from the CLI
        ids = ", ".join("'" + r.replace("'", "''") + "'" for r in run_ids)
        spark.sql(f"DELETE FROM {ident} WHERE run_id IN ({ids})")
        return
    for r in run_ids:
        compact.drop_dir(os.path.join(base, table, f"run={r}"))


def read_tier(spark: SparkSession, base: str, tier: str) -> DataFrame:
    """Every committed run of ``tier=<tier>``, ``run`` cast to string
    (partition inference parses date-like run ids as dates).  Heals each
    run dir first (``compact.recover_dir``), including a run whose live
    dir is missing but whose staged or old sibling exists."""
    path = os.path.join(base, f"tier={tier}")
    runs = {re.sub(r"__(compacting|old|compact\.lock)$", "", e.lstrip("."))
            for e in os.listdir(path)}
    for r in runs:
        if r.startswith("run="):
            compact.recover_dir(os.path.join(path, r))
    df = spark.read.parquet(path)
    return df.withColumn("run", F.col("run").cast("string"))

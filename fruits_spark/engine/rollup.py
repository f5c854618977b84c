"""Tiered continuous aggregates: raw -> 1k-token -> 100k-token rollups.

A *tier* groups documents into ``(source, bucket)`` cells; the bucket of
a doc is ``pmod(xxhash64(doc_id), n_buckets)`` (:func:`bucket_col`), so
cells are stable, deterministic and independent of row order.  Tier
aggregates are plain JVM hash aggregations (partial + final, map-side
combine comes free from Catalyst) over the wide per-doc feature columns
produced by
:func:`fruits_spark.engine.executor.extract_features` — the only shuffle
in the pipeline is this groupBy, shuffling one already-reduced row per
document, never token data.

Scale design notes (100 TB / 10^12 sequences):
  * the feature-extraction map carries no shuffle; its output is ~1e12
    rows x (few keys + k doubles) — the rollup shuffle volume is
    O(docs x features x 8B), shrunk further by partial aggregation to
    O(cells) per map task.
  * Zipf-skewed ``source`` keys need no salt phase: every tier
    aggregate is algebraic, so map-side partial aggregation already
    bounds a hot cell's reducer input at one row per map task.
    ``rollup_tier_salted`` is kept as a name and runs the same
    one-shuffle plan.
  * gap-fill builds the full (source x bucket) spine with ``sequence()``
    + ``explode`` (a few thousand rows — broadcastable) and left-joins
    facts onto it.

Reads are ROUTED through ONE cell cover, :func:`_route_cells`: a range
of fine buckets is split coarsest-first into whole cells of each tier
(aligned interior) and finer cells (unaligned edges), one
bucket-range-filtered scan per tier, and every range read —
:func:`route_range_multi`, its two-level case :func:`route_range`, and
the fresh :func:`route_range_realtime` (routed cells plus
:func:`realtime_tier`'s live tail) — is that cover plus ONE algebraic
aggregate.
"""

from __future__ import annotations

import functools
import operator
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F


@dataclass(frozen=True)
class Tier:
    """A rollup tier: ``tokens_per_bucket`` controls downsampling
    granularity.  Retention drops a tier's run partitions
    (:func:`fruits_spark.engine.lineage.retire_runs`,
    :func:`fruits_spark.engine.io.drop_retired_partitions`)."""

    name: str
    tokens_per_bucket: int  # target token volume per rollup cell


def bucket_col(n_buckets: int, doc_col: str = "doc_id"):
    """Deterministic doc -> bucket assignment (xxhash64, JVM-side)."""
    return F.pmod(F.xxhash64(F.col(doc_col)), F.lit(n_buckets)).cast("int")


def rollup_tier(
    features: DataFrame,
    tier: Tier,
    n_buckets: int,
    feature_cols: list[str],
    bucket_expr=None,
) -> DataFrame:
    """Aggregate per-doc features into tier cells.

    Emits per (source, bucket): doc count, token sum, and sum/max per
    feature column — the continuous-aggregate payload.  Aggregates are
    algebraic (sum/max/count) so tiers can also be re-rolled from finer
    tiers without revisiting raw data.
    """
    # one SQL string instead of hundreds of Column objects: a wide
    # feature set otherwise costs seconds of driver-side py4j round-trips
    b = bucket_expr if bucket_expr is not None else bucket_col(n_buckets)
    df = features.withColumn("bucket", b)
    aggs = ["count(1) AS n_docs", "sum(n_tok) AS sum_tok"]
    for c in feature_cols:
        aggs.append(f"sum({c}) AS sum_{c}")
        aggs.append(f"max({c}) AS max_{c}")
    return _sql_agg(df, ["source", "bucket"], aggs)


def reagg_exprs(feature_cols: list[str]) -> list[str]:
    """The algebraic re-aggregation of tier cells (sums of sums, max of
    maxes) — single source of truth for every coarser-tier rollup,
    stream compaction, and warmup path."""
    aggs = ["sum(n_docs) AS n_docs", "sum(sum_tok) AS sum_tok"]
    for c in feature_cols:
        aggs.append(f"sum(sum_{c}) AS sum_{c}")
        aggs.append(f"max(max_{c}) AS max_{c}")
    return aggs


import itertools

# deterministic AND thread-safe name source: itertools.count() is atomic
# under the GIL, so a streaming foreachBatch thread and the driver thread
# can run rollups concurrently without colliding on a view name (a plain
# global counter has a read-modify-write race; hash() varies with
# PYTHONHASHSEED across sessions)
_VIEW_SEQ = itertools.count(1)


def _sql_agg(df: DataFrame, keys: list[str], aggs: list[str]) -> DataFrame:
    name = f"_rollup_in_{next(_VIEW_SEQ)}"
    df.createOrReplaceTempView(name)
    out = df.sparkSession.sql(
        f"SELECT {', '.join(keys)}, {', '.join(aggs)} FROM {name} "
        f"GROUP BY {', '.join(keys)}"
    )
    # materialize the analyzed plan, then drop the view so repeated
    # rollups don't accumulate catalog entries
    out.schema
    df.sparkSession.catalog.dropTempView(name)
    return out


def reagg_tier(
    tier_cells: DataFrame,
    feature_cols: list[str],
    bucket_expr,
) -> DataFrame:
    """Coarser tier from finer tier cells: regroup on (source, coarse
    bucket) with the algebraic :func:`reagg_exprs` — never touches raw
    data, so a t100k refresh costs O(t1k cells), not O(docs)."""
    df = tier_cells.withColumn("bucket", bucket_expr)
    return _sql_agg(df, ["source", "bucket"], reagg_exprs(feature_cols))


def rollup_tier_salted(
    features: DataFrame,
    tier: Tier,
    n_buckets: int,
    feature_cols: list[str],
    n_salts: int = 16,
    bucket_expr=None,
) -> DataFrame:
    """The skew-safe tier rollup: the one-shuffle plan of
    :func:`rollup_tier`, with the same output.

    ``n_salts`` is ignored.  A salt phase (pre-aggregate on ``(source,
    bucket, salt)``, then combine) adds a second wide shuffle and buys
    nothing for these aggregates: count/sum/max are algebraic, so
    Catalyst's map-side partial aggregation already cuts each map task's
    output to one row per cell, and a hot source costs its reducer
    O(map tasks) rows, not O(docs) (BENCH.md "Skew, measured")."""
    del n_salts
    return rollup_tier(features, tier, n_buckets, feature_cols,
                       bucket_expr=bucket_expr)


def bucket_spine(
    facts_or_sources: DataFrame, n_buckets: int, source_col: str = "source"
) -> DataFrame:
    """Full (source x bucket) grid: distinct sources cross-joined with
    ``sequence(0, n_buckets-1)`` exploded.  Tiny — broadcast side of the
    gap-fill join."""
    sources = facts_or_sources.select(source_col).distinct()
    return sources.withColumn(
        "bucket", F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1)))
    ).withColumn("bucket", F.col("bucket").cast("int"))


def gap_fill(
    rolled: DataFrame,
    spine: DataFrame,
    fill_cols: dict[str, object] | None = None,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Left-join tier cells onto the spine; missing cells get
    ``fill_cols`` constants (default 0 for counts) and, optionally,
    last-observation-carried-forward per source for ``carry_cols``
    (``last(ignorenulls).over(source window ordered by bucket)``).
    Adds a ``filled`` flag."""
    from pyspark.sql.window import Window

    out = spine.join(rolled, ["source", "bucket"], "left")
    out = out.withColumn("filled", F.col("n_docs").isNull())
    fills = {"n_docs": 0, "sum_tok": 0}
    if fill_cols:
        fills.update(fill_cols)
    out = out.fillna(fills)
    if carry_cols:
        w = (
            Window.partitionBy("source")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        for c in carry_cols:
            out = out.withColumn(
                c, F.last(F.col(c), ignorenulls=True).over(w)
            )
    return out


def _cell_payload(cells: DataFrame, feature_cols: list[str]) -> DataFrame:
    """The algebraic payload columns shared by every tier (source +
    counts + sum/max per feature) — the common schema cells of different
    granularities are unioned on."""
    cols = ["source", "n_docs", "sum_tok"]
    for c in feature_cols:
        cols.append(f"sum_{c}")
        cols.append(f"max_{c}")
    return cells.select(*cols)


def _route_cells(
    levels: list[tuple[DataFrame, int]], lo: int, hi: int,
    feature_cols: list[str],
) -> DataFrame:
    """The ONE cell cover of the finest-bucket range ``[lo, hi)`` through
    a tier hierarchy (``levels`` finest-first, factors in finest-bucket
    units, the finest factor 1): coarsest first, each level takes the
    aligned interior of every range handed to it and hands the two
    unaligned edges one level finer; the factor-1 level takes every
    range it is handed (an empty edge included), so the cover is exact.

    Returns the union of one bucket-range-filtered :func:`_cell_payload`
    scan per level that takes a range (its ranges OR-ed into one
    filter), coarsest first.  Each level adds at most ``2 * (its factor
    / the next finer factor)`` edge cells per source, so a range reads
    ``O(range / coarsest factor + sum of factor ratios)`` cells."""
    bucket = F.col("bucket")
    spans, scans = [(lo, hi)], []
    for cells, f in reversed(levels):
        taken, finer = [], []
        for a, z in spans:
            ilo, ihi = -(-a // f), z // f  # whole cells inside [a, z)
            if ilo < ihi or f == 1:
                taken.append((bucket >= ilo) & (bucket < ihi))
                finer += [(a, ilo * f), (ihi * f, z)]
            else:
                finer.append((a, z))
        if taken:
            scans.append(_cell_payload(
                cells.where(functools.reduce(operator.or_, taken)),
                feature_cols,
            ))
        spans = finer
    return functools.reduce(DataFrame.unionByName, scans)


def route_range_multi(
    levels: list[tuple[DataFrame, int]],
    lo: int,
    hi: int,
    feature_cols: list[str],
) -> DataFrame:
    """Answer per-source totals over the finest-bucket range ``[lo, hi)``
    from the FEWEST cells of a tier hierarchy (continuous-aggregate
    query routing, the read side of the tiers): ``levels`` is e.g.
    ``[(t1k_cells, 1), (t100k_cells, 100), (t10m_cells, 10_000)]`` —
    factors in finest-bucket units, finest first with factor 1, each a
    multiple of the previous, and each level the ``reagg_tier`` of the
    one before with ``bucket_expr = floor(bucket / ratio)``.  The cover
    is :func:`_route_cells` and the answer one aggregate over it, EXACT
    because every payload column is algebraic (:func:`reagg_exprs`): a
    range spanning 10^7 fine buckets reads ~10^3 coarsest cells plus a
    few hundred edge cells instead of 10^7, partition pruning on
    ``bucket`` does the skipping when tiers are range-partitioned on
    it, and the raw table never appears in the plan."""
    if not levels or levels[0][1] != 1:
        raise ValueError("levels must be finest-first with factor 1")
    for (_, a), (_, b) in zip(levels, levels[1:]):
        if b <= a or b % a:
            raise ValueError(
                f"factors must be increasing multiples, got {a} then {b}"
            )
    if not 0 <= lo < hi:
        raise ValueError(f"need 0 <= lo < hi, got [{lo}, {hi})")
    cells = _route_cells(levels, lo, hi, feature_cols)
    return _sql_agg(cells, ["source"], reagg_exprs(feature_cols))


def route_range(
    fine_cells: DataFrame,
    coarse_cells: DataFrame,
    factor: int,
    lo: int,
    hi: int,
    feature_cols: list[str],
) -> DataFrame:
    """The two-level case of :func:`route_range_multi`: whole coarse
    cells for the aligned interior of ``[lo, hi)``, fine cells for the
    two unaligned edges (a range inside one coarse cell reads fine
    cells only).  ``coarse_cells`` must be the ``reagg_tier`` of
    ``fine_cells`` with ``bucket_expr = floor(bucket / factor)``, and
    ``factor`` must be above 1."""
    return route_range_multi(
        [(fine_cells, 1), (coarse_cells, factor)], lo, hi, feature_cols
    )


def source_watermarks(cells: DataFrame) -> DataFrame:
    """Per-source high-water mark (max materialized bucket with actual
    data) — one row per source, always broadcastable no matter how many
    cells exist.  Gap-filled spine cells (``n_docs = 0``, which the
    batch job commits for EVERY bucket) must not advance the watermark:
    a spine-saturated hwm would make the real-time tail permanently
    empty and silently drop new documents.  With a spine-committed
    tier, a bucket past the data watermark can therefore appear twice
    in :func:`realtime_tier`'s output — its committed zero row plus its
    fresh row — which stays aggregate-exact because the zero row is
    additive identity for every payload column."""
    return (
        cells.where(F.col("n_docs") > 0)
        .groupBy("source")
        .agg(F.max("bucket").alias("hwm"))
    )


def _fresh_cells(
    materialized: DataFrame,
    features: DataFrame,
    tier: Tier,
    n_buckets: int,
    feature_cols: list[str],
    bucket_expr=None,
) -> DataFrame:
    """The unmaterialized tail of :func:`realtime_tier`: ``features``
    past each source's watermark (:func:`source_watermarks` over
    ``materialized``; a source with none contributes entirely), rolled
    up into tier cells on the fly."""
    b = bucket_expr if bucket_expr is not None else bucket_col(n_buckets)
    hwm = source_watermarks(materialized)
    tail = (
        features.withColumn("bucket", b)
        .join(F.broadcast(hwm), "source", "left")
        .where(F.col("hwm").isNull() | (F.col("bucket") > F.col("hwm")))
        .drop("hwm")
    )
    return rollup_tier(
        tail, tier, n_buckets, feature_cols, bucket_expr=F.col("bucket")
    )


def realtime_tier(
    materialized: DataFrame,
    features: DataFrame,
    tier: Tier,
    n_buckets: int,
    feature_cols: list[str],
    bucket_expr=None,
) -> DataFrame:
    """Real-time continuous aggregate: the committed materialized cells
    unioned with the unmaterialized TAIL rolled up on the fly from raw
    features — a query over this view is always current without waiting
    for the next rollup run.

    The tail is everything past the per-source high-water mark
    (:func:`source_watermarks` over ``materialized``); a source with no
    materialized cells contributes entirely from raw.  Requires the
    continuous-aggregate invariant the lineage layer maintains: cells
    are committed whole, in bucket order per source (``bucket`` must be
    a position/time bucketing, not a hash — new data only lands in
    buckets past the watermark).  Scale: the watermark join broadcasts
    ONE row per source (anti-joining the full committed-cell set would
    not broadcast at 10^9 cells), and with tiers range-partitioned on
    ``bucket`` the ``bucket > hwm`` predicate prunes the raw scan to
    the tail partitions."""
    return materialized.unionByName(
        _fresh_cells(materialized, features, tier, n_buckets, feature_cols,
                     bucket_expr)
    )


def route_range_realtime(
    fine: DataFrame,
    coarse: DataFrame,
    factor: int,
    lo: int,
    hi: int,
    feature_cols: list[str],
    features: DataFrame,
    tier: Tier,
    n_buckets: int,
    bucket_expr=None,
) -> DataFrame:
    """FRESH range query: :func:`route_range` is only sound where the
    coarse tier fully covers the interior — cells past the rollup
    watermark don't have coarse counterparts yet, and routing through
    them would silently drop the uncommitted region.  This answers
    ``[lo, hi)`` exactly against live data with ONE aggregate over

    * the :func:`_route_cells` cover of ``[lo, min(hi, Wa))`` —
      ``Wa`` is the watermark-aligned boundary, ``min over sources of
      the max committed bucket + 1`` (every committed source is
      complete below it);
    * committed fine cells in ``[max(lo, Wa), hi)`` (sources ahead of
      the global minimum);
    * :func:`realtime_tier`'s fresh tail, filtered to ``[lo, hi)``.
      A tail bucket is past its own source's watermark, so it is
      ``>= Wa`` — except for a source with no committed data, whose
      tail starts at bucket 0.

    The three parts partition the range's documents exactly, so the
    algebraic merge is exact.  One tiny driver-side collect fetches the
    global watermark (an aggregate over cell metadata, never data)."""
    if not 0 <= lo < hi:
        raise ValueError(f"need 0 <= lo < hi, got [{lo}, {hi})")
    row = source_watermarks(fine).agg(F.min("hwm").alias("w")).collect()[0]
    wa = (int(row.w) + 1) if row.w is not None else 0
    bucket = F.col("bucket")
    cells = _cell_payload(
        _fresh_cells(fine, features, tier, n_buckets, feature_cols,
                     bucket_expr).where((bucket >= lo) & (bucket < hi)),
        feature_cols,
    )
    if wa < hi:
        cells = _route_cells(
            [(fine, 1)], max(lo, wa), hi, feature_cols
        ).unionByName(cells)
    if lo < min(hi, wa):
        cells = _route_cells(
            [(fine, 1), (coarse, factor)], lo, min(hi, wa), feature_cols
        ).unionByName(cells)
    return _sql_agg(cells, ["source"], reagg_exprs(feature_cols))


def route_query_cells(
    fine: DataFrame,
    coarse: DataFrame,
    factor: int,
    lo: int,
    hi: int,
    feature_cols: list[str],
) -> DataFrame:
    """The spark-submit READ surface's exact plan
    (``jobs/route_query.py``), as a library function so the job and the
    correctness gate share one implementation:

    * dedupe at-least-once data rows on the cell key ``(run, source,
      bucket)`` — ``commit_cells`` appends data before manifest, so a
      crash + ``--resume`` can re-append byte-identical cells;
    * refuse to answer if the two tiers hold different run sets (a
      half-retired hierarchy would double- or under-count);
    * aggregate cells from every live run together via
      :func:`route_range` (runs partition the corpus and the payload is
      algebraic, so cross-run merge is exact).

    Inputs must carry a string ``run`` column (the job casts the
    partition value)."""
    fine = fine.dropDuplicates(["run", "source", "bucket"])
    coarse = coarse.dropDuplicates(["run", "source", "bucket"])
    runs_f = {r.run for r in fine.select("run").distinct().collect()}
    runs_c = {r.run for r in coarse.select("run").distinct().collect()}
    if runs_f != runs_c:
        raise ValueError(
            f"tier run sets differ: t_fine={sorted(runs_f)} "
            f"t_coarse={sorted(runs_c)}"
        )
    return route_range(fine, coarse, factor, lo, hi, feature_cols)

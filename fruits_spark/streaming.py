"""Structured Streaming ingest: continuous aggregates, incrementally.

The reference is batch-only; the engine's tiers, however, are *algebraic*
aggregates (count/sum/max), so they can be maintained incrementally:
each micro-batch of newly arrived sequences is feature-extracted and
pre-aggregated into per-(source, bucket) partial cells, appended to a
partials table, and compacted into the tier by re-aggregating partials —
no raw token data is ever revisited.

``foreachBatch`` is the DEFAULT construct: the per-sequence math lives
in the same ``extract_features`` mapInArrow used by batch jobs, the
sink is an ordinary table, and exactly-once comes from the (checkpoint,
batch_id) pair — each batch id writes to its own subdirectory, making
replays idempotent.  :func:`stateful_tier_updates` is the always-current
alternative: a custom stateful operator (``applyInPandasWithState``)
keeping the running cells in Spark's state store.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .engine import rollup as RU
from .engine.executor import extract_features, feature_columns
from .engine.rollup import _sql_agg

TOKEN_SCHEMA = (
    "doc_id string, tokens array<int>, n_tok int, source string"
)


def partial_cells(
    feats: DataFrame, n_buckets: int, fcols: list[str], bucket_expr=None
) -> DataFrame:
    """Per-batch partial aggregate cells (same layout as tier cells)."""
    return RU.rollup_tier(
        feats, RU.Tier("stream", 1), n_buckets, fcols,
        bucket_expr=bucket_expr,
    )


def start_stream_rollup(
    spark: SparkSession,
    input_path: str,
    output_base: str,
    fplan,
    n_buckets: int = 64,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
    bucket_expr=None,
    schema: str = TOKEN_SCHEMA,
):
    """Start (and return) the streaming query: new parquet files under
    ``input_path`` are rolled into ``{output_base}/partials``."""
    fcols = feature_columns(fplan)
    partials_path = os.path.join(output_base, "partials")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        feats = extract_features(batch_df, fplan)
        cells = partial_cells(feats, n_buckets, fcols, bucket_expr)
        # idempotent on replay: one directory per batch id, overwritten
        cells.withColumn("_batch", F.lit(batch_id)).write.mode(
            "overwrite"
        ).parquet(os.path.join(partials_path, f"batch={batch_id}"))

    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_path)
    )
    writer = reader.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation",
        checkpoint or os.path.join(output_base, "_checkpoint"),
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_tier(
    spark: SparkSession, output_base: str, fcols: list[str]
) -> DataFrame:
    """Fold all partial cells into the current tier view (algebraic
    re-aggregation: sums of sums, max of maxes)."""
    partials = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(output_base, "partials")
    )
    return _sql_agg(partials, ["source", "bucket"], RU.reagg_exprs(fcols))


EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double"
)


def windowed_event_rollup(
    spark: SparkSession,
    input_path: str,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    schema: str = EVENT_SCHEMA,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Event-time windowed aggregation with a WATERMARK — the late-data
    story for event streams (the token-tier paths use doc-id bucketing,
    where arrival order is irrelevant; event streams aggregate on event
    TIME, so out-of-order arrival needs bounded-lateness semantics).

    ``withWatermark(ts, watermark)`` bounds state: Spark keeps window
    state only until ``max(event time seen) - watermark`` passes the
    window end, then finalizes and frees it — state is O(active
    windows), not O(events), which is what makes an unbounded stream
    feasible at all.  Events arriving LATER than the watermark are
    dropped (counted nowhere), the documented trade: a smaller
    watermark bounds memory and result latency harder but drops more
    stragglers.  Returns the streaming DataFrame of per-(window,
    event_type) algebraic cells; callers pick sink + output mode
    ('update' for always-current cells, 'append' for finalized-only)."""
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type", "n_events", "sum_value", "max_value",
        )
    )


def stateful_tier_updates(
    spark: SparkSession,
    input_path: str,
    fplan,
    n_buckets: int = 64,
    bucket_expr=None,
    schema: str = TOKEN_SCHEMA,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Custom STATEFUL streaming operator (``applyInPandasWithState``):
    per-(source, bucket) running tier cells live in Spark's state store
    and every micro-batch emits the UPDATED cells — the always-current
    alternative to the partials+compaction path of
    :func:`start_stream_rollup` (which stays the default: its sink is a
    plain table and exactly-once falls out of (checkpoint, batch_id)).

    Returns the streaming DataFrame of cell updates; callers pick the
    sink (``outputMode("update")``).  Aggregates are the same algebraic
    (count/sum/max) payload as batch tiers, so the state per key is a
    fixed-width row — state-store size is O(cells), never O(docs).
    ``n_docs`` grows monotonically per key, so the latest update for a
    key is the row with the largest n_docs (used by tests to compare
    the final state against the batch rollup)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    fcols = feature_columns(fplan)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    feats = extract_features(stream, fplan)
    b = bucket_expr if bucket_expr is not None else RU.bucket_col(n_buckets)
    cells_in = feats.withColumn("bucket", b)

    out_fields = ", ".join(
        [f"sum_{c} double, max_{c} double" for c in fcols]
    )
    out_schema = (
        f"source string, bucket int, n_docs long, sum_tok long, {out_fields}"
    )
    state_schema = f"n_docs long, sum_tok long, {out_fields}"
    n_f = len(fcols)

    def update(key, pdfs, state):
        import numpy as np

        if state.exists:
            vals = list(state.get)
        else:
            vals = [0, 0] + [0.0, float("-inf")] * n_f
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            vals[0] += len(pdf)
            vals[1] += int(pdf["n_tok"].sum())
            for i, c in enumerate(fcols):
                # numpy (NaN-propagating) aggregation + Spark's
                # NaN-greatest max ordering, NOT pandas' NaN-skipping
                # sum/max — the cells must match the batch rollup's
                # Spark SQL sum/max bit-for-bit even if a feature value
                # were non-finite (the kernels nan_to_num their outputs,
                # so this is semantics parity, not a live path)
                s = pdf[c].to_numpy(dtype=np.float64)
                vals[2 + 2 * i] += float(s.sum())
                m = float(s.max())
                p = vals[3 + 2 * i]
                if np.isnan(m) or m > p:
                    vals[3 + 2 * i] = m
        state.update(tuple(vals))
        yield pd.DataFrame([list(key) + vals], columns=(
            ["source", "bucket", "n_docs", "sum_tok"]
            + [p for c in fcols for p in (f"sum_{c}", f"max_{c}")]
        ))

    return cells_in.groupBy("source", "bucket").applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )

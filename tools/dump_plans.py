"""Regenerate PLANS.md: executed physical plans of the engine's key
stages with the scale-relevant properties called out.

Usage: python tools/dump_plans.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _trim(plan: str, max_lines: int = 40) -> str:
    lines = [ln.rstrip() for ln in plan.splitlines() if ln.strip()]
    out = []
    for ln in lines[:max_lines]:
        # strip expr ids for stable diffs
        out.append(re.sub(r"#\d+L?", "#x", ln))
    if len(lines) > max_lines:
        out.append(f"... ({len(lines) - max_lines} more lines)")
    return "\n".join(out)


def main() -> None:
    from fruits_spark.engine import rollup as RU
    from fruits_spark.engine.executor import extract_features, feature_columns
    from fruits_spark.engine.session import build_session
    import __spark_entry__ as e
    import bench as B

    spark = build_session(
        master="local[4]", shuffle_partitions=8, app="plans"
    )
    sf = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )
    toks = e.token_table(spark, sf)
    fplan = B._flagship_plan()
    fc = feature_columns(fplan)

    sections = []

    feats = extract_features(toks, fplan)
    sections.append((
        "Feature extraction (the scan)",
        "ONE mapInArrow over the source scan (Arrow list buffers in, one "
        "RecordBatch per sub-batch out, no pandas frame) — NO Exchange "
        "anywhere: per-sequence math never shuffles token data.",
        feats,
    ))

    for name in ("iss_multivariate", "iss_mv_weighted"):
        mv = e.queries()[name](spark, sf)
        plan = _trim_plan(mv)
        if "Exchange" in plan:
            raise SystemExit(f"{name}: the mv extract shuffles:\n{plan}")
        sections.append((
            f"Multivariate extract ({name})",
            "The 2-channel array<array<double>> input is built in the "
            "project over the scan and runs through the same one flat "
            "mapInArrow body as univariate input (the mv prefix-CSE "
            "trie); NO Exchange anywhere (asserted when this file is "
            "generated).",
            mv,
        ))

    rolled = RU.rollup_tier_salted(feats, RU.Tier("t1k", 1000), 1024, fc)
    sections.append((
        "Tier rollup (rollup_tier_salted)",
        "ONE partial+final HashAggregate pair on (source, bucket) around "
        "ONE Exchange: map-side partial aggregation cuts each map task "
        "to one row per cell, so there is no salt phase (a hot cell's "
        "reducer gets one row per map task).  The only shuffle in the "
        "pipeline, and it moves per-cell partials, never tokens.",
        rolled,
    ))

    from pyspark.sql import functions as F

    spine = RU.bucket_spine(toks, 8)
    filled = RU.gap_fill(
        RU.rollup_tier(feats, RU.Tier("t1k", 1000), 8, fc,
                       bucket_expr=(F.col("doc_id") % 8).cast("int")),
        spine,
    )
    sections.append((
        "Gap-fill",
        "sequence()+explode spine is the broadcast side of the outer "
        "join (cells per source are bounded, so the spine always "
        "broadcasts at any data scale).",
        filled,
    ))

    dd = e.queries()["dedup_embed"](spark, sf)
    sections.append((
        "Embedding near-dup (LSH blocking)",
        "Bucket is a projection (no self-join to attach it); candidate "
        "join keys on lsh_bucket — at scale AQE picks a shuffle join on "
        "the bucket, candidates per pair ~N/2^bits.  Filters pushed to "
        "the parquet scan (PushedFilters).",
        dd,
    ))

    ann = e.queries()["ann_topk"](spark, sf)
    sections.append((
        "ANN top-k (two-phase)",
        "The tiny query side is broadcast (BroadcastNestedLoopJoin "
        "build side = n_queries rows); vec_id<5 reaches the scan as a "
        "PushedFilter.  Ranking is two-phase partial top-k: a "
        "HashAggregate on (query_id, shard) keeps k rows per shard "
        "map-side, then a bounded merge per query — NO Window/Sort over "
        "the full candidate set (the per-query single-reducer sort this "
        "replaced).  Shards scale with the candidate count "
        "(adaptive_topk_shards: ~N/100k, so phase-1 collect_list "
        "buffers stay ~100k structs at any N) and a tree-merge level "
        "caps every merge group at 64*k survivors above 64 shards.",
        ann,
    ))

    ivf = e.queries()["ann_ivf"](spark, sf)
    sections.append((
        "ANN IVF (inverted lists)",
        "Centroid assignment is a pure projection (centroids inlined as "
        "literals — no join/shuffle to quantize); the k-means TRAIN "
        "behind those literals is 2 Lloyd iterations, each one "
        "hash-aggregate of d integer sums per centroid (map-side "
        "combine, n_centroids rows to the driver).  The probe join "
        "broadcasts the tiny exploded query side and candidates stream "
        "map-side; ranking reuses the two-phase partial top-k hash "
        "aggregates.  No cross join, no full-N sort.",
        ivf,
    ))

    reagg = e.queries()["rollup_reagg"](spark, sf)
    sections.append((
        "Coarser tier from finer (re-agg)",
        "Two partial+final HashAggregate pairs: the second consumes tier "
        "CELLS (O(cells) rows), never per-doc or token data — a t100k "
        "refresh costs O(t1k cells) at any corpus size.",
        reagg,
    ))

    from fruits_spark.pipeline import decontaminate

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    dec = decontaminate(docs, docs.where("doc_id % 101 = 7"), n=5)
    sections.append((
        "Benchmark decontamination",
        "The benchmark shingle set (eval corpora are MBs against a "
        "100 TB training corpus) builds once and broadcasts; training "
        "shingles stream map-side through one BroadcastHashJoin, and "
        "the only shuffles move (doc_id, count) partial aggregates.  "
        "Never all-pairs, never a sort.",
        dec,
    ))

    import atexit
    import shutil
    import tempfile

    cells_dir = tempfile.mkdtemp(prefix="plans_cells_")
    atexit.register(shutil.rmtree, cells_dir, ignore_errors=True)
    fine_m = RU.rollup_tier(
        feats, RU.Tier("t1k", 1000), 64, fc,
        bucket_expr=(F.col("doc_id") % 64).cast("int"),
    )
    fine_m.write.mode("overwrite").parquet(f"{cells_dir}/t1k")
    RU.reagg_tier(
        fine_m, fc, bucket_expr=F.floor(F.col("bucket") / 8).cast("int")
    ).write.mode("overwrite").parquet(f"{cells_dir}/t100k")
    routed = RU.route_range(
        spark.read.parquet(f"{cells_dir}/t1k"),
        spark.read.parquet(f"{cells_dir}/t100k"),
        8, 5, 53, fc,
    )
    sections.append((
        "Continuous-aggregate range-query routing",
        "route_range over MATERIALIZED tier tables: the raw token table "
        "never appears in the plan — the interior is a bucket-range "
        "filter over coarse cells, the two edges a bucket-range filter "
        "over fine cells (both reach the scans as PushedFilters, i.e. "
        "partition pruning when tiers are range-partitioned on bucket), "
        "merged by one partial+final HashAggregate over "
        "O(range/factor) cell rows.",
        routed,
    ))

    res = e.queries()["resolution_ops"](spark, sf)
    sections.append((
        "Resolution ops",
        "downsample/upsample/lengthen are higher-order array expressions "
        "inside the project over the scan (whole-stage codegen, no "
        "Python); only implant_stuttering is a mapInPandas kernel; the "
        "final join is per-doc on doc_id.",
        res,
    ))

    print("# PLANS — executed physical plans of the key stages")
    print()
    print("Generated by `python tools/dump_plans.py` (expression ids")
    print("normalized to `#x`). The commentary notes the property each")
    print("plan must keep at 100 TB scale.")
    for title, note, df in sections:
        print(f"\n## {title}\n\n{note}\n")
        print("```")
        print(_trim_plan(df))
        print("```")
    spark.stop()


def _trim_plan(df) -> str:
    import contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return _trim(buf.getvalue())


if __name__ == "__main__":
    main()

"""spark-submit entry point: tiered ISS rollup with resume.

Usage (cluster):
    python tools/make_pyfiles.py   # -> dist/fruits_spark.zip
    spark-submit --py-files dist/fruits_spark.zip jobs/rollup_job.py \\
        --input /data/tokens_parquet --output /data/tiers \\
        --run-id 2026-08-16 [--resume] [--retire-runs r1,r2] \\
        [--n-docs-synth 100000]

    NOTE: under spark-submit the JVM starts before Python, so
    build_session's driver-memory default cannot apply — pass
    ``--driver-memory 8g`` (16g for >=10^6 docs per executor) on the
    spark-submit command line.

Reads the token table ``(doc_id, tokens, n_tok, source)``, extracts the
flagship ISS feature set, materializes the t1k and t100k continuous-
aggregate tiers with gap-fill and Gorilla/DoD-encoded streams, and
commits per-(source,bucket) lineage rows so a killed run resumes exactly
(--resume skips already-committed cells).  Prints one metrics JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def flagship_plan():
    """The flagship ISS feature set: EXTENDED ``of_weight(4, 1)`` reals
    plus two arctic words after STD, END/PPV/MAX sieves (49 features)."""
    from fruits_spark.plan import FruitPlan, ISSSpec, Prep, Sieve, Slice
    from fruits_spark.words import W, of_weight

    return FruitPlan(
        (
            Slice(
                preps=(Prep("std"),),
                iss=ISSSpec(tuple(of_weight(4, 1)), mode="extended"),
                sieves=(
                    Sieve("end"),
                    Sieve("ppv", {"quantiles": [0.0], "constant": [True]}),
                    Sieve("max"),
                ),
            ),
            Slice(
                preps=(Prep("std"),),
                iss=ISSSpec((W("[1][1]"), W("[11][1]")), semiring="arctic"),
                sieves=(Sieve("end"), Sieve("max")),
            ),
        )
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="token table parquet path")
    ap.add_argument("--output", required=True, help="tier output base path")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--n-docs-synth", type=int, default=0,
                    help="synthesize a token table of this size if no --input")
    ap.add_argument("--buckets-t1k", type=int, default=1024)
    ap.add_argument("--master", default=None)
    ap.add_argument("--retire-runs", default="",
                    help="comma-separated run_ids whose tier partitions "
                         "are dropped after this run (retention)")
    ap.add_argument("--compact", action="store_true",
                    help="after committing, bin-pack this run's tier and "
                         "codec files and the lineage manifest "
                         "(small-file maintenance; idempotent)")
    ap.add_argument("--target-file-mb", type=int, default=128)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from fruits_spark import datagen
    from fruits_spark.engine import lineage as LI
    from fruits_spark.engine import rollup as RU
    from fruits_spark.engine.codec_udf import encode_streams
    from fruits_spark.engine.executor import extract_features, feature_columns
    from fruits_spark.engine.session import build_session
    from fruits_spark.fit import fit_plan

    spark = build_session(master=args.master, app=f"iss-rollup-{args.run_id}")
    # Fail fast on an undersized driver heap: under spark-submit the JVM
    # starts before Python, so build_session's driver-memory default is
    # silently ignored and the default 1g heap OOMs mid-aggregation on
    # ~10^6-doc inputs (a cryptic Tungsten sort-spill crash).  Surface
    # the fix at startup instead.
    heap = int(
        spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    )
    if (
        spark.sparkContext.master.startswith("local")
        and args.n_docs_synth >= 500_000
        and heap < 6 << 30
    ):
        raise SystemExit(
            f"driver heap {heap / (1 << 30):.1f}g is too small for "
            f"{args.n_docs_synth} docs in local mode — relaunch with "
            "spark-submit --driver-memory 16g (build_session's default "
            "cannot apply once the JVM is already running)"
        )
    t_start = time.time()

    from fruits_spark.engine import io as IO

    if args.input:
        toks = IO.read_table(spark, args.input)
    elif args.n_docs_synth:
        toks = datagen.generate_spark(spark, args.n_docs_synth)
    else:
        ap.error("need --input or --n-docs-synth")

    fplan = flagship_plan()
    fplan = fit_plan(toks, fplan)
    fc = feature_columns(fplan)
    n_streams = sum(s.n_streams() for s in fplan.slices)

    feats = extract_features(toks, fplan).cache()

    metrics = {}
    # t100k is RANGE-ALIGNED over t1k (coarse bucket = t1k bucket //
    # COARSE_FACTOR) and re-rolled from the t1k CELLS, never from the
    # per-doc features: the coarse refresh costs O(t1k cells) instead
    # of a second O(docs) aggregation pass, and the alignment makes the
    # tier pair routable (rollup.route_range / jobs/route_query.py
    # answer a fine-bucket range from coarse interior + fine edges).
    COARSE_FACTOR = 100
    nb1 = args.buckets_t1k
    nb100 = -(-nb1 // COARSE_FACTOR)
    tiers = (
        (RU.Tier("t1k", 1_000), nb1),
        (RU.Tier("t100k", 100_000), nb100),
    )
    rolled_t1k = None
    for tier, nb in tiers:
        t_tier = time.time()
        if tier.name == "t1k":
            rolled = RU.rollup_tier_salted(feats, tier, nb, fc).cache()
            rolled_t1k = rolled
        else:
            rolled = RU.reagg_tier(
                rolled_t1k, fc,
                bucket_expr=F.floor(
                    F.col("bucket") / COARSE_FACTOR
                ).cast("int"),
            )
        spine = RU.bucket_spine(rolled, nb)
        filled = RU.gap_fill(
            rolled, spine, fill_cols={f"sum_{c}": 0 for c in fc[:1]}
        )
        if args.resume:
            pending = LI.pending_cells(
                filled, spark, args.output, args.run_id, tier.name
            )
        else:
            pending = filled
        n = LI.commit_cells(
            pending, spark, args.output, args.run_id, tier.name,
            n_points_per_doc=n_streams,
        )
        metrics[f"{tier.name}_cells_committed"] = n
        enc = encode_streams(filled, f"sum_{fc[0]}")
        IO.write_tier(enc, args.output, f"codec_{tier.name}", args.run_id)
        metrics[f"{tier.name}_sec"] = round(time.time() - t_tier, 2)

    if args.retire_runs:
        retired = args.retire_runs.split(",")
        # retention covers ALL of a run's on-disk state: codec blobs,
        # the (much larger) tier cell data, and its manifest rows
        for tier, _ in tiers:
            IO.drop_retired_partitions(
                spark, args.output, f"codec_{tier.name}", retired
            )
        LI.retire_runs(
            spark, args.output, [t.name for t, _ in tiers], retired
        )

    if args.compact:
        from fruits_spark.engine import compact as CP

        cstats = CP.compact_run(
            spark, args.output, [t.name for t, _ in tiers], args.run_id,
            target_file_bytes=args.target_file_mb << 20,
        )
        mstats = LI.compact_manifest(spark, args.output)
        metrics["compact_files_before"] = (
            sum(s["files_before"] for s in cstats.values())
            + mstats["files_before"]
        )
        metrics["compact_files_after"] = (
            sum(s["files_after"] for s in cstats.values())
            + mstats["files_after"]
        )

    m = LI.run_metrics(spark, args.output, args.run_id).collect()
    for row in m:
        metrics[f"{row['tier']}_docs"] = int(row["docs"] or 0)
        metrics[f"{row['tier']}_tokens"] = int(row["tokens"] or 0)
        # the north metric: rolled-up ISS points/s for this tier
        sec = metrics.get(f"{row['tier']}_sec")
        if sec:
            metrics[f"{row['tier']}_points_per_sec"] = round(
                int(row["tokens"] or 0) * n_streams / sec
            )
    metrics["wall_sec"] = round(time.time() - t_start, 2)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()

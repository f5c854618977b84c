"""spark-submit READ surface: answer a range query over the tier tables
``rollup_job.py`` wrote, without touching raw data.

    spark-submit --py-files dist/fruits_spark.zip jobs/route_query.py \\
        --tiers /data/tiers --lo 5 --hi 530 [--factor 100]

Routes the fine-bucket range ``[lo, hi)`` through the tier hierarchy
(``rollup.route_range``): whole t100k cells for the aligned interior,
t1k cells only for the two unaligned edges — O(range/factor) cell reads
with the bucket filters pushed to the parquet scans (see PLANS.md
"Continuous-aggregate range-query routing").  Cells from every live run
aggregate together (runs partition the corpus, and the algebraic
sum/max payload composes across them); the job refuses to answer if the
two tiers hold different run sets (a half-retired hierarchy would
silently double- or under-count).  Prints one JSON line: per-source
totals plus the verification recompute from fine cells when
``--verify`` is passed.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tiers", required=True, help="tier base path")
    ap.add_argument("--lo", type=int, required=True)
    ap.add_argument("--hi", type=int, required=True)
    ap.add_argument("--factor", type=int, default=100,
                    help="fine buckets per coarse bucket (rollup_job's "
                         "COARSE_FACTOR)")
    ap.add_argument("--verify", action="store_true",
                    help="also recompute from fine cells only and "
                         "assert equality")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    from fruits_spark.engine import io as IO
    from fruits_spark.engine import rollup as RU

    spark = SparkSession.builder.appName("route-query").getOrCreate()
    t0 = time.time()

    # healed reads, run ids as strings (see io.read_tier)
    fine = IO.read_tier(spark, args.tiers, "t1k")
    coarse = IO.read_tier(spark, args.tiers, "t100k")
    # cell-key dedupe (at-least-once data rows) + run-set equality live
    # in rollup.route_query_cells, shared with the correctness gate;
    # keep a deduped view here for the factor sanity check + --verify
    fine_d = fine.dropDuplicates(["run", "source", "bucket"])

    runs_f = {r.run for r in fine.select("run").distinct().collect()}
    runs_c = {r.run for r in coarse.select("run").distinct().collect()}
    if runs_f != runs_c:
        print(json.dumps({"error": "tier run sets differ",
                          "t1k_runs": sorted(runs_f),
                          "t100k_runs": sorted(runs_c)}))
        spark.stop()
        sys.exit(2)

    # sanity-check --factor against the tiers themselves: coarse is the
    # reagg of fine with bucket // factor, so their max buckets must
    # agree — a wrong factor would double-count interior against edges
    # and silently drop part of the range
    max_f = fine_d.agg(F.max("bucket").alias("m")).collect()[0].m
    max_c = coarse.agg(F.max("bucket").alias("m")).collect()[0].m
    if max_f is None or max_c is None or max_f // args.factor != max_c:
        print(json.dumps({"error": "factor mismatch with tier layout",
                          "factor": args.factor,
                          "max_fine_bucket": max_f,
                          "max_coarse_bucket": max_c}))
        spark.stop()
        sys.exit(2)

    # feature columns straight from the cell schema — the read side
    # needs no knowledge of the FruitPlan that produced the tiers
    fc = sorted(c[4:] for c in fine.columns if c.startswith("sum_f"))

    routed = RU.route_query_cells(
        fine, coarse, args.factor, args.lo, args.hi, fc
    )
    rows = {
        r["source"]: {"n_docs": int(r["n_docs"]),
                      "sum_tok": int(r["sum_tok"])}
        for r in routed.collect()
    }
    out = {
        "lo": args.lo, "hi": args.hi, "factor": args.factor,
        "runs": sorted(runs_f), "n_features": len(fc),
        "sources": rows, "sec": round(time.time() - t0, 2),
    }

    if args.verify:
        direct = RU._sql_agg(
            RU._cell_payload(
                fine_d.where(
                    (F.col("bucket") >= args.lo)
                    & (F.col("bucket") < args.hi)
                ),
                fc,
            ),
            ["source"], RU.reagg_exprs(fc),
        )
        want = {
            r["source"]: {"n_docs": int(r["n_docs"]),
                          "sum_tok": int(r["sum_tok"])}
            for r in direct.collect()
        }
        out["verified"] = rows == want
        if not out["verified"]:
            print(json.dumps(out))
            spark.stop()
            sys.exit(3)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

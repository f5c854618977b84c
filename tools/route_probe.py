"""Measure the routed read path (rollup.route_range) against the direct
fine-cell aggregation at a realistic cell count — the read-amplification
evidence for BENCH.md.

    python tools/route_probe.py [--fine-buckets 65536] [--factor 256]
                                [--sources 20] [--reps 3]

Builds a synthetic (source x bucket) fine tier directly (the read path
only sees cells — feature extraction cost is irrelevant here), derives
the range-aligned coarse tier with ``reagg_tier``, materializes both as
parquet, and times a wide range query ([5%, 95%) of the fine span) both
ways, interleaved warmed min-of-N.  Prints one JSON line with the cell
counts actually fed to each plan and the wall times.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--fine-buckets", type=int, default=65536)
    ap.add_argument("--factor", type=int, default=256)
    ap.add_argument("--sources", type=int, default=20)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from fruits_spark.engine import rollup as RU
    from fruits_spark.engine.session import build_session

    spark = build_session(master="local[8]", shuffle_partitions=8,
                          app="route-probe")
    fc = ["x"]
    base = tempfile.mkdtemp(prefix="route_probe_")
    try:
        fine_df = (
            spark.range(args.sources * args.fine_buckets)
            .select(
                F.concat(F.lit("src"), (F.col("id") % args.sources))
                .alias("source"),
                (F.col("id") / args.sources).cast("int").alias("bucket"),
                (F.col("id") % 97 + 1).alias("n_docs"),
                (F.col("id") % 9973 + 50).alias("sum_tok"),
                (F.col("id") % 1009).cast("double").alias("sum_x"),
                (F.col("id") % 251).cast("double").alias("max_x"),
            )
        )
        fine_df.write.mode("overwrite").parquet(f"{base}/fine")
        fine = spark.read.parquet(f"{base}/fine")
        RU.reagg_tier(
            fine, fc,
            bucket_expr=F.floor(F.col("bucket") / args.factor).cast("int"),
        ).write.mode("overwrite").parquet(f"{base}/coarse")
        coarse = spark.read.parquet(f"{base}/coarse")

        lo = args.fine_buckets // 20
        hi = args.fine_buckets - lo

        def routed():
            return RU.route_range(fine, coarse, args.factor, lo, hi, fc)

        def direct():
            return RU._sql_agg(
                RU._cell_payload(
                    fine.where(
                        (F.col("bucket") >= lo) & (F.col("bucket") < hi)
                    ),
                    fc,
                ),
                ["source"], RU.reagg_exprs(fc),
            )

        cells_routed = RU._route_cells(
            [(fine, 1), (coarse, args.factor)], lo, hi, fc
        ).count()
        cells_direct = fine.where(
            (F.col("bucket") >= lo) & (F.col("bucket") < hi)
        ).count()

        routed().count()  # warm both plans
        direct().count()
        t_r = t_d = float("inf")
        for _ in range(args.reps):  # interleaved pairs (shared host)
            t0 = time.time(); routed().count(); t_r = min(t_r, time.time() - t0)
            t0 = time.time(); direct().count(); t_d = min(t_d, time.time() - t0)

        print(json.dumps({
            "fine_cells_total": args.sources * args.fine_buckets,
            "range": [lo, hi],
            "cells_read_routed": cells_routed,
            "cells_read_direct": cells_direct,
            "read_amplification_x": round(cells_direct / cells_routed, 1),
            "sec_routed": round(t_r, 3),
            "sec_direct": round(t_d, 3),
        }))
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()

"""Spark jobs, tasks and wall per step of one tier-store cycle.

    python tools/store_jobs_probe.py [--docs 3000] [--cycles 5]
                                     [--warmup 2] [--cores 4] [--seed 101]

Builds cached, gap-filled t1k/t100k tiers from datagen tokens, the way
the ``mv_extract_tier_store`` benchmark's store half does (its 6-feature
``perfbench.plans.store_plan``, 512 t1k buckets, t100k re-aggregated by
a factor of 100).  Then
it runs store cycles through the engine's public functions, in order:

* ``commit t1k`` / ``commit t100k`` — ``lineage.commit_cells``;
* ``write_tier`` — the t1k codec blobs, ``io.write_tier``;
* ``compact_run`` / ``compact_manifest``;
* ``retire_runs`` — the previous cycle's run (codec partitions too);
* ``routed read`` — one ``rollup.route_query_cells`` range, collected.

Each step runs in its own Spark job group, and the status tracker gives
its jobs and the tasks those jobs ran (no UI needed).  Prints one table
row per step: jobs and tasks of the last cycle, and the median wall
over the cycles after ``--warmup``; then one JSON line with the same.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_BUCKETS = 512
FACTOR = 100
TIERS = ("t1k", "t100k")
STEPS = ("commit t1k", "commit t100k", "write_tier", "compact_run",
         "compact_manifest", "retire_runs", "routed read")


def _build_tiers(spark, docs, seed, partitions):
    """The cached, gap-filled tiers, the plan's feature columns and its
    stream count."""
    from pyspark.sql import functions as F

    from fruits_spark import datagen
    from fruits_spark.engine import rollup as RU
    from fruits_spark.engine.executor import extract_features, feature_columns
    from perfbench.plans import n_streams, store_plan

    plan = store_plan()
    fc = feature_columns(plan)
    toks = datagen.generate_spark(spark, docs, seed=seed,
                                  partitions=partitions).cache()
    t1k = RU.rollup_tier_salted(extract_features(toks, plan),
                                RU.Tier("t1k", 1_000), N_BUCKETS, fc).cache()
    t100k = RU.reagg_tier(t1k, fc,
                          F.floor(F.col("bucket") / FACTOR).cast("int"))
    fill = {f"sum_{fc[0]}": 0}
    filled = {
        "t1k": RU.gap_fill(t1k, RU.bucket_spine(t1k, N_BUCKETS),
                           fill_cols=fill).cache(),
        "t100k": RU.gap_fill(t100k, RU.bucket_spine(
            t100k, -(-N_BUCKETS // FACTOR)), fill_cols=fill).cache(),
    }
    for df in filled.values():
        df.count()
    return filled, fc, n_streams(plan)


class Steps:
    """Runs each step in its own job group and records jobs, tasks and
    wall per step name."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.seq = 0
        self.rows: dict[str, list[tuple[int, int, float]]] = {}

    def run(self, name, fn) -> None:
        self.seq += 1
        group = f"store-probe-{self.seq}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            fn()
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store hears of jobs through the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self.tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stage = self.tracker.getStageInfo(sid)
                tasks += stage.numCompletedTasks if stage else 0
        self.rows.setdefault(name, []).append((len(jobs), tasks, wall))

    def summary(self, warmup: int) -> dict:
        out = {}
        for name in STEPS:
            rows = self.rows[name]
            timed = rows[warmup:] or rows
            out[name] = {"jobs": rows[-1][0], "tasks": rows[-1][1],
                         "wall_s": statistics.median(r[2] for r in timed)}
        return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--docs", type=int, default=3000)
    ap.add_argument("--cycles", type=int, default=5)
    ap.add_argument("--warmup", type=int, default=2)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--seed", type=int, default=101)
    args = ap.parse_args()

    from fruits_spark.engine import compact as CP
    from fruits_spark.engine import io as IO
    from fruits_spark.engine import lineage as LI
    from fruits_spark.engine import rollup as RU
    from fruits_spark.engine.codec_udf import encode_streams
    from fruits_spark.engine.session import build_session

    spark = build_session(master=f"local[{args.cores}]",
                          shuffle_partitions=args.cores,
                          app="store-jobs-probe",
                          extra={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="store_jobs_probe_")
    try:
        filled, fc, n_streams = _build_tiers(spark, args.docs, args.seed,
                                             2 * args.cores)

        def tier(t):
            return IO.read_tier(spark, base, t)

        steps = Steps(spark)
        tiers = list(TIERS)
        for i in range(args.warmup + args.cycles):
            run_id = f"r{i:05d}"
            for t in tiers:
                steps.run(f"commit {t}", lambda t=t: LI.commit_cells(
                    filled[t], spark, base, run_id, t, n_streams))
            steps.run("write_tier", lambda: IO.write_tier(
                encode_streams(filled["t1k"], f"sum_{fc[0]}"),
                base, "codec_t1k", run_id))
            steps.run("compact_run",
                      lambda: CP.compact_run(spark, base, tiers, run_id))
            steps.run("compact_manifest",
                      lambda: LI.compact_manifest(spark, base))
            if i:
                old = f"r{i - 1:05d}"

                def retire():
                    IO.drop_retired_partitions(spark, base, "codec_t1k",
                                               [old])
                    LI.retire_runs(spark, base, tiers, [old])
                steps.run("retire_runs", retire)
            lo = (37 * i) % (N_BUCKETS // 2)
            steps.run("routed read", lambda: RU.route_query_cells(
                tier("t1k"), tier("t100k"), FACTOR, lo, lo + N_BUCKETS // 2,
                fc).collect())
        table = steps.summary(args.warmup)
    finally:
        spark.stop()
        shutil.rmtree(base, ignore_errors=True)

    print(f"{'step':<18}{'jobs':>6}{'tasks':>7}{'wall_s':>9}")
    for name, r in table.items():
        print(f"{name:<18}{r['jobs']:>6}{r['tasks']:>7}{r['wall_s']:>9.3f}")
    total = {k: sum(r[k] for r in table.values())
             for k in ("jobs", "tasks", "wall_s")}
    print(f"{'cycle':<18}{total['jobs']:>6}{total['tasks']:>7}"
          f"{total['wall_s']:>9.3f}")
    print(json.dumps({"docs": args.docs, "cycles": args.cycles,
                      "warmup": args.warmup, "cores": args.cores,
                      "steps": table, "cycle": total}))


if __name__ == "__main__":
    main()

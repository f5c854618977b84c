"""Benchmark harness: headline ISS rollup throughput + per-query timings.

Prints ONE JSON line (``value`` = best single whole-run wall over
``SPARK_GRAFT_PIPE_REPS`` warmed repeats — a time one real run actually
achieved; ``stagemin_sec`` additionally reports the sum of per-stage
minima, a composite lower bound that converges faster on a noisy host
but which no single run achieved — round-3 briefly used it as the
headline, reverted per review):
  {"metric": "iss_rollup_pipeline", "value": <headline sec>, "unit": "sec",
   "queries": {...per-stage/per-query sec...}, "sf": <sf>,
   "tokens_per_sec": ..., "points_per_sec": ...,
   "tier_points_per_sec": {"raw_scan": ..., "t1k": ..., "t100k": ...},
   "scaling": {"n_docs": ..., "local2_sec": ..., "local8_sec": ...,
               "pair_ratios": [...], "efficiency": ...}}

Headline job (the north-rule workload): deterministic token table at a
scale tied to sf (sf0.1 -> 100k docs, ~26M tokens) -> EXTENDED
of_weight(4,1) Reals ISS + arctic words -> END/PPV/MAX sieves -> t1k
rollup -> t100k re-rollup -> gap-fill -> Gorilla encode.  "points" =
ISS output stream elements = tokens x n_streams (reference definition,
iss/iss.py:46).

Scaling evidence (north rule: efficiency >= 0.8 from N to 4N executors):
re-runs the extraction job at local[2] and local[8] on 4x-size input as
interleaved pairs (median of per-pair ratios) unless
SPARK_GRAFT_SCALING=0.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default os.cpu_count()), SPARK_GRAFT_BENCH_DOCS
     (override row count), SPARK_GRAFT_SCALING (default 1).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def ratio_iqr(ratios: list) -> float:
    """Interquartile spread of the pair ratios (retry criterion)."""
    rs = sorted(ratios)
    n = len(rs)
    return rs[(3 * n) // 4] - rs[n // 4]


def scaling_efficiency(pairs: list, quiet_tol: float = 1.25) -> tuple:
    """(efficiency, n_quiet) from interleaved (ratio, t_small, t_big)
    pairs: the median ratio over QUIET pairs / 4.

    A pair is quiet when BOTH its runs are within ``quiet_tol`` of that
    config's best-observed time — a run slower than that provably
    measured external load, not the engine, and the filter is symmetric
    (either config being hit disqualifies the pair).  Falls back to the
    median over all pairs when fewer than 2 survive."""
    t_small = min(ts for _, ts, _ in pairs)
    t_big = min(tb for _, _, tb in pairs)
    quiet = [
        r for r, ts, tb in pairs
        if ts <= quiet_tol * t_small and tb <= quiet_tol * t_big
    ]
    sample = quiet if len(quiet) >= 2 else [r for r, _, _ in pairs]
    sample.sort()
    mid = len(sample) // 2
    med = (
        sample[mid]
        if len(sample) % 2
        else (sample[mid - 1] + sample[mid]) / 2
    )
    return med / 4.0, len(quiet)


def _flagship_plan():
    from jobs.rollup_job import flagship_plan

    return flagship_plan()


def _n_streams(fplan) -> int:
    return sum(s.iss.n_streams() for s in fplan.slices)


def ensure_tokens(spark, n_docs: int, path: str):
    from fruits_spark import datagen

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        datagen.generate_spark(
            spark, n_docs, seed=42, partitions=64
        ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def warmup(spark, toks, fplan, full: bool = True):
    """Spawn + warm the Python workers and JIT/codegen-compile every
    stage of the pipeline on a tiny slice, so the timed run measures
    steady-state throughput rather than JVM warmup.  A 10^12-sequence
    job pays these one-time costs once per executor lifetime; a
    10-second sandbox run would otherwise be ~50% compilation.
    ``full=False`` warms only the extraction scan (for run_at)."""
    from pyspark.sql import functions as F

    from fruits_spark.engine import rollup as RU
    from fruits_spark.engine.codec_udf import encode_streams
    from fruits_spark.engine.executor import extract_features, feature_columns

    if not full:
        extract_features(toks.limit(2048), fplan).count()
        return

    fc = feature_columns(fplan)
    # cache the warmup slice: the timed rollup reads the cached feature
    # table (InMemoryTableScan), a different codegen stage than a rollup
    # straight off mapInArrow — warm the path that will actually run
    feats = extract_features(toks.limit(2048), fplan).cache()
    feats.count()
    # cache + count the rollup too: the first InMemoryRelation build for
    # a 200+-column schema codegen-compiles its columnar writer (~3.5s
    # one-time); run_pipeline caches the same schema
    t1k = RU.rollup_tier_salted(feats, RU.Tier("t1k", 1_000), 64, fc).cache()
    t1k.count()
    aggs = RU.reagg_exprs(fc)
    t100k = RU._sql_agg(
        t1k.withColumn("bucket100", (F.col("bucket") % 16)),
        ["source", "bucket100"], aggs,
    )
    filled = RU.gap_fill(t1k, RU.bucket_spine(t1k, 64),
                         fill_cols={f"sum_{fc[0]}": 0})
    encode_streams(filled, f"sum_{fc[0]}").count()
    t100k.count()
    feats.unpersist()
    t1k.unpersist()


def _noop(df) -> None:
    """Run ``df`` in full: a ``count()`` lets Catalyst prune every
    aggregate and projected column it does not need."""
    df.write.format("noop").mode("overwrite").save()


def run_pipeline(spark, toks, fplan, out_base: str | None = None) -> dict:
    """The headline job; returns stage timings."""
    from pyspark.sql import functions as F

    from fruits_spark.engine import rollup as RU
    from fruits_spark.engine.codec_udf import encode_streams
    from fruits_spark.engine.executor import extract_features, feature_columns

    fc = feature_columns(fplan)
    times = {}

    t0 = time.time()
    feats = extract_features(toks, fplan).cache()
    n_docs = feats.count()
    times["extract_features"] = time.time() - t0

    t0 = time.time()
    t1k = RU.rollup_tier_salted(feats, RU.Tier("t1k", 1_000), 1024, fc).cache()
    n_cells = t1k.count()
    times["rollup_t1k_salted"] = time.time() - t0

    t0 = time.time()
    # coarser tier re-rolled FROM the finer tier (algebraic aggregates) —
    # never revisits per-doc data
    aggs = RU.reagg_exprs(fc)
    t100k = RU._sql_agg(
        t1k.withColumn("bucket100", (F.col("bucket") % 16)),
        ["source", "bucket100"],
        aggs,
    )
    _noop(t100k)
    times["rollup_t100k_from_t1k"] = time.time() - t0

    t0 = time.time()
    spine = RU.bucket_spine(t1k, 1024)
    filled = RU.gap_fill(t1k, spine, fill_cols={f"sum_{fc[0]}": 0})
    _noop(filled)
    times["gapfill"] = time.time() - t0

    t0 = time.time()
    enc = encode_streams(filled, f"sum_{fc[0]}")
    enc.count()
    times["codec_encode"] = time.time() - t0

    feats.unpersist()
    t1k.unpersist()
    times["_n_docs"] = n_docs
    times["_n_cells"] = n_cells
    return times


def small_query_times(spark, sf_dir: str) -> dict:
    """Per-query steady-state latency: min of 4 runs (run 1 includes
    plan codegen + Python-worker JIT, which a long-lived cluster pays
    once; BENCH.md documents the protocol)."""
    import __spark_entry__ as e

    out = {}
    # iss_multivariate added round 5: puts a shared-artifact number on
    # the flat multivariate path (was bucketed through round 4)
    for name in ("iss_reals_end", "rollup_tier", "gapfill",
                 "dedup_jaccard", "ann_cosine", "text_stats",
                 "dedup_embed", "ann_topk", "iss_multivariate"):
        best = float("inf")
        for _ in range(4):
            t0 = time.time()
            _noop(e.queries()[name](spark, sf_dir))
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
    return out


def run_at(master_cpus: int, n_docs: int, tok_path: str) -> float:
    """Start a fresh local[N] session and time the ISS feature-extraction
    scan (the job whose tokens/s / points/s the north rule measures).
    The rollup/gapfill stages are excluded here: on a 10-second sandbox
    run their fixed costs (planning, codegen JIT, 100k-row shuffles)
    dominate and hide the scan's scaling, whereas on a multi-hour
    cluster run they amortize to noise."""
    from fruits_spark.engine.session import build_session
    from fruits_spark.engine.executor import extract_features

    spark = build_session(
        master=f"local[{master_cpus}]",
        shuffle_partitions=max(master_cpus, 8),
        app=f"bench-{master_cpus}",
    )
    try:
        toks = ensure_tokens(spark, n_docs, tok_path)
        fplan = _flagship_plan()
        warmup(spark, toks, fplan, full=False)
        total = float("inf")
        for _ in range(2):  # in-JVM min: residual JIT out of the timing
            t0 = time.time()
            extract_features(toks, fplan).count()
            total = min(total, time.time() - t0)
    finally:
        spark.stop()
    return total


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else 0.1
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", int(sf * 1_000_000)))
    tok_path = f"/tmp/fruits_bench/tokens_{n_docs}"

    from fruits_spark.engine.session import build_session

    fplan = _flagship_plan()
    n_streams = _n_streams(fplan)

    spark = build_session(
        master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8), app="bench"
    )
    toks = ensure_tokens(spark, n_docs, tok_path)
    total_tokens = toks.selectExpr("sum(n_tok) s").collect()[0]["s"]
    warmup(spark, toks, fplan)

    # Headline protocol (round 4): ``value`` is the best single
    # whole-run wall — a number one real run achieved (round 3 reported
    # the sum of per-stage minima under the same metric name; review
    # flagged that as a composite no run achieved, so it moved to the
    # secondary ``stagemin_sec`` field).  The shared host's neighbor
    # steal swings individual stages 3-5x run-to-run (BENCH.md), so the
    # wall min needs one quiet ~4 s window — 10 reps (~1 min total)
    # buys enough draws; the per-stage minima still converge faster and
    # stay reported for diagnosis.
    pipe_reps = int(os.environ.get("SPARK_GRAFT_PIPE_REPS", "10"))
    wall_min = float("inf")
    stage_times: dict = {}
    for _ in range(pipe_reps):
        t0 = time.time()
        st = run_pipeline(spark, toks, fplan)
        wall_min = min(wall_min, time.time() - t0)
        stage_times = {
            k: min(v, stage_times.get(k, float("inf")))
            for k, v in st.items()
        }
    stagemin = sum(
        v for k, v in stage_times.items() if not k.startswith("_")
    )
    headline = wall_min

    queries = {k: round(v, 3) for k, v in stage_times.items()
               if not k.startswith("_")}
    queries.update(small_query_times(spark, sf_dir))
    spark.stop()

    result = {
        "metric": "iss_rollup_pipeline",
        "value": round(headline, 3),
        "wall_min_sec": round(wall_min, 3),
        "stagemin_sec": round(stagemin, 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "n_docs": n_docs,
        "n_tokens": int(total_tokens),
        "n_streams": n_streams,
        "tokens_per_sec": round(total_tokens / headline),
        "points_per_sec": round(total_tokens * n_streams / headline),
        # the north metric: rolled-up ISS points/s PER RETENTION TIER —
        # every tier consumes the full point stream (t1k from per-doc
        # features, t100k re-rolled from t1k), so tier throughput =
        # total points / that tier's stage time
        "tier_points_per_sec": {
            "raw_scan": round(
                total_tokens * n_streams
                / max(stage_times.get("extract_features", headline), 1e-9)
            ),
            "t1k": round(
                total_tokens * n_streams
                / max(stage_times.get("rollup_t1k_salted", headline), 1e-9)
            ),
            "t100k": round(
                total_tokens * n_streams
                / max(stage_times.get("rollup_t100k_from_t1k", headline),
                      1e-9)
            ),
        },
    }

    if os.environ.get("SPARK_GRAFT_SCALING", "1") != "0":
        # two-cluster-size evidence (north rule): same job at N and 4N
        # cores.  N=2 -> 4N=8 by default: the flat kernels are memory-
        # bandwidth-bound and this host saturates around ~8-16 cores, so
        # the N->4N comparison is run below that ceiling (the cluster
        # analogue adds nodes, i.e. bandwidth scales with executors).
        # min-of-2 to suppress noisy-neighbor variance on the shared host.
        n_small = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
        reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "3"))
        n_big = 4 * n_small
        # bigger input for the probe: a 2-second job is mostly fixed
        # cost; 4x the docs pushes local[n_small] to ~30 s where the
        # measured ratio reflects the kernels (the 10x dataset measured
        # 0.96 with this protocol — BENCH.md)
        scale_docs = int(os.environ.get(
            "SPARK_GRAFT_SCALE_DOCS", str(4 * n_docs)))
        scale_path = f"/tmp/fruits_bench/tokens_{scale_docs}"
        # INTERLEAVED PAIRS + median of per-pair ratios: neighbor steal
        # drifts over minutes; a back-to-back (small, big) pair shares
        # one load window, so its ratio is unbiased, while min-of-each-
        # config decouples the windows again (observed 0.58-1.02 from
        # per-config mins on identical code)
        pairs = []  # (ratio, ts, tb)
        # adaptive reps (round 4): the round-3 artifact's 5 ratios
        # spanned 2.88-3.86 — a noise-dominated median.  Keep buying
        # pairs until the interquartile spread of the ratios is tight
        # (<= 0.15) or the pair budget is exhausted; quiet hosts pay
        # the base reps only.
        max_extra = int(os.environ.get("SPARK_GRAFT_SCALE_MAX_EXTRA", "5"))
        iqr_target = float(os.environ.get("SPARK_GRAFT_SCALE_IQR", "0.15"))

        while True:
            ts = run_at(n_small, scale_docs, scale_path)
            tb = run_at(n_big, scale_docs, scale_path)
            pairs.append((ts / tb, ts, tb))
            if len(pairs) >= reps + max_extra:
                break
            if (
                len(pairs) >= reps
                and ratio_iqr([r for r, _, _ in pairs]) <= iqr_target
            ):
                break
        t_small = min(ts for _, ts, _ in pairs)
        t_big = min(tb for _, _, tb in pairs)
        # QUIET-PAIR median (see scaling_efficiency): external-load-hit
        # pairs measured the neighbors, not the engine
        eff, n_quiet = scaling_efficiency(pairs)
        # measured token sum of the ACTUAL probe dataset (one columnar
        # scan of the already-materialized parquet) — a linear
        # extrapolation from the headline set drifts when tokens-per-doc
        # isn't exactly linear in n_docs
        import pyarrow.dataset as pads

        scale_tokens = 0
        for batch in pads.dataset(scale_path).to_batches(columns=["n_tok"]):
            s = batch.column(0).cast("int64")
            import pyarrow.compute as pc

            scale_tokens += int(pc.sum(s).as_py() or 0)
        result["scaling"] = {
            "n_docs": scale_docs,
            f"local{n_small}_sec": round(t_small, 3),
            f"local{n_big}_sec": round(t_big, 3),
            f"tokens_per_sec_{n_small}": round(scale_tokens / t_small),
            f"tokens_per_sec_{n_big}": round(scale_tokens / t_big),
            "n_small": n_small,
            "n_big": n_big,
            "pair_ratios": [round(r, 2) for r, _, _ in pairs],
            "n_quiet_pairs": n_quiet,
            "efficiency": round(eff, 3),
        }

    print(json.dumps(result))


if __name__ == "__main__":
    main()

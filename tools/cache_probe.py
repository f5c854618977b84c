"""Probe: InMemoryRelation build cost for the wide (222-col) feature /
tier tables — compressed columnar cache (default) vs uncompressed.

Interleaved pairs in ONE process; each arm runs the bench's exact
extract->cache->count and t1k->cache->count stages.
Run: python tools/cache_probe.py [n_docs]
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench as B  # noqa: E402


def stage_times(spark, toks, fplan, fc):
    from fruits_spark.engine import rollup as RU
    from fruits_spark.engine.executor import extract_features

    t0 = time.time()
    feats = extract_features(toks, fplan).cache()
    feats.count()
    t_ex = time.time() - t0
    t0 = time.time()
    t1k = RU.rollup_tier_salted(feats, RU.Tier("t1k", 1000), 1024, fc).cache()
    t1k.count()
    t_t1k = time.time() - t0
    feats.unpersist()
    t1k.unpersist()
    return t_ex, t_t1k


def main():
    from fruits_spark.engine.session import build_session
    from fruits_spark.engine.executor import feature_columns

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    spark = build_session(master="local[32]", shuffle_partitions=32,
                          app="cache-probe")
    toks = B.ensure_tokens(spark, n_docs, f"/tmp/fruits_bench/tokens_{n_docs}")
    fplan = B._flagship_plan()
    fc = feature_columns(fplan)
    B.warmup(spark, toks, fplan)

    best = {"comp_ex": 9e9, "comp_t1k": 9e9, "nocomp_ex": 9e9,
            "nocomp_t1k": 9e9}
    for _ in range(5):
        spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "true")
        ex, t1 = stage_times(spark, toks, fplan, fc)
        best["comp_ex"] = min(best["comp_ex"], ex)
        best["comp_t1k"] = min(best["comp_t1k"], t1)
        spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "false")
        ex, t1 = stage_times(spark, toks, fplan, fc)
        best["nocomp_ex"] = min(best["nocomp_ex"], ex)
        best["nocomp_t1k"] = min(best["nocomp_t1k"], t1)
    print({k: round(v, 3) for k, v in best.items()})
    spark.stop()


if __name__ == "__main__":
    main()

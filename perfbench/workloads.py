"""The two workloads.  Each one builds its inputs from the seed (set-up,
repeated), warms up, runs timed passes until the window closes, and then
checks its outputs outside the window.

Times come from ``time.perf_counter`` around calls into the engine's
public functions; nothing inside the engine is changed or patched.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time

import numpy as np

from perfbench import plans
from perfbench.stats import OpsLedger, median, percentile, tail_percentile
from perfbench.trace import SparkRest, cache_bytes, jvm_pid, tree_hwm_mb

#: end-to-end metrics; every workload reports all of them
E2E_UNITS = {"tokens_per_s": "tok/s", "setup_s": "s", "peak_rss_mb": "MB"}

#: per-layer metrics (traced run); a layer a workload never calls reads 0
LAYER_UNITS = {
    "session.start_s": "s",
    "datagen.generate_s": "s",
    "executor.extract_s": "s",
    "executor.extract_wide_s": "s",
    "executor.extract_prep_s": "s",
    "executor.worker_flatten_s": "s",
    "executor.worker_kernel_s": "s",
    "executor.worker_emit_s": "s",
    "executor.batches": "count",
    "executor.rows": "count",
    "executor.tokens": "count",
    "executor.udf_share": "ratio",
    "kernels.flat.points_per_s": "1/s",
    "kernels.bucketed.points_per_s": "1/s",
    "segments.flatten_s": "s",
    "rollup.t1k_s": "s",
    "rollup.t100k_s": "s",
    "rollup.gapfill_s": "s",
    "rollup.route_query_s": "s",
    "rollup.route_cells_read": "count",
    "rollup.route_read_amplification": "ratio",
    "rollup.route_jobs_per_query": "count",
    "codec.encode_s": "s",
    "codec.bytes_per_value": "B",
    "lineage.commit_s": "s",
    "lineage.compact_manifest_s": "s",
    "lineage.retire_s": "s",
    "compact.run_s": "s",
    "compact.files_before": "count",
    "compact.files_after": "count",
    "compact.bytes_rewritten": "B",
    "io.write_tier_s": "s",
    "io.data_files": "count",
    "store.maint_cycle_s": "s",
    "store.route_p50_s": "s",
    "store.route_p90_s": "s",
    "store.route_queries": "count",
    "store.stored_bytes_per_point": "B",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.result_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.cache_bytes": "B",
    "spark.tasks": "count",
    "trace.pass_s": "s",
    "trace.tokens_per_s": "tok/s",
    "trace.span_cover": "ratio",
    "host.nproc": "count",
    "host.cores_used": "count",
}

#: spans whose median timed duration is a per-layer metric of that name
#: with an ``_s`` suffix
_TIMED_SPANS = (
    "executor.extract", "executor.extract_wide", "executor.extract_prep",
    "rollup.t1k", "rollup.t100k", "rollup.gapfill", "rollup.route_query",
    "codec.encode", "lineage.commit", "lineage.compact_manifest",
    "lineage.retire", "compact.run", "io.write_tier",
)

# token-table partitions per core: at these sizes 4 per core spent more
# on task overhead than it gained in balance
PARTS_PER_CORE = 2

# carry-rounding between the flat path and the bucketed oracle: relative
# per feature, plus an absolute floor relative to the doc's largest
# feature (measured worst case on these plans: 6.4e-11 of it)
RTOL, ATOL, SCALE_TOL = 1e-9, 1e-10, 1e-9


class Result:
    def __init__(self, ledger: OpsLedger) -> None:
        self.ledger = ledger
        self.e2e: dict = {}
        self.layer: dict = {}
        self.info: dict = {}

    def e2e_metrics(self) -> dict:
        return {k: {"value": float(self.e2e[k]), "unit": u}
                for k, u in E2E_UNITS.items()}

    def layer_metrics(self) -> dict:
        return {k: {"value": float(self.layer.get(k, 0.0)), "unit": u}
                for k, u in LAYER_UNITS.items()}


def _noop(df) -> None:
    """Run the whole plan and drop the rows.  Unlike ``count()`` this
    keeps every column, so no aggregate or UDF is pruned away."""
    df.write.format("noop").mode("overwrite").save()


def _unpersist(dfs) -> None:
    """Drop cached tables newest first: dropping a table that a newer
    cached table was built from makes Spark rebuild the newer one."""
    for df in reversed(dfs):
        df.unpersist(blocking=True)


def _gen_tokens(spark, n_docs, seed, partitions):
    """The seeded token table, cached; returns (table, docs, tokens)."""
    from pyspark.sql import functions as F

    from fruits_spark import datagen

    toks = datagen.generate_spark(spark, n_docs, seed=seed,
                                  partitions=partitions).cache()
    row = toks.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("n_tok").alias("t")).first()
    return toks, int(row["n"]), int(row["t"])


def _sample(F, table, seed: int, every: int):
    """~1/every of the docs, picked by a seeded hash, plus the datagen
    edge rows (1- and 2-token docs), collected as (doc_id, tokens)."""
    h = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(seed)), F.lit(every))
    return (table.where((h == 0) | (F.col("n_tok") <= 2))
            .select("doc_id", "tokens").collect())


def _check_features(ledger, tag, fplan, fc, sample, got_rows, shape):
    """Engine features of the sampled docs against the bucketed oracle
    ``compute_features_block``, one operation per doc."""
    from fruits_spark.engine.executor import compute_features_block

    got = {r["doc_id"]: np.array([r[c] for c in fc]) for r in got_rows}
    # PPV counts the share of stream values above a threshold; a value
    # that is analytically equal to the threshold (STD-prepped prefix
    # sums end at 0) can land on either side by rounding, so a PPV
    # feature may differ by one point in n
    ppv = np.array(["_PPV_" in c for c in fc])
    flips = 0
    for r in sample:
        Z = np.asarray(r["tokens"], dtype=np.float64).reshape(shape(r))
        want = compute_features_block(Z, fplan)[0]
        have = got.get(r["doc_id"])
        if have is None:
            ledger.check(False, f"{tag} features {r['doc_id']}: missing")
            continue
        # carry rounding scales with the prefix sums, not with each
        # feature: a feature that cancels to near 0 keeps the absolute
        # error of the doc's largest streams
        finite = np.abs(want[np.isfinite(want)])
        scale = float(finite.max()) if finite.size else 0.0
        close = np.isclose(have, want, rtol=RTOL,
                           atol=max(ATOL, SCALE_TOL * scale), equal_nan=True)
        tie = ppv & ~close & (np.abs(have - want) <= 1.0 / Z.shape[-1]
                              + 1e-12)
        flips += int(tie.any())
        ledger.check(bool((close | tie).all()),
                     f"{tag} features {r['doc_id']}")
    return len(sample), flips


def _check_codec(ledger, enc, filled, value_col) -> float:
    """Every codec chunk decodes back to the gap-filled values and
    buckets it was built from, bit for bit; returns stored bytes per
    value."""
    from fruits_spark.kernels.codec import dod_decode, gorilla_decode

    ref: dict = {}
    for r in filled.select("source", "bucket", value_col).collect():
        ref.setdefault(r["source"], []).append((r["bucket"], r[value_col]))
    nbytes = nvals = 0
    for r in enc.collect():
        cells = sorted(c for c in ref.get(r["source"], [])
                       if c[0] // 4096 == r["chunk_id"])
        want_b = np.array([b for b, _ in cells], dtype=np.int64)
        want_v = np.array([v for _, v in cells], dtype=np.float64)
        ok = r["n"] == len(cells)
        if ok:
            try:
                got_b = np.asarray(dod_decode(r["dod_blob"], r["n"]),
                                   dtype=np.int64)
                got_v = np.asarray(
                    gorilla_decode(r["gorilla_blob"], r["n"]),
                    dtype=np.float64)
            except (ValueError, IndexError, OverflowError):
                ok = False  # a blob too damaged to decode
            else:
                ok = (np.array_equal(got_b, want_b)
                      and np.array_equal(got_v.view(np.int64),
                                         want_v.view(np.int64)))
        ledger.check(ok, f"codec {r['source']}/{r['chunk_id']}")
        nbytes += len(r["gorilla_blob"]) + len(r["dod_blob"])
        nvals += r["n"]
    return nbytes / nvals if nvals else 0.0


def _time_best(fn, reps=5) -> float:
    best = math.inf
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


class Workload:
    """Shared loop: set-up reps, warm-up, timed window, checks."""

    name = ""
    setup_reps = 3  # the first pays the session's cold start
    warm_passes = 1  # untimed passes before the window opens
    min_passes = 4  # the window never closes on fewer passes

    def __init__(self, spark, seed, seconds, tracer, work, cores):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.tracer, self.work, self.cores = tracer, work, cores
        self.traced = tracer.enabled
        self.rest = SparkRest(spark) if self.traced else None
        self.ledger = OpsLedger()
        self.res = Result(self.ledger)
        self.phase = "setup"
        self.stats = None  # ExtractStats, traced run only
        if self.traced:
            from fruits_spark.engine.executor import ExtractStats

            self.stats = ExtractStats(spark)

    # -- per workload -----------------------------------------------------
    def setup(self) -> None:
        raise NotImplementedError

    def one_pass(self, i: int) -> None:
        """One pass of the workload's job; raises on failure."""
        raise NotImplementedError

    def tokens_per_pass(self) -> int:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def kernel_probe(self) -> None:
        """Single-thread driver-side kernel passes (traced run)."""

    # -- helpers ----------------------------------------------------------
    def span(self, name):
        """A span that also tags the Spark jobs it starts (traced run), so
        stage metrics can be attributed to the layer afterwards."""
        if self.traced:
            self.spark.sparkContext.setJobGroup(f"{self.phase}:{name}", name)
        return self.tracer.span(name, phase=self.phase)

    def op(self, what, fn, *a):
        """One counted operation; an exception counts as a failure.
        Returns ``(ok, result)``."""
        try:
            out = fn(*a)
        except Exception as exc:  # noqa: BLE001 - counted, run goes on
            self.ledger.error(what, exc)
            return False, None
        self.ledger.attempted += 1
        return True, out

    # -- the loop ---------------------------------------------------------
    def run(self) -> Result:
        t_run = time.perf_counter()
        setup = []
        for _ in range(self.setup_reps):
            t0 = time.perf_counter()
            self.setup()
            setup.append(time.perf_counter() - t0)
        self.res.e2e["setup_s"] = median(setup)
        self.res.info["setup_walls_s"] = setup

        self.phase = "warmup"
        for i in range(self.warm_passes):
            self.op(f"warm-up pass {i}", self.one_pass, i)

        self.phase = "timed"
        before = self.window_open()
        walls = []
        t_end = time.perf_counter() + self.seconds
        i = self.warm_passes
        while len(walls) < self.min_passes or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            with self.tracer.span("pass", phase="timed"):
                ok, _ = self.op(f"pass {i}", self.one_pass, i)
            if ok:
                walls.append(time.perf_counter() - t0)
            elif not walls and i >= 3 * self.min_passes:
                break  # every pass fails: stop, the ledger says why
            i += 1
            if self.traced:
                self.res.layer["spark.cache_bytes"] = max(
                    self.res.layer.get("spark.cache_bytes", 0),
                    cache_bytes(self.spark))
        pid = jvm_pid(self.spark)
        self.res.e2e["peak_rss_mb"] = tree_hwm_mb(pid)
        self.res.info["jvm_hwm_mb"] = tree_hwm_mb(pid, children=False)
        self.res.e2e["tokens_per_s"] = (
            self.tokens_per_pass() / median(walls) if walls else 0.0)
        self.res.info.update(pass_walls_s=walls)
        self.window_close(before, len(walls))

        t_check = time.perf_counter()
        self.phase = "check"
        self.check()
        if self.traced:
            self.kernel_probe()
            self.layer_from_spans(walls)
        self.res.info["phase_walls_s"] = {
            "setup": sum(setup), "passes": t_check - t_run - sum(setup),
            "check": time.perf_counter() - t_check}
        return self.res

    def window_open(self):
        if not self.traced:
            return None
        self.rest.wait_idle()
        return self.rest.snapshot(), self.stats.as_dict()

    def window_close(self, before, n_passes) -> None:
        if not self.traced:
            return
        self.rest.wait_idle()
        d = SparkRest.delta(before[0], self.rest.snapshot())
        n = max(1, n_passes)
        L = self.res.layer
        L["spark.executor_run_s"] = d["executor_run_ms"] / 1e3 / n
        L["spark.executor_cpu_s"] = d["executor_cpu_ns"] / 1e9 / n
        L["spark.gc_s"] = d["gc_ms"] / 1e3 / n
        for k in ("shuffle_write_bytes", "shuffle_read_bytes",
                  "result_bytes", "spill_bytes", "tasks"):
            L[f"spark.{k}"] = d[k] / n
        # ExtractStats: the worker-side split of the timed extracts
        st = self.stats.as_dict()
        ex = {k: st[k] - before[1][k] for k in st}
        L["executor.worker_flatten_s"] = ex["flatten_us"] / 1e6 / n
        L["executor.worker_kernel_s"] = ex["kernel_us"] / 1e6 / n
        L["executor.worker_emit_s"] = ex["emit_us"] / 1e6 / n
        L["executor.batches"] = ex["batches"] / n
        L["executor.rows"] = ex["rows"] / n
        L["executor.tokens"] = ex["tokens"] / n
        run_ms = self.group_run_ms("timed:executor.extract")
        worker_us = ex["flatten_us"] + ex["kernel_us"] + ex["emit_us"]
        L["executor.udf_share"] = worker_us / 1e3 / run_ms if run_ms else 0.0

    def group_run_ms(self, group_prefix: str) -> int:
        """Executor run time of the stages of the jobs whose group starts
        with ``group_prefix``."""
        stage_ids = {sid for j in self.rest.get("jobs")
                     if (j.get("jobGroup") or "").startswith(group_prefix)
                     for sid in j.get("stageIds", [])}
        return sum(st.get("executorRunTime", 0)
                   for st in self.rest.get("stages?status=complete")
                   if st["stageId"] in stage_ids)

    def layer_from_spans(self, walls) -> None:
        L = self.res.layer
        for name in _TIMED_SPANS:
            d = self.tracer.durations(name, "timed")
            if d:
                L[f"{name}_s"] = median(d)
        gen = self.tracer.durations("datagen.generate")
        if gen:
            L["datagen.generate_s"] = median(gen)
        if walls:
            L["trace.pass_s"] = median(walls)
            L["trace.tokens_per_s"] = self.res.e2e["tokens_per_s"]
        cover = self.tracer.child_cover("pass")
        if cover:
            L["trace.span_cover"] = median(cover)


# --------------------------------------------------------------------------


class FlagshipRollup(Workload):
    """extract -> salted t1k (cached) -> t100k from t1k -> gap-fill ->
    codec, over a univariate token table."""

    name = "flagship_rollup"
    # past the steep part of the JIT tail: its JVM stages keep speeding
    # up for several passes, and how fast depends on the host's load
    warm_passes = 2
    min_passes = 3
    n_docs = 10_000
    n_buckets = 1024
    factor = 100

    def __init__(self, *a):
        super().__init__(*a)
        from fruits_spark.engine.executor import feature_columns

        self.plan = plans.flagship_plan()
        self.fc = feature_columns(self.plan)
        self.toks = None
        self.live: list = []  # the last pass's cached tables
        self.out = None  # the last pass's outputs, checked after the window

    def setup(self):
        if self.toks is not None:
            self.toks.unpersist(blocking=True)
        with self.span("datagen.generate"):
            self.toks, _, self.n_tok = _gen_tokens(
                self.spark, self.n_docs, self.seed,
                PARTS_PER_CORE * self.cores)

    def tokens_per_pass(self):
        return self.n_tok

    def one_pass(self, i):
        from pyspark.sql import functions as F

        from fruits_spark.engine import rollup as RU
        from fruits_spark.engine.codec_udf import encode_streams
        from fruits_spark.engine.executor import extract_features

        _unpersist(self.live)
        self.live = []
        fc0 = f"sum_{self.fc[0]}"
        with self.span("executor.extract"):
            feats = extract_features(self.toks, self.plan,
                                     stats=self.stats).cache()
            self.live.append(feats)
            feats.count()
        with self.span("rollup.t1k"):
            t1k = RU.rollup_tier_salted(
                feats, RU.Tier("t1k", 1_000), self.n_buckets, self.fc,
                n_salts=16).cache()
            self.live.append(t1k)
            t1k.count()
        with self.span("rollup.t100k"):
            t100k = RU.reagg_tier(
                t1k, self.fc,
                F.floor(F.col("bucket") / self.factor).cast("int"))
            _noop(t100k)
        with self.span("rollup.gapfill"):
            filled = RU.gap_fill(t1k, RU.bucket_spine(t1k, self.n_buckets),
                                 fill_cols={fc0: 0}).cache()
            self.live.append(filled)
            filled.count()
        with self.span("codec.encode"):
            enc = encode_streams(filled, fc0)
            _noop(enc)
        self.out = (feats, t1k, t100k, filled, enc)

    def check(self):
        from pyspark.sql import functions as F

        if self.out is None:
            return  # no pass succeeded; the ledger holds the failures
        feats, t1k, t100k, filled, enc = self.out
        sample = _sample(F, self.toks, self.seed, 512)
        ids = [r["doc_id"] for r in sample]
        rows = feats.where(F.col("doc_id").isin(ids)).collect()
        self.res.info["checked_docs"], self.res.info["ppv_tie_flips"] = (
            _check_features(self.ledger, "flagship", self.plan, self.fc,
                            sample, rows, lambda r: (1, 1, -1)))
        for name, df in (("t1k", t1k), ("t100k", t100k)):
            s = df.agg(F.sum("sum_tok")).first()[0]
            self.ledger.check(s == self.n_tok,
                              f"{name} sum_tok {s} != input {self.n_tok}")
        self.res.layer["codec.bytes_per_value"] = _check_codec(
            self.ledger, enc, filled, f"sum_{self.fc[0]}")

    def kernel_probe(self):
        import pandas as pd

        from fruits_spark.engine.executor import compute_features_flat
        from fruits_spark.kernels.segments import flatten_lists

        rng = np.random.default_rng(self.seed)
        col = pd.Series([rng.integers(0, 50257, int(n)).astype(np.int32)
                         for n in rng.integers(5, 513, 512)])
        values, offsets = flatten_lists(col)
        pts = len(values) * plans.n_streams(self.plan)
        L = self.res.layer
        L["segments.flatten_s"] = _time_best(lambda: flatten_lists(col))
        L["kernels.flat.points_per_s"] = pts / _time_best(
            lambda: compute_features_flat(values, offsets, self.plan))


# --------------------------------------------------------------------------


class MvPart:
    """Multivariate extract only: the wide plan over the whole 2-channel
    table, and the same plan behind a MAV prep over a slice of it."""

    prep_every = 8  # the prep slice is ~1/8 of the docs

    def __init__(self, w: Workload) -> None:
        self.w = w
        self.wide, self.prep = plans.mv_plan(), plans.mv_plan(plans.MV_PREP)
        self.tables: list = []

    def build(self, toks) -> None:
        from pyspark.sql import functions as F

        from fruits_spark.datagen import TOKEN_MOD

        _unpersist(self.tables)
        mv = toks.select(
            "doc_id", "source", "n_tok",
            F.array(
                F.transform("tokens",
                            lambda x: x.cast("double") / TOKEN_MOD),
                F.transform("tokens",
                            lambda x: F.pmod(x, F.lit(97))
                            .cast("double") / 97.0),
            ).alias("tokens"),
        )
        wide = mv.cache()
        # a hash filter, not limit(): limit collapses to one task.
        # MAV raises on docs shorter than its width
        part = mv.where(
            (F.pmod(F.xxhash64("doc_id"), F.lit(self.prep_every)) == 0)
            & (F.col("n_tok") >= plans.MV_PREP.params["width"])
        ).cache()
        self.n_tok_wide = int(wide.agg(F.sum("n_tok")).first()[0])
        self.n_tok_prep = int(part.agg(F.sum("n_tok")).first()[0])
        self.tables = [wide, part]

    def tokens(self) -> int:
        return self.n_tok_wide + self.n_tok_prep

    def one_pass(self) -> None:
        from fruits_spark.engine.executor import extract_features

        w = self.w
        wide, part = self.tables
        with w.span("executor.extract_wide"):
            _noop(extract_features(wide, self.wide, multivariate=True,
                                   stats=w.stats))
        with w.span("executor.extract_prep"):
            _noop(extract_features(part, self.prep, multivariate=True,
                                   stats=w.stats))

    def check(self) -> None:
        from pyspark.sql import functions as F

        from fruits_spark.engine.executor import (
            extract_features, feature_columns)

        w = self.w
        n = flips = 0
        for table, plan, tag, every in ((self.tables[0], self.wide, "wide", 256),
                                        (self.tables[1], self.prep, "prep", 32)):
            sample = _sample(F, table, w.seed, every)
            ids = [r["doc_id"] for r in sample]
            # extract the sampled docs only: features are per doc
            ok, rows = w.op(
                f"{tag} check extract",
                lambda t=table, p=plan: extract_features(
                    t.where(F.col("doc_id").isin(ids)), p,
                    multivariate=True).collect())
            if not ok:
                continue
            k, f = _check_features(w.ledger, tag, plan,
                                   feature_columns(plan), sample, rows,
                                   lambda r: (1, len(r["tokens"]), -1))
            n, flips = n + k, flips + f
        w.res.info["checked_docs"] = n
        w.res.info["ppv_tie_flips"] = flips

    def kernel_probe(self) -> None:
        from fruits_spark.engine.executor import (
            compute_features_block, compute_features_flat)

        rng = np.random.default_rng(self.w.seed)
        n, steps = 64, 256
        Z = rng.random((n, 2, steps))
        offsets = np.arange(0, n * steps + 1, steps, dtype=np.int64)
        cols = [np.ascontiguousarray(Z[:, d, :]).ravel() for d in range(2)]
        L = self.w.res.layer
        L["kernels.flat.points_per_s"] = (
            n * steps * plans.n_streams(self.wide)
            / _time_best(lambda: compute_features_flat(cols, offsets,
                                                       self.wide)))
        L["kernels.bucketed.points_per_s"] = (
            n * steps * plans.n_streams(self.prep)
            / _time_best(lambda: compute_features_block(Z, self.prep)))


class StorePart:
    """Write-side maintenance cycles on an on-disk tier store, each
    followed by routed range reads over the same files."""

    n_buckets = 512
    factor = 100
    keep_runs = 1  # live runs after retirement
    queries_per_cycle = 1
    tiers = ("t1k", "t100k")

    def __init__(self, w: Workload) -> None:
        from fruits_spark.engine.executor import feature_columns

        self.w = w
        self.plan = plans.store_plan()
        self.fc = feature_columns(self.plan)
        self.base = os.path.join(w.work, "store")
        self.cached: list = []
        self.maint_walls: list[float] = []
        self.query_walls: list[float] = []
        self.live_runs: list[str] = []
        self.compact_stats: list[dict] = []
        self.answers: list = []

    def build(self, toks, n_tok) -> None:
        """Features and the t1k/t100k tiers, gap-filled, cached."""
        from pyspark.sql import functions as F

        from fruits_spark.engine import rollup as RU
        from fruits_spark.engine.executor import extract_features

        _unpersist(self.cached)
        shutil.rmtree(self.base, ignore_errors=True)
        self.n_tok = n_tok
        feats = extract_features(toks, self.plan)
        t1k = RU.rollup_tier_salted(feats, RU.Tier("t1k", 1_000),
                                    self.n_buckets, self.fc,
                                    n_salts=16).cache()
        t100k = RU.reagg_tier(
            t1k, self.fc, F.floor(F.col("bucket") / self.factor).cast("int"))
        fill = {f"sum_{self.fc[0]}": 0}
        f1 = RU.gap_fill(t1k, RU.bucket_spine(t1k, self.n_buckets),
                         fill_cols=fill).cache()
        nb100 = -(-self.n_buckets // self.factor)
        f100 = RU.gap_fill(t100k, RU.bucket_spine(t100k, nb100),
                           fill_cols=fill).cache()
        f1.count()
        f100.count()
        self.cached = [t1k, f1, f100]
        self.filled = {"t1k": f1, "t100k": f100}

    def _read(self, tier):
        from pyspark.sql import functions as F

        df = self.w.spark.read.parquet(
            os.path.join(self.base, f"tier={tier}"))
        # the query job's cast: keep run ids strings
        return df.withColumn("run", F.col("run").cast("string"))

    def _query(self, lo, hi):
        from fruits_spark.engine import rollup as RU

        return RU.route_query_cells(self._read("t1k"), self._read("t100k"),
                                    self.factor, lo, hi, self.fc).collect()

    def _ranges(self, i, n):
        rng = random.Random(self.w.seed * 1_000_003 + i)
        out = []
        for _ in range(n):
            lo = rng.randrange(0, self.n_buckets - 1)
            out.append((lo, rng.randrange(lo + 1, self.n_buckets + 1)))
        return out

    def one_pass(self, i) -> None:
        from fruits_spark.engine import compact as CP
        from fruits_spark.engine import io as IO
        from fruits_spark.engine import lineage as LI
        from fruits_spark.engine.codec_udf import encode_streams

        w, spark, base = self.w, self.w.spark, self.base
        run_id = f"r{i:05d}"
        tiers = list(self.tiers)
        t0 = time.perf_counter()
        with w.span("lineage.commit"):
            for t in tiers:
                LI.commit_cells(self.filled[t], spark, base, run_id, t,
                                plans.n_streams(self.plan))
        self.live_runs.append(run_id)
        with w.span("io.write_tier"):
            IO.write_tier(encode_streams(self.filled["t1k"],
                                         f"sum_{self.fc[0]}"),
                          base, "codec_t1k", run_id)
        with w.span("compact.run"):
            st = CP.compact_run(spark, base, tiers, run_id)
        with w.span("lineage.compact_manifest"):
            ms = LI.compact_manifest(spark, base)
        self.compact_stats.append({
            "before": sum(s["files_before"] for s in st.values())
            + ms["files_before"],
            "after": sum(s["files_after"] for s in st.values())
            + ms["files_after"],
            "rewritten": sum(s["bytes"] for s in st.values()
                             if not s["skipped"]),
        })
        if len(self.live_runs) > self.keep_runs:
            old = self.live_runs.pop(0)
            with w.span("lineage.retire"):
                IO.drop_retired_partitions(spark, base, "codec_t1k", [old])
                LI.retire_runs(spark, base, tiers, [old])
        timed = w.phase == "timed"
        if timed:
            self.maint_walls.append(time.perf_counter() - t0)
        self.answers = []  # checked against the store after the window
        for lo, hi in self._ranges(i, self.queries_per_cycle):
            q0 = time.perf_counter()
            with w.span("rollup.route_query"):
                ok, rows = w.op(f"route [{lo},{hi})", self._query, lo, hi)
            if ok:
                if timed:
                    self.query_walls.append(time.perf_counter() - q0)
                self.answers.append((lo, hi, rows))

    def report(self) -> None:
        """The store-only metrics: summary line and traced block."""
        m, q = self.maint_walls, self.query_walls
        res = self.w.res
        res.info.update(
            maint_cycle_s=median(m) if m else None,
            route_p50_s=median(q) if q else None,
            route_p90_s=percentile(q, 90) if q else None,
            route_queries=len(q),
            route_tail_percentile=tail_percentile(q))
        L = res.layer
        if m:
            L["store.maint_cycle_s"] = median(m)
        if q:
            L["store.route_p50_s"] = median(q)
            L["store.route_p90_s"] = percentile(q, 90)
            L["store.route_queries"] = len(q)
        if self.compact_stats:
            for k, metric in (("before", "compact.files_before"),
                              ("after", "compact.files_after"),
                              ("rewritten", "compact.bytes_rewritten")):
                L[metric] = median(c[k] for c in self.compact_stats)

    def check(self) -> None:
        from pyspark.sql import functions as F

        from fruits_spark.engine import compact as CP
        from fruits_spark.engine import lineage as LI
        from fruits_spark.engine import rollup as RU

        w, spark = self.w, self.w.spark
        committed = {t: self.filled[t].agg(F.sum("sum_tok")).first()[0]
                     for t in self.tiers}
        w.ledger.check(
            committed["t1k"] == committed["t100k"] == self.n_tok,
            f"committed tokens {committed} != input {self.n_tok}")
        for run_id in self.live_runs:
            got = {r["tier"]: r["tokens"] for r in
                   LI.run_metrics(spark, self.base, run_id).collect()}
            for t in self.tiers:
                w.ledger.check(
                    got.get(t) == committed[t],
                    f"run_metrics {run_id}/{t}: {got.get(t)} tokens, "
                    f"committed {committed[t]}")

        # the last cycle's routed answers against the direct fine-cell
        # aggregation over the same files (jobs/route_query.py --verify)
        reads = {"routed": [], "direct": [], "jobs": []}
        for lo, hi, routed in self.answers:
            snap = self._snapshot()
            if snap is not None:  # traced: count what one routed read reads
                self._query(lo, hi)
            mid = self._snapshot()
            fine = self._read("t1k").dropDuplicates(
                ["run", "source", "bucket"])
            direct = RU._sql_agg(
                RU._cell_payload(
                    fine.where((F.col("bucket") >= lo)
                               & (F.col("bucket") < hi)), self.fc),
                ["source"], RU.reagg_exprs(self.fc)).collect()
            end = self._snapshot()
            if snap is not None:
                reads["routed"].append(mid["input_records"]
                                       - snap["input_records"])
                reads["direct"].append(end["input_records"]
                                       - mid["input_records"])
                reads["jobs"].append(mid["jobs"] - snap["jobs"])

            def key(rows):
                return {r["source"]: (int(r["n_docs"]), int(r["sum_tok"]))
                        for r in rows}
            w.ledger.check(key(routed) == key(direct),
                           f"route [{lo},{hi}) differs from direct")

        L = w.res.layer
        if reads["routed"]:
            L["rollup.route_cells_read"] = median(reads["routed"])
            L["rollup.route_read_amplification"] = (
                median(reads["direct"]) / median(reads["routed"]))
            L["rollup.route_jobs_per_query"] = median(reads["jobs"])

        # on-disk bytes of the live store per committed point
        pts = (spark.read.parquet(LI.manifest_path(self.base))
               .agg(F.sum("n_points")).first()[0] or 0)
        nbytes = sum(CP.dir_data_bytes(os.path.join(self.base, d))
                     for d in os.listdir(self.base)
                     if d.startswith(("tier=", "codec_")) or d == "_lineage")
        L["store.stored_bytes_per_point"] = nbytes / pts if pts else 0.0
        L["io.data_files"] = CP.count_data_files(self.base)
        w.res.info["stored_bytes_per_point"] = L[
            "store.stored_bytes_per_point"]

        # the codec blobs as written to disk decode back to the cells
        run_dir = os.path.join(self.base, "codec_t1k",
                               f"run={self.live_runs[-1]}")
        L["codec.bytes_per_value"] = _check_codec(
            w.ledger, spark.read.parquet(run_dir), self.filled["t1k"],
            f"sum_{self.fc[0]}")

    def _snapshot(self):
        if not self.w.traced:
            return None
        self.w.rest.wait_idle()
        return self.w.rest.snapshot()


class MvExtractTierStore(Workload):
    """Everything the flagship job never runs: the multivariate extract
    with the prep fallback, then a tier-store maintenance cycle with
    routed reads.  Both halves share one token table."""

    name = "mv_extract_tier_store"
    n_docs = 3_000
    min_passes = 3  # a pass is ~8 s here

    def __init__(self, *a):
        super().__init__(*a)
        self.mv, self.store = MvPart(self), StorePart(self)
        self.toks = None

    def setup(self):
        _unpersist(self.store.cached + self.mv.tables
                   + ([self.toks] if self.toks is not None else []))
        self.store.cached, self.mv.tables = [], []
        with self.span("datagen.generate"):
            self.toks, _, n_tok = _gen_tokens(
                self.spark, self.n_docs, self.seed,
                PARTS_PER_CORE * self.cores)
        self.mv.build(self.toks)
        self.store.build(self.toks, n_tok)

    def tokens_per_pass(self):
        """Input tokens the pass handles: the two extracts' plus the
        tokens the committed cells stand for."""
        return self.mv.tokens() + self.store.n_tok

    def one_pass(self, i):
        self.mv.one_pass()
        self.store.one_pass(i)

    def run(self):
        res = super().run()
        self.store.report()
        return res

    def check(self):
        self.mv.check()
        self.store.check()

    def kernel_probe(self):
        self.mv.kernel_probe()


_WORKLOADS = {w.name: w for w in (FlagshipRollup, MvExtractTierStore)}


def run(name, spark, *, seed, seconds, tracer, work, cores) -> Result:
    return _WORKLOADS[name](spark, seed, seconds, tracer, work, cores).run()

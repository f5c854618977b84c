"""fruits_spark benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload flagship_rollup --seed 1 \\
        --seconds 15 --trace 0

Run from the root of a checkout.  Workloads (see perfbench/README.md):
``flagship_rollup`` and ``mv_extract_tier_store``.  With ``--trace 0``
the last stdout line carries the end-to-end metrics; ``--trace 1`` turns
on spans and Spark's REST API and carries the per-layer metrics.  The
line before it is a readable summary with the workload-only metrics.

Everything the run writes lives under ``.perfbench/`` in the checkout:
Spark scratch and the tier store under ``.perfbench/work`` (removed at
the end) and span dumps under ``.perfbench/traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("flagship_rollup", "mv_extract_tier_store")
CORES = 4  # local[N] with N = min(CORES, nproc)
HEAP = "2g"  # driver heap, sized for the benchmark's inputs


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _start_session(cores: int, work: str, traced: bool):
    """A local[N] session whose scratch files all land in ``work``."""
    from fruits_spark.engine.session import build_session

    from perfbench.trace import UI_CONF

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the gateway launcher, the JVM and the Python workers all honour
    # these; SPARK_LOCAL_DIRS overrides spark.local.dir
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    # no /tmp/hsperfdata files, from the spark-submit launcher JVM either
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    java = (f"-Dio.netty.tryReflectionSetAccessible=true "
            f"-Djava.io.tmpdir={tmp} "
            # the whole heap resident from the start: the JVM's share of
            # peak_rss_mb then does not depend on how far G1 grew it
            f"-Xms{HEAP} -XX:+AlwaysPreTouch")
    extra = {
        "spark.driver.extraJavaOptions": java,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.TMPDIR": tmp,
    }
    if traced:
        extra.update(UI_CONF)
    spark = build_session(master=f"local[{cores}]",
                          shuffle_partitions=2 * cores,
                          app="perfbench", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    from perfbench.trace import child_pids

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = []
    if proc is not None:
        todo = list(child_pids(proc.pid))
        while todo:
            pid = todo.pop()
            workers.append(pid)
            todo.extend(child_pids(pid))
    spark.stop()
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure: force it down
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "fruits_spark", "__init__.py")):
        print(f"perfbench: no fruits_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.dont_write_bytecode = True

    from perfbench import workloads
    from perfbench.trace import Tracer

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    nproc = os.cpu_count() or 1
    cores = min(CORES, nproc)
    tracer = Tracer(enabled=bool(args.trace))
    try:
        t0 = time.perf_counter()
        spark = _start_session(cores, work, bool(args.trace))
        session_s = time.perf_counter() - t0
        try:
            res = workloads.run(args.workload, spark, seed=args.seed,
                                seconds=args.seconds, tracer=tracer,
                                work=work, cores=cores)
        finally:
            _stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res.layer["session.start_s"] = session_s
    res.layer["host.nproc"] = nproc
    res.layer["host.cores_used"] = cores
    if args.trace:
        tdir = os.path.join(state, "traces")
        os.makedirs(tdir, exist_ok=True)
        tracer.write(os.path.join(
            tdir, f"{args.workload}-seed{args.seed}.json"))

    res.info["phase_walls_s"]["session"] = session_s
    summary = {"workload": args.workload, "seed": args.seed,
               "nproc": nproc, "cores_used": cores,
               "ops_failed_frac": res.ledger.failed_frac,
               "failures": res.ledger.failures[:10], **res.info}
    print("perfbench summary " + json.dumps(summary, sort_keys=True),
          flush=True)
    metrics = res.layer_metrics() if args.trace else res.e2e_metrics()
    print(json.dumps({
        "correct": res.ledger.failed == 0,
        "attempted": res.ledger.attempted,
        "failed": res.ledger.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

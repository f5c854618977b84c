"""Per-Python-task fixed cost: executor run time per task of a trivial
8-task ``mapInArrow`` against the same stage with no Python.

Usage: python tools/task_cost_probe.py [passes] [--uds]

Runs ``passes`` (default 6) noop writes of each job over
``spark.range(0, 8000, 1, 8)`` cached, on ``local[4]``, drops the first
pass of each, and prints the median and range of the tasks'
``executorRunTime`` (ms) from the Spark UI REST API on localhost.
``--uds`` turns on Unix-domain-socket Python workers
(``spark.python.unix.domain.socket.enabled``) with a short socket dir:
the default dir is ``java.io.tmpdir``, and a deep one overflows the
108-byte AF_UNIX path limit.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _task_ms(spark, group: str) -> list[float]:
    sc = spark.sparkContext
    st = sc.statusTracker()
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
    out = []
    for jid in st.getJobIdsForGroup(group):
        for sid in st.getJobInfo(jid).stageIds:
            url = f"{base}/{sid}/0/taskList?length=1000"
            with urllib.request.urlopen(url, timeout=10) as r:
                out += [t["taskMetrics"]["executorRunTime"]
                        for t in json.load(r)]
    return out


def main() -> None:
    from fruits_spark.engine.session import build_session

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    passes = int(args[0]) if args else 6
    extra = {"spark.ui.enabled": "true", "spark.ui.port": "4051"}
    if "--uds" in sys.argv:
        extra["spark.python.unix.domain.socket.enabled"] = "true"
        extra["spark.python.unix.domain.socket.dir"] = tempfile.mkdtemp(
            prefix="uds", dir="/tmp")
    spark = build_session(master="local[4]", shuffle_partitions=4,
                          app="task_cost", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.range(0, 8000, 1, 8).cache()
    df.count()
    jobs = {
        "mapInArrow": lambda: df.mapInArrow(lambda it: it, df.schema),
        "jvm_only": lambda: df.selectExpr("id + 1 AS id"),
    }
    for name, make in jobs.items():
        ms = []
        for i in range(passes):
            group = f"{name}_{i}"
            spark.sparkContext.setJobGroup(group, group)
            make().write.format("noop").mode("overwrite").save()
            if i:
                ms += _task_ms(spark, group)
        print(json.dumps({"job": name, "tasks": len(ms),
                          "median_ms": statistics.median(ms),
                          "min_ms": min(ms), "max_ms": max(ms)}))
    spark.stop()


if __name__ == "__main__":
    main()

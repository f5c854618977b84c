"""Run the benchmark over several seeds and report each end-to-end
metric's spread, or compare two such sets.

    python3 perfbench/spread.py run --seeds 1-10 --out set1.json \\
        [--workloads flagship_rollup,mv_extract] [--trace]
    python3 perfbench/spread.py compare set1.json set2.json

``run`` invokes the command from BENCHMARK.json once per (workload,
seed), one at a time, and prints per workload and metric the median,
the quartiles (``statistics.quantiles(n=4)``) and the quartile distance
as a share of the median next to the metric's bound.  ``--trace`` adds
one traced run per workload and reports the tracing overhead on
``tokens_per_s``.  ``compare`` applies the two-set agreement check:
the second median may be worse than the first by at most the bound.
Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import agreement, iqr_share, quartiles  # noqa: E402


def _bench() -> dict:
    with open("BENCHMARK.json") as f:
        return json.load(f)


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def _one(bench, workload, seed, trace) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(int(trace))]
    t0 = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"seed": seed, "wall_s": wall, "error": p.stderr[-2000:]}
    out = json.loads(lines[-1])
    out.update(seed=seed, wall_s=wall)
    if len(lines) > 1 and lines[-2].startswith("perfbench summary "):
        out["summary"] = json.loads(lines[-2].split(" ", 2)[2])
    return out


def cmd_run(args) -> None:
    bench = _bench()
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    res = {"runs": {}, "traced": {}}
    for w in names:
        for seed in _seeds(args.seeds):
            r = _one(bench, w, seed, False)
            res["runs"].setdefault(w, []).append(r)
            print(w, seed, round(r["wall_s"], 1),
                  {k: round(v["value"], 4)
                   for k, v in r.get("metrics", {}).items()},
                  r.get("error", "")[-300:], flush=True)
        if args.trace:
            res["traced"][w] = _one(bench, w, _seeds(args.seeds)[0], True)
    with open(args.out, "w") as f:
        json.dump(res, f)
    report(bench, res)


def report(bench, res) -> None:
    for w, runs in res["runs"].items():
        ok = [r for r in runs if "metrics" in r]
        walls = [r["wall_s"] for r in runs]
        print(f"\n{w}: {len(ok)}/{len(runs)} runs ok, "
              f"all correct: {all(r['correct'] for r in ok)}, "
              f"wall median {quartiles(walls)[1]:.1f} s max {max(walls):.1f} s")
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in ok]
            if not vals:
                continue
            q1, q2, q3 = quartiles(vals)
            share = iqr_share(vals)
            flag = "ok" if share < m["bound"] / 3 else (
                "WITHIN BOUND" if share <= m["bound"] else "TOO NOISY")
            print(f"  {m['name']:>16}: median {q2:.6g} {m['unit']}, "
                  f"q1 {q1:.6g} q3 {q3:.6g}, spread {share:.3f} "
                  f"(bound {m['bound']}) {flag}")
        tr = res["traced"].get(w)
        if tr and "metrics" in tr and ok:
            untraced = quartiles(
                [r["metrics"]["tokens_per_s"]["value"] for r in ok])[1]
            traced = tr["metrics"]["trace.tokens_per_s"]["value"]
            print(f"  tracing overhead on tokens_per_s: "
                  f"{untraced / traced - 1:+.3f} "
                  f"(traced wall {tr['wall_s']:.1f} s)")


def cmd_compare(args) -> None:
    bench = _bench()
    with open(args.first) as f:
        a = json.load(f)
    with open(args.second) as f:
        b = json.load(f)
    bad = 0
    for w in a["runs"]:
        for m in bench["end_to_end"]:
            v1 = [r["metrics"][m["name"]]["value"] for r in a["runs"][w]
                  if "metrics" in r]
            v2 = [r["metrics"][m["name"]]["value"]
                  for r in b["runs"].get(w, []) if "metrics" in r]
            if not v1 or not v2:
                continue
            ag = agreement(v1, v2, m["bound"], m["better"])
            bad += not ag["ok"]
            print(f"{w:>16} {m['name']:>16}: {ag['median_1']:.6g} -> "
                  f"{ag['median_2']:.6g}, worse by {ag['worse_share']:+.3f} "
                  f"(bound {m['bound']}) {'ok' if ag['ok'] else 'FAIL'}")
    sys.exit(1 if bad else 0)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", default="")
    r.add_argument("--out", required=True)
    r.add_argument("--trace", action="store_true")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    args = ap.parse_args()
    {"run": cmd_run, "compare": cmd_compare}[args.cmd](args)


if __name__ == "__main__":
    main()

"""Single-core probe: the flat multivariate path vs the bucketed 3-D
oracle run per length group, on one of two 2-channel plans:

* ``fruit_reduced`` (default): the reference fruit_reduced-equivalent
  plan (of_weight(4,2) EXTENDED + indices weighting, 24-letter arctic
  words, 2x CosWISS with 5 freqs, 7 sieves, NEW+INC+STD preps; 4431
  features — reference ``experiments/fruit_reduced.py:1-74``);
* ``mv_prep``: the benchmark's ``mv_plan(MV_PREP)`` (MAV(4) in front,
  99 features) — MAV has no flat kernel, so the flat path runs it
  through the generic per-length-group prep adapter;
* ``fruit_general``: the ``fruit_reduced`` plan with the reference
  fruit_general's ``of_weight(6, 2)`` (956 words) in its weighted
  slice — flat path only (the bucketed oracle would take minutes).

Usage: python tools/mv_flat_probe.py [n_docs] [mean_len] [reps] [plan]

Prints per-path wall (min over reps), points/s, the max abs/rel
deviation between the two paths' features, and the process's peak RSS.
Run warm, min-of-N — shared hosts swing 3-5x.
"""

from __future__ import annotations

import os
import resource
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fruits_spark.engine.executor import (  # noqa: E402
    compute_features_block,
    compute_features_flat,
)
from fruits_spark.plan import (  # noqa: E402
    CosWISSSpec, FruitPlan, ISSSpec, Prep, Sieve, Slice,
)
from fruits_spark.words import W, alternate_sign, of_weight  # noqa: E402

# raw q_values instead of the experiment's fitted (0.5, 1.0) band:
# op-count-identical sieve work without needing a fit sample here
SIEVES_7 = (
    Sieve("npi", {"q_values": (0.5, np.inf), "inc": 0}),
    Sieve("npi", {"q_values": (0.5, np.inf), "inc": 1}),
    Sieve("npi", {"q_values": (0.5, np.inf), "inc": 2}),
    Sieve("mpi", {"q_values": (0.5, np.inf), "inc": 0}),
    Sieve("mpi", {"q_values": (0.5, np.inf), "inc": 1}),
    Sieve("mpi", {"q_values": (0.5, np.inf), "inc": 2}),
    Sieve("end"),
)


def arctic_words(n: int):
    return alternate_sign(
        [W("[1]" * n), W("[2]" * n),
         W("[1][2]" * (n // 2)), W("[2][1]" * (n // 2))]
    )


def fruit_reduced_plan(weight: int = 4) -> FruitPlan:
    cos_words = tuple(w for k in range(1, 4) for w in of_weight(k, 2))
    slices = [
        Slice(
            preps=(Prep("new", {"prep": Prep("inc")}), Prep("std")),
            iss=ISSSpec(of_weight(weight, 2), mode="extended",
                        weighting="indices"),
            sieves=SIEVES_7,
        ),
        Slice(
            preps=(Prep("new", {"prep": Prep("inc")}),),
            iss=ISSSpec(tuple(arctic_words(24)), mode="extended",
                        semiring="arctic"),
            sieves=SIEVES_7,
        ),
    ]
    for e in (1, 2):
        slices.append(
            Slice(
                preps=(Prep("new", {"prep": Prep("inc")}), Prep("std")),
                iss=CosWISSSpec(
                    cos_words, tuple(i / 20 for i in range(1, 11, 2)),
                    exponent=e, total=True,
                ),
                sieves=SIEVES_7,
            )
        )
    return FruitPlan(tuple(slices))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 800
    mean_len = int(sys.argv[2]) if len(sys.argv) > 2 else 260
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    which = sys.argv[4] if len(sys.argv) > 4 else "fruit_reduced"
    d = 2
    if which == "mv_prep":
        from perfbench.plans import MV_PREP, mv_plan

        fplan = mv_plan(MV_PREP)
    elif which == "fruit_general":
        fplan = fruit_reduced_plan(weight=6)
    else:
        fplan = fruit_reduced_plan()
        assert fplan.n_features() == 4431

    rng = np.random.default_rng(99)
    lengths = rng.integers(mean_len // 2, mean_len * 3 // 2 + 1, size=n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    cols = [rng.normal(size=int(offsets[-1])) for _ in range(d)]
    # BENCH.md convention for wide plans: points = tokens x streams
    # (positions computed across all ISS streams)
    n_streams = sum(s.n_streams() for s in fplan.slices)
    points = int(offsets[-1]) * n_streams
    print(f"n={n} mean_len={mean_len} total_tokens={offsets[-1]} "
          f"streams={n_streams} features={fplan.n_features()}")

    def time_path(fn, label):
        best = np.inf
        for _ in range(reps):
            t0 = time.perf_counter()
            out = fn()
            best = min(best, time.perf_counter() - t0)
        print(f"{label}: {best:.3f} s = {points / best / 1e6:.1f} M points/s")
        return out, best

    flat_out, t_flat = time_path(
        lambda: compute_features_flat(list(cols), offsets, fplan), "flat-mv")
    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    print(f"peak RSS after the flat path: {rss:.0f} MB")
    if which == "fruit_general":
        return

    def bucketed():
        out = np.zeros((n, fplan.n_features()))
        order = np.argsort(lengths, kind="stable")
        i = 0
        while i < len(order):
            j = i
            ln = lengths[order[i]]
            while j < len(order) and lengths[order[j]] == ln:
                j += 1
            rows = order[i:j]
            if ln > 0:
                Z = np.stack(
                    [np.stack([c[offsets[r]:offsets[r + 1]] for c in cols])
                     for r in rows]
                )
                out[rows] = compute_features_block(Z, fplan)
            i = j
        return out

    buck_out, t_buck = time_path(bucketed, "bucketed")
    ad = np.abs(flat_out - buck_out)
    rel = ad / np.maximum(np.abs(buck_out), 1e-12)
    print(f"speedup: {t_buck / t_flat:.2f}x | max abs dev {ad.max():.2e} "
          f"| max rel dev (|x|>1e-6) "
          f"{rel[np.abs(buck_out) > 1e-6].max():.2e}")


if __name__ == "__main__":
    main()

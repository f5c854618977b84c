"""The FruitPlans the benchmark runs, defined here so the benchmark does
not depend on another copy that may move or go away."""

from __future__ import annotations

from fruits_spark.plan import FruitPlan, ISSSpec, Prep, Sieve, Slice
from fruits_spark.words import W, of_weight


def flagship_plan() -> FruitPlan:
    """The north-rule job: EXTENDED ``of_weight(4, 1)`` reals plus two
    arctic words, END/PPV/MAX sieves (49 features from 15 + 2 streams)."""
    return FruitPlan(
        (
            Slice(
                preps=(Prep("std"),),
                iss=ISSSpec(tuple(of_weight(4, 1)), mode="extended"),
                sieves=(
                    Sieve("end"),
                    Sieve("ppv", {"quantiles": [0.0], "constant": [True]}),
                    Sieve("max"),
                ),
            ),
            Slice(
                preps=(Prep("std"),),
                iss=ISSSpec((W("[1][1]"), W("[11][1]")), semiring="arctic"),
                sieves=(Sieve("end"), Sieve("max")),
            ),
        )
    )


#: the prep in front of the multivariate plan; MAV needs at least
#: ``width`` steps per doc
MV_PREP = Prep("mav", {"width": 4})

# arctic words that mix the two channels
_CROSS_WORDS = ("[1][2]", "[2][1]", "[12][1]", "[1][12]", "[2][12]",
                "[12][2]", "[1][2][1]", "[2][1][2]", "[12][12]",
                "[11][2]", "[22][1]")


def mv_plan(prep: Prep | None = None) -> FruitPlan:
    """2-channel plan: weighted EXTENDED ``of_weight(3, 2)`` with
    indices weighting (33 streams) plus 11 arctic cross-channel words,
    99 features.  ``prep`` goes in front of both slices."""
    front = (prep,) if prep is not None else ()
    return FruitPlan(
        (
            Slice(
                preps=front + (Prep("std"),),
                iss=ISSSpec(tuple(of_weight(3, 2)), mode="extended",
                            weighting="indices"),
                sieves=(Sieve("end"), Sieve("max")),
            ),
            Slice(
                preps=front + (Prep("std"),),
                iss=ISSSpec(tuple(W(w) for w in _CROSS_WORDS),
                            semiring="arctic"),
                sieves=(Sieve("end"), Sieve("max"), Sieve("min")),
            ),
        )
    )


def store_plan() -> FruitPlan:
    """A narrow plan for the tier-store workload (3 streams, 6
    features): store operations cost per Spark job and per column, and
    a narrow cell keeps a maintenance cycle inside the run budget."""
    return FruitPlan(
        (
            Slice(
                preps=(Prep("std"),),
                iss=ISSSpec((W("[1]"), W("[11]"), W("[1][1]"))),
                sieves=(Sieve("end"), Sieve("max")),
            ),
        )
    )


def n_streams(fplan: FruitPlan) -> int:
    return sum(s.iss.n_streams() for s in fplan.slices)

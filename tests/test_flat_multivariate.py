"""Flat multivariate ISS path vs the bucketed 3-D kernels (round 5).

Every plan here runs twice on the same random variable-length batch:
once through :func:`compute_features_flat` on per-dim flat columns, once
per row through :func:`compute_features_block` (the reference-parity
bucketed path).  Monomials/linear combos are written in the bucketed op
order, so the only permitted difference is the summation-order rounding
of ``Seg.sum`` (a doc's float sum is its last prefix sum, in time order;
the bucketed path sums pairwise) — rtol 1e-9, like the univariate flat
tests.

Reference shapes: the reals spec mirrors `fruit_reduced.py` iss_r
(`/root/reference/experiments/fruit_reduced.py:3-8`), the arctic spec
its iss_a (lines 10-18), CosWISS its cos slices (lines 20-24, 52-67).
"""

from __future__ import annotations

import numpy as np
import pytest

from fruits_spark.engine.executor import (
    compute_features_block,
    compute_features_flat,
)
from fruits_spark.plan import CosWISSSpec, FruitPlan, ISSSpec, Prep, Sieve, Slice
from fruits_spark.words import W, alternate_sign, of_weight

def _mv_batch(n=14, d=2, lmin=1, lmax=57, with_empty=True, seed=20250817):
    # per-call seeded RNG: test data must not depend on execution order
    # (a shared module RNG made failures appear/disappear with -k)
    RNG = np.random.default_rng(seed)
    lengths = RNG.integers(lmin, lmax + 1, size=n)
    if with_empty:
        lengths[3] = 0
        lengths[7] = 1
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    cols = [RNG.normal(size=int(offsets[-1])) * 2.0 for _ in range(d)]
    return cols, offsets, lengths


def _oracle(cols, offsets, lengths, fplan):
    n = len(lengths)
    out = np.zeros((n, fplan.n_features()), dtype=np.float64)
    for i in range(n):
        s, e = offsets[i], offsets[i + 1]
        if e == s:
            continue
        Z = np.stack([c[s:e] for c in cols])[np.newaxis]
        out[i] = compute_features_block(Z, fplan)[0]
    return out


def _check(fplan, d=2, rtol=1e-9, **kw):
    cols, offsets, lengths = _mv_batch(d=d, **kw)
    got = compute_features_flat(cols, offsets, fplan)
    want = _oracle(cols, offsets, lengths, fplan)
    np.testing.assert_allclose(got, want, rtol=rtol, atol=1e-10)


# Counting sieves use NONZERO thresholds here: with an STD prep, the
# extended-mode prefix stream cumsum ends at EXACTLY zero per segment
# (mean-zero input), so a count at threshold 0.0 compares the sign of
# ~1e-16 rounding noise that the flat STD prep's time-order ``Seg.sum``
# leaves against the bucketed pairwise sum — ill-conditioned by
# construction, in either direction (the streams themselves match to
# <3e-15 abs).
SIEVES = (
    Sieve("end", {"cuts": [-1, 0.5]}),
    Sieve("npi", {"q_values": [0.17, np.inf], "inc": 1}),
    Sieve("mpi", {"q_values": [0.17, np.inf], "inc": 2}),
    Sieve("ppv", {"quantiles": [0.31]}),
    Sieve("max", {}),
)


def test_reals_extended_of_weight_cse():
    fplan = FruitPlan((
        Slice(iss=ISSSpec(of_weight(3, 2), mode="extended"), sieves=SIEVES),
    ))
    _check(fplan)


def test_reals_weighted_indices_new_inc_std():
    # fruit_reduced iss_r shape: NEW(INC) + STD preps, of_weight words,
    # EXTENDED, Indices weighting
    fplan = FruitPlan((
        Slice(
            preps=(Prep("new", {"prep": Prep("inc")}), Prep("std")),
            iss=ISSSpec(of_weight(3, 4), mode="extended",
                        weighting="indices"),
            sieves=SIEVES,
        ),
    ))
    _check(fplan)


def test_arctic_alternate_sign_extended():
    words = tuple(alternate_sign([W(6 * "[1]"), W(6 * "[2]"),
                                  W(3 * "[1][2]"), W(3 * "[2][1]")]))
    fplan = FruitPlan((
        Slice(
            preps=(Prep("new", {"prep": Prep("inc")}),),
            iss=ISSSpec(words, mode="extended", semiring="arctic"),
            sieves=SIEVES,
        ),
    ))
    _check(fplan)


def test_bayesian_mv():
    fplan = FruitPlan((
        Slice(iss=ISSSpec((W("[12][2]"), W("[1][22]")),
                          semiring="bayesian"),
              sieves=(Sieve("end"), Sieve("max"))),
    ))
    # bayesian multiplies magnitudes — keep inputs near 1 to avoid
    # overflow noise in the comparison
    cols, offsets, lengths = _mv_batch()
    cols = [0.5 + 0.1 * np.tanh(c) for c in cols]
    got = compute_features_flat(cols, offsets, fplan)
    want = _oracle(cols, offsets, lengths, fplan)
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-12)


@pytest.mark.parametrize("total", [False, True])
@pytest.mark.parametrize("exponent", [1, 2])
def test_coswiss_mv(total, exponent):
    words = tuple(of_weight(1, 2)) + tuple(of_weight(2, 2))
    fplan = FruitPlan((
        Slice(
            preps=(Prep("new", {"prep": Prep("inc")}), Prep("std")),
            iss=CosWISSSpec(words, freqs=(0.05, 0.15),
                            exponent=exponent, total=total),
            # nonzero lower bound: the position-0 CosWISS summand has a
            # sin(0)=0 factor, analytically zero — see SIEVES note
            sieves=(Sieve("end"), Sieve("npi", {"q_values": [0.17, np.inf]})),
        ),
    ))
    _check(fplan)


@pytest.mark.parametrize("weighting", ["l1", "l2"])
@pytest.mark.parametrize("on_prepared", [False, True])
def test_lmass_weighting_mv(weighting, on_prepared):
    fplan = FruitPlan((
        Slice(
            preps=(Prep("inc"),),
            iss=ISSSpec((W("[1][2]"), W("[12]")), weighting=weighting,
                        weighting_params={"on_prepared": on_prepared}),
            sieves=(Sieve("end"),),
        ),
    ))
    _check(fplan)


def test_weighted_total_reals_mv():
    fplan = FruitPlan((
        Slice(iss=ISSSpec((W("[1][2][1]"),), weighting="indices",
                          total=True, mode="extended"),
              sieves=(Sieve("end"),)),
    ))
    _check(fplan)


def test_custom_weighting_mv():
    def gfn(Z):
        # elementwise in the row => identical under any length grouping
        return np.tanh(Z[:, 0, :] - Z[:, 1, :])

    fplan = FruitPlan((
        Slice(iss=ISSSpec((W("[1][2]"),), weighting="custom",
                          weighting_params={"fn": gfn}),
              sieves=(Sieve("end"), Sieve("max"))),
    ))
    _check(fplan)


def test_dim_wrapper_and_nrm_scale_dim():
    fplan = FruitPlan((
        Slice(
            preps=(Prep("dim", {"prep": Prep("inc"), "dims": [1]}),
                   Prep("nrm", {"scale_dim": True})),
            iss=ISSSpec((W("[1][2]"), W("[2]")), mode="extended"),
            sieves=(Sieve("end"), Sieve("min")),
        ),
    ))
    _check(fplan)


def test_chained_mv_then_univariate():
    fplan = FruitPlan((
        Slice(
            iss=(ISSSpec((W("[12]"), W("[1][2]"))),
                 ISSSpec((W("[1]"), W("[11]")), semiring="arctic")),
            sieves=(Sieve("end"),),
        ),
    ))
    _check(fplan)


def test_three_dims():
    fplan = FruitPlan((
        Slice(
            preps=(Prep("std"),),
            iss=ISSSpec(of_weight(2, 3), mode="extended",
                        weighting="indices"),
            sieves=SIEVES,
        ),
    ))
    _check(fplan, d=3)


def test_mv_argmax_flat_matches_bucketed():
    """Round 5 (late): mv arctic-argmax runs flat too — the linear
    combo is the kernel's only dimension-aware op.  Freeze-at-argmax
    index streams must match the bucketed kernel exactly (indices are
    integers; values to the summation-order rounding of ``Seg.sum``)."""
    fplan = FruitPlan((
        Slice(iss=ISSSpec((W("[1][2]"), W("[12][1]")), semiring="arctic",
                          argmax=True),
              sieves=(Sieve("end"), Sieve("max"))),
    ))
    _check(fplan)
    # NEW doubles dims before the ISS — flat now as well
    fplan2 = FruitPlan((
        Slice(preps=(Prep("new", {}),),
              iss=ISSSpec((W("[1][2]"),), semiring="arctic", argmax=True,
                          weighting="indices"),
              sieves=(Sieve("end"),)),
    ))
    _check(fplan2)


def test_mv_flat_chunking_matches_unchunked(spark, monkeypatch):
    """A tiny token budget forces extract_features to sub-batch; on an
    integer domain every float sum (``Seg.sum`` in any order) is exact,
    so features must be BIT-identical across chunk boundaries — also
    behind a MAV prep (run per length group by the generic prep
    adapter), fed multiples of its width so the window means stay
    integers."""
    import fruits_spark.engine.executor as EX

    RNG = np.random.default_rng(31)
    tokens = [RNG.integers(-4, 5, size=(2, 13)).astype(float)
              for _ in range(9)]
    iss = ISSSpec((W("[1]"), W("[12]"), W("[1][2]")))
    sieves = (Sieve("end"), Sieve("max"))
    cases = [
        (FruitPlan((Slice(iss=iss, sieves=sieves),)), 1),
        (FruitPlan((Slice(preps=(Prep("mav", {"width": 3}),), iss=iss,
                          sieves=sieves),)), 3),
    ]
    for fplan, scale in cases:
        df = spark.createDataFrame(
            [(i, (scale * t).tolist(), "s", 13) for i, t in enumerate(tokens)],
            "doc_id long, dims array<array<double>>, source string, "
            "n_tok int",
        )
        fcols = EX.feature_columns(fplan)

        def run():
            return (
                EX.extract_features(df, fplan, tokens_col="dims",
                                    multivariate=True)
                .toPandas().sort_values("doc_id")[fcols].to_numpy()
            )

        monkeypatch.delenv("SPARK_GRAFT_TOKEN_BUDGET", raising=False)
        base = run()
        monkeypatch.setenv("SPARK_GRAFT_TOKEN_BUDGET", "30")  # 1 row/chunk
        chunked = run()
        np.testing.assert_array_equal(base, chunked)


def test_spark_mv_extract_uses_flat(spark):
    """extract_features(multivariate=True) routes flat-capable plans
    through the flat mv path and matches the bucketed result."""
    import pandas as pd

    from fruits_spark.engine import executor as EX

    fplan = FruitPlan((
        Slice(
            preps=(Prep("new", {"prep": Prep("inc")}), Prep("std")),
            iss=ISSSpec(of_weight(3, 2), mode="extended",
                        weighting="indices"),
            # nonzero ppv threshold: see SIEVES note (STD prep makes the
            # extended prefix cumsum end at exactly 0 per segment)
            sieves=(Sieve("end"), Sieve("ppv", {"quantiles": [0.31]})),
        ),
    ))
    RNG = np.random.default_rng(915)
    rows = []
    for i in range(40):
        ln = int(RNG.integers(1, 40))
        rows.append((i, [[float(v) for v in RNG.normal(size=ln)]
                         for _ in range(2)], "s", ln))
    df = spark.createDataFrame(
        rows,
        "doc_id long, dims array<array<double>>, source string, n_tok int",
    )
    out = (
        EX.extract_features(df, fplan, tokens_col="dims", multivariate=True)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    fcols = EX.feature_columns(fplan)
    # oracle: bucketed per row
    want = np.zeros((len(rows), fplan.n_features()))
    for i, (_, dims, _, _) in enumerate(rows):
        Z = np.asarray(dims, dtype=np.float64)[np.newaxis]
        want[i] = compute_features_block(Z, fplan)[0]
    np.testing.assert_allclose(
        out[fcols].to_numpy(), want, rtol=1e-9, atol=1e-10
    )

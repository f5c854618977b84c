"""Flat segmented kernels vs bucketed reference kernels: identical
results on variable-length batches (integer domain exact; float domain
to 1e-12 relative)."""

import numpy as np
import pytest

from fruits_spark.engine.executor import (
    compute_features_block,
    compute_features_flat,
)
from fruits_spark.kernels import flat as KF
from fruits_spark.plan import CosWISSSpec, ISSSpec, Prep, Sieve, Slice, FruitPlan
from fruits_spark.words import W

RNG = np.random.default_rng(11)


def random_batch(n=50, int_domain=True, min_len=1, max_len=40):
    lengths = RNG.integers(min_len, max_len + 1, size=n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    if int_domain:
        values = RNG.integers(0, 101, size=offsets[-1]).astype(np.float64)
    else:
        values = RNG.random(offsets[-1])
    return values, offsets


def bucketed_features(values, offsets, fplan):
    lengths = np.diff(offsets)
    feats = np.zeros((len(lengths), fplan.n_features()))
    for ln in np.unique(lengths):
        rows = np.nonzero(lengths == ln)[0]
        if ln == 0:
            continue
        gather = (offsets[rows][:, None] + np.arange(ln)[None, :]).ravel()
        Z = values[gather].reshape(len(rows), 1, int(ln))
        feats[rows] = compute_features_block(Z, fplan)
    return feats


PLANS = {
    "reals_end_extended": FruitPlan((
        Slice(iss=ISSSpec((W("[1][11][111]"),), mode="extended"),
              sieves=(Sieve("end"),)),
    )),
    "arctic_sieves": FruitPlan((
        Slice(iss=ISSSpec((W("[1][1]"), W("[11][1]")), semiring="arctic"),
              sieves=(Sieve("end"), Sieve("max"), Sieve("min"))),
    )),
    "bayesian": FruitPlan((
        Slice(iss=ISSSpec((W("[1][1]"),), semiring="bayesian"),
              sieves=(Sieve("end"),)),
    )),
    "prep_chain": FruitPlan((
        Slice(preps=(Prep("inc"), Prep("nrm")),
              iss=ISSSpec((W("[11]"),)),
              sieves=(Sieve("end"), Sieve("cur"))),
    )),
    "std_full_sieves": FruitPlan((
        Slice(preps=(Prep("std"),),
              iss=ISSSpec((W("[1][1]"),)),
              sieves=(
                  Sieve("ppv", {"quantiles": [0.0], "constant": [True]}),
                  Sieve("cpv", {"quantiles": [0.0], "constant": [True]}),
                  Sieve("npi", {"q": (0.0, 1.0)}),
                  Sieve("mpi", {"q": (0.0, 1.0)}),
                  Sieve("xpi", {"q": (0.0, 1.0)}),
                  Sieve("lpi", {"q": (0.0, 1.0)}),
              )),
    )),
    "coquantile_cuts": FruitPlan((
        Slice(iss=ISSSpec((W("[1]"),)),
              sieves=(Sieve("end", {"cuts": [0.5]}),
                      Sieve("max", {"cuts": [-1, 0.3, 3]}))),
    )),
    "weighted_indices": FruitPlan((
        Slice(iss=ISSSpec((W("[1][1]"),), weighting="indices",
                          weighting_params={"relative": True, "scale": 1.0}),
              sieves=(Sieve("end"),)),
    )),
    "weighted_l1_total": FruitPlan((
        Slice(iss=ISSSpec((W("[1][1]"),), weighting="l1",
                          weighting_params={"relative": True, "scale": 1.0},
                          total=True),
              sieves=(Sieve("end"),)),
    )),
    "coswiss": FruitPlan((
        Slice(iss=CosWISSSpec((W("[1][1]"), W("[11][1]")), (0.5, 1.0),
                              exponent=2),
              sieves=(Sieve("end"), Sieve("max"))),
    )),
    "coswiss_total": FruitPlan((
        Slice(iss=CosWISSSpec((W("[1][1]"),), (0.5,), exponent=1,
                              total=True),
              sieves=(Sieve("end"),)),
    )),
}


@pytest.mark.parametrize("name", list(PLANS))
@pytest.mark.parametrize("int_domain", [True, False])
def test_flat_matches_bucketed(name, int_domain):
    fplan = PLANS[name]
    values, offsets = random_batch(int_domain=int_domain)
    got = compute_features_flat(values, offsets, fplan)
    expect = bucketed_features(values, offsets, fplan)
    _assert_match(got, expect, name, int_domain)


FLOATY = ("weighted", "std_full_sieves", "prep_chain", "coswiss")


def _assert_match(got, expect, name, int_domain):
    if int_domain and not any(f in name for f in FLOATY):
        np.testing.assert_array_equal(got, expect)
    else:
        np.testing.assert_allclose(got, expect, rtol=1e-9, atol=1e-12)


# plateaus weighting, true AVG/STD and arctic argmax
PLANS_FLAT_ONLY = {
    "weighted_plateaus": FruitPlan((
        Slice(iss=ISSSpec((W("[1][1]"),), weighting="plateaus",
                          weighting_params={"nplateaus": 3, "scale": 1.0}),
              sieves=(Sieve("end"),)),
    )),
    "weighted_plateaus_rev": FruitPlan((
        Slice(iss=ISSSpec((W("[1]"),), weighting="plateaus",
                          weighting_params={"nplateaus": 4, "reverse": True,
                                            "scale": 1.0}),
              sieves=(Sieve("end"),)),
    )),
    "avg_std_true": FruitPlan((
        Slice(iss=ISSSpec((W("[11]"),)),
              sieves=(Sieve("avg", {"faithful": False}),
                      Sieve("std", {"faithful": False}),
                      Sieve("avg"),   # faithful=True -> CUR quirk
                      Sieve("std"))),
    )),
    "arctic_argmax": FruitPlan((
        Slice(iss=ISSSpec((W("[1][1]"),), semiring="arctic", argmax=True),
              sieves=(Sieve("end"),)),
    )),
    "arctic_argmax_weighted": FruitPlan((
        Slice(iss=ISSSpec((W("[1][1][1]"),), semiring="arctic",
                          argmax=True, weighting="indices",
                          weighting_params={"relative": True,
                                            "scale": 1.0}),
              sieves=(Sieve("end"), Sieve("max"))),
    )),
    "avg_std_banded": FruitPlan((
        Slice(iss=ISSSpec((W("[1]"),)),
              sieves=(Sieve("avg", {"faithful": False,
                                    "q": (-1.0, 0.0, 1.0)}),
                      Sieve("std", {"faithful": False,
                                    "q": (-1.0, 0.0, 1.0)}),
                      Sieve("avg", {"faithful": False,
                                    "cuts": [-1, 3]}))),
    )),
}


@pytest.mark.parametrize("name", list(PLANS_FLAT_ONLY))
@pytest.mark.parametrize("int_domain", [True, False])
def test_flat_only_ops_match_bucketed(name, int_domain):
    fplan = PLANS_FLAT_ONLY[name]
    values, offsets = random_batch(int_domain=int_domain)
    got = compute_features_flat(values, offsets, fplan)
    expect = bucketed_features(values, offsets, fplan)
    # plateaus-weighted scans and std's variance accumulate floats
    # (different but equally-valid summation orders); avg on the int
    # domain is integer-sum / integer-count and stays exact
    np.testing.assert_allclose(got, expect, rtol=1e-9, atol=1e-12)


def test_flat_handles_empty_and_tiny_segments():
    fplan = PLANS["arctic_sieves"]
    offsets = np.array([0, 0, 1, 3, 3, 10], dtype=np.int64)
    values = RNG.integers(0, 101, size=10).astype(np.float64)
    got = compute_features_flat(values, offsets, fplan)
    expect = bucketed_features(values, offsets, fplan)
    np.testing.assert_allclose(got[np.diff(offsets) > 0],
                               expect[np.diff(offsets) > 0])
    assert np.all(np.isfinite(got))


@pytest.mark.parametrize("name", list(PLANS_FLAT_ONLY))
def test_flat_only_ops_handle_empty_and_tiny_segments(name):
    """Empty segments and lengths below nplateaus through the new flat
    ops (plateaus step=0 -> all-ones -> nrm01 zeros; avg/std on empty
    bands)."""
    fplan = PLANS_FLAT_ONLY[name]
    offsets = np.array([0, 0, 1, 3, 3, 10, 12], dtype=np.int64)
    values = RNG.integers(0, 101, size=12).astype(np.float64)
    got = compute_features_flat(values, offsets, fplan)
    expect = bucketed_features(values, offsets, fplan)
    ne = np.diff(offsets) > 0
    np.testing.assert_allclose(got[ne], expect[ne], rtol=1e-9, atol=1e-12)
    assert np.all(np.isfinite(got))


def test_seg_primitives():
    seg = KF.Seg(np.array([0, 3, 3, 7]))
    x = seg.enter(np.array([1.0, 2, 3, 10, 20, 30, 40]))
    np.testing.assert_array_equal(
        seg.leave(seg.cumsum(x)), [1, 3, 6, 10, 30, 60, 100]
    )
    np.testing.assert_array_equal(
        seg.leave(seg.shift1(x)), [0, 1, 2, 0, 10, 20, 30]
    )
    y = seg.enter(np.array([3.0, 1, 2, 5, 4, 6, 1]))
    np.testing.assert_array_equal(
        seg.leave(seg.runmax(y)), [3, 3, 3, 5, 5, 6, 6]
    )
    np.testing.assert_array_equal(seg.sum(x), [6, 0, 100])
    np.testing.assert_array_equal(seg.gather_last(x), [3, 0, 40])


def test_cumsum_fallback_exact_across_huge_segments():
    # regression: a segment totaling >=2^53 must not leak rounding into
    # LATER segments (the old self-reset boundary subtraction did)
    import numpy as np
    from fruits_spark.kernels.flat import Seg

    lens = np.array([4, 0, 3, 5])
    offsets = np.concatenate([[0], np.cumsum(lens)])
    x = np.array([2.0**52] * 7 + [1, 2, 3, 4, 5], dtype=np.float64)
    seg = Seg(offsets)
    got = seg.leave(seg.cumsum(seg.enter(x)))
    want = np.concatenate(
        [np.cumsum(x[offsets[i]:offsets[i + 1]]) for i in range(4) if lens[i]]
    )
    np.testing.assert_array_equal(got, want)


@pytest.mark.parametrize("d", [1, 2])
def test_features_do_not_depend_on_batching(d):
    # a doc's per-doc sums (STD prep, AVG sieve) must run in time order
    # however many docs share its length class: a class of one column
    # once summed pairwise, so a doc alone in a small batch got other
    # STD features, and PPV(0.0) counted other signs, than in a big one
    from fruits_spark.words import of_weight

    rng = np.random.default_rng(5)
    lengths = rng.integers(0, 60, size=40)
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    cols = [rng.normal(size=int(offsets[-1])) * 10.0 ** k for k in range(d)]
    fplan = FruitPlan((Slice(
        preps=(Prep("std"),),
        iss=ISSSpec(tuple(of_weight(3, d)), mode="extended"),
        sieves=(
            Sieve("end"),
            Sieve("ppv", {"quantiles": [0.0], "constant": [True]}),
            Sieve("avg", {"faithful": False}),
        ),
    ),))
    whole = compute_features_flat(cols, offsets, fplan)
    alone = np.vstack([
        compute_features_flat(
            [c[offsets[i]:offsets[i + 1]] for c in cols],
            np.array([0, lengths[i]]), fplan,
        )
        for i in range(len(lengths))
    ])
    np.testing.assert_array_equal(whole, alone)

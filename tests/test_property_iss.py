"""Property-based ISS/sieve tests (hypothesis): on arbitrary integer
series and arbitrary simple words, the flat and bucketed layouts agree
with each other and with an O(l^k) brute-force of the ISS definition
(iss/iss.py:46 semantics; cf. the reference's own brute-force oracles in
tests/signature/test_weighting.py)."""

import itertools

import numpy as np
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from fruits_spark.engine.executor import (
    compute_features_block,
    compute_features_flat,
)
from fruits_spark.kernels.segments import flatten_lists
from fruits_spark.plan import FruitPlan, ISSSpec, Sieve, Slice
from fruits_spark.words import W

# univariate words: digits are DIMENSIONS in SimpleWord notation, so
# only "1" appears; repetition raises the exponent ("[11]" = x^2)
WORDS = ["[1]", "[11]", "[1][1]", "[11][1]", "[1][1][1]", "[111]"]

series_strategy = st.lists(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=24),
    min_size=1,
    max_size=8,
)


def brute_iss_end(x: np.ndarray, exps: list[int], semiring: str) -> float:
    """ISS END by definition: strict i1<...<ik for reals (shift between
    levels, semiring.py:107-125); NON-strict i1<=...<=ik for arctic and
    bayesian (their reference kernels have no inter-level shift,
    semiring.py:287-311, 466-530)."""
    k = len(exps)
    n = len(x)
    idx_iter = (
        itertools.combinations(range(n), k)
        if semiring == "reals"
        else itertools.combinations_with_replacement(range(n), k)
    )
    terms = []
    for idx in idx_iter:
        if semiring == "arctic":
            terms.append(sum(e * x[i] for i, e in zip(idx, exps)))
        else:
            p = 1.0
            for i, e in zip(idx, exps):
                p *= x[i] ** e
            terms.append(p)
    if not terms:
        return 0.0
    if semiring == "reals":
        return float(sum(terms))
    return float(max(terms))


def _word_exps(word: str) -> list[int]:
    # univariate words only: exponent of dim 1 per extended letter
    return [seg.count("1") for seg in word.strip("[]").split("][")]


@settings(max_examples=40, deadline=None)
@given(rows=series_strategy, wi=st.integers(0, len(WORDS) - 1),
       sr=st.sampled_from(["reals", "arctic", "bayesian"]))
def test_layouts_agree_and_match_bruteforce(rows, wi, sr):
    word = WORDS[wi]
    xs = [np.asarray(r, dtype=np.float64) for r in rows]
    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W(word),), semiring=sr),
                sieves=(Sieve("end"),),
            ),
        )
    )
    values, offsets = flatten_lists(pd.Series(xs))
    ff = compute_features_flat(values, offsets, fplan)
    fb = np.vstack(
        [compute_features_block(x.reshape(1, 1, -1), fplan) for x in xs]
    )
    np.testing.assert_allclose(ff, fb, rtol=1e-9, atol=1e-9)
    exps = _word_exps(word)
    for i, x in enumerate(xs):
        expect = brute_iss_end(x, exps, sr)
        if sr == "arctic" and len(x) < len(exps):
            # arctic empty sum is -inf in the scan but nan_to_num'd; the
            # reference zero-fills too short series the same way
            continue
        np.testing.assert_allclose(fb[i, 0], expect, rtol=1e-9, atol=1e-9)


@settings(max_examples=30, deadline=None)
@given(rows=series_strategy,
       q=st.integers(min_value=0, max_value=50))
def test_sieves_match_numpy_definition(rows, q):
    xs = [np.asarray(r, dtype=np.float64) for r in rows]
    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W("[1]"),)),
                sieves=(
                    Sieve("max"),
                    Sieve("min"),
                    Sieve("ppv", {"quantiles": [float(q)]}),
                    Sieve("cpv", {"quantiles": [float(q)]}),
                ),
            ),
        )
    )
    values, offsets = flatten_lists(pd.Series(xs))
    ff = compute_features_flat(values, offsets, fplan)
    for i, x in enumerate(xs):
        run1 = np.cumsum(x)
        assert ff[i, 0] == run1.max()
        assert ff[i, 1] == run1.min()
        assert ff[i, 2] == (run1 >= q).mean()
        ind = (run1 >= q).astype(int)
        edges = int(((ind[1:] - ind[:-1]) == 1).sum())
        n_even = len(x) + len(x) % 2
        np.testing.assert_allclose(ff[i, 3], 2 * edges / n_even)


@settings(max_examples=40, deadline=None)
@given(rows=series_strategy)
def test_extended_equals_prefix_singles(rows):
    xs = [np.asarray(r, dtype=np.float64) for r in rows]
    values, offsets = flatten_lists(pd.Series(xs))
    # the word reads dim 2, so the input needs two dimensions (a
    # one-column input raises like the oracle)
    values = [values, values % 7]
    word = "[1][2][1]"
    ext = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W(word),), mode="extended"),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fe = compute_features_flat(values, offsets, ext)
    singles = [
        FruitPlan(
            (Slice(iss=ISSSpec((W(p),)), sieves=(Sieve("end"),)),)
        )
        for p in ("[1]", "[1][2]", "[1][2][1]")
    ]
    for j, sp in enumerate(singles):
        fs = compute_features_flat(values, offsets, sp)
        np.testing.assert_allclose(fe[:, j], fs[:, 0], rtol=1e-9)


MV_WORDS = ["[1]", "[12]", "[1][2]", "[11][2]", "[2][1][1]", "[1][22]"]


@settings(max_examples=60, deadline=None)
@given(
    rows=series_strategy,
    wi=st.integers(0, len(MV_WORDS) - 1),
    sr=st.sampled_from(["reals", "arctic", "bayesian"]),
    weighting=st.sampled_from([None, "indices", "l1", "l2"]),
    total=st.booleans(),
    mode=st.sampled_from(["single", "extended"]),
    d=st.integers(1, 2),
)
# rows e^50 apart under an L1 weighting: a cross-doc running carry left
# ~ulp(carry) of error in the later, smaller doc (found by this test)
@example(rows=[[0, 1, 0], [0, 0, 0]], wi=4, sr="reals", weighting="l1",
         total=False, mode="single", d=2)
@example(rows=[[0, 1, 0], [0, 0, 0]], wi=4, sr="reals", weighting="l1",
         total=False, mode="extended", d=2)
@example(rows=[[1, 0, 1], [1, 1, 0, 1]], wi=2, sr="reals", weighting="l1",
         total=True, mode="single", d=1)
@example(rows=[[1, 0, 1], [1, 1, 0, 1]], wi=2, sr="reals", weighting="l1",
         total=True, mode="extended", d=1)
@example(rows=[[0, 13, 18], [0, 0, 0]], wi=4, sr="reals", weighting="l1",
         total=False, mode="single", d=1)
@example(rows=[[0, 13, 18], [0, 0, 0]], wi=4, sr="reals", weighting="l1",
         total=False, mode="extended", d=1)
@example(rows=[[0, 1, 0], [0, 0]], wi=2, sr="reals", weighting="l1",
         total=True, mode="single", d=2)
@example(rows=[[0, 1, 0], [0, 0]], wi=2, sr="reals", weighting="l1",
         total=True, mode="extended", d=2)
def test_flat_matches_bucketed_all_spec_combos(rows, wi, sr, weighting,
                                               total, mode, d):
    """Every (semiring x weighting x total x mode x dims) combo the flat
    path claims must match the bucketed reference-parity kernels —
    the round-5 bayesian weighted+total divergence hid exactly in a
    combo no directed test enumerated.  END/MAX of unprepped streams
    are scan values, so they agree bit for bit."""
    word = MV_WORDS[wi] if d == 2 else WORDS[wi]
    # bayesian multiplies magnitudes: keep values in [0.5, 1.5] to
    # avoid overflow drowning the comparison
    spec = ISSSpec(
        (W(word),), semiring=sr, mode=mode, weighting=weighting,
        total=total if weighting is not None else False,
    )
    fplan = FruitPlan((Slice(iss=spec, sieves=(Sieve("end"), Sieve("max"))),))
    xs = [
        0.5 + np.asarray(r, dtype=np.float64) / 50.0 for r in rows
    ]
    lengths = np.array([len(x) for x in xs], dtype=np.int64)
    offsets = np.zeros(len(xs) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    if d == 1:
        flat_in = np.concatenate(xs) if xs else np.array([])
        blocks = [x.reshape(1, 1, -1) for x in xs]
    else:
        flat_in = [np.concatenate(xs), np.concatenate([x * 0.7 for x in xs])]
        blocks = [
            np.stack([x, x * 0.7])[np.newaxis] for x in xs
        ]
    ff = compute_features_flat(flat_in, offsets, fplan)
    fb = np.vstack([compute_features_block(b, fplan) for b in blocks])
    np.testing.assert_array_equal(ff, fb)


@settings(max_examples=40, deadline=None)
@given(
    rows=series_strategy,
    wi=st.integers(0, len(MV_WORDS) - 1),
    weighting=st.sampled_from([None, "indices"]),
    d=st.integers(1, 2),
)
def test_flat_argmax_matches_bucketed(rows, wi, weighting, d):
    """Arctic argmax (value + maximizing-index + freeze streams) on the
    flat layout vs the bucketed kernel — mv argmax went flat late in
    round 5; every stream is a scan, so everything agrees bit for
    bit."""
    word = MV_WORDS[wi] if d == 2 else WORDS[wi]
    spec = ISSSpec((W(word),), semiring="arctic", argmax=True,
                   weighting=weighting)
    fplan = FruitPlan((Slice(iss=spec, sieves=(Sieve("end"), Sieve("max"))),))
    xs = [np.asarray(r, dtype=np.float64) for r in rows]
    lengths = np.array([len(x) for x in xs], dtype=np.int64)
    offsets = np.zeros(len(xs) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    if d == 1:
        flat_in = np.concatenate(xs) if xs else np.array([])
        blocks = [x.reshape(1, 1, -1) for x in xs]
    else:
        flat_in = [np.concatenate(xs), np.concatenate([x * 0.5 - 1 for x in xs])]
        blocks = [np.stack([x, x * 0.5 - 1])[np.newaxis] for x in xs]
    ff = compute_features_flat(flat_in, offsets, fplan)
    fb = np.vstack([compute_features_block(b, fplan) for b in blocks])
    np.testing.assert_array_equal(ff, fb)

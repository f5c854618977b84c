"""CosWISS brute-force oracle tests (reference:
tests/signature/test_cosine.py:6-135)."""

import numpy as np
import pytest

from fruits_spark.kernels.iss import coswiss, coswiss_table
from fruits_spark.words import W

RNG = np.random.default_rng(13)


def g_of(length, freq):
    return np.pi * np.arange(length) / (freq * (length - 1))


def test_exp1_len2_oracle():
    # word [1][23], freq 0.5, s=1 — O(l^2) definition
    X = RNG.random((6, 3, 30))
    res = coswiss(X, W("[1][23]").matrix, 0.5, exponent=1)[:, -1]
    g = g_of(30, 0.5)
    expect = np.zeros(6)
    for m in range(6):
        for k in range(30):
            for j in range(k):
                expect[m] += (
                    X[m, 0, j] * X[m, 1, k] * X[m, 2, k]
                    * np.cos(g[k] - g[j])
                )
    np.testing.assert_allclose(res, expect, rtol=1e-5)


def test_exp1_len3_oracle():
    X = RNG.random((5, 3, 20))
    res = coswiss(X, W("[12][2][33]").matrix, 0.5, exponent=1)[:, -1]
    g = g_of(20, 0.5)
    expect = np.zeros(5)
    for m in range(5):
        for k in range(20):
            for j in range(k):
                for i in range(j):
                    expect[m] += (
                        X[m, 0, i] * X[m, 1, i] * X[m, 1, j]
                        * X[m, 2, k] ** 2
                        * np.cos(g[j] - g[i]) * np.cos(g[k] - g[j])
                    )
    np.testing.assert_allclose(res, expect, rtol=1e-5)


def test_exp1_total_oracle():
    X = RNG.random((5, 3, 25))
    res = coswiss(X, W("[1][23]").matrix, 0.5, exponent=1, total=True)[:, -1]
    g = g_of(25, 0.5)
    expect = np.zeros(5)
    for m in range(5):
        for k in range(25):
            for j in range(k):
                expect[m] += (
                    X[m, 0, j] * X[m, 1, k] * X[m, 2, k]
                    * np.cos(g[k] - g[j]) * np.cos(g[24] - g[k])
                )
    np.testing.assert_allclose(res, expect, rtol=1e-5)


@pytest.mark.parametrize("s", [2, 3, 4])
def test_higher_exponents_oracle(s):
    X = RNG.random((4, 2, 18))
    res = coswiss(X, W("[2][11]").matrix, 0.7, exponent=s)[:, -1]
    g = g_of(18, 0.7)
    expect = np.zeros(4)
    for m in range(4):
        for k in range(18):
            for j in range(k):
                expect[m] += (
                    X[m, 1, j] * X[m, 0, k] ** 2
                    * np.cos(g[k] - g[j]) ** s
                )
    np.testing.assert_allclose(res, expect, rtol=1e-5)


def test_table_shapes():
    t = coswiss_table(2, 2, total=False)
    assert t.shape == (3, 5)
    assert t[:, 0].sum() == 4  # sum of binomials C(2,k) = 1+2+1
    t = coswiss_table(2, 1, total=True)
    assert t.shape == (4, 7)


def test_dropout_zeroes_indices():
    X = RNG.random((3, 1, 12))
    drop = np.array([[2, 5], [7, 8]])
    res = coswiss(X, W("[1][1]").matrix, 0.5, exponent=1,
                  dropout_indices=drop)
    # manual: same recurrence with tmp zeroed at drop[k] before cumsums
    g = g_of(12, 0.5)
    sw, cw = np.sin(g), np.cos(g)
    table = coswiss_table(2, 1, total=False)
    expect = np.zeros((3, 12))
    for row in table:
        tmp = np.ones((3, 12))
        for k in range(2):
            if k > 0:
                tmp = np.concatenate(
                    [np.zeros((3, 1)), tmp[:, :-1]], axis=1
                )
            tmp = tmp * X[:, 0, :]
            for _ in range(row[2 * k + 1]):
                tmp = tmp * sw
            for _ in range(row[2 * k + 2]):
                tmp = tmp * cw
            tmp[:, drop[k]] = 0.0
            tmp = np.cumsum(tmp, axis=1)
        expect += row[0] * tmp
    np.testing.assert_allclose(res, expect, rtol=1e-12)


def test_coswiss_flat_multi_bit_identical():
    """The flat CosWISS trie must reproduce the bucketed per-word
    coswiss on every doc bit for bit — same per-path op order,
    exponents applied as repeated multiplies like _pow_product — on
    multi-row float batches with empty docs, univariate (the one-column
    case) and d = 2, words declared over fewer dims than the input
    included."""
    from fruits_spark.kernels.flat import Seg, coswiss_flat_multi_mv
    from fruits_spark.words import of_weight

    lengths = np.array([5, 0, 12, 1, 30, 0, 8, 17, 2, 9])
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    seg = Seg(offsets)
    for d in (1, 2):
        raw = [RNG.normal(size=int(offsets[-1])) for _ in range(d)]
        cols = [seg.enter(c) for c in raw]
        words = [w.matrix for k in (1, 2, 3) for w in of_weight(k, d)]
        if d == 2:
            words += [w.matrix for w in of_weight(2, 1)]
        for total in (False, True):
            for s in (1, 2):
                for f in (0.05, 0.5):
                    multi = coswiss_flat_multi_mv(seg, cols, words, f,
                                                  exponent=s, total=total)
                    multi = [seg.leave(m) for m in multi]
                    for j in range(seg.n):
                        a, b = offsets[j], offsets[j + 1]
                        if a == b:
                            continue
                        Z = np.stack([c[a:b] for c in raw])[np.newaxis]
                        for wi, w in enumerate(words):
                            np.testing.assert_array_equal(
                                multi[wi][a:b],
                                coswiss(Z, w, f, exponent=s,
                                        total=total)[0],
                                err_msg=f"d={d}/s={s}/f={f}/total={total}"
                                        f"/doc {j}/word {wi}",
                            )


def test_coswiss_multi_duplicate_words_all_filled():
    """Duplicate words must each receive the shared stream of the flat
    CosWISS trie — not silently zero out."""
    import pandas as pd
    from fruits_spark.kernels.flat import Seg, coswiss_flat_multi_mv
    from fruits_spark.kernels.segments import flatten_lists

    rows = [RNG.integers(0, 9, l).astype(np.float64) for l in (4, 7)]
    values, offsets = flatten_lists(pd.Series(rows))
    seg = Seg(offsets)
    values = seg.enter(values)
    wf = W("[1][1]").matrix
    mf = coswiss_flat_multi_mv(seg, [values], [wf, wf], 0.5, exponent=2,
                               total=True)
    sf = coswiss_flat_multi_mv(seg, [values], [wf], 0.5, exponent=2,
                               total=True)[0]
    assert np.array_equal(mf[0], sf) and np.array_equal(mf[1], sf)

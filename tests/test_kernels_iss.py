"""ISS kernel tests.

Ports the reference golden values (tests/signature/test_simple.py:19-34,
test_semiring.py:18-47), the brute-force weighted oracles
(test_weighting.py), the EXTENDED==SINGLE-prefix metamorphic identity
(test_cache.py:29-124) and the theoretical standardized-series identity
(test_simple.py:44-51).
"""

import numpy as np
import pytest

from fruits_spark.kernels import iss as K
from fruits_spark.words import PrefixPlan, W

RNG = np.random.default_rng(42)


def single(Z, word, **kw):
    """Last-prefix-only stream (n, l)."""
    return K.iss(Z, W(word).matrix, extended=1, **kw)[:, 0, :]


class TestRealsGoldens:
    # reference: tests/signature/test_simple.py:19-41
    CASES = {
        "[1]": [[-4, -3.2, -3.2, 1.8, -1.2], [5, 13, 15, 21, 21]],
        "[2]": [[2, 3, 3, 3, -4], [-5, -6, -10, -10.5, -18.5]],
        "[11]": [[16, 16.64, 16.64, 41.64, 50.64], [25, 89, 93, 129, 129]],
        "[12]": [[-8, -7.2, -7.2, -7.2, 13.8], [-25, -33, -41, -44, -44]],
        "[1][1]": [[0, -3.2, -3.2, -19.2, -24.6], [0, 40, 66, 156, 156]],
        "[1][2]": [[0.0, -4.0, -4.0, -4.0, -16.6], [0, -5, -57, -64.5, -232.5]],
    }

    @pytest.mark.parametrize("word", list(CASES))
    def test_golden(self, x1, word):
        np.testing.assert_allclose(single(x1, word), self.CASES[word])


class TestArcticGoldens:
    # reference: tests/signature/test_semiring.py:18-33
    CASES = {
        "[1]": [[-4, 0.8, 0.8, 5, 5], [5, 8, 8, 8, 8]],
        "[2]": [[2, 2, 2, 2, 2], [-5, -1, -1, -0.5, -0.5]],
        "[11]": [[-8, 1.6, 1.6, 10, 10], [10, 16, 16, 16, 16]],
        "[12]": [[-2, 1.8, 1.8, 5, 5], [0, 7, 7, 7, 7]],
        "[1][1]": [[-8, 1.6, 1.6, 10, 10], [10, 16, 16, 16, 16]],
        "[1][2]": [[-2, 1.8, 1.8, 5.0, 5.0], [0.0, 7.0, 7.0, 7.5, 7.5]],
    }

    @pytest.mark.parametrize("word", list(CASES))
    def test_golden(self, x1, word):
        np.testing.assert_allclose(
            single(x1, word, semiring="arctic"), self.CASES[word]
        )

    def test_generic_word_arctic(self, x1):
        # reference: test_semiring.py:36-47 — word [DIM(1)DIM(2)][DIM(1)ABS(1)]
        word = [[("DIM", 0), ("DIM", 1)], [("DIM", 0), ("ABS", 0)]]
        out = K.iss_generic(x1, word, extended=1, semiring="arctic")[:, 0, :]
        np.testing.assert_allclose(
            out, [[-2, 3.4, 3.4, 15, 15], [10, 23, 23, 23, 23]]
        )


def test_negative_exponents_reciprocal_identity(x1):
    # reference: test_simple.py:60-88
    np.testing.assert_allclose(
        single(1.0 / (x1 + 10), "[1][2]"),
        single(x1 + 10, "[-1][-2]"),
    )
    np.testing.assert_allclose(
        single(-x1, "[1][2]", semiring="arctic"),
        single(x1, "[-1][-2]", semiring="arctic"),
    )


def test_theoretical_standardized(x1):
    # reference: test_simple.py:44-51 — <[1][1],ISS> final value = -l/2
    X = RNG.random((25, 1, 100))
    X = (X - X.mean(axis=-1, keepdims=True)) / X.std(axis=-1, keepdims=True)
    out = single(X, "[1][1]")
    np.testing.assert_allclose(out[:, -1], np.full(25, -50.0), rtol=1e-9)


def test_extended_equals_prefix_singles():
    # reference: test_cache.py:29-124
    X = RNG.random((10, 3, 100))
    w = W("[11][12][133][22]")
    ext = K.iss(X, w.matrix, extended=4)
    for p in range(1, 5):
        np.testing.assert_allclose(
            ext[:, p - 1, :], single(X, w.prefix(p).string), rtol=1e-12
        )
    # arctic too
    ext_a = K.iss(X, w.matrix, extended=4, semiring="arctic")
    for p in range(1, 5):
        np.testing.assert_allclose(
            ext_a[:, p - 1, :],
            single(X, w.prefix(p).string, semiring="arctic"),
            rtol=1e-12,
        )


def test_fast_equals_generic_slow_path():
    # reference: tests/signature/test_general.py:64-78
    X = RNG.random((20, 2, 60))
    for word, generic in [
        ("[11]", [[("DIM", 0), ("DIM", 0)]]),
        ("[12][2]", [[("DIM", 0), ("DIM", 1)], [("DIM", 1)]]),
        ("[1][1][2]", [[("DIM", 0)], [("DIM", 0)], [("DIM", 1)]]),
    ]:
        np.testing.assert_allclose(
            single(X, word),
            K.iss_generic(X, generic, 1, "reals")[:, 0, :],
            rtol=1e-10,
        )
        np.testing.assert_allclose(
            single(X, word, semiring="arctic"),
            K.iss_generic(X, generic, 1, "arctic")[:, 0, :],
            rtol=1e-10,
        )


def _nrm01_1d(x):
    return (x - x.min()) / (x.max() - x.min())


class TestWeightedOracles:
    """O(l^3) nested-loop recomputation of the weighted ISS definition
    (reference: test_weighting.py:6-155)."""

    def test_indices_total(self):
        X = RNG.random((6, 3, 30))
        n, _, length = X.shape
        word = W("[12][2][33]", alpha=(0.6, 0.2, 0.5))
        lookup = K.indices_lookup(n, length, relative=True, scale=1.0)
        res = K.iss(
            X, word.matrix, extended=3,
            alpha=np.array(word.alpha), lookup=lookup, total=True,
        )[:, :, -1]
        g = lookup[0]
        a = np.array(word.alpha, dtype=np.float32).astype(np.float64)
        expect = np.zeros((n, 3))
        for m in range(n):
            for k in range(length):
                expect[m, 0] += X[m, 0, k] * X[m, 1, k] * np.exp(
                    a[0] * (g[k] - g[-1])
                )
                for j in range(k):
                    expect[m, 1] += (
                        X[m, 0, j] * X[m, 1, j] * X[m, 1, k]
                        * np.exp(a[0] * (g[j] - g[k]))
                        * np.exp(a[1] * (g[k] - g[-1]))
                    )
                    for i in range(j):
                        expect[m, 2] += (
                            X[m, 0, i] * X[m, 1, i] * X[m, 1, j]
                            * X[m, 2, k] ** 2
                            * np.exp(a[0] * (g[i] - g[j]))
                            * np.exp(a[1] * (g[j] - g[k]))
                            * np.exp(a[2] * (g[k] - g[-1]))
                        )
        np.testing.assert_allclose(res, expect, rtol=1e-5)

    def test_l1_nontotal(self):
        X = RNG.random((6, 3, 30))
        n, _, length = X.shape
        word = W("[12][2][33]", alpha=(0.6, 0.2, 0.3))
        lookup = K.l1_lookup(X, relative=True, scale=1.0)
        res = K.iss(
            X, word.matrix, extended=1,
            alpha=np.array(word.alpha), lookup=lookup, total=False,
        )[:, 0, -1]
        Y = lookup
        a = np.array(word.alpha, dtype=np.float32).astype(np.float64)
        expect = np.zeros(n)
        for m in range(n):
            for k in range(length):
                for j in range(k):
                    for i in range(j):
                        expect[m] += (
                            X[m, 0, i] * X[m, 1, i] * X[m, 1, j]
                            * X[m, 2, k] ** 2
                            * np.exp(a[0] * (Y[m, i] - Y[m, j]))
                            * np.exp(a[1] * (Y[m, j] - Y[m, k]))
                        )
        np.testing.assert_allclose(res, expect, rtol=1e-6)

    def test_arctic_weighted_oracle(self):
        # max-plus analogue: max over i<=j<=k of sums minus weight gaps
        X = RNG.random((5, 2, 25))
        n, _, length = X.shape
        word = W("[1][2]", alpha=(0.7, 0.4))
        lookup = K.indices_lookup(n, length, relative=True, scale=1.0)
        res = K.iss(
            X, word.matrix, extended=1, semiring="arctic",
            alpha=np.array(word.alpha), lookup=lookup, total=False,
        )[:, 0, -1]
        g = lookup[0]
        a = np.array(word.alpha, dtype=np.float32).astype(np.float64)
        expect = np.full(n, -np.inf)
        for m in range(n):
            for k in range(length):
                for j in range(k + 1):
                    v = X[m, 0, j] + X[m, 1, k] - a[0] * (g[k] - g[j])
                    expect[m] = max(expect[m], v)
        np.testing.assert_allclose(res, expect, rtol=1e-6)

    def test_bayesian_matches_maxprod_oracle(self):
        X = RNG.random((5, 1, 25))
        res = single(X, "[1][1]", semiring="bayesian")
        n, _, length = X.shape
        expect = np.zeros((n, length))
        for m in range(n):
            best = -np.inf
            for t in range(length):
                for j in range(t + 1):
                    for i in range(j + 1):  # bayesian fast path: non-strict
                        best = max(best, X[m, 0, i] * X[m, 0, j])
                expect[m, t] = best
        np.testing.assert_allclose(res, expect, rtol=1e-9)


def test_prefix_plan_stream_equivalence():
    """EXTENDED via PrefixPlan emits exactly the distinct prefix streams
    (engine-level CSE property)."""
    X = RNG.random((4, 3, 40))
    words = [W("[1][11]"), W("[1][11][2]"), W("[1][3]")]
    plan = PrefixPlan(words)
    assert [plan.depth(i) for i in range(3)] == [2, 1, 1]
    labels = plan.labels()
    assert labels == ["[1]", "[1][11]", "[1][11][2]", "[1][3]"]
    # emitted streams == single runs of each labelled prefix
    for w, d in zip(words, [plan.depth(i) for i in range(3)]):
        ext = K.iss(X, w.matrix, extended=d)
        for s in range(d):
            p = len(w) - d + 1 + s
            np.testing.assert_allclose(
                ext[:, s, :], single(X, w.prefix(p).string), rtol=1e-12
            )


def test_coquantile_golden():
    # derived from reference END(cut=0.2) golden (test_explicit.py:76-80)
    X = np.array([[[-4.0, 0.8, 0.0, 5.0, -3.0]], [[2.0, 1.0, 0.0, 0.0, -7.0]]])
    np.testing.assert_array_equal(K.coquantile(X, 0.2, "L2"), [1, 4])
    np.testing.assert_array_equal(K.coquantile(X, 0.5, "L2"), [4, 4])


def test_custom_weighting_and_letter_registry():
    """Custom weighting g(X) (weighting.py:41-66) and @letter registration
    (letters.py:132-206) through the engine surfaces."""
    from fruits_spark.engine.executor import compute_features_block
    from fruits_spark.kernels.iss import LETTERS, iss_generic, register_letter
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan

    X = RNG.random((5, 1, 20))
    gfn = lambda Z: np.broadcast_to(
        np.arange(Z.shape[2], dtype=np.float64) ** 2 / Z.shape[2] ** 2,
        (Z.shape[0], Z.shape[2]),
    ).copy()
    fplan = FruitPlan((
        Slice(iss=ISSSpec((W("[1][1]"),), weighting="custom",
                          weighting_params={"fn": gfn}),
              sieves=(Sieve("end"),)),
    ))
    feats = compute_features_block(X, fplan)
    # manual: same kernel with the custom lookup
    lookup = gfn(X)
    expect = K.iss(X, W("[1][1]").matrix, extended=1,
                   alpha=np.ones(2), lookup=lookup, total=False)[:, 0, -1]
    np.testing.assert_allclose(feats[:, 0], expect, rtol=1e-12)
    # flat path matches the bucketed path on the same rows
    from fruits_spark.engine.executor import compute_features_flat

    offsets = np.arange(0, 5 * 20 + 1, 20, dtype=np.int64)
    flat_feats = compute_features_flat(X[:, 0, :].ravel(), offsets, fplan)
    np.testing.assert_allclose(flat_feats, feats, rtol=1e-9, atol=1e-12)

    register_letter("SQ", lambda Z, d: Z[:, d, :] ** 2)
    try:
        out = iss_generic(X, [[("SQ", 0)]], 1, "reals")[:, 0, :]
        np.testing.assert_allclose(
            out, np.cumsum(X[:, 0, :] ** 2, axis=1), rtol=1e-12
        )
    finally:
        LETTERS.pop("SQ", None)

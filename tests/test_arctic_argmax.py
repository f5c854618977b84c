"""Arctic argmax tests: semantic properties + per-series slow oracle
(reference semantics: semiring.py:239-279, stream count
p + p(p+1)/2, tested indirectly by the reference's count accounting)."""

import numpy as np

from fruits_spark.kernels.iss import iss, iss_arctic_argmax
from fruits_spark.words import W

RNG = np.random.default_rng(21)


def slow_oracle(x: np.ndarray, exps: list[int]) -> np.ndarray:
    """Per-series scalar re-derivation of the argmax algorithm."""
    length = len(x)
    p = len(exps)
    vals = np.zeros((p, length))
    idxs = np.zeros((p, length))
    tmp = np.zeros(length)
    for k in range(p):
        tmp = tmp + exps[k] * x
        best, bi = tmp[0], 0
        for t in range(length):
            if t > 0 and tmp[t] > best:
                best, bi = tmp[t], t
            vals[k, t], idxs[k, t] = best, bi
        if k < p - 1:
            run = tmp.copy()
            for t in range(1, length):
                run[t] = max(run[t - 1], run[t])
            tmp = run
    n_out = p + p * (p + 1) // 2
    out = np.zeros((n_out, length))
    for k in range(p - 1, -1, -1):
        index = k + k * (k + 1) // 2
        out[index] = vals[k]
        out[index + k + 1] = idxs[k]
        for s in range(k, 0, -1):
            c = int(out[index + s + 1, -1]) + 1
            out[index + s, :c] = idxs[s - 1][:c]
            out[index + s, c:] = idxs[s - 1][c - 1]
    return out


def test_matches_slow_oracle():
    for word in ["[1]", "[1][1]", "[11][1][1]"]:
        exps = [int(r[0]) for r in W(word).matrix]
        X = RNG.random((8, 1, 30))
        got = iss_arctic_argmax(X, W(word).matrix)
        for m in range(8):
            np.testing.assert_allclose(
                got[m], slow_oracle(X[m, 0], exps), rtol=1e-12
            )


def test_value_streams_match_plain_arctic():
    X = RNG.random((10, 2, 40))
    w = W("[1][2]")
    out = iss_arctic_argmax(X, w.matrix)
    plain = iss(X, w.matrix, extended=2, semiring="arctic")
    # value stream of prefix 1 at layout index 0, prefix 2 at 1+1+... = 2
    np.testing.assert_allclose(out[:, 0, :], plain[:, 0, :], rtol=1e-12)
    np.testing.assert_allclose(out[:, 2, :], plain[:, 1, :], rtol=1e-12)


def test_argmax_points_at_maximizing_tuple():
    X = RNG.random((6, 1, 25))
    w = W("[1][1]")
    out = iss_arctic_argmax(X, w.matrix)
    # final values: max over i<=j of x_i + x_j; indices (i*, j*) recover it
    x = X[:, 0, :]
    vals = out[:, 2, -1]
    i_star = out[:, 3, -1].astype(int)
    j_star = out[:, 4, -1].astype(int)
    assert np.all(i_star <= j_star)
    np.testing.assert_allclose(
        vals, x[np.arange(6), i_star] + x[np.arange(6), j_star], rtol=1e-12
    )


def test_stream_count():
    for p, expect in [(1, 2), (2, 5), (3, 9)]:
        w = W("[1]" * p)
        out = iss_arctic_argmax(RNG.random((2, 1, 10)), w.matrix)
        assert out.shape[1] == expect


def test_argmax_through_plan_layer():
    from fruits_spark.engine.executor import compute_features_block
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan

    fplan = FruitPlan((
        Slice(iss=ISSSpec((W("[1][1]"),), semiring="arctic", argmax=True),
              sieves=(Sieve("end"),)),
    ))
    assert fplan.n_features() == 5  # 2 value + 3 index streams x END
    # flat == bucketed for argmax is pinned in test_flat_kernels
    labels = fplan.feature_labels()
    assert labels[0].startswith("[1]:arctic")
    X = RNG.random((4, 1, 15))
    feats = compute_features_block(X, fplan)
    raw = iss_arctic_argmax(X, W("[1][1]").matrix)
    np.testing.assert_allclose(feats, raw[:, :, -1], rtol=1e-12)

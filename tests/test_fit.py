"""Fit-stage tests: per-stream fitted quantile bands (fruit.py:488-496),
PPV probability quantiles (implicit.py:99-113), global STD stats."""

import numpy as np
import pandas as pd

from fruits_spark.engine.executor import compute_features_block
from fruits_spark.fit import fit_plan_pandas
from fruits_spark.kernels import iss as KI
from fruits_spark.plan import ISSSpec, Prep, Sieve, Slice, FruitPlan
from fruits_spark.words import W

RNG = np.random.default_rng(5)


def sample_pdf(n=50, length=30):
    return pd.DataFrame(
        {
            "doc_id": range(n),
            "tokens": [RNG.integers(0, 100, length).tolist() for _ in range(n)],
        }
    )


def test_fitted_band_quantiles_per_stream():
    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W("[1][11]"),), mode="extended"),
                sieves=(Sieve("max", {"q": (-1.0, 0.5, 1.0)}),),
            ),
        )
    )
    assert fplan.slices[0].sieves[0].requires_fitting()
    pdf = sample_pdf()
    fitted = fit_plan_pandas(pdf, fplan)
    sv = fitted.slices[0].sieves[0]
    qps = sv.params["q_values_per_stream"]
    assert len(qps) == 2  # one per stream ([1] and [1][11])
    assert qps[0] != qps[1]

    # manual check: the 0.5 quantile of the FIRST stream's values
    X = np.array([t for t in pdf["tokens"]], dtype=np.float64)[:, None, :]
    s0 = KI.iss(X, W("[1]").matrix)[:, 0, :]
    assert np.isclose(sorted(qps[0])[1], np.quantile(s0, 0.5))

    # executor consumes the fitted values (band (q50, inf])
    feats = compute_features_block(X, fitted)
    cuts = np.array([[0, X.shape[2]]] * len(X))
    expected0 = np.where(
        (s0 > sorted(qps[0])[1]).any(axis=1),
        np.where(s0 > sorted(qps[0])[1], s0, -np.inf).max(axis=1),
        0.0,
    )
    np.testing.assert_allclose(feats[:, 1], expected0, rtol=1e-12)


def test_fitted_ppv_quantile():
    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W("[1]"),)),
                sieves=(Sieve("ppv", {"quantiles": [0.5], "constant": [False]}),),
            ),
        )
    )
    assert fplan.slices[0].sieves[0].requires_fitting()
    pdf = sample_pdf()
    fitted = fit_plan_pandas(pdf, fplan)
    qv = fitted.slices[0].sieves[0].params["quantiles_per_stream"][0][0]
    X = np.array([t for t in pdf["tokens"]], dtype=np.float64)[:, None, :]
    s = KI.iss(X, W("[1]").matrix)[:, 0, :]
    assert np.isclose(qv, np.quantile(s, 0.5))
    feats = compute_features_block(X, fitted)
    np.testing.assert_allclose(feats[:, 0], (s >= qv).mean(axis=1))


def test_fitted_global_std():
    fplan = FruitPlan(
        (
            Slice(
                preps=(Prep("std", {"separately": False}),),
                iss=ISSSpec((W("[1]"),)),
                sieves=(Sieve("end"),),
            ),
        )
    )
    pdf = sample_pdf()
    fitted = fit_plan_pandas(pdf, fplan)
    prm = fitted.slices[0].preps[0].params
    allv = np.concatenate([np.asarray(t, dtype=float) for t in pdf["tokens"]])
    assert np.isclose(prm["mean"], allv.mean())
    assert np.isclose(prm["stdev"], allv.std())
    X = np.array([t for t in pdf["tokens"]], dtype=np.float64)[:, None, :]
    feats = compute_features_block(X, fitted)
    manual = ((X[:, 0, :] - prm["mean"]) / (prm["stdev"] + 1e-5)).cumsum(axis=1)[:, -1]
    np.testing.assert_allclose(feats[:, 0], manual, rtol=1e-12)


def test_flat_respects_fitted_values():
    from fruits_spark.engine.executor import compute_features_flat
    from fruits_spark.kernels.segments import flatten_lists

    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W("[1][11]"),), mode="extended"),
                sieves=(
                    Sieve("max", {"q": (-1.0, 0.5, 1.0)}),
                    Sieve("ppv", {"quantiles": [0.3], "constant": [False]}),
                ),
            ),
        )
    )
    pdf = sample_pdf(40, 25)
    fitted = fit_plan_pandas(pdf, fplan)
    values, offsets = flatten_lists(pdf["tokens"])
    X = np.array([t for t in pdf["tokens"]], dtype=np.float64)[:, None, :]
    expect = compute_features_block(X, fitted)
    np.testing.assert_allclose(
        compute_features_flat(values, offsets, fitted), expect, rtol=1e-12
    )

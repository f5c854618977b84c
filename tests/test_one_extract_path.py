"""Every plan runs flat: per-prep parity of the flat executor against the
bucketed 3-D oracle, and edge inputs where the flat path must return the
oracle's numbers or raise its error (words reading dims the input lacks,
negative DIM indices, all-empty sub-batches, mixed dim counts,
rows whose dims differ in length, a multivariate column read without
``multivariate=True``) — checked through ``extract_features``, not only
through kernels."""

from __future__ import annotations

import numpy as np
import pytest

from fruits_spark.engine import executor as EX
from fruits_spark.plan import CosWISSSpec, FruitPlan, ISSSpec, Prep, Sieve, Slice
from fruits_spark.words import W

SIEVES = (Sieve("end"), Sieve("max"), Sieve("end", {"cuts": [0.5]}))
WORDS = (W("[1]"), W("[11]"), W("[1][1]"))

# one entry per Prep kind, plus wrappers around preps without a flat
# kernel and the dim-changing MAV(-1); inputs have 2 dims
PREPS = {
    "inc": Prep("inc", {"shift": 2}),
    "std": Prep("std"),
    "nrm": Prep("nrm", {"scale_dim": True}),
    "mav": Prep("mav", {"width": 3}),
    "mav_dims": Prep("mav", {"width": -1}),
    "lag": Prep("lag"),
    "dot": Prep("dot", {"n": 2}),
    "win": Prep("win", {"start": 0.2, "end": 0.8}),
    "cts": Prep("cts", {"s": 2}),
    "qtc": Prep("qtc", {"q_value": 3.0}),
    "ffn": Prep("ffn", {
        "w1": np.array([[0.5, -1.0], [1.5, 0.25], [-0.75, 1.0]]),
        "b1": np.array([0.1, -0.2, 0.3]),
        "w2": np.array([[1.0, -0.5, 0.25], [0.5, 0.5, -1.0]]),
        "b2": np.array([0.0, 0.1]),
    }),
    "rin": Prep("rin", {"kernel": np.array([0.5, 0.25])}),
    "rdw": Prep("rdw", {"weights": np.array([1.0, 2.0])}),
    "jld": Prep("jld", {"proj": np.array([[1.0, -0.5], [0.25, 2.0],
                                          [-1.0, 1.0]])}),
    "spe": Prep("spe", {"freq": 0.5}),
    "rpe": Prep("rpe", {"freq": 0.5}),
    "fun": Prep("fun", {"f": lambda Z: 2.0 * Z[:, ::-1, :] + 1.0}),
    "dil": Prep("dil", {"indices": np.array([1, 5]),
                        "lengths": np.array([2, 1])}),
    "pdd": Prep("pdd", {"indices": np.array([0, 4]), "width": 1}),
    "new_mav": Prep("new", {"prep": Prep("mav", {"width": 2})}),
    "new_copy": Prep("new"),
    "dim_cts": Prep("dim", {"dims": [-1], "prep": Prep("cts", {"s": 1})}),
    "dim_jld": Prep("dim", {"dims": [0],
                            "prep": Prep("jld", {"proj": np.array([[2.0],
                                                                   [-1.0]])})}),
}


def _plan(prep: Prep) -> FruitPlan:
    return FruitPlan((
        Slice(preps=(prep,), iss=ISSSpec(WORDS, mode="extended"),
              sieves=SIEVES),
    ))


def _batch(int_domain: bool, d: int = 2, n: int = 30, seed: int = 5):
    rng = np.random.default_rng(seed)
    lengths = rng.integers(3, 25, size=n)
    lengths[4] = 0  # an empty doc in the middle
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    if int_domain:
        cols = [rng.integers(-5, 10, size=int(offsets[-1])).astype(float)
                for _ in range(d)]
    else:
        cols = [rng.normal(size=int(offsets[-1])) for _ in range(d)]
    return cols, offsets


def _oracle(cols, offsets, fplan) -> np.ndarray:
    """compute_features_block per length group — the bucketed route."""
    lengths = np.diff(offsets)
    out = np.zeros((len(lengths), fplan.n_features()))
    for ln in np.unique(lengths[lengths > 0]):
        rows = np.nonzero(lengths == ln)[0]
        Z = np.stack([
            np.stack([c[offsets[r]:offsets[r + 1]] for c in cols])
            for r in rows
        ])
        out[rows] = EX.compute_features_block(Z, fplan)
    return out


def test_every_prep_kind_is_covered():
    assert {p.kind for p in PREPS.values()} == {
        "inc", "std", "nrm", "mav", "lag", "dot", "win", "cts", "qtc",
        "ffn", "rin", "rdw", "jld", "spe", "rpe", "fun", "dil", "pdd",
        "new", "dim",
    }


@pytest.mark.parametrize("int_domain", [True, False])
@pytest.mark.parametrize("name", list(PREPS))
def test_flat_matches_block_for_every_prep(name, int_domain):
    fplan = _plan(PREPS[name])
    cols, offsets = _batch(int_domain)
    got = EX.compute_features_flat(cols, offsets, fplan)
    np.testing.assert_allclose(
        got, _oracle(cols, offsets, fplan), rtol=1e-9, atol=1e-9
    )


def test_wrapper_around_a_length_changing_prep_raises():
    # the oracle's concatenate fails on mismatched lengths too
    fplan = _plan(Prep("new", {"prep": Prep("lag")}))
    cols, offsets = _batch(True)
    with pytest.raises(ValueError, match="changes the series length"):
        EX.compute_features_flat(cols, offsets, fplan)


def _mv_df(spark, docs):
    return spark.createDataFrame(
        [(i, dims, "s", len(dims[0]) if dims else 0)
         for i, dims in enumerate(docs)],
        "doc_id long, dims array<array<double>>, source string, n_tok int",
    ).coalesce(1)


def _extract(df, fplan):
    fcols = EX.feature_columns(fplan)
    pdf = (
        EX.extract_features(df, fplan, tokens_col="dims", multivariate=True)
        .toPandas().sort_values("doc_id")
    )
    return pdf[fcols].to_numpy()


def _block_rows(docs, fplan):
    out = np.zeros((len(docs), fplan.n_features()))
    for i, dims in enumerate(docs):
        if dims and len(dims[0]):
            out[i] = EX.compute_features_block(
                np.asarray(dims, dtype=np.float64)[np.newaxis], fplan
            )[0]
    return out


@pytest.mark.parametrize("leaf", ["int32", "float64"])
@pytest.mark.parametrize("sliced", [False, True])
def test_read_lists_matches_a_row_loop(leaf, sliced):
    """The Arrow reader's vectorised gathers equal a per-row loop over
    the same docs: groups in order of first dim count, 0-dim and 0-step
    rows, and a sliced column (offsets not starting at 0)."""
    import pyarrow as pa

    from fruits_spark.kernels.segments import read_lists

    rng = np.random.default_rng(23)
    docs = [rng.integers(-5, 9, size=(int(rng.choice([0, 1, 2, 3])),
                                      int(rng.integers(0, 6)))).tolist()
            for _ in range(40)]
    col = pa.array(docs, type=pa.list_(pa.list_(getattr(pa, leaf)())))
    uni = [d[0] for d in docs if len(d) == 1]
    ucol = pa.array(uni, type=pa.list_(getattr(pa, leaf)()))
    if sliced:
        col, docs = col.slice(5, 30), docs[5:35]
        ucol, uni = ucol.slice(2, len(uni) - 4), uni[2:-2]
    cases = [(col, docs), (ucol, [[u] for u in uni])]
    for arr, rows in cases:
        groups = read_lists(arr)
        n_dims = [len(r) for r in rows]
        assert [len(cols) for _, cols, _ in groups] == list(dict.fromkeys(n_dims))
        for pos, cols, offsets in groups:
            assert pos.tolist() == [i for i, d in enumerate(n_dims)
                                    if d == len(cols)]
            for k, c in enumerate(cols):
                want = [float(x) for i in pos for x in rows[i][k]]
                assert c.dtype == np.float64 and c.tolist() == want
            assert offsets.tolist() == np.cumsum(
                [0] + [len(rows[i][0]) if rows[i] else 0 for i in pos]
            ).tolist()


def test_mixed_dim_batch_splits_by_dim_count(spark, monkeypatch):
    """2- and 3-channel docs (plus 0-dim and 0-step docs) in ONE Arrow
    batch, with a prep that has no flat kernel: each dim group runs
    flat on its own and matches the bucketed oracle."""
    rng = np.random.default_rng(17)
    docs = []
    for i in range(24):
        d = (2, 3)[i % 2]
        docs.append(rng.integers(-4, 6, size=(d, int(rng.integers(3, 15))))
                    .astype(float).tolist())
    docs[5] = []
    docs[8] = [[], []]
    fplan = FruitPlan((
        Slice(preps=(Prep("mav", {"width": 2}),),
              iss=ISSSpec((W("[1]"), W("[12]"), W("[1][2]")),
                          mode="extended"),
              sieves=(Sieve("end"), Sieve("max"))),
    ))
    df = _mv_df(spark, docs)
    want = _block_rows(docs, fplan)
    np.testing.assert_allclose(_extract(df, fplan), want,
                               rtol=1e-9, atol=1e-9)
    monkeypatch.setenv("SPARK_GRAFT_TOKEN_BUDGET", "40")
    np.testing.assert_allclose(_extract(df, fplan), want,
                               rtol=1e-9, atol=1e-9)
    # a row whose dims differ in length has no oracle value (NumPy would
    # broadcast the short dim, or read the row as an empty doc): it
    # raises, wherever it sits in the mixed batch
    for bad in ([[1.0, 2.0, 3.0], [5.0]], [[], [1.0, 2.0, 3.0]]):
        with pytest.raises(Exception, match="dims differ in length"):
            _extract(_mv_df(spark, docs[:7] + [bad] + docs[7:]), fplan)


_TOO_WIDE = {
    "reals": ISSSpec((W("[12]"),)),
    "weighted": ISSSpec((W("[1][12]"),), weighting="indices"),
    "argmax": ISSSpec((W("[12]"),), semiring="arctic", argmax=True),
    "coswiss": CosWISSSpec((W("[12]"),), (0.5,)),
}


@pytest.mark.parametrize("kind", list(_TOO_WIDE))
def test_word_wider_than_univariate_input_raises(spark, kind):
    df = spark.createDataFrame(
        [(0, [1, 2, 3], "s", 3), (1, [4, 5], "s", 2)],
        "doc_id long, tokens array<int>, source string, n_tok int",
    )
    fplan = FruitPlan((Slice(iss=_TOO_WIDE[kind], sieves=(Sieve("end"),)),))
    with pytest.raises(Exception, match="word uses dim 2 but input has 1"):
        EX.extract_features(df, fplan).collect()


def test_multivariate_flag_must_match_the_column_type(spark):
    """A 1-step 2-channel doc read without ``multivariate=True`` is not
    the univariate doc ``[1, 2]``: the flag is checked against the
    column's type, both ways."""
    fplan = FruitPlan((Slice(iss=ISSSpec((W("[1]"),)), sieves=(Sieve("end"),)),))
    with pytest.raises(ValueError,
                       match=r"multivariate=False.*array<array<double>>"):
        EX.extract_features(_mv_df(spark, [[[1.0], [2.0]]]), fplan,
                            tokens_col="dims")
    uni = spark.createDataFrame(
        [(0, [1, 2], "s", 2)],
        "doc_id long, tokens array<int>, source string, n_tok int",
    )
    with pytest.raises(ValueError, match=r"multivariate=True.*array<int>"):
        EX.extract_features(uni, fplan, multivariate=True)


def test_word_wider_than_input_raises_at_every_chain_level(spark):
    df = _mv_df(spark, [[[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]]])
    wide = FruitPlan((
        Slice(iss=ISSSpec((W("[123]"),)), sieves=(Sieve("end"),)),
    ))
    with pytest.raises(Exception, match="word uses dim 3 but input has 2"):
        _extract(df, wide)
    # level 2 reads a one-column stream
    chained = FruitPlan((
        Slice(iss=(ISSSpec((W("[12]"),)), ISSSpec((W("[12]"),))),
              sieves=(Sieve("end"),)),
    ))
    with pytest.raises(Exception, match="word uses dim 2 but input has 1"):
        _extract(df, chained)


def test_dim_negative_index_matches_dim_wrap(spark):
    from fruits_spark.kernels import prep as KP

    rng = np.random.default_rng(3)
    docs = [rng.integers(-5, 9, size=(3, 11)).astype(float).tolist()
            for _ in range(6)]
    prep = Prep("dim", {"dims": [-1, 0], "prep": Prep("inc")})
    # dim_wrap semantics: remaining dim 1, then the transformed dims 2, 0
    Z = np.asarray(docs[0])[np.newaxis]
    ref = KP.dim_wrap(Z, KP.inc, [-1, 0])
    np.testing.assert_array_equal(ref[0, 0], Z[0, 1])
    fplan = FruitPlan((
        Slice(preps=(prep,),
              iss=ISSSpec((W("[1]"), W("[2][3]"), W("[13]")),
                          mode="extended"),
              sieves=(Sieve("end"), Sieve("max"))),
    ))
    np.testing.assert_array_equal(
        _extract(_mv_df(spark, docs), fplan), _block_rows(docs, fplan)
    )


def test_sub_batch_of_only_zero_dim_rows_gives_zeros(spark, monkeypatch):
    """``[]`` rows (0 dims) alone in a token-budget sub-batch — and a
    whole batch of them — return zero features."""
    fplan = FruitPlan((
        Slice(iss=ISSSpec((W("[1]"), W("[1][2]"))), sieves=(Sieve("end"),)),
    ))
    docs = [[]] * 4 + [[[1.0, 2.0], [3.0, 4.0]]] + [[]] * 3
    monkeypatch.setenv("SPARK_GRAFT_TOKEN_BUDGET", "2")
    got = _extract(_mv_df(spark, docs), fplan)
    np.testing.assert_array_equal(got, _block_rows(docs, fplan))
    only_empty = _extract(_mv_df(spark, [[]] * 5), fplan)
    np.testing.assert_array_equal(only_empty, np.zeros((5, 2)))

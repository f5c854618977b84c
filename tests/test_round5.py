"""Round-5 additions: the routed-read job surface as a library function
(route_query_cells) and its failure modes."""

import pytest
from pyspark.sql import functions as F

import fruits_spark.engine.rollup as RU


def _cells(spark, rows):
    return spark.createDataFrame(
        rows, "run string, source string, bucket int, n_docs long, "
              "sum_tok long, sum_f0 double, max_f0 double",
    )


def test_route_query_cells_dedupes_and_merges_runs(spark):
    # two runs partition the docs; rA's data rows appended twice
    fine_rows = [
        ("rA", "s", b, 1, 10, 1.0, 1.0) for b in range(16)
    ] + [
        ("rB", "s", b, 2, 20, 2.0, 2.0) for b in range(16)
    ]
    fine = _cells(spark, fine_rows + fine_rows[:16])  # rA duplicated
    coarse_rows = [
        ("rA", "s", c, 4, 40, 4.0, 1.0) for c in range(4)
    ] + [
        ("rB", "s", c, 8, 80, 8.0, 2.0) for c in range(4)
    ]
    coarse = _cells(spark, coarse_rows + coarse_rows[4:])  # rB duplicated
    out = RU.route_query_cells(fine, coarse, 4, 2, 14, ["f0"]).collect()
    assert len(out) == 1
    r = out[0]
    # 12 fine buckets x (1 + 2) docs; dedupe must kill the re-appends
    assert r["n_docs"] == 36
    assert r["sum_tok"] == 360
    assert r["sum_f0"] == 36.0
    assert r["max_f0"] == 2.0


def test_route_query_cells_refuses_mismatched_run_sets(spark):
    fine = _cells(spark, [("rA", "s", 0, 1, 10, 1.0, 1.0)])
    coarse = _cells(spark, [("rB", "s", 0, 1, 10, 1.0, 1.0)])
    with pytest.raises(ValueError, match="run sets differ"):
        RU.route_query_cells(fine, coarse, 4, 0, 1, ["f0"])


def test_route_query_cells_matches_direct(spark):
    # routed (coarse interior + fine edges) == direct fine-only recompute
    fine_rows = [
        ("r1", f"s{i % 2}", b, 1 + b % 3, 10 * (1 + b % 3),
         float(b), float(b))
        for i in range(2) for b in range(32)
    ]
    fine = _cells(spark, fine_rows)
    coarse = RU.reagg_tier(
        fine, ["f0"], bucket_expr=F.floor(F.col("bucket") / 8).cast("int")
    ).withColumn("run", F.lit("r1"))
    lo, hi = 3, 29
    routed = {
        r["source"]: (r["n_docs"], r["sum_tok"], r["sum_f0"], r["max_f0"])
        for r in RU.route_query_cells(
            fine, coarse, 8, lo, hi, ["f0"]
        ).collect()
    }
    direct = {
        r["source"]: (r["n_docs"], r["sum_tok"], r["sum_f0"], r["max_f0"])
        for r in RU._sql_agg(
            RU._cell_payload(
                fine.where((F.col("bucket") >= lo) & (F.col("bucket") < hi)),
                ["f0"],
            ),
            ["source"], RU.reagg_exprs(["f0"]),
        ).collect()
    }
    assert routed == direct


def test_multisine_known_spectrum_through_extract(spark):
    """multisine parity sweep (reference corbeille/data.py:25-123):
    with zero noise every row IS its class model, so the END feature of
    word [1] equals the model's cumulative sum — checked against the
    numpy model directly; labels follow the reference's contiguous
    block layout with the remainder loop."""
    import numpy as np

    from fruits_spark import datagen as DG
    from fruits_spark.engine.executor import extract_features, feature_columns
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W

    coeff = np.array([
        [[1.0, 1.0, 0.0], [0.5, 3.0, 0.7]],
        [[2.0, 2.0, 1.0], [0.25, 5.0, 0.1]],
        [[1.5, 0.5, 0.4], [1.0, 4.0, 2.0]],
    ])
    df = DG.multisine_spark(
        spark, n_rows=10, length=64, n_classes=3, coefficients=coeff,
        noise_std=0.0,
    )
    rows = df.orderBy("doc_id").collect()
    # 10 over 3 classes: remainder lands on class remain % n_classes = 1
    # (reference data.py:70-75 loop) -> sizes [3, 4, 3]
    assert [r["label"] for r in rows] == [0]*3 + [1]*4 + [2]*3
    models = DG.multisine_models(64, 3, coefficients=coeff)
    np.testing.assert_allclose(rows[0]["tokens"], models[0], rtol=1e-12)
    np.testing.assert_allclose(rows[9]["tokens"], models[2], rtol=1e-12)

    fplan = FruitPlan(
        (Slice(iss=ISSSpec((W("[1]"),)), sieves=(Sieve("end"),)),)
    )
    fc = feature_columns(fplan)
    out = extract_features(
        df.withColumn("source", F.lit("s")), fplan,
        keep=("doc_id", "label", "source", "n_tok"),
    ).orderBy("doc_id").collect()
    for r in out:
        np.testing.assert_allclose(
            r[fc[0]], models[r["label"]].sum(), rtol=1e-9
        )


def test_multisine_noise_deterministic_and_seeded(spark):
    from fruits_spark import datagen as DG

    a = DG.multisine_spark(spark, n_rows=6, length=16, seed=3)
    b = DG.multisine_spark(spark, n_rows=6, length=16, seed=3)
    c = DG.multisine_spark(spark, n_rows=6, length=16, seed=4)
    ra = [r["tokens"] for r in a.orderBy("doc_id").collect()]
    rb = [r["tokens"] for r in b.orderBy("doc_id").collect()]
    rc = [r["tokens"] for r in c.orderBy("doc_id").collect()]
    assert ra == rb            # bit-identical across runs
    assert ra != rc            # seed moves both coefficients and noise
    # noise is per-position independent: values differ inside a row
    assert len(set(ra[0])) > 10


def _assert_trie_matches_bucketed(seg, offsets, cols, spec, err_msg):
    """The executor's prefix trie vs the bucketed oracle run per doc on
    the doc alone, with the trie's own lookup rows: bit for bit."""
    import numpy as np

    from fruits_spark.engine.executor import (
        _Source, _emit_level_flat, _lookup_flat,
    )
    from fruits_spark.kernels import iss as KI

    src = _Source(seg, cols)
    lookup = _lookup_flat(spec, seg, cols, src)
    # negative exponents divide by the zeros in pad lanes
    with np.errstate(divide="ignore", invalid="ignore"):
        got = {
            i: seg.leave(stream)
            for i, stream in _emit_level_flat(seg, cols, spec, src)
        }
    flat_lookup = None if lookup is None else seg.leave(lookup)
    flat_cols = [seg.leave(c) for c in cols]
    pplan = spec.plan()
    for j in range(seg.n):
        s, e = offsets[j], offsets[j + 1]
        if e == s:
            continue
        Z = np.stack([c[s:e] for c in flat_cols])[np.newaxis]
        lk = None if lookup is None else flat_lookup[s:e][np.newaxis]
        i = 0
        for wi, w in enumerate(spec.words):
            depth = pplan.depth(wi) if pplan is not None else 1
            if depth == 0:
                continue
            want = KI.iss(
                Z, w.matrix, extended=depth, semiring=spec.semiring,
                alpha=np.array(w.alpha, dtype=np.float32), lookup=lk,
                total=spec.total,
            )[0]
            for lvl in range(depth):
                np.testing.assert_array_equal(
                    got[i][s:e], want[lvl],
                    err_msg=f"{err_msg}/doc {j}/stream {i}",
                )
                i += 1
        assert i == len(got), err_msg


def test_weighted_cse_bit_identical_to_per_word():
    """The prefix-CSE emitter must reproduce the bucketed oracle's
    per-word streams BIT-exactly on every doc (shared-prefix scans are
    the same op sequences) for every semiring, weighted or not,
    univariate and mv, incl. alternate-sign alphas, words sharing
    letters at depth 0, bayesian letters with exponent >= 2 and
    negative exponents."""
    import itertools

    import numpy as np

    from fruits_spark.kernels import flat as KF
    from fruits_spark.plan import ISSSpec
    from fruits_spark.words import W, alternate_sign, of_weight

    cases = [
        (tuple(of_weight(3, 1)), "reals", 1),
        (tuple(of_weight(3, 2)), "reals", 2),
        (tuple(alternate_sign([W("[1][1][1]"), W("[1][1]")])), "arctic", 1),
        (tuple(of_weight(2, 2)), "arctic", 2),
        ((W("[1][11]"), W("[1][2]"), W("[1][11]")), "bayesian", 2),
        ((W("[11][1]"), W("[11][1][1]")), "bayesian", 1),
        ((W("[1][11]"), W("[1][111]")), "bayesian", 1),
        ((W("[1][(-1)]"), W("[12][1]")), "reals", 2),
        ((W("[1][(-1)]"), W("[12][1]")), "bayesian", 2),
    ]
    for seed in (7, 8):
        rng = np.random.default_rng(seed)
        lengths = rng.integers(0, 40, size=12)
        offsets = np.zeros(13, dtype=np.int64)
        np.cumsum(lengths, out=offsets[1:])
        seg = KF.Seg(offsets)
        cols = [seg.enter(rng.normal(size=int(offsets[-1])))
                for _ in range(2)]
        for (words, semiring, d), weighting, mode, total in (
            itertools.product(cases, (None, "indices"),
                              ("single", "extended"), (False, True))
        ):
            spec = ISSSpec(words, mode=mode, semiring=semiring,
                           weighting=weighting, total=total)
            _assert_trie_matches_bucketed(
                seg, offsets, cols[:d], spec,
                f"seed {seed}/{semiring}/{weighting}/{mode}/d={d}"
                f"/total={total}",
            )


def test_unweighted_cse_duplicate_words_single_mode():
    """Duplicate words in SINGLE mode each owe their own stream (the
    reference counts them separately); the prefix-CSE trie must yield
    the shared node once per owed index — this used to die with
    'stream accounting: 2 != 3'."""
    import numpy as np

    from fruits_spark.engine.executor import compute_features_flat
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W

    rng = np.random.default_rng(7)
    lengths = rng.integers(1, 20, size=5)
    offsets = np.zeros(6, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    x = rng.normal(size=int(offsets[-1]))
    # [1][2] reads dim 2: the input needs two columns (one raises)
    cols = [x, 0.5 * x]
    for extra in ({}, {"weighting": "indices"}):
        spec = ISSSpec((W("[1][11]"), W("[1][2]"), W("[1][11]")),
                       mode="single", **extra)
        fplan = FruitPlan((Slice(iss=spec, sieves=(Sieve("end"),)),))
        out = compute_features_flat(cols, offsets, fplan)
        assert out.shape[1] == 3
        np.testing.assert_array_equal(out[:, 0], out[:, 2])
        assert out[:, 0].any()


def test_weighted_total_flat_matches_bucketed_all_semirings():
    """Weighted + total=True on the flat path vs the bucketed kernels
    for every semiring, univariate and multivariate, bit for bit.  Pins
    the round-5 fix: flat bayesian used to silently run the NON-total
    recurrence for this combo (max err ~0.2)."""
    import numpy as np

    from fruits_spark.kernels import flat as KF
    from fruits_spark.plan import ISSSpec
    from fruits_spark.words import W

    rng = np.random.default_rng(3)
    lengths = np.array([7, 1, 0, 9, 24])
    offsets = np.zeros(6, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    seg = KF.Seg(offsets)
    # bayesian multiplies magnitudes — keep near 1
    cols = [seg.enter(0.5 + 0.2 * rng.random(int(offsets[-1])))
            for _ in range(2)]

    for semiring in ("reals", "arctic", "bayesian"):
        for d, word in ((1, W("[1][11][1]")), (2, W("[1][12][2]"))):
            spec = ISSSpec((word,), mode="extended", semiring=semiring,
                           weighting="indices", total=True)
            _assert_trie_matches_bucketed(seg, offsets, cols[:d], spec,
                                          f"{semiring}/d={d}")


def test_embedding_near_dups_gram_matches_expr(spark):
    """The dense-bucket gram verifier must emit exactly the expr path's
    pairs (same integer dots, same HALF_UP rounding)."""
    import numpy as np

    from fruits_spark.pipeline import embedding_near_dups

    rng = np.random.default_rng(11)
    planes = rng.choice(np.array([-1.0, 1.0]), size=(4, 8))
    rows = []
    for i in range(300):
        base = rng.normal(size=8)
        rows.append((i, [float(v) for v in base]))
        if i % 7 == 0:  # planted near-dup
            rows.append((i + 1000, [float(v + 0.01 * rng.normal())
                                    for v in base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = {
        (r["id_a"], r["id_b"], r["cosine_r6"])
        for r in embedding_near_dups(emb, planes, threshold=0.5).collect()
    }
    b = {
        (r["id_a"], r["id_b"], r["cosine_r6"])
        for r in embedding_near_dups(
            emb, planes, threshold=0.5, verify="pandas"
        ).collect()
    }
    assert len(a) > 40  # planted pairs actually found
    assert a == b


def test_all_empty_batch_through_flat_paths(spark, monkeypatch):
    """A token-budget split can leave a sub-batch holding ONLY
    zero-token docs; Seg.shift1 used to IndexError on the empty batch.
    Both univariate and multivariate flat extraction must return zero
    features for such rows."""
    import numpy as np

    from fruits_spark.engine.executor import (
        compute_features_flat, extract_features, feature_columns,
    )
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W

    # kernel level: an entirely-empty batch
    fplan_uv = FruitPlan(
        (Slice(iss=ISSSpec((W("[1][1]"),)), sieves=(Sieve("end"),)),)
    )
    offsets = np.zeros(4, dtype=np.int64)
    out = compute_features_flat(np.array([]), offsets, fplan_uv)
    assert out.shape == (3, 1) and not out.any()

    # Spark level: huge doc + trailing empty docs + tiny budget forces
    # an all-empty trailing sub-batch (mv route)
    monkeypatch.setenv("SPARK_GRAFT_TOKEN_BUDGET", "10")
    fplan = FruitPlan(
        (Slice(iss=ISSSpec((W("[1][2]"),)), sieves=(Sieve("end"),)),)
    )
    rows = [
        (0, [[1.0] * 30, [2.0] * 30], "s", 30),
        (1, [[], []], "s", 0),
        (2, [[], []], "s", 0),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, dims array<array<double>>, source string, n_tok int",
    )
    fc = feature_columns(fplan)
    out = (
        extract_features(df.coalesce(1), fplan, tokens_col="dims",
                         multivariate=True)
        .toPandas().sort_values("doc_id")
    )
    assert len(out) == 3
    assert out[fc[0]].iloc[0] != 0.0
    assert (out[fc[0]].iloc[1:] == 0.0).all()

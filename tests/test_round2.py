"""Round-2 additions: resolution ops, FRB1 multimodal decode,
coarser-from-finer re-agg, two-phase top-k, portable hash."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _tok_df(spark, n_docs=40):
    rows = []
    for d in range(n_docs):
        n = (d % 13) + 4
        toks = [((d + 1) * 48271 + i * 16807) % 101 for i in range(n)]
        rows.append((d, "s%d" % (d % 3), n, toks))
    return spark.createDataFrame(
        rows, "doc_id long, source string, n_tok int, tokens array<int>"
    )


# --- resolution ops --------------------------------------------------------

def test_downsample_upsample_lengthen_match_reference_numpy(spark):
    from fruits_spark import resolution as RS

    df = _tok_df(spark).withColumn("down", RS.downsample("tokens", 0.5)) \
        .withColumn("up", RS.upsample("tokens")) \
        .withColumn("lng", RS.lengthen("tokens", 0.25))
    for r in df.collect():
        x = np.asarray(r["tokens"], dtype=np.float64)
        # reference downsample: X[:, :, ::n] (data.py:389-402)
        assert list(r["down"]) == list(x[::2].astype(int))
        # reference upsample: interleave with midpoints, length 2l-1
        # (data.py:405-417)
        up = np.asarray(r["up"])
        assert len(up) == 2 * len(x) - 1
        assert np.array_equal(up[::2], x)
        assert np.array_equal(up[1::2], (x[:-1] + x[1:]) / 2.0)
        # reference lengthen: pad int(0.25*l) copies of the last value
        add = int(0.25 * len(x))
        assert list(r["lng"]) == list(x.astype(int)) + [int(x[-1])] * add


def test_implant_stuttering_collapse_invariant(spark):
    from fruits_spark import resolution as RS

    df = RS.implant_stuttering(_tok_df(spark), seed=7)
    for r in df.collect():
        x = list(r["tokens"])
        st = list(r["stuttered"])
        assert len(st) == len(x) + int(0.1 * len(x))
        collapsed = [v for i, v in enumerate(st)
                     if i == 0 or v != st[i - 1]]
        # source stream has no consecutive duplicates, so collapsing
        # consecutive repeats must recover it exactly
        assert collapsed == x


def test_implant_stuttering_partitioning_independent(spark):
    from fruits_spark import resolution as RS

    base = _tok_df(spark)
    a = {r["doc_id"]: list(r["stuttered"])
         for r in RS.implant_stuttering(base.repartition(1), seed=3).collect()}
    b = {r["doc_id"]: list(r["stuttered"])
         for r in RS.implant_stuttering(base.repartition(7), seed=3).collect()}
    assert a == b


# --- multimodal FRB1 -------------------------------------------------------

def test_frb1_roundtrip(spark):
    from fruits_spark.multimodal import decode_frames, synth_frame_blobs

    docs = spark.range(0, 30).select(F.col("id").alias("doc_id"))
    dec = decode_frames(synth_frame_blobs(docs)).collect()
    assert len(dec) == 30
    for r in dec:
        d = r["doc_id"]
        nf, w, h = d % 7 + 2, d % 5 + 2, d % 3 + 2
        assert (r["n_frames"], r["width"], r["height"]) == (nf, w, h)
        assert r["n_bytes"] == 4 + nf * w * h
        for f, s in enumerate(r["frame_sums"]):
            expect = sum(
                ((d + 1) * 31 + f * 7 + p * 3) % 251 for p in range(w * h)
            )
            assert s == expect


def test_frb1_rejects_corrupt_blob(spark):
    from fruits_spark.multimodal import decode_frames

    bad = spark.createDataFrame(
        [(0, bytearray(b"\x00\x01\x02\x03"))], "doc_id long, blob binary"
    )
    with pytest.raises(Exception, match="FRB1"):
        decode_frames(bad).collect()


# --- coarser-from-finer re-agg ---------------------------------------------

def test_reagg_tier_equals_direct_rollup(spark):
    from fruits_spark.engine import rollup as RU
    from fruits_spark.engine.executor import extract_features, feature_columns
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W

    fplan = FruitPlan(
        (Slice(iss=ISSSpec((W("[1]"),)), sieves=(Sieve("end"),)),)
    )
    fc = feature_columns(fplan)
    feats = extract_features(_tok_df(spark), fplan)
    fine = RU.rollup_tier(
        feats, RU.Tier("t1k", 1000), 16, fc,
        bucket_expr=(F.col("doc_id") % 16).cast("int"),
    )
    via_fine = RU.reagg_tier(
        fine, fc, bucket_expr=(F.col("bucket") % 4).cast("int")
    )
    direct = RU.rollup_tier(
        feats, RU.Tier("t4", 4000), 4, fc,
        bucket_expr=((F.col("doc_id") % 16) % 4).cast("int"),
    )
    key = lambda r: (r["source"], r["bucket"])
    a = {key(r): (r["n_docs"], r["sum_tok"], r[f"sum_{fc[0]}"],
                  r[f"max_{fc[0]}"]) for r in via_fine.collect()}
    b = {key(r): (r["n_docs"], r["sum_tok"], r[f"sum_{fc[0]}"],
                  r[f"max_{fc[0]}"]) for r in direct.collect()}
    assert a == b


# --- two-phase top-k -------------------------------------------------------

def test_cosine_topk_matches_window_rank(spark):
    from pyspark.sql import Window
    from fruits_spark.pipeline import cosine_pairs, cosine_topk

    rng = np.random.default_rng(11)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    got = cosine_topk(emb, n_queries=3, k=5, shards=4).collect()
    pairs = cosine_pairs(emb, 3, threshold=-1.1)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_r6"), F.asc("cand_id")
    )
    want = (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .collect()
    )
    key = lambda r: (r["query_id"], r["rank"])
    gm = {key(r): (r["cand_id"], r["cosine_r6"]) for r in got}
    wm = {key(r): (r["cand_id"], r["cosine_r6"]) for r in want}
    assert gm == wm


def test_cosine_topk_external_queries(spark):
    """User-facing search path: external query vectors (their own id
    namespace, no self-filter) must rank identically to a numpy
    brute-force over the same quantized integer math."""
    from fruits_spark.pipeline import cosine_topk

    rng = np.random.default_rng(7)
    base = [[float(v) for v in rng.normal(size=8)] for _ in range(40)]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(base)],
        "vec_id long, embedding array<double>",
    )
    qvecs = [base[3], [float(v) for v in rng.normal(size=8)]]
    qdf = spark.createDataFrame(
        [(100 + i, v) for i, v in enumerate(qvecs)],
        "vec_id long, embedding array<double>",
    )
    got = {}
    for r in cosine_topk(emb, k=4, shards=4, query_df=qdf).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["cand_id"], r["cosine_r6"])
        )
    Q = np.floor(np.array(base) * 10_000).astype(np.int64)
    for qi, qv in enumerate(qvecs):
        qq = np.floor(np.array(qv) * 10_000).astype(np.int64)
        dots = (Q @ qq).astype(np.float64)
        denom = np.sqrt(
            (Q * Q).sum(axis=1).astype(np.float64)
            * float((qq * qq).sum())
        )
        cos = np.round(dots / denom, 6)
        order = sorted(range(len(base)), key=lambda i: (-cos[i], i))[:4]
        want = [(r + 1, int(i), float(cos[i]))
                for r, i in enumerate(order)]
        assert got[100 + qi] == want
    # a query identical to a stored vector must see THAT vector at
    # rank 1 (external ids are not self-filtered)
    assert got[100][0][1] == 3


def test_ivf_topk_external_queries(spark):
    """IVF with external query vectors: ranking over the probed lists
    must equal brute-force cosine_topk restricted to the same lists —
    and a query equal to a stored vector finds it at rank 1."""
    from fruits_spark.pipeline import cosine_topk, ivf_topk

    rng = np.random.default_rng(23)
    base = [[float(v) for v in rng.normal(size=8)] for _ in range(60)]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(base)],
        "vec_id long, embedding array<double>",
    )
    qdf = spark.createDataFrame(
        [(500, base[17])], "vec_id long, embedding array<double>"
    )
    got = [
        (r["rank"], r["cand_id"])
        for r in ivf_topk(
            emb, n_centroids=4, nprobe=4, k=5, shards=4,
            train_iters=0, query_df=qdf,
        ).collect()
    ]
    # nprobe == n_centroids -> every list probed -> must equal exact
    # brute force with the same external query
    want = [
        (r["rank"], r["cand_id"])
        for r in cosine_topk(emb, k=5, shards=4, query_df=qdf).collect()
    ]
    assert got == sorted(want)
    assert got[0] == (1, 17)  # the identical stored vector, rank 1


# --- portable hash ---------------------------------------------------------

def test_portable_hash_matches_python(spark):
    from fruits_spark.pipeline import PORTABLE_MOD, _portable_ab, _portable_hash

    words = ["alpha", "beta gamma", "x", "the quick brown fox"]
    df = spark.createDataFrame([(w,) for w in words], "shingle string")
    A, B = _portable_ab("shingle")
    out = df.withColumn("a", A).withColumn("b", B).withColumn(
        "h0", _portable_hash(F.col("a"), F.col("b"), 0)
    ).withColumn("h5", _portable_hash(F.col("a"), F.col("b"), 5)).collect()
    for r, w in zip(out, words):
        a = sum(ord(c) * (i + 1) for i, c in enumerate(w))
        b = sum(ord(c) for c in w)
        assert r["a"] == a and r["b"] == b
        assert r["h0"] == (48271 * a + 16807 * b) % PORTABLE_MOD
        assert r["h5"] == (48271 * a + 6 * 16807 * b) % PORTABLE_MOD


def test_minhash_portable_equal_docs_collide(spark):
    from fruits_spark.pipeline import minhash_lsh_candidates

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g"),
            (1, "a b c d e f g"),        # exact dup of 0
            (2, "totally different words here now ok"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r["doc_a"], r["doc_b"])
             for r in minhash_lsh_candidates(
                 docs, n_hashes=8, bands=4, hash_fn="portable").collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_ivf_topk_matches_bruteforce_on_probed_lists(spark):
    from fruits_spark.pipeline import (
        cosine_pairs, ivf_centroid_rows, ivf_topk, quantize_embeddings,
    )

    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=8)]) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    got = ivf_topk(emb, n_centroids=4, n_queries=2, nprobe=4, k=6,
                   shards=4).collect()
    # nprobe == n_centroids probes EVERY list -> identical to exact
    # brute-force top-k
    from pyspark.sql import Window
    pairs = cosine_pairs(emb, 2, threshold=-1.1)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_r6"), F.asc("cand_id")
    )
    want = (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 6)
        .collect()
    )
    gm = {(r["query_id"], r["rank"]): r["cand_id"] for r in got}
    wm = {(r["query_id"], r["rank"]): r["cand_id"] for r in want}
    assert gm == wm
    # pruned probe: every result must come from a probed inverted list
    pruned = ivf_topk(emb, n_centroids=4, n_queries=2, nprobe=1, k=6,
                      shards=4)
    assert pruned.count() > 0
    assert pruned.where(F.col("rank") > 6).count() == 0


def test_per_row_token_equality_through_engine_io(spark, tmp_path):
    """input_hint invariant: token arrays survive the engine's write/
    read path (bucketed partitioned parquet) bit-for-bit — a join back
    to the source on doc_id compares every array."""
    from fruits_spark.engine.rollup import bucket_col

    src = _tok_df(spark, 60)
    out = str(tmp_path / "toks")
    (src.withColumn("bucket", bucket_col(8))
        .write.partitionBy("bucket").parquet(out))
    back = spark.read.parquet(out)
    joined = (
        src.alias("a").join(back.alias("b"), "doc_id")
        .select(
            "doc_id",
            F.expr("a.tokens = b.tokens").alias("eq"),
            (F.col("a.n_tok") == F.col("b.n_tok")).alias("eq_n"),
        )
    )
    assert joined.count() == 60
    assert joined.where(~F.col("eq") | ~F.col("eq_n")).count() == 0


# --- whole-plan fuzz: flat hot path vs bucketed reference path -------------

def test_random_plans_flat_equals_bucketed():
    """Fuzz whole FruitPlans across the flat-supported space (preps x
    words x semirings x weightings x sieves) and assert the flat
    segmented path matches the bucketed 3-D reference-parity path on
    random integer series (rtol covers the summation-order rounding of
    ``Seg.sum``: the flat path sums a doc in time order, the bucketed
    path pairwise)."""
    import itertools
    import pandas as pd
    from fruits_spark.engine.executor import (
        compute_features_block, compute_features_flat,
    )
    from fruits_spark.kernels.segments import flatten_lists
    from fruits_spark.plan import FruitPlan, ISSSpec, Prep, Sieve, Slice
    from fruits_spark.words import W

    rng = np.random.default_rng(23)
    preps_pool = [(), (Prep("inc"),), (Prep("std"),), (Prep("nrm"),),
                  (Prep("inc"), Prep("std"))]
    words_pool = [("[1]",), ("[11]", "[1][1]"), ("[1][1][1]",),
                  ("[11][1]", "[111]")]
    spec_pool = [
        dict(semiring="reals"),
        dict(semiring="arctic"),
        dict(semiring="bayesian"),
        dict(semiring="reals", weighting="indices",
             weighting_params={"relative": True, "scale": 1.0}),
        dict(semiring="reals", weighting="l2", weighting_params={}),
        dict(semiring="reals", mode="extended"),
    ]
    sieves_pool = [
        (Sieve("end"),),
        (Sieve("max"), Sieve("min")),
        (Sieve("ppv", {"quantiles": [10.0], "constant": [True]}),),
        (Sieve("end"), Sieve("cur")),
        (Sieve("npi", {"q": (0.0, 1.0), "inc": 1}),),
        (Sieve("end", {"cuts": [0.5]}),),
    ]
    checked = 0
    for trial in range(40):
        n_slices = int(rng.integers(1, 3))
        slices = []
        for _ in range(n_slices):
            kw = dict(spec_pool[int(rng.integers(len(spec_pool)))])
            words = tuple(
                W(w) for w in words_pool[int(rng.integers(len(words_pool)))]
            )
            slices.append(Slice(
                preps=preps_pool[int(rng.integers(len(preps_pool)))],
                iss=ISSSpec(words, **kw),
                sieves=sieves_pool[int(rng.integers(len(sieves_pool)))],
            ))
        fplan = FruitPlan(tuple(slices))
        rows = [rng.integers(0, 50, int(rng.integers(1, 25)))
                .astype(np.float64) for _ in range(int(rng.integers(1, 9)))]
        values, offsets = flatten_lists(pd.Series(rows))
        ff = compute_features_flat(values, offsets, fplan)
        # bucketed oracle: group rows by length
        fb = np.zeros_like(ff)
        lengths = np.array([len(r) for r in rows])
        for ln in np.unique(lengths):
            idx = np.nonzero(lengths == ln)[0]
            Z = np.stack([rows[i] for i in idx])[:, np.newaxis, :]
            fb[idx] = compute_features_block(Z, fplan)
        np.testing.assert_allclose(ff, fb, rtol=1e-8, atol=1e-8)
        checked += 1
    assert checked == 40


def test_tokenize_bridges_to_engine(spark):
    """pipeline.tokenize: raw text -> the engine's token data model,
    flowing straight into extract_features (documents -> ISS end to
    end); ids are portable-hash folded into the vocab, so they are
    deterministic and reproducible in pure Python."""
    from fruits_spark.engine.executor import extract_features, feature_columns
    from fruits_spark.pipeline import PORTABLE_MOD, BPE_ISH_REGEX, tokenize
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    import re

    docs = spark.createDataFrame(
        [(0, "Hello big world 42!", "s0"), (1, "a b a b a", "s1")],
        "doc_id long, text string, source string",
    )
    out = tokenize(docs, vocab_size=1000)
    rows = {r["doc_id"]: r for r in out.collect()}

    def py_tok(text):
        ids = []
        for w in re.findall(BPE_ISH_REGEX, text.lower()):
            a = sum(ord(c) * (i + 1) for i, c in enumerate(w))
            b = sum(ord(c) for c in w)
            ids.append(((48271 * a + 16807 * b) % PORTABLE_MOD) % 1000)
        return ids
    assert list(rows[0]["tokens"]) == py_tok("Hello big world 42!")
    assert rows[0]["n_tok"] == len(py_tok("Hello big world 42!"))
    # identical pieces -> identical ids
    t1 = list(rows[1]["tokens"])
    assert t1[0] == t1[2] == t1[4] and t1[1] == t1[3]

    fplan = FruitPlan(
        (Slice(iss=ISSSpec((W("[1]"),)), sieves=(Sieve("end"),)),)
    )
    fc = feature_columns(fplan)
    feats = {r["doc_id"]: r[fc[0]]
             for r in extract_features(out, fplan).collect()}
    assert feats[0] == float(sum(py_tok("Hello big world 42!")))


def test_embedding_near_dups_multi_union_recall(spark):
    from fruits_spark.pipeline import (
        embedding_near_dups, embedding_near_dups_multi,
    )

    rng = np.random.default_rng(3)
    base = rng.normal(size=(30, 16))
    vecs = list(base) + [v + rng.normal(scale=0.01, size=16) for v in base[:5]]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    tables = [rng.choice([-1.0, 1.0], size=(6, 16)) for _ in range(3)]
    single = {(r["id_a"], r["id_b"])
              for r in embedding_near_dups(emb, tables[0], 0.9).collect()}
    multi = {(r["id_a"], r["id_b"])
             for r in embedding_near_dups_multi(emb, tables, 0.9).collect()}
    assert single <= multi          # OR-ing tables only adds recall
    # the 5 planted near-dups (i, 30+i) should all be recovered by 3 tables
    planted = {(i, 30 + i) for i in range(5)}
    assert planted <= multi

"""Round-3 fixes: ADVICE findings (downsample validation, concurrent
retire serialization, bounded multivariate blocks) and new depth work."""

import threading

import numpy as np
import pytest
from pyspark.sql import functions as F

import fruits_spark.engine.executor as EX
import fruits_spark.engine.lineage as LI
from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
from fruits_spark.words import W


def test_downsample_rejects_bad_resolution(spark):
    from fruits_spark.resolution import downsample

    for bad in (1.5, 0.0, -0.5, 2):
        with pytest.raises(ValueError, match="resolution"):
            downsample("tokens", bad)
    downsample("tokens", 1.0)  # boundary ok
    downsample("tokens", 0.25)


def test_retire_runs_concurrent_serialize(spark, tmp_path):
    """Two concurrent retire_runs on the same base must both succeed
    (serialized by the advisory lock) and leave a consistent manifest —
    previously B's clean-up could delete A's staged manifest mid-swap."""
    base = str(tmp_path / "tiers")
    cells = spark.createDataFrame(
        [(f"s{i}", b, 10, 100) for i in range(2) for b in range(4)],
        "source string, bucket int, n_docs long, sum_tok long",
    )
    for rid in ("r1", "r2", "r3", "r4", "keep"):
        LI.commit_cells(cells, spark, base, rid, "t1k", n_points_per_doc=1)

    errs = []
    barrier = threading.Barrier(2)

    def retire(runs):
        try:
            barrier.wait()
            LI.retire_runs(spark, base, ["t1k"], runs)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [
        threading.Thread(target=retire, args=(rs,))
        for rs in (["r1", "r2"], ["r3", "r4"])
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    m = spark.read.parquet(LI.manifest_path(base))
    left = {r["run_id"] for r in m.select("run_id").distinct().collect()}
    assert left == {"keep"}
    assert m.count() == 8


def test_multivariate_block_chunking_matches_unchunked(spark, monkeypatch):
    """A tiny token budget forces extract_features to chunk a
    multivariate batch behind a MAV prep (run per length group by the
    generic prep adapter); features must be identical.

    Integer inputs in multiples of the MAV width keep every window mean
    and prefix sum an exact integer; the flat layout scans and reduces
    each doc on its own, so no chunk boundary can change a doc's
    numbers."""
    rng = np.random.default_rng(7)
    rows = [
        (i, (3 * rng.integers(-4, 5, size=(2, 13))).astype(float).tolist(),
         "s", 13)
        for i in range(9)
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, dims array<array<double>>, source string, n_tok int",
    )
    from fruits_spark.plan import Prep

    fplan = FruitPlan(
        (
            Slice(
                preps=(Prep("mav", {"width": 3}),),
                iss=ISSSpec((W("[1]"), W("[12]"), W("[1][2]"))),
                sieves=(Sieve("end"), Sieve("max")),
            ),
        )
    )
    fcols = EX.feature_columns(fplan)

    def run():
        return (
            EX.extract_features(df, fplan, tokens_col="dims", multivariate=True)
            .toPandas()
            .sort_values("doc_id")[fcols]
            .to_numpy()
        )

    base = run()
    monkeypatch.setenv("SPARK_GRAFT_TOKEN_BUDGET", "30")  # chunk = 1 row
    chunked = run()
    np.testing.assert_array_equal(base, chunked)


def _emb_df(spark, n=80, d=8, seed=5):
    rng = np.random.default_rng(seed)
    return spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=d)]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )


def test_adaptive_topk_shards_bounds():
    from fruits_spark.pipeline import (
        TOPK_GROUP_TARGET, TOPK_TREE_FANIN, adaptive_topk_shards,
    )

    assert adaptive_topk_shards(0) == 32
    assert adaptive_topk_shards(500) == 32  # floor keeps small inputs parallel
    assert adaptive_topk_shards(10**8) == -(-10**8 // TOPK_GROUP_TARGET)
    # per-group buffer stays ~TARGET until the cap
    n = 10**8
    assert n / adaptive_topk_shards(n) <= TOPK_GROUP_TARGET
    assert adaptive_topk_shards(10**15) == TOPK_TREE_FANIN**2  # capped


def test_topk_tree_merge_matches_flat(spark):
    """shards > TOPK_TREE_FANIN routes phase 2 through the tree level;
    results must equal the small-shard (flat) merge exactly."""
    from fruits_spark.pipeline import cosine_topk

    emb = _emb_df(spark)
    flat = cosine_topk(emb, n_queries=3, k=5, shards=4).collect()
    tree = cosine_topk(emb, n_queries=3, k=5, shards=100).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, flat), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, tree), key=lambda t: (t[0], t[3])
    )
    # default (adaptive) path also agrees
    auto = cosine_topk(emb, n_queries=3, k=5).collect()
    assert {key(r): r["cand_id"] for r in auto} == {
        key(r): r["cand_id"] for r in flat
    }


def test_trained_ivf_full_probe_matches_bruteforce(spark):
    """k-means-trained centroids with nprobe == n_centroids must still
    return the exact brute-force top-k (training only moves list
    boundaries, not scores), and training must be deterministic."""
    from fruits_spark.pipeline import cosine_topk, ivf_topk, train_ivf_centroids

    emb = _emb_df(spark, n=60)
    got = ivf_topk(emb, n_centroids=4, n_queries=2, nprobe=4, k=6,
                   shards=4, train_iters=2).collect()
    want = cosine_topk(emb, n_queries=2, k=6, shards=4).collect()
    gm = {(r["query_id"], r["rank"]): r["cand_id"] for r in got}
    wm = {(r["query_id"], r["rank"]): r["cand_id"] for r in want}
    assert gm == wm

    c1 = train_ivf_centroids(emb, 4, iters=2)
    c2 = train_ivf_centroids(emb, 4, iters=2)
    assert c1 == c2
    # integer centroids with consistent norms
    for cid, cvec, cnorm in c1:
        assert all(isinstance(v, int) for v in cvec)
        assert cnorm == sum(v * v for v in cvec)
    # training actually moved the centroids off the first-N seed
    from fruits_spark.pipeline import ivf_centroid_rows

    seed = ivf_centroid_rows(emb, 4)
    assert [c[1] for c in c1] != [s[1] for s in seed]


def test_wav_blobs_are_real_wav_files(spark):
    """The synthesized blobs must be readable by a STANDARD WAV reader
    (stdlib wave module) — proving the binary seam on a public format,
    not just our own decoder."""
    import io
    import wave

    from fruits_spark.multimodal import synth_wav_blobs

    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    rows = {r["doc_id"]: bytes(r["blob"])
            for r in synth_wav_blobs(docs).collect()}
    for d, blob in rows.items():
        with wave.open(io.BytesIO(blob)) as wf:
            assert wf.getnchannels() == 1
            assert wf.getsampwidth() == 2
            assert wf.getframerate() == 8000
            assert wf.getnframes() == d % 50 + 20
            pcm = np.frombuffer(wf.readframes(wf.getnframes()), dtype="<i2")
        i = np.arange(d % 50 + 20, dtype=np.int64)
        want = ((d + 1) * 17 + i * 13) % 65536 - 32768
        np.testing.assert_array_equal(pcm.astype(np.int64), want)


def test_decode_wav_roundtrip_and_rejects_corrupt(spark):
    from fruits_spark.multimodal import decode_wav, synth_wav_blobs

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    out = decode_wav(synth_wav_blobs(docs)).collect()
    assert len(out) == 10
    for r in out:
        d = r["doc_id"]
        ns = d % 50 + 20
        assert (r["n_samples"], r["sample_rate"], r["bits"],
                r["n_bytes"]) == (ns, 8000, 16, 44 + 2 * ns)
        i = np.arange(ns, dtype=np.int64)
        want = ((d + 1) * 17 + i * 13) % 65536 - 32768
        np.testing.assert_array_equal(np.array(r["samples"], np.int64), want)

    import pytest as _pytest

    bad = spark.createDataFrame(
        [(0, bytearray(b"RIFFxxxxWAVEjunkjunkjunk" + b"\0" * 24))],
        "doc_id long, blob binary",
    )
    with _pytest.raises(Exception, match="fmt|WAVE|PCM"):
        decode_wav(bad).collect()


def test_frb1_batched_decode_matches_reference(spark):
    """The batched (frombuffer + add.reduceat) FRB1 decode must equal a
    straightforward per-blob reference decode on a mixed-size batch."""
    from fruits_spark.multimodal import FRB1_MAGIC, decode_frames, synth_frame_blobs

    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    blobs = synth_frame_blobs(docs)
    got = {r["doc_id"]: r for r in decode_frames(blobs).collect()}
    for r in blobs.collect():
        arr = np.frombuffer(bytes(r["blob"]), dtype=np.uint8)
        assert arr[0] == FRB1_MAGIC
        nf, w, h = int(arr[1]), int(arr[2]), int(arr[3])
        ref_sums = (
            arr[4:].astype(np.int64).reshape(nf, w * h).sum(axis=1)
        )
        g = got[r["doc_id"]]
        assert (g["n_frames"], g["width"], g["height"], g["n_bytes"]) == (
            nf, w, h, len(arr)
        )
        np.testing.assert_array_equal(np.array(g["frame_sums"]), ref_sums)


def test_sample_and_resize_frames(spark):
    """Frame-sampling (JVM array projection) and nearest-neighbor
    resize (batched gather) vs an independent per-blob numpy decode."""
    from fruits_spark.multimodal import (
        decode_frames, resize_frames, sample_frames, synth_frame_blobs,
    )

    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    blobs = synth_frame_blobs(docs)
    raw = {r["doc_id"]: bytes(r["blob"]) for r in blobs.collect()}

    sampled = {
        r["doc_id"]: (r["n_frames"], list(r["frame_sums"]))
        for r in sample_frames(decode_frames(blobs), 2).collect()
    }
    out_w, out_h = 2, 2
    resized = {
        r["doc_id"]: (r["n_frames"], r["width"], r["height"],
                      list(r["frame_sums"]))
        for r in resize_frames(blobs, out_w, out_h).collect()
    }
    for d, b in raw.items():
        arr = np.frombuffer(b, dtype=np.uint8)
        nf, w, h = int(arr[1]), int(arr[2]), int(arr[3])
        px = arr[4:].astype(np.int64).reshape(nf, h, w)
        full_sums = px.reshape(nf, -1).sum(axis=1)
        want_sampled = [int(s) for s in full_sums[::2]]
        assert sampled[d] == (len(want_sampled), want_sampled)
        ys = (np.arange(out_h) * h) // out_h
        xs = (np.arange(out_w) * w) // out_w
        want_rz = [int(px[f][np.ix_(ys, xs)].sum()) for f in range(nf)]
        assert resized[d] == (nf, out_w, out_h, want_rz)


def test_batched_decoder_edges(spark):
    """Edge shapes through the batched decode paths: zero-sample WAV,
    1x1 BMP, and an UPSCALING resize (out dims larger than source)."""
    from fruits_spark.multimodal import (
        bmp_blob, decode_bmp, decode_wav, resize_frames,
        synth_frame_blobs, wav_blob,
    )

    wav = spark.createDataFrame(
        [(0, bytearray(wav_blob([]))), (1, bytearray(wav_blob([5, -5])))],
        "doc_id long, blob binary",
    )
    got = {r["doc_id"]: (r["n_samples"], list(r["samples"]))
           for r in decode_wav(wav).collect()}
    assert got == {0: (0, []), 1: (2, [5, -5])}

    px = np.arange(3, dtype=np.uint8).reshape(1, 1, 3)
    bmp = spark.createDataFrame(
        [(0, bytearray(bmp_blob(px)))], "doc_id long, blob binary"
    )
    r = decode_bmp(bmp).collect()[0]
    assert (r["width"], r["height"], list(r["row_sums"])) == (1, 1, [3])

    docs = spark.createDataFrame([(3,)], "doc_id long")  # 3x5x3 frames
    up = resize_frames(synth_frame_blobs(docs), 7, 6).collect()[0]
    blob = np.frombuffer(
        bytes(synth_frame_blobs(docs).collect()[0]["blob"]), np.uint8
    )
    nf, w, h = int(blob[1]), int(blob[2]), int(blob[3])
    pxs = blob[4:].astype(np.int64).reshape(nf, h, w)
    ys = (np.arange(6) * h) // 6
    xs = (np.arange(7) * w) // 7
    want = [int(pxs[f][np.ix_(ys, xs)].sum()) for f in range(nf)]
    assert (up["width"], up["height"], list(up["frame_sums"])) == (
        7, 6, want
    )


def test_resize_frames_rejects_bad_args(spark):
    from fruits_spark.multimodal import resize_frames, sample_frames

    import pytest as _pytest

    with _pytest.raises(ValueError, match="stride"):
        sample_frames(None, 0)
    with _pytest.raises(ValueError, match="resize"):
        resize_frames(None, 0, 2)


def test_lang_id_script_detector(spark):
    from fruits_spark.pipeline import lang_id

    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat and the dog is here", "en"),
            (1, "привет мир это тест на русском языке", "ru"),
            (2, "数据质量检查与流水线处理", "zh"),
            (3, "これはテストです", "ja"),
            (4, "mostly english text with один russian word", "en"),
            (5, "데이터 품질 검사 시스템", "ko"),
            (6, "نظام فحص جودة البيانات", "ar"),
        ],
        "doc_id long, text string, lang string",
    )
    got = {r["doc_id"]: r["pred_lang"] for r in lang_id(docs).collect()}
    assert got == {0: "en", 1: "ru", 2: "zh", 3: "ja", 4: "en",
                   5: "ko", 6: "ar"}


def test_lang_id_unlabelled_corpus(spark):
    """A real user's corpus has no ground-truth `lang` column: lang_id
    must run without it (and then omit labelled_lang) with identical
    predictions."""
    from fruits_spark.pipeline import lang_id

    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat and the dog is here"),
            (1, "привет мир это тест на русском языке"),
            (2, "これはテストです"),
        ],
        "doc_id long, text string",
    )
    out = lang_id(docs)
    assert "labelled_lang" not in out.columns
    got = {r["doc_id"]: r["pred_lang"] for r in out.collect()}
    assert got == {0: "en", 1: "ru", 2: "ja"}


def test_bpe_train_and_tokenize(spark):
    """Classic BPE on a tiny corpus: trained merges are deterministic,
    frequent pairs merge first, and the distributed encoder round-trips
    into the engine's token data model (and through extract_features)."""
    from fruits_spark.pipeline import (
        bpe_tokenize, bpe_vocab, train_bpe_merges,
    )

    docs = spark.createDataFrame(
        [
            (0, "low low low lower lowest", "s"),
            (1, "new newer newest low", "s"),
            (2, "lower newer lower newer", "s"),
        ],
        "doc_id long, text string, source string",
    )
    m1 = train_bpe_merges(docs, n_merges=30)
    m2 = train_bpe_merges(docs, n_merges=30)
    assert m1 == m2 and len(m1) > 0
    # 'lo' must merge early: 'l','o' is the most frequent pair (9 lows)
    assert ("l", "o") == m1[0]
    vocab = bpe_vocab(m1)
    assert len(vocab) == len(set(vocab.values()))  # ids unique

    toks = bpe_tokenize(docs, m1)
    rows = {r["doc_id"]: r for r in toks.collect()}
    assert set(rows) == {0, 1, 2}
    for r in rows.values():
        assert r["n_tok"] == len(r["tokens"]) > 0
        assert all(0 <= t < len(vocab) for t in r["tokens"])
    # identical words encode identically across docs: 'lower' appears in
    # docs 0 and 2; fully-trained merges collapse it to one id sequence
    inv = {v: k for k, v in vocab.items()}

    def decode(ids):
        return "".join(inv[i] for i in ids).replace("</w>", " ").split()

    assert "lower" in decode(rows[0]["tokens"])
    assert decode(rows[2]["tokens"]).count("lower") == 2

    # bridge into the engine: BPE tokens -> ISS features
    from fruits_spark.engine.executor import extract_features, feature_columns

    fplan = FruitPlan(
        (Slice(iss=ISSSpec((W("[1]"),)), sieves=(Sieve("end"),)),)
    )
    fc = feature_columns(fplan)
    feats = extract_features(toks, fplan).collect()
    by_id = {r["doc_id"]: r[fc[0]] for r in feats}
    assert by_id[0] == float(sum(rows[0]["tokens"]))


def test_query_offset_disjoint_window(spark):
    """query_offset selects evaluation queries disjoint from the IVF
    seed window (the recall-measurement trap: a query that is its own
    centroid reads inflated recall)."""
    from fruits_spark.pipeline import cosine_topk, ivf_topk

    emb = _emb_df(spark, n=70)
    got = cosine_topk(emb, n_queries=3, k=4, shards=4, query_offset=50)
    qids = {r["query_id"] for r in got.collect()}
    assert qids == {50, 51, 52}
    ivf = ivf_topk(emb, n_centroids=4, n_queries=2, nprobe=4, k=4,
                   shards=4, train_iters=1, query_offset=60)
    qids = {r["query_id"] for r in ivf.collect()}
    assert qids == {60, 61}


def test_frb1_zero_area_frames_decode_to_zero_sums(spark):
    """Degenerate FRB1 blobs (w*h == 0) must decode to zero frame sums
    via the per-blob fallback — the batched reduceat path would read
    the NEXT blob's bytes at the collided boundary (review finding)."""
    from fruits_spark.multimodal import decode_frames

    blobs = spark.createDataFrame(
        [
            (0, bytearray([0x46, 2, 0, 3])),          # 2 frames of 0x3
            (1, bytearray([0x46, 1, 2, 2, 5, 6, 7, 8])),  # normal
            (2, bytearray([0x46, 3, 2, 0])),          # 3 frames of 2x0
        ],
        "doc_id long, blob binary",
    )
    got = {r["doc_id"]: r for r in decode_frames(blobs).collect()}
    assert list(got[0]["frame_sums"]) == [0, 0]
    assert list(got[1]["frame_sums"]) == [26]
    assert list(got[2]["frame_sums"]) == [0, 0, 0]


def test_bpe_tokenize_custom_column_names(spark):
    from fruits_spark.pipeline import bpe_tokenize, train_bpe_merges

    docs = spark.createDataFrame(
        [(0, "low low lower", "a"), (1, "new lower", "b")],
        "item_id long, text string, src string",
    )
    merges = train_bpe_merges(docs, n_merges=10, id_col="item_id")
    out = bpe_tokenize(docs, merges, id_col="item_id", source_col="src")
    assert set(out.columns) == {"item_id", "tokens", "n_tok", "src"}
    assert out.count() == 2


def test_windowed_event_rollup_watermark_drops_late(spark, tmp_path):
    """Event-time windows with a watermark: run 1 (availableNow) commits
    watermark = max ts - 10min into the checkpoint; run 2 sees an event
    OLDER than that watermark and DROPS it, while a fresh event lands —
    the bounded-lateness semantics that keep streaming state
    O(windows).  Two sequential availableNow runs over one checkpoint
    make the watermark hand-off deterministic."""
    import datetime as dt
    import os

    from fruits_spark import streaming as ST

    base = dt.datetime(2026, 1, 1, 12, 0, 0)

    def rows(specs):
        return [
            (i, base + dt.timedelta(minutes=m), 1, et, float(v))
            for i, (m, et, v) in enumerate(specs)
        ]

    inp = str(tmp_path / "ev_in")
    os.makedirs(inp)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "cells_out")

    def run_once():
        def sink(batch_df, batch_id):
            if not batch_df.isEmpty():
                batch_df.withColumn("_b", F.lit(batch_id)).write.mode(
                    "append"
                ).parquet(out)

        q = (
            ST.windowed_event_rollup(
                spark, inp, window="1 hour", watermark="10 minutes"
            )
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(600)

    # run 1: events up to 13:59 -> committed watermark 13:49, which is
    # PAST the end of the [12:00, 13:00) window — that window's state is
    # finalized (a row is only dropped once its WINDOW END is behind the
    # watermark; merely being older than the watermark keeps it
    # accepted while its window is live)
    spark.createDataFrame(
        rows([(5, "a", 1.0), (30, "a", 2.0), (119, "b", 3.0)]),
        ST.EVENT_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(inp)
    run_once()
    # run 2: one event for the EXPIRED 12:00 window (dropped), one fresh
    spark.createDataFrame(
        rows([(20, "a", 100.0), (125, "b", 4.0)]), ST.EVENT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(inp)
    run_once()

    from pyspark.sql import Window as W_

    mem = spark.read.parquet(out)
    w = W_.partitionBy("win_start", "event_type").orderBy(
        F.desc("_b"), F.desc("n_events")
    )
    final = (
        mem.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .collect()
    )
    cells = {
        (r["win_start"].minute + 60 * r["win_start"].hour, r["event_type"]):
        (r["n_events"], r["sum_value"])
        for r in final
    }
    # 12:00 window, type a: the late 100.0 event was DROPPED -> 2 events
    assert cells[(12 * 60, "a")] == (2, 3.0)
    # 13:00 window unchanged; 14:00 window got the fresh event
    assert cells[(13 * 60, "b")] == (1, 3.0)
    assert cells[(14 * 60, "b")] == (1, 4.0)


def test_cosine_ops_tolerate_zero_vectors(spark):
    """Zero embedding vectors must not crash the ANN ops under Spark's
    ANSI division (cosine is undefined there -> NULL -> filtered), and
    a zero trained centroid ranks strictly last instead of dividing by
    zero at assignment."""
    from fruits_spark.pipeline import cosine_topk, ivf_topk

    rng = np.random.default_rng(9)
    rows = [(0, [0.0] * 8)] + [
        (i, [float(v) for v in rng.normal(size=8)]) for i in range(1, 40)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    got = cosine_topk(emb, n_queries=3, k=5, shards=4).collect()
    # query 0 is the zero vector: no defined cosine -> no rows for it
    assert {r["query_id"] for r in got} == {1, 2}
    assert all(r["cand_id"] != 0 for r in got)
    ivf = ivf_topk(emb, n_centroids=4, n_queries=3, nprobe=4, k=5,
                   shards=4, train_iters=2).collect()
    assert {r["query_id"] for r in ivf} == {1, 2}


def test_ivf_pandas_assign_matches_literal(spark):
    """The numpy-matmul assignment (large quantizers) must agree with
    the inlined-literal JVM expression exactly — same integer dots,
    same double division, same tie-to-smaller-cid."""
    from fruits_spark.pipeline import (
        _assign_cid_pandas, _ivf_sorted_centroids, quantize_embeddings,
        train_ivf_centroids,
    )

    emb = _emb_df(spark, n=120, d=8, seed=11)
    cents = train_ivf_centroids(emb, 6, iters=2)
    q = quantize_embeddings(emb)
    lit = {
        r["cand_id"]: r["cid"]
        for r in q.select(
            F.col("vec_id").alias("cand_id"),
            F.element_at(_ivf_sorted_centroids(cents), 1)["cid"].alias(
                "cid"
            ),
        ).collect()
    }
    pnd = {
        r["cand_id"]: r["cid"]
        for r in _assign_cid_pandas(q, cents, "vec_id").collect()
    }
    assert lit == pnd and len(lit) == 120


def test_extract_features_all_empty_batch(spark):
    """A batch consisting ONLY of zero-token documents must produce
    zero-filled features, not crash the segmented kernels (the empty
    cumsum edge found by shape fuzzing)."""
    df = spark.createDataFrame(
        [(i, [], 0, "s") for i in range(5)],
        "doc_id long, tokens array<int>, n_tok int, source string",
    )
    fplan = FruitPlan(
        (Slice(iss=ISSSpec((W("[1]"), W("[11]"))), sieves=(Sieve("end"),)),)
    )
    fcols = EX.feature_columns(fplan)
    out = EX.extract_features(df, fplan).collect()
    assert len(out) == 5
    assert all(r[c] == 0.0 for r in out for c in fcols)


def test_shingle_df_short_docs_emit_no_shingles(spark):
    from fruits_spark.pipeline import shingle_df

    docs = spark.createDataFrame(
        [(0, "one two"), (1, "a b c d"), (2, "")],
        "doc_id long, text string",
    )
    out = shingle_df(docs, n=3).collect()
    # doc 0 (2 words) and doc 2 (empty) must not emit junk descending
    # slices; doc 1 has exactly 2 trigrams
    assert {r.doc_id for r in out} == {1}
    assert sorted(r.shingle for r in out) == ["a b c", "b c d"]


def test_decontaminate_flags_planted_overlap(spark):
    from fruits_spark.pipeline import decontaminate

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "a totally different sentence about spark engines here"),
            (2, "prefix words then quick brown fox jumps over suffix"),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps over")], "doc_id long, text string"
    )
    out = {
        r.doc_id: (r.n_contaminated_ngrams, r.contaminated)
        for r in decontaminate(docs, bench, n=5).collect()
    }
    assert out[0] == (1, 1)      # contains the benchmark 5-gram
    assert out[2] == (1, 1)      # same 5-gram, different position
    assert out[1] == (0, 0)
    assert out[3] == (0, 0)      # < n words: trivially clean
    assert len(out) == 4         # one row per training doc


def test_decontaminate_counts_distinct_ngrams(spark):
    from fruits_spark.pipeline import decontaminate

    docs = spark.createDataFrame(
        [(0, "a b c d e f g")], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(9, "a b c d e f")], "doc_id long, text string"
    )
    row = decontaminate(docs, bench, n=5).collect()[0]
    # benchmark contributes 5-grams "a b c d e" and "b c d e f";
    # doc 0 contains both
    assert row.n_contaminated_ngrams == 2 and row.contaminated == 1


def test_decontaminate_mask_digits(spark):
    """Digit-masking normalization: numeric paraphrases collide only
    when mask_digits=True, and both sides are masked symmetrically."""
    from fruits_spark.pipeline import decontaminate

    docs = spark.createDataFrame(
        [
            (0, "the final answer is 42 here exactly"),
            (1, "completely unrelated words in this one doc"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "the final answer is 7 here exactly")],
        "doc_id long, text string",
    )
    plain = {r.doc_id: r.contaminated
             for r in decontaminate(docs, bench, n=5).collect()}
    assert plain == {0: 0, 1: 0}
    masked = {r.doc_id: r.contaminated
              for r in decontaminate(docs, bench, n=5,
                                     mask_digits=True).collect()}
    assert masked == {0: 1, 1: 0}


# ---------------------------------------------------------------------------
# continuous-aggregate query routing + real-time tier view
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def _tier_fixture(spark):
    """Per-doc features + fine (64-bucket) and range-aligned coarse
    (factor 8) tier cells over a deterministic synthetic corpus."""
    from fruits_spark import datagen
    import fruits_spark.engine.rollup as RU

    pdf = datagen.generate_pandas(240, seed=11, max_len=48)
    df = spark.createDataFrame(pdf)
    fplan = FruitPlan(
        (Slice(iss=ISSSpec((W("[1]"),)), sieves=(Sieve("end"),)),)
    )
    fc = EX.feature_columns(fplan)
    feats = EX.extract_features(df, fplan).cache()
    fine = RU.rollup_tier(
        feats, RU.Tier("t1k", 1000), 64, fc,
        bucket_expr=F.pmod(F.xxhash64("doc_id"), F.lit(64)).cast("int"),
    ).cache()
    coarse = RU.reagg_tier(
        fine, fc, bucket_expr=F.floor(F.col("bucket") / 8).cast("int")
    ).cache()
    return feats, fine, coarse, fc


def _direct_range(fine, lo, hi, fc):
    import fruits_spark.engine.rollup as RU

    cells = RU._cell_payload(
        fine.where((F.col("bucket") >= lo) & (F.col("bucket") < hi)), fc
    )
    return RU._sql_agg(cells, ["source"], RU.reagg_exprs(fc))


@pytest.mark.parametrize(
    "lo,hi",
    [
        (5, 53),   # both edges + interior
        (8, 48),   # fully aligned: no fine edge cells
        (17, 21),  # inside one coarse cell: degenerate all-fine path
        (0, 64),   # whole table
        (7, 9),    # straddles one coarse boundary, no interior
    ],
)
def test_route_range_matches_direct(spark, _tier_fixture, lo, hi):
    import fruits_spark.engine.rollup as RU

    feats, fine, coarse, fc = _tier_fixture
    got = (
        RU.route_range(fine, coarse, 8, lo, hi, fc)
        .toPandas().sort_values("source").reset_index(drop=True)
    )
    want = (
        _direct_range(fine, lo, hi, fc)
        .toPandas().sort_values("source").reset_index(drop=True)
    )
    assert got.equals(want[got.columns])


def test_route_range_rejects_bad_range(spark, _tier_fixture):
    import fruits_spark.engine.rollup as RU

    _, fine, coarse, fc = _tier_fixture
    with pytest.raises(ValueError):
        RU.route_range(fine, coarse, 8, 9, 9, fc)
    with pytest.raises(ValueError):
        RU.route_range(fine, coarse, 0, 0, 8, fc)
    # route_range is the two-level route_range_multi: a coarse tier of
    # factor 1 is no coarser than the fine one
    with pytest.raises(ValueError, match="increasing multiples"):
        RU.route_range(fine, coarse, 1, 0, 8, fc)


def test_realtime_tier_matches_full_rollup(spark, _tier_fixture):
    """Committed head cells + on-the-fly tail == the full rollup,
    including a source with NO materialized cells (null watermark)."""
    import fruits_spark.engine.rollup as RU

    feats, _, _, fc = _tier_fixture
    tier = RU.Tier("t1k", 1000)
    # position bucketing off the numeric doc suffix (doc ids are
    # 'srcN-000000123' strings)
    pos_bucket = (
        F.substring_index("doc_id", "-", -1).cast("long") % 16
    ).cast("int")
    full = RU.rollup_tier(
        feats, tier, 16, fc, bucket_expr=pos_bucket
    ).cache()
    first_src = full.select(F.min("source").alias("s")).collect()[0].s
    materialized = full.where(
        (F.col("bucket") <= 7) & (F.col("source") != first_src)
    )
    got = (
        RU.realtime_tier(materialized, feats, tier, 16, fc,
                         bucket_expr=pos_bucket)
        .toPandas().sort_values(["source", "bucket"]).reset_index(drop=True)
    )
    want = (
        full.toPandas()
        .sort_values(["source", "bucket"]).reset_index(drop=True)
    )
    assert got.equals(want[got.columns])


@pytest.fixture(scope="module")
def _three_level(spark, _tier_fixture):
    """fine (64 buckets, factor 1) -> mid (factor 4) -> coarse
    (factor 16) range-aligned hierarchy."""
    import fruits_spark.engine.rollup as RU

    feats, fine, _, fc = _tier_fixture
    mid = RU.reagg_tier(
        fine, fc, bucket_expr=F.floor(F.col("bucket") / 4).cast("int")
    ).cache()
    coarse = RU.reagg_tier(
        mid, fc, bucket_expr=F.floor(F.col("bucket") / 4).cast("int")
    ).cache()
    return fine, mid, coarse, fc


@pytest.mark.parametrize(
    "lo,hi",
    [
        (3, 61),   # edges at every level + coarse interior
        (16, 48),  # coarse-aligned
        (5, 15),   # inside one coarse cell, spans mid cells
        (9, 11),   # inside one mid cell
        (0, 64),   # whole table
    ],
)
def test_route_range_multi_matches_direct(spark, _three_level, lo, hi):
    import fruits_spark.engine.rollup as RU

    fine, mid, coarse, fc = _three_level
    got = (
        RU.route_range_multi(
            [(fine, 1), (mid, 4), (coarse, 16)], lo, hi, fc
        )
        .toPandas().sort_values("source").reset_index(drop=True)
    )
    want = (
        _direct_range(fine, lo, hi, fc)
        .toPandas().sort_values("source").reset_index(drop=True)
    )
    assert got.equals(want[got.columns])


def test_route_parts_cell_bound(spark, _three_level):
    """Every level contributes at most 2 * (next factor ratio) edge
    cells per source beyond the coarse interior — the read-amplification
    guarantee route_range_multi documents."""
    import fruits_spark.engine.rollup as RU

    fine, mid, coarse, fc = _three_level
    n_src = fine.select("source").distinct().count()
    for lo, hi in [(3, 61), (5, 15), (1, 63)]:
        total = RU._route_cells(
            [(fine, 1), (mid, 4), (coarse, 16)], lo, hi, fc
        ).count()
        interior = (hi - lo) // 16
        # per source: interior coarse cells + <=2*4 mid edges + <=2*4
        # fine edges (factor ratios 16/4 and 4/1)
        assert total <= n_src * (interior + 2 * 4 + 2 * 4)


def test_route_range_multi_validates(spark, _three_level):
    import fruits_spark.engine.rollup as RU

    fine, mid, coarse, fc = _three_level
    with pytest.raises(ValueError):
        RU.route_range_multi([(mid, 4), (coarse, 16)], 0, 8, fc)
    with pytest.raises(ValueError):
        RU.route_range_multi([(fine, 1), (mid, 4), (coarse, 6)], 0, 8, fc)
    with pytest.raises(ValueError):
        RU.route_range_multi([(fine, 1)], 8, 8, fc)


# ---------------------------------------------------------------------------
# BMP container (second public binary format through the decode seam)
# ---------------------------------------------------------------------------

def _parse_bmp_independent(b):
    """Minimal independent BMP parse (different code path from
    decode_bmp: struct-free, byte arithmetic only) used to cross-check
    the production writer + reader pair."""
    assert b[:2] == b"BM"
    off = int.from_bytes(b[10:14], "little")
    w = int.from_bytes(b[18:22], "little", signed=True)
    h = int.from_bytes(b[22:26], "little", signed=True)
    assert int.from_bytes(b[28:30], "little") == 24
    row_size = (w * 3 + 3) & ~3
    out = np.zeros((h, w, 3), dtype=np.uint8)
    for yy in range(h):
        row = b[off + yy * row_size: off + yy * row_size + w * 3]
        arr = np.frombuffer(row, dtype=np.uint8).reshape(w, 3)[:, ::-1]
        out[h - 1 - yy] = arr  # file rows are bottom-up
    return out


def test_bmp_blobs_roundtrip_and_formula(spark):
    from fruits_spark.multimodal import decode_bmp, synth_bmp_blobs

    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    blobs = synth_bmp_blobs(docs)
    raw = {r["doc_id"]: bytes(r["blob"]) for r in blobs.collect()}
    dec = {r["doc_id"]: r for r in decode_bmp(blobs).collect()}
    assert len(dec) == 20
    for d in range(20):
        w, h = d % 5 + 2, d % 4 + 2  # widths cycle all 3w%4 padding cases
        y, x, c = np.ogrid[0:h, 0:w, 0:3]
        want = (((d + 1) * 29 + y * 11 + x * 5 + c) % 256).astype(np.uint8)
        # independent byte-level parse agrees with the formula
        np.testing.assert_array_equal(_parse_bmp_independent(raw[d]), want)
        r = dec[d]
        assert (r["width"], r["height"]) == (w, h)
        row_size = (w * 3 + 3) & ~3
        assert r["n_bytes"] == 54 + h * row_size
        sums = want.sum(axis=(1, 2))
        assert list(r["row_sums"]) == [int(s) for s in sums]
        assert r["pixel_sum"] == int(sums.sum())


def test_bmp_decode_rejects_corrupt(spark):
    from fruits_spark.multimodal import bmp_blob, decode_bmp

    px = np.zeros((3, 3, 3), dtype=np.uint8)
    good = bmp_blob(px)
    for bad in (
        b"XX" + good[2:],            # wrong magic
        good[:-1],                   # truncated
        good[:28] + b"\x20" + good[29:],  # 32-bit bpp
    ):
        df = spark.createDataFrame([(0, bytearray(bad))],
                                   "doc_id long, blob binary")
        with pytest.raises(Exception):
            decode_bmp(df).collect()


def test_route_range_multi_random_ranges(spark, _three_level):
    """Seeded sweep of arbitrary [lo, hi) alignments through the
    3-level hierarchy — catches edge cases the parametrized shapes
    miss (single-bucket ranges, coarse-boundary +-1, full-span)."""
    import fruits_spark.engine.rollup as RU

    fine, mid, coarse, fc = _three_level
    rng = np.random.default_rng(2024)
    cases = [(int(lo), int(lo) + int(w))
             for lo, w in zip(rng.integers(0, 63, 12),
                              rng.integers(1, 40, 12))]
    cases += [(15, 16), (16, 17), (31, 33), (63, 64)]
    for lo, hi in cases:
        hi = min(hi, 64)
        got = (
            RU.route_range_multi(
                [(fine, 1), (mid, 4), (coarse, 16)], lo, hi, fc
            ).toPandas().sort_values("source").reset_index(drop=True)
        )
        want = (
            _direct_range(fine, lo, hi, fc)
            .toPandas().sort_values("source").reset_index(drop=True)
        )
        assert got.equals(want[got.columns]), (lo, hi)


@pytest.mark.parametrize("lo,hi", [(1, 15), (0, 16), (7, 12), (2, 5)])
def test_route_range_realtime_matches_direct(spark, _tier_fixture, lo, hi):
    """Fresh range query: routed-below-watermark + committed-ahead fine
    cells + on-the-fly tail == direct aggregation over ALL data, with
    per-source watermarks at different heights (5 and 9) and one source
    with no committed cells (its tail starts at bucket 0, below the
    global watermark) — answered by ONE aggregate over the cells."""
    import re

    import fruits_spark.engine.rollup as RU

    feats, _, _, fc = _tier_fixture
    tier = RU.Tier("t1k", 1000)
    pos_bucket = (
        F.substring_index("doc_id", "-", -1).cast("long") % 16
    ).cast("int")
    full = RU.rollup_tier(feats, tier, 16, fc, bucket_expr=pos_bucket).cache()
    cutoff = F.when(
        F.pmod(F.xxhash64("source"), F.lit(2)) == 0, F.lit(9)
    ).otherwise(F.lit(5))
    first_src = full.select(F.min("source").alias("s")).collect()[0].s
    materialized = full.where(
        (F.col("bucket") <= cutoff) & (F.col("source") != first_src)
    ).cache()
    coarse = RU.reagg_tier(
        materialized, fc, bucket_expr=F.floor(F.col("bucket") / 4).cast("int")
    )
    routed = RU.route_range_realtime(
        materialized, coarse, 4, lo, hi, fc,
        feats, tier, 16, bucket_expr=pos_bucket,
    )
    plan = routed._jdf.queryExecution().optimizedPlan().toString()
    by_source = re.findall(r"Aggregate \[source#\d+\], .*", plan)
    assert sum("AS hwm#" not in a for a in by_source) == 1, plan
    got = routed.toPandas().sort_values("source").reset_index(drop=True)
    want = (
        RU._sql_agg(
            RU._cell_payload(
                full.where((F.col("bucket") >= lo) & (F.col("bucket") < hi)),
                fc,
            ),
            ["source"], RU.reagg_exprs(fc),
        ).toPandas().sort_values("source").reset_index(drop=True)
    )
    assert got.equals(want[got.columns]), (lo, hi)

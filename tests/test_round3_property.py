"""Property-based fuzz for the round-3 surfaces: WAV container
round-trips, BPE encode/decode inverses, and the flat kernels' scans
against per-doc scans on arbitrary batch shapes.  No Spark session needed — these exercise the
pure kernels / codecs directly."""

import io
import wave

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from fruits_spark.multimodal import wav_blob


@settings(max_examples=40, deadline=None)
@given(
    samples=st.lists(
        st.integers(-32768, 32767), min_size=1, max_size=300
    ),
    sr=st.sampled_from([8000, 16000, 44100]),
)
def test_wav_container_roundtrips_through_stdlib(samples, sr):
    """Any PCM16 payload our writer would emit is readable by the
    stdlib wave module with identical samples — the container format
    itself is fuzz-proof, not just the fixed-formula corpus."""
    pcm = np.array(samples, dtype=np.int16)
    blob = wav_blob(pcm, sr)
    with wave.open(io.BytesIO(blob)) as wf:
        assert wf.getframerate() == sr
        assert wf.getnframes() == len(samples)
        back = np.frombuffer(wf.readframes(len(samples)), dtype="<i2")
    np.testing.assert_array_equal(back, pcm)


@settings(max_examples=25, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet="ab cd",  # tiny alphabet -> dense merge structure
            min_size=0, max_size=60,
        ),
        min_size=1, max_size=8,
    ),
    n_merges=st.integers(0, 40),
)
def test_bpe_encode_decode_inverse(texts, n_merges):
    """Driver-side property of the BPE pair: decoding any encoded word
    sequence recovers exactly the regex-extracted words of the corpus —
    merges never lose or corrupt symbols, at any merge count."""
    import re
    from collections import Counter

    from fruits_spark.pipeline import (
        bpe_encode_word, bpe_merges_from_word_freq, bpe_vocab,
    )

    # the same word_freq form train_bpe_merges builds after its sample
    # collect; from here down everything is the PRODUCTION code path
    word_freq = Counter()
    for t in texts:
        for w in re.findall(r"[a-z]+|[0-9]+", t.lower()):
            word_freq[w] += 1
    if not word_freq:
        return
    merges = bpe_merges_from_word_freq(word_freq, n_merges)
    vocab = bpe_vocab(merges)
    inv = {v: k for k, v in vocab.items()}
    ranks = {p: i for i, p in enumerate(merges)}
    for w in word_freq:
        ids = bpe_encode_word(w, ranks, vocab)
        decoded = "".join(inv[i] for i in ids)
        assert decoded == w + "</w>"


@settings(max_examples=40, deadline=None)
@given(
    docs=st.lists(
        st.tuples(st.integers(0, 400), st.floats(0.0, 50.0)),
        min_size=1, max_size=120,
    ),
    seed=st.integers(0, 2**31 - 1),
)
@example(docs=[(0, 0.0), (0, 0.0), (0, 0.0)], seed=0)  # all-empty batch
@example(docs=[(7, 50.0), (0, 0.0), (3, 0.0), (4, 1.0)], seed=1)
def test_seg_scans_equal_per_doc_scans(docs, seed):
    """Seg.cumsum / Seg.runmax equal independent per-doc np.cumsum /
    np.maximum.accumulate bit for bit on any batch shape, with empty
    docs and rows scaled up to e^50 next to unscaled ones (a carried
    running sum leaves ~ulp(carry) of error in a later, smaller doc)."""
    import fruits_spark.kernels.flat as KF

    rng = np.random.default_rng(seed)
    lens = [n for n, _ in docs]
    offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int64)
    x = np.concatenate(
        [rng.normal(size=n) * np.exp(s) for n, s in docs] + [np.zeros(0)]
    )
    seg = KF.Seg(offsets)
    xb = seg.enter(x)
    cs = seg.leave(seg.cumsum(xb))
    rm = seg.leave(seg.runmax(xb))
    for i in range(len(lens)):
        s, e = offsets[i], offsets[i + 1]
        np.testing.assert_array_equal(cs[s:e], np.cumsum(x[s:e]))
        np.testing.assert_array_equal(rm[s:e], np.maximum.accumulate(x[s:e]))

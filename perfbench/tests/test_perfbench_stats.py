"""Unit tests for the benchmark's own statistics and output checks.

    python3 -m pytest perfbench/tests -q

No Spark session: the checks are fed plain rows.
"""

from __future__ import annotations

import statistics

import numpy as np
import pytest

from perfbench import plans
from perfbench.stats import (
    OpsLedger, agreement, iqr_share, median, percentile, quartiles,
    tail_percentile)
from perfbench.workloads import _check_codec, _check_features


# -- order statistics ------------------------------------------------------


def test_median_odd_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_quartiles_match_statistics_module():
    vals = [5.1, 4.9, 5.3, 5.0, 5.2, 6.0, 4.8, 5.05, 5.15, 5.25]
    assert quartiles(vals) == tuple(statistics.quantiles(vals, n=4))
    q1, q2, q3 = quartiles(vals)
    assert iqr_share(vals) == pytest.approx((q3 - q1) / q2)


def test_quartiles_single_sample():
    assert quartiles([7.0]) == (7.0, 7.0, 7.0)
    assert iqr_share([7.0]) == 0.0


def test_tail_percentile_needs_ten_beyond():
    # 100 samples: p90 has exactly 10 beyond it, p95 only 5
    vals = list(range(1, 101))
    assert tail_percentile(vals) == (90.0, 90.0)
    # 20 samples: p50 is the highest with >= 10 beyond
    assert tail_percentile(list(range(1, 21))) == (50.0, 10.0)
    # 1000 samples: p99 has 10 beyond
    assert tail_percentile(list(range(1, 1001))) == (99.0, 990.0)
    # too few for any percentile
    assert tail_percentile(list(range(1, 11))) is None


def test_percentile_nearest_rank():
    vals = [0.5, 0.1, 0.9, 0.3, 0.7]
    assert percentile(vals, 50) == 0.5
    assert percentile(vals, 90) == 0.9
    assert percentile(vals, 1) == 0.1


# -- operation accounting --------------------------------------------------


def test_ops_ledger_accounting():
    led = OpsLedger()
    assert led.check(True, "a")
    assert not led.check(False, "b")
    led.error("c", ValueError("boom"))
    assert (led.attempted, led.failed) == (3, 2)
    assert led.failed_frac == pytest.approx(2 / 3)
    assert led.failures[0] == "b"
    assert "ValueError: boom" in led.failures[1]


def test_ops_ledger_empty_counts_as_failed():
    assert OpsLedger().failed_frac == 1.0


# -- two-set agreement -----------------------------------------------------


def test_agreement_lower_is_better():
    first = [1.0, 1.1, 0.9, 1.0]
    ok = agreement(first, [1.1, 1.2, 1.0, 1.1], bound=0.2, better="lower")
    assert ok["ok"] and ok["worse_share"] == pytest.approx(0.1)
    bad = agreement(first, [1.3, 1.4, 1.2, 1.3], bound=0.2, better="lower")
    assert not bad["ok"]
    # getting faster is never a disagreement
    assert agreement(first, [0.5] * 4, bound=0.2, better="lower")["ok"]


def test_agreement_higher_is_better():
    first = [100.0, 110.0, 90.0]
    assert agreement(first, [95.0, 96.0, 94.0], 0.1, "higher")["ok"]
    res = agreement(first, [80.0, 81.0, 79.0], 0.1, "higher")
    assert not res["ok"] and res["worse_share"] == pytest.approx(0.2)
    with pytest.raises(ValueError):
        agreement(first, first, 0.1, "sideways")


# -- output checks: a corrupted output makes ops_failed_frac non-zero ------


def _flagship_rows(n_docs=6, seed=0):
    from fruits_spark.engine.executor import (
        compute_features_flat, feature_columns)
    from fruits_spark.kernels.segments import flatten_lists
    import pandas as pd

    fplan = plans.flagship_plan()
    fc = feature_columns(fplan)
    rng = np.random.default_rng(seed)
    toks = [rng.integers(0, 50257, n).astype(np.int32)
            for n in (1, 2, 7, 64, 300, 511)[:n_docs]]
    values, offsets = flatten_lists(pd.Series(toks))
    feats = compute_features_flat(values, offsets, fplan)
    sample = [{"doc_id": f"d{i}", "tokens": list(t)}
              for i, t in enumerate(toks)]
    rows = [dict(doc_id=f"d{i}", **dict(zip(fc, feats[i])))
            for i in range(len(toks))]
    return fplan, fc, sample, rows


def test_feature_check_passes_on_engine_output():
    fplan, fc, sample, rows = _flagship_rows()
    led = OpsLedger()
    n, _ = _check_features(led, "t", fplan, fc, sample, rows,
                           lambda r: (1, 1, -1))
    assert n == len(sample) and led.failed == 0


@pytest.mark.parametrize("col", [0, 20, 45])
def test_corrupted_feature_is_counted(col):
    fplan, fc, sample, rows = _flagship_rows()
    rows[4][fc[col]] *= 1.001  # a 0.1 % error in one feature of one doc
    led = OpsLedger()
    _check_features(led, "t", fplan, fc, sample, rows, lambda r: (1, 1, -1))
    assert led.failed == 1 and led.failed_frac > 0
    assert "d4" in led.failures[0]


def test_missing_doc_is_counted():
    fplan, fc, sample, rows = _flagship_rows()
    led = OpsLedger()
    _check_features(led, "t", fplan, fc, sample, rows[:-1],
                    lambda r: (1, 1, -1))
    assert led.failed == 1


def test_ppv_may_differ_by_one_point_only():
    fplan, fc, sample, rows = _flagship_rows()
    ppv = next(c for c in fc if "_PPV_" in c)
    n = len(sample[5]["tokens"])
    rows[5][ppv] += 1.0 / n  # one point on the other side of 0
    led = OpsLedger()
    _, flips = _check_features(led, "t", fplan, fc, sample, rows,
                               lambda r: (1, 1, -1))
    assert led.failed == 0 and flips == 1
    rows[5][ppv] += 1.0 / n  # two points: a real difference
    led = OpsLedger()
    _check_features(led, "t", fplan, fc, sample, rows, lambda r: (1, 1, -1))
    assert led.failed == 1


class _Frame:
    """Just enough of a DataFrame for the codec check."""

    def __init__(self, rows):
        self.rows = rows

    def select(self, *cols):
        return _Frame([{c: r[c] for c in cols} for r in self.rows])

    def collect(self):
        return self.rows


def _codec_frames():
    from fruits_spark.kernels.codec import dod_encode, gorilla_encode

    rng = np.random.default_rng(1)
    filled, enc = [], []
    for src in ("src0", "src1"):
        buckets = np.arange(0, 50, dtype=np.int64)
        vals = rng.standard_normal(50).round(3)
        filled += [{"source": src, "bucket": int(b), "v": float(v)}
                   for b, v in zip(buckets, vals)]
        enc.append({"source": src, "chunk_id": 0, "n": 50,
                    "gorilla_blob": gorilla_encode(vals),
                    "dod_blob": dod_encode(buckets)})
    return _Frame(filled), enc


def test_codec_check_roundtrip_and_corruption():
    filled, enc = _codec_frames()
    led = OpsLedger()
    bpv = _check_codec(led, _Frame(enc), filled, "v")
    assert led.attempted == 2 and led.failed == 0 and 0 < bpv < 16
    # flip one byte in one value stream
    blob = bytearray(enc[1]["gorilla_blob"])
    blob[len(blob) // 2] ^= 0xFF
    enc[1] = dict(enc[1], gorilla_blob=bytes(blob))
    led = OpsLedger()
    _check_codec(led, _Frame(enc), filled, "v")
    assert led.failed == 1 and led.failed_frac == 0.5

"""Compile a :class:`~fruits_spark.plan.FruitPlan` into a Spark job.

Hot path = ONE ``mapInArrow`` over the token table: each Arrow batch's
list buffers are read as per-dimension columns sharing one ``offsets``
array (univariate = one column), sub-batched by points, and every slice's
prep -> ISS -> sieve chain runs as segmented NumPy ops on the flat
layout (:mod:`fruits_spark.kernels.flat`).  Preps without a flat kernel
run the bucketed kernel per length group inside the same body, and each
sub-batch goes back as one Arrow RecordBatch.  No pandas frame, no
per-row Python, no shuffle — feature extraction is embarrassingly
parallel across partitions; the only shuffles in an end-to-end job are
the rollup ``groupBy`` afterwards.

:func:`compute_features_block` is the bucketed 3-D reference (the test
oracle and the fitting path), not a production route.

Feature columns come out *wide* (one DoubleType column per feature,
sanitized names + a label map) so the downstream tier rollup is plain
JVM hash aggregation with map-side partial aggregation; Catalyst prunes
unused feature columns out of the UDF projection automatically.
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from .. import plan as Pl
from ..kernels import iss as KI
from ..kernels import prep as KP
from ..kernels import sieve as KS
from ..kernels.segments import read_lists


def _apply_prep(Z: np.ndarray, p: Pl.Prep) -> np.ndarray:
    if p.kind == "dim":
        inner = p.params["prep"]
        return KP.dim_wrap(
            Z, lambda sub: _apply_prep(sub, inner), p.params["dims"]
        )
    if p.kind == "new":
        inner = p.params.get("prep")
        if inner is None:
            return KP.new_wrap(Z)
        return KP.new_wrap(Z, lambda sub: _apply_prep(sub, inner))
    if p.kind == "fun":
        return KP.fun(Z, p.params["f"])
    if p.kind == "dil":
        return KP.dil(Z, **p.params)
    if p.kind == "pdd":
        return KP.pdd(Z, **p.params)
    if p.kind == "mav" and p.params.get("width") == -1:
        return KP.mav_dims(Z)
    fn = {
        "inc": KP.inc,
        "std": KP.std,
        "nrm": KP.nrm,
        "mav": KP.mav,
        "lag": KP.lag,
        "dot": KP.dot_filter,
        "win": KP.win_filter,
        "cts": KP.cts,
        "qtc": KP.qtc,
        "ffn": KP.ffn,
        "rin": KP.rin,
        "rdw": KP.rdw,
        "jld": KP.jld,
        "spe": KP.spe,
        "rpe": KP.rpe,
    }[p.kind]
    return fn(Z, **p.params)


def _lookup_for(spec: Pl.ISSSpec, Z: np.ndarray, Z_orig: np.ndarray | None = None):
    """Weighting lookup table.  L1/L2 default to the ORIGINAL input
    (reference: weighting.py:148-150, cache input = the fruit's X);
    ``on_prepared=True`` switches to the ISS's direct input ``Z``."""
    if spec.weighting is None:
        return None
    n, _, length = Z.shape
    wp = dict(spec.weighting_params)
    on_prepared = wp.pop("on_prepared", False)
    base = Z if (on_prepared or Z_orig is None) else Z_orig
    if spec.weighting == "indices":
        return KI.indices_lookup(n, length, **wp)
    if spec.weighting == "l1":
        return KI.l1_lookup(base, **wp)
    if spec.weighting == "l2":
        return KI.l2_lookup(base, **wp)
    if spec.weighting == "plateaus":
        return KI.plateaus_lookup(n, length, **wp)
    if spec.weighting == "custom":
        # reference Custom weighting (weighting.py:41-66): user g(X)
        return wp["fn"](base)
    raise ValueError(spec.weighting)


def _sieve_quantiles(sv: Pl.Sieve, stream_idx: int):
    """Band values for this stream: per-stream fitted values if the plan
    was fitted (reference fits one sieve copy per stream,
    fruit.py:488-496), else the unfitted -inf/0/inf resolution."""
    from ..kernels.sieve import resolve_quantiles

    p = sv.params
    if "q_values_per_stream" in p:
        return np.asarray(p["q_values_per_stream"][stream_idx])
    return np.asarray(
        p.get("q_values", resolve_quantiles(None, p.get("q", (-1.0, 1.0))))
    )


def _ppv_quantiles(sv: Pl.Sieve, stream_idx: int):
    p = sv.params
    if "quantiles_per_stream" in p:
        return list(p["quantiles_per_stream"][stream_idx])
    return list(p.get("quantiles", [0.5]))


def _apply_sieve(stream: np.ndarray, sv: Pl.Sieve, Z_src: np.ndarray,
                 stream_idx: int = 0) -> np.ndarray:
    """stream (n, l) -> features (n, k).  ``Z_src`` is the slice's
    original input batch — coquantile cuts are computed on it."""
    p = sv.params
    pre = p.get("pre", 0)
    if pre:
        # INC / INT sieve wrappers (reference sieving/wrapper.py:9-104):
        # pre>0 = evaluate on |pre|-fold increments, pre<0 = on cumsums
        stream = KS._pre_inc(stream, pre)
    if sv.kind in ("ppv", "cpv"):
        qs = _ppv_quantiles(sv, stream_idx)
        fn = KS.sieve_ppv if sv.kind == "ppv" else KS.sieve_cpv
        return fn(stream, qs, segments=p.get("segments", False))
    cuts_spec = p.get("cuts", [-1])
    norm = p.get("norm", "L2")
    q = _sieve_quantiles(sv, stream_idx)
    if sv.kind in ("npi", "mpi", "xpi", "lpi"):
        fn = {
            "npi": KS.sieve_npi, "mpi": KS.sieve_mpi,
            "xpi": KS.sieve_xpi, "lpi": KS.sieve_lpi,
        }[sv.kind]
        return fn(stream, list(cuts_spec), q, inc=p.get("inc", 1),
                  source=Z_src, norm=norm)
    cuts = KS.resolve_cuts(stream, list(cuts_spec), norm, source=Z_src)
    if sv.kind == "end":
        return KS.sieve_end(stream, cuts)
    if sv.kind == "max":
        return KS.sieve_max(stream, cuts, q)
    if sv.kind == "min":
        return KS.sieve_min(stream, cuts, q)
    if sv.kind == "cur":
        return KS.sieve_cur(stream, cuts, q)
    if sv.kind == "avg":
        return KS.sieve_avg(stream, cuts, q, faithful=p.get("faithful", True))
    if sv.kind == "std":
        return KS.sieve_std(stream, cuts, q, faithful=p.get("faithful", True))
    raise ValueError(sv.kind)


def _emit_streams_block(Zp: np.ndarray, specs: tuple, Z_orig=None):
    """Yield final-level streams (n, l) for a chain of ISS specs on a
    3-D block (chained ISS semantics: fruit.py:440-454 — each stream of
    spec_i feeds spec_{i+1} as a univariate series)."""
    for stream in _spec_streams_block(Zp, specs[0], Z_orig):
        if len(specs) == 1:
            yield stream
        else:
            yield from _emit_streams_block(
                stream[:, np.newaxis, :], specs[1:], Z_orig
            )


def _spec_streams_block(Zp: np.ndarray, spec, Z_orig):
    """One spec's streams (n, l) on a 3-D block, in plan label order."""
    if isinstance(spec, Pl.CosWISSSpec):
        # word-major, one per-word kernel call per (word, freq): the
        # flat trie (KF.coswiss_flat_multi_mv) is pinned to this kernel
        for w in spec.words:
            for f in spec.freqs:
                yield KI.coswiss(Zp, w.matrix, f, exponent=spec.exponent,
                                 total=spec.total)
        return
    lookup = _lookup_for(spec, Zp, Z_orig)
    if getattr(spec, "argmax", False):
        for w in spec.words:
            alpha = (
                np.array(w.alpha, dtype=np.float32)
                if spec.weighting is not None else None
            )
            streams = KI.iss_arctic_argmax(Zp, w.matrix, alpha, lookup)
            for s in range(streams.shape[1]):
                yield streams[:, s, :]
        return
    pplan = spec.plan()
    for wi, w in enumerate(spec.words):
        depth = pplan.depth(wi) if pplan is not None else 1
        if depth == 0:
            continue
        alpha = (
            np.array(w.alpha, dtype=np.float32)
            if spec.weighting is not None else None
        )
        streams = KI.iss(
            Zp, w.matrix, extended=depth, semiring=spec.semiring,
            alpha=alpha, lookup=lookup, total=spec.total,
        )
        for s in range(depth):
            yield streams[:, s, :]


def compute_features_block(Z: np.ndarray, fplan: Pl.FruitPlan) -> np.ndarray:
    """One equal-length 3-D block -> (n, n_features) float64.

    This is the unit the reference calls ``Fruit.transform``
    (fruit.py:138-173), restructured: NaNs are zeroed at the end exactly
    like the reference (fruit.py:172).
    """
    n = Z.shape[0]
    out = np.empty((n, fplan.n_features()), dtype=np.float64)
    col = 0
    for sl in fplan.slices:
        Zp = Z
        for p in sl.preps:
            Zp = _apply_prep(Zp, p)
        # sieve coquantile cuts come from the fruit-level cache, i.e. the
        # ORIGINAL input Z, not the prepared/chained stream
        # (reference: FruitSlice uses the fruit's SharedSeedCache(X))
        for si, stream in enumerate(_emit_streams_block(Zp, sl.iss_chain(), Z)):
            for sv in sl.sieves:
                feats = _apply_sieve(stream, sv, Z, si)
                out[:, col:col + feats.shape[1]] = feats
                col += feats.shape[1]
    if col != fplan.n_features():
        raise AssertionError(f"feature accounting: {col} != {fplan.n_features()}")
    return np.nan_to_num(out, nan=0.0, posinf=0.0, neginf=0.0)


def _apply_prep_flat(seg, cols: list, p: Pl.Prep):
    """Flat prep on a per-dimension column list -> (geometry, columns).
    INC/STD/NRM have flat kernels; NEW/DIM wrappers manipulate the list
    like the bucketed ``new_wrap``/``dim_wrap`` manipulate axis 1; every
    other prep runs the bucketed kernel per length group through
    :func:`~fruits_spark.kernels.flat.bucketed_rows_map` (which may
    change lengths, e.g. LAG)."""
    from ..kernels import flat as KF

    if p.kind in ("new", "dim"):
        inner = p.params.get("prep")
        if p.kind == "new":
            picked, rest = cols, list(cols)
        else:
            # np.delete / fancy-index semantics, negative dims included
            idx = np.arange(len(cols))[
                np.atleast_1d(np.asarray(p.params["dims"], dtype=np.int64))
            ]
            picked = [cols[i] for i in idx]
            dropped = set(idx.tolist())
            rest = [c for i, c in enumerate(cols) if i not in dropped]
        out_seg, extra = (
            (seg, picked) if inner is None
            else _apply_prep_flat(seg, picked, inner)
        )
        if out_seg is not seg:
            raise ValueError(
                f"{p.kind.upper()} cannot wrap {inner.kind!r}: it changes "
                "the series length"
            )
        return seg, rest + list(extra)
    params = dict(p.params)
    if p.kind == "inc":
        return seg, [KF.inc_flat(seg, c, **params) for c in cols]
    if p.kind == "std" and params.pop("separately", True):
        return seg, [KF.std_flat(seg, c, **params) for c in cols]
    if p.kind == "nrm":
        return seg, KF.nrm_flat_mv(seg, cols, **params)
    return KF.bucketed_rows_map(seg, cols, lambda Z: _apply_prep(Z, p))


# pad lanes (steps past a doc's end) divide by zero under negative
# exponents; no valid row reads them, and valid NaN/inf are kept as is
@np.errstate(divide="ignore", invalid="ignore")
def compute_features_flat(
    values, offsets: np.ndarray, fplan: Pl.FruitPlan
) -> np.ndarray:
    """Whole-batch feature computation on the flat kernels' length-class
    layout: one set of array ops per operator and class, independent of
    length diversity (the 100 TB hot path).  ``values`` is a list of
    per-dimension flat float64 arrays sharing ``offsets`` (a bare array
    = one dimension); each enters the layout once, here."""
    from ..kernels import flat as KF

    seg0 = KF.Seg(offsets)
    in_cols = values if isinstance(values, list) else [values]
    in_cols = [seg0.enter(c) for c in in_cols]
    if seg0.total == 0:
        # no points at all (empty docs, or 0-dim rows): the bucketed
        # oracle never runs a kernel for empty rows either
        return np.zeros((seg0.n, fplan.n_features()), dtype=np.float64)
    out = np.empty((seg0.n, fplan.n_features()), dtype=np.float64)
    src = _Source(seg0, in_cols)
    col = 0
    for sl in fplan.slices:
        seg, cols = seg0, in_cols
        for p in sl.preps:
            seg, cols = _apply_prep_flat(seg, cols, p)
        # streams may arrive in trie order; widths are fixed per stream,
        # so each one writes at its plan-order column offset
        sieve_widths = [sv.n_features() for sv in sl.sieves]
        per_stream = sum(sieve_widths)
        seen = 0
        for si, stream in _emit_streams_flat(seg, cols, sl.iss_chain(), src):
            c = col + si * per_stream
            for sv, w_ in zip(sl.sieves, sieve_widths):
                feats = _apply_sieve_flat(seg, stream, sv, src, si)
                out[:, c:c + w_] = feats
                c += w_
            seen += 1
        col += sl.n_streams() * per_stream
        if seen != sl.n_streams():
            raise AssertionError(
                f"stream accounting: {seen} != {sl.n_streams()}"
            )
    if col != fplan.n_features():
        raise AssertionError(f"feature accounting: {col} != {fplan.n_features()}")
    return np.nan_to_num(out, nan=0.0, posinf=0.0, neginf=0.0)


class _Source:
    """A slice's ORIGINAL input (geometry + columns): coquantile cuts and
    L1/L2/Custom weightings read it, not the prepared/chained stream
    (reference: FruitSlice uses the fruit's SharedSeedCache(X)); dim 0
    carries the mass (cache.py:25-40)."""

    def __init__(self, seg, cols) -> None:
        self.seg, self.cols = seg, cols

    def cols_on(self, seg) -> list:
        if not np.array_equal(self.seg.lengths, seg.lengths):
            raise ValueError(
                "a weighting on the original input needs the prepared "
                "series to keep its length"
            )
        return self.cols


def _lookup_flat(spec: Pl.ISSSpec, seg, cols: list, src: _Source):
    """Weighting lookup on the flat layout.  ``cols`` is the ISS input;
    L1/L2 read dim 0 of the base like the bucketed ``l1_lookup``
    (iss.py: ``X[:, 0:1, :]``), Custom callables get the full base
    re-bucketed into the (n, d, l) blocks they expect."""
    from ..kernels import flat as KF

    if spec.weighting is None:
        return None
    wp = dict(spec.weighting_params)
    on_prepared = wp.pop("on_prepared", False)
    if spec.weighting == "indices":
        return KF.indices_lookup_flat(seg, **wp)
    if spec.weighting == "plateaus":
        return KF.plateaus_lookup_flat(seg, **wp)
    base_cols = cols if on_prepared else src.cols_on(seg)
    if spec.weighting == "l1":
        return KF.l1_lookup_flat(seg, base_cols[0], **wp)
    if spec.weighting == "l2":
        return KF.l2_lookup_flat(seg, base_cols[0], **wp)
    if spec.weighting == "custom":
        # reference Custom weighting (weighting.py:41-66): arbitrary
        # g(X) (n, d, l) -> (n, l), run on the bucketed grouping
        fn = wp["fn"]
        return KF.bucketed_rows_map(
            seg, base_cols, lambda Z: fn(Z)[:, np.newaxis, :]
        )[1][0]
    raise ValueError(spec.weighting)


def _emit_streams_flat(seg, cols: list, specs: tuple, src: _Source):
    """Yield (plan_stream_index, stream) pairs for a chain of specs; each
    stream feeds the next spec as a one-column input.

    Indices follow plan label order even though computation may run in
    trie order (scan-level CSE below)."""
    n_rest = 1
    for s in specs[1:]:
        n_rest *= s.n_streams()
    for idx, stream in _emit_level_flat(seg, cols, specs[0], src):
        if len(specs) == 1:
            yield idx, stream
        else:
            for sub_idx, sub in _emit_streams_flat(
                seg, [stream], specs[1:], src
            ):
                yield idx * n_rest + sub_idx, sub


def _emit_level_flat(seg, cols: list, spec, src: _Source):
    from ..kernels import flat as KF

    for w in spec.words:
        # the oracle's iss() check, enforced for every spec kind (the
        # bucketed CosWISS/argmax kernels would raise a bare IndexError)
        if w.matrix.shape[1] > len(cols):
            raise ValueError(
                f"word uses dim {w.matrix.shape[1]} but input has {len(cols)}"
            )
    if isinstance(spec, Pl.CosWISSSpec):
        # cross-word CSE per frequency, per doc bit-identical to the
        # oracle's per-word KI.coswiss; the flat emitter yields explicit
        # stream indices, so per-freq batches emit directly
        n_freqs = len(spec.freqs)
        for fi, f in enumerate(spec.freqs):
            streams = KF.coswiss_flat_multi_mv(
                seg, cols, [w.matrix for w in spec.words], f,
                exponent=spec.exponent, total=spec.total,
            )
            for wi, stream in enumerate(streams):
                yield wi * n_freqs + fi, stream
        return
    lookup = _lookup_flat(spec, seg, cols, src)
    if spec.argmax:
        i = 0
        for w in spec.words:
            alpha = (
                np.array(w.alpha, dtype=np.float32)
                if spec.weighting is not None else None
            )
            for stream in KF.iss_arctic_argmax_flat(
                seg, cols, w.matrix, alpha, lookup
            ):
                yield i, stream
                i += 1
        return
    if spec.semiring not in ("reals", "arctic", "bayesian"):
        raise ValueError(f"unknown semiring {spec.semiring!r}")
    yield from _emit_level_flat_cse(seg, cols, spec, lookup)


def _emit_level_flat_cse(seg, cols: list, spec, lookup):
    """ISS with scan-level prefix CSE, weighted (total or not) or
    unweighted (``lookup is None``): the word list is a trie and every
    distinct prefix's scan state is computed ONCE via DFS.  This goes
    beyond the reference's CachePlan, which dedups stream *emission* but
    re-runs shared prefix scans per word (iss/iss.py:49-65).

    Trie nodes key on (letter, alpha) PAIRS: two words share a prefix
    scan only when letters and per-letter weighting exponents both
    agree (the forward state carries ``exp(lookup * alpha)`` factors);
    unweighted, every alpha keys as 0.0 and the emitted scan doubles as
    the forward state.  Emission accounting mirrors PrefixPlan, which
    keys on letters alone: each emitted prefix belongs to the first word
    that introduced it, so the emission set and stream indices are
    exactly the per-word path's.  Per-node ops replicate the bucketed
    oracle's per-word op order (``KI.iss``), so per doc every stream is
    bit-identical to that kernel's on the doc alone (test_round5)."""
    from ..kernels import flat as KF

    weighted = lookup is not None
    pplan = spec.plan()
    emit_at: dict[tuple, list[int]] = {}
    children: dict[tuple, list] = {(): []}
    i = 0
    for wi, w in enumerate(spec.words):
        depth = pplan.depth(wi) if pplan is not None else 1
        if depth == 0:
            continue  # fully shared per PrefixPlan: emits nothing
        letters = w.letters()
        # the per-word oracle rounds alpha through float32
        # (`a = float32(alpha).astype(float64)`) — key on the SAME value
        alpha = w.alpha if weighted else [0.0] * len(letters)
        a64 = np.array(alpha, dtype=np.float32).astype(np.float64)
        path = tuple(
            (letters[j], float(a64[j])) for j in range(len(letters))
        )
        k = len(path)
        for j in range(k - depth + 1, k + 1):
            # a LIST per node: duplicate words in SINGLE mode each owe
            # their own stream (PrefixPlan only zeroes duplicate depths
            # in extended mode) — the shared node yields once per index
            emit_at.setdefault(path[:j], []).append(i)
            i += 1
        for j in range(k):
            node, nxt = path[:j], path[:j + 1]
            kids = children.setdefault(node, [])
            if nxt not in kids:
                kids.append(nxt)
            children.setdefault(nxt, [])

    semiring = spec.semiring
    # per-alpha factor caches: the per-word path recomputes
    # exp(±lookup*a) / lookup*a at every level; alphas repeat (usually
    # all 1.0), so each distinct value is computed once per batch
    fac: dict[tuple, np.ndarray] = {}

    def _fac(kind: str, a: float) -> np.ndarray:
        v = fac.get((kind, a))
        if v is None:
            if kind == "p":
                v = np.exp(lookup * a)
            elif kind == "n":
                v = np.exp(-lookup * a)
            else:  # "l": arctic linear term
                v = lookup * a
            fac[(kind, a)] = v
        return v

    def raw_of(state, letter, a_prev):
        # letter monomial over the column list in bucketed
        # _pow_product / _linear_combo op order; state None <=> root
        # (first letter of the word)
        if semiring == "reals":
            if state is None:
                return KF._mul_letter_nd(None, cols, letter)
            # shift1 allocated fresh -> in-place ops are safe (cached
            # trie states are never mutated); NOTE: fusing the shift
            # into the first multiply via offset views was measured ~1%
            # SLOWER (unaligned SIMD) — keep unfused
            r = KF._mul_letter_nd_owned(seg.shift1(state), cols, letter)
            if weighted:
                np.multiply(r, _fac("n", a_prev), out=r)
            return r
        if semiring == "arctic":
            combo = KF._lin_combo_nd(cols, letter)
            if state is None:
                return combo
            r = state + combo
            if weighted:
                np.subtract(r, _fac("l", a_prev), out=r)
            return r
        # bayesian (the oracle seeds from exact ones; 1.0*x is
        # bit-neutral).  Not in place: an all-zero letter returns state.
        r = KF._mul_letter_nd(state, cols, letter)
        if weighted and state is not None:
            r = r * _fac("n", a_prev)
        return r

    emit_op = seg.cumsum if semiring == "reals" else seg.runmax

    def forward(raw, a_cur):
        if semiring == "reals":
            return seg.cumsum(raw * _fac("p", a_cur))
        if semiring == "arctic":
            return seg.runmax(raw + _fac("l", a_cur))
        return seg.runmax(raw * _fac("p", a_cur))

    if weighted and spec.total:
        # TOTAL weighting: the forward state is the post-scan C_k; the
        # per-node derived state D = unweight(shift/carry of C) is
        # shared across ALL children (per-word recomputes it per word).
        # Recurrences mirror the per-word oracle's *_total branches.
        def letter_op(D, letter):
            if semiring == "arctic":
                combo = KF._lin_combo_nd(cols, letter)
                return combo if D is None else D + combo
            return KF._mul_letter_nd(D, cols, letter)

        def derive(C, a_prev):
            if semiring == "reals":
                return seg.shift1(C) * _fac("n", a_prev)
            if semiring == "arctic":
                return C - _fac("l", a_prev)
            return C * _fac("n", a_prev)

        def unweight(C, a_cur):
            if semiring == "arctic":
                return C - _fac("l", a_cur)
            return C * _fac("n", a_cur)

        def dfs_total(node, state):
            a_prev = node[-1][1] if node else None
            D = None
            for child in children[node]:
                letter, a_cur = child[-1]
                if node and D is None:
                    D = derive(state, a_prev)
                raw = letter_op(D, letter)
                C = forward(raw, a_cur)
                eis = emit_at.get(child)
                if eis:
                    st = unweight(C, a_cur)
                    for ei in eis:
                        yield ei, st
                if children[child]:
                    yield from dfs_total(child, C)

        yield from dfs_total((), None)
        return

    def dfs(node, state):
        a_prev = node[-1][1] if node else None
        for child in children[node]:
            letter, a_cur = child[-1]
            raw = raw_of(state, letter, a_prev)
            eis = emit_at.get(child, ())
            st = emit_op(raw) if eis or not weighted else None
            for ei in eis:
                yield ei, st
            if children[child]:
                yield from dfs(
                    child, forward(raw, a_cur) if weighted else st
                )

    yield from dfs((), None)


def _apply_sieve_flat(seg, stream, sv: Pl.Sieve, src: _Source,
                      stream_idx: int = 0) -> np.ndarray:
    from ..kernels import flat as KF

    p = sv.params
    pre = p.get("pre", 0)
    if pre:
        stream = KF._pre_inc_flat(seg, stream, pre)
    if sv.kind in ("ppv", "cpv"):
        qs = _ppv_quantiles(sv, stream_idx)
        fn = KF.sieve_ppv_flat if sv.kind == "ppv" else KF.sieve_cpv_flat
        return fn(seg, stream, qs, segments=p.get("segments", False))
    cuts_spec = list(p.get("cuts", [-1]))
    norm = p.get("norm", "L2")
    q = _sieve_quantiles(sv, stream_idx)
    cuts = KF.resolve_cuts_flat(seg, cuts_spec, norm, src.cols[0], src.seg)
    if sv.kind in ("npi", "mpi", "xpi", "lpi"):
        fn = {
            "npi": KF.sieve_npi_flat, "mpi": KF.sieve_mpi_flat,
            "xpi": KF.sieve_xpi_flat, "lpi": KF.sieve_lpi_flat,
        }[sv.kind]
        return fn(seg, stream, cuts, q, inc=p.get("inc", 1))
    if sv.kind == "end":
        return KF.sieve_end_flat(seg, stream, cuts)
    if sv.kind == "max":
        return KF.sieve_max_flat(seg, stream, cuts, q)
    if sv.kind == "min":
        return KF.sieve_min_flat(seg, stream, cuts, q)
    if sv.kind == "cur":
        return KF.sieve_cur_flat(seg, stream, cuts, q)
    if sv.kind in ("avg", "std"):
        # reference quirk: faithful AVG/STD call CUR (segment.py:309,352)
        if p.get("faithful", True):
            return KF.sieve_cur_flat(seg, stream, cuts, q)
        fn = KF.sieve_avg_flat if sv.kind == "avg" else KF.sieve_std_flat
        return fn(seg, stream, cuts, q)
    raise ValueError(sv.kind)


def _sanitize(label: str, i: int) -> str:
    return f"f{i:04d}_" + re.sub(r"[^A-Za-z0-9]+", "_", label).strip("_")[:48]


def feature_columns(fplan: Pl.FruitPlan) -> list[str]:
    return [_sanitize(lb, i) for i, lb in enumerate(fplan.feature_labels())]


class ExtractStats:
    """Distributed observability for an extraction job — the engine's
    analogue of the reference's ``AbstractCallback`` observers
    (callback.py:6-41).  The reference's hooks fire per in-process
    array; here the arrays live in executor Python workers, so the
    counters are Spark accumulators incremented per Arrow (sub-)batch
    and read on the driver after the action completes.

    Accumulators in a TRANSFORMATION count every computation: task
    retries, speculative execution, or a second action on an uncached
    DataFrame inflate the totals — progress observability, not an exact
    audit (cache the result or read after exactly one action for exact
    counts)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.batches = sc.accumulator(0)
        self.rows = sc.accumulator(0)
        self.tokens = sc.accumulator(0)
        # worker-side time split in microseconds (summed across all
        # workers — divide by active cores for wall): the whole Arrow
        # read (list buffers -> flat columns), the numpy kernels, and
        # the RecordBatch builds.  PySpark's Arrow stream I/O is outside.
        self.flatten_us = sc.accumulator(0)
        self.kernel_us = sc.accumulator(0)
        self.emit_us = sc.accumulator(0)

    def as_dict(self) -> dict:
        return {
            "batches": self.batches.value,
            "rows": self.rows.value,
            "tokens": self.tokens.value,
            "flatten_us": self.flatten_us.value,
            "kernel_us": self.kernel_us.value,
            "emit_us": self.emit_us.value,
        }


def extract_features(
    df: DataFrame,
    fplan: Pl.FruitPlan,
    tokens_col: str = "tokens",
    keep: tuple[str, ...] = ("doc_id", "source", "n_tok"),
    cast_scale: float | None = None,
    multivariate: bool = False,
    stats: "ExtractStats | None" = None,
) -> DataFrame:
    """Token table -> per-doc feature table (one mapInArrow, no shuffle).

    ``cast_scale``: optional multiplier applied after casting tokens to
    float64 (e.g. 1/TOKEN_MOD to keep monomials bounded without a fitted
    preparateur).

    ``multivariate``: ``tokens_col`` holds array<array<number>> (dims x
    steps), not array<number> (the 1-dim case); checked, nothing else.
    """
    import os
    import time

    dt = df.schema[tokens_col].dataType
    el = getattr(dt, "elementType", None)
    if el is None or multivariate != isinstance(el, ArrayType):
        raise ValueError(f"extract_features(multivariate={multivariate}) "
                         f"cannot read {tokens_col!r}: {dt.simpleString()}")
    fcols = feature_columns(fplan)
    keep_fields = [df.schema[k] for k in keep]
    out_schema = StructType(
        list(keep_fields) + [StructField(c, DoubleType(), False) for c in fcols]
    )
    # Sub-batch by POINTS (tokens x dims), not rows: Arrow batches are
    # sized in rows (512, or Spark's default 10k in a foreign session),
    # so with long sequences one batch would blow the per-core cache
    # working set (measured: 4096-token docs ran 2.3x slower than
    # 256-token docs at the same tokens/s budget), and CosWISS buffers
    # n_words * n_freqs streams of the block during word-major emission
    # (ADVICE r2).  The budget keeps both constant whatever the session.
    budget = int(os.environ.get("SPARK_GRAFT_TOKEN_BUDGET", "200000"))

    def spans(offsets: np.ndarray, n_dims: int):
        n = len(offsets) - 1
        if offsets[-1] * n_dims <= budget:
            yield 0, n
            return
        pts = offsets[1:] * n_dims
        start = base = 0
        for i in range(n):
            if pts[i] - base > budget and i > start:
                yield start, i
                start, base = i, pts[i - 1]
        yield start, n

    def clock(timer: str, t0: float) -> float:
        """Charge the time since ``t0`` to an ExtractStats timer."""
        t1 = time.perf_counter()
        if stats is not None:
            getattr(stats, timer).add(int((t1 - t0) * 1e6))
        return t1

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            t0 = time.perf_counter()
            groups = read_lists(batch.column(tokens_col))
            kept = batch.select(list(keep))
            t0 = clock("flatten_us", t0)
            for rows, cols, offsets in groups:
                if cast_scale is not None:
                    cols = [c * cast_scale for c in cols]
                for s, e in spans(offsets, len(cols)):
                    o = offsets[s:e + 1]
                    sub = [c[o[0]:o[-1]] for c in cols]
                    feats = compute_features_flat(sub, o - o[0], fplan)
                    t0 = clock("kernel_us", t0)
                    out = pa.RecordBatch.from_arrays(
                        kept.take(rows[s:e]).columns
                        + [pa.array(f) for f in np.ascontiguousarray(feats.T)],
                        names=out_schema.names,
                    )
                    if stats is not None:
                        stats.batches.add(1)
                        stats.rows.add(e - s)
                        stats.tokens.add(int(o[-1] - o[0]))
                    t0 = clock("emit_us", t0)
                    yield out
                    t0 = time.perf_counter()

    return df.select(*keep, tokens_col).mapInArrow(run, out_schema)

"""Flat segmented kernels: ISS / preps / sieves on (values, offsets).

The length-bucketed 3-D kernels (:mod:`.iss`, :mod:`.prep`, :mod:`.sieve`)
are exact and simple, but a batch with many distinct sequence lengths
degenerates into hundreds of tiny NumPy calls.  This module computes the
same quantities directly on Arrow's flattened list layout — ONE set of
array ops per operator for the whole batch, independent of how lengths
are distributed.  It is the engine's only production layout: a series is
a list of per-dimension flat columns sharing one :class:`Seg` geometry
(univariate = one column, with no univariate twin kernels).  The
bucketed kernels remain the reference-parity oracle for this module's
tests, :func:`iss_flat_mv` the per-word oracle of the executor's ISS
prefix trie, and the per-group body :func:`bucketed_rows_map` runs for
preparateurs that have no flat form.

Primitives:
  * segmented cumsum    — global cumsum minus per-segment carry
                          (exact for integer-valued data; <=1e-13 rel.
                          difference from per-row cumsum for floats)
  * segmented shift     — global shift + zero at segment starts
  * segmented run-max   — O(log L) doubling passes (exact: max is
                          order-insensitive)
  * per-segment reduce  — ufunc.reduceat with empty-segment repair
"""

from __future__ import annotations

import numpy as np

#: cumsum carry-subtract strategy: "auto" (mean-length rule), or
#: "slice" / "gather" to force one variant — tests set it to pin both
#: branches bit-identical (see Seg.cumsum)
_CARRY_MODE = "auto"


class Seg:
    """Precomputed segment geometry for one flat batch."""

    def __init__(self, offsets: np.ndarray) -> None:
        self.offsets = np.asarray(offsets, dtype=np.int64)
        self.lengths = np.diff(self.offsets)
        self.n = len(self.lengths)
        self.total = int(self.offsets[-1])
        self.seg_id = np.repeat(np.arange(self.n), self.lengths)
        starts = self.offsets[:-1]
        self.pos = np.arange(self.total) - np.repeat(starts, self.lengths)
        self.nonempty = self.lengths > 0
        self.max_len = int(self.lengths.max()) if self.n else 0
        self._carry_buf: np.ndarray | None = None  # cumsum scratch

    # --- scans ---------------------------------------------------------

    def cumsum(self, x: np.ndarray) -> np.ndarray:
        cs = np.cumsum(x)
        if cs.size == 0:
            # a batch where EVERY segment is empty (total == 0): the
            # carry gather below would index cs[-1] on an empty array
            # (found by shape fuzzing — reachable when an Arrow batch
            # holds only zero-token documents)
            return cs
        if max(cs.max(), -cs.min()) >= 2.0**53:
            # the global carry trick would lose integer exactness once
            # the cross-segment accumulation passes 2^53 — switch to
            # per-segment independent cumsums (exact whenever a per-row
            # scan is; O(total) + one python iteration per segment)
            return self._cumsum_per_segment(x)
        starts = self.offsets[:-1]
        base = np.where(starts > 0, cs[starts - 1], 0.0)
        if _CARRY_MODE == "slice" or (
            _CARRY_MODE == "auto" and self.total >= self.n * 512
        ):
            # LONG segments (mean >= 512): a per-segment slice subtract
            # is one in-place pass with no gather buffer; the Python
            # loop overhead (~1.6 us/segment) amortizes over the
            # segment.  Crossover measured at mean length ~500 (round
            # 3, shapes 16x12800 ... 2048x100): at 128x1600 slice is
            # 1.6x faster, at 512x390 gather is 2.2x faster — the old
            # n<=2048 rule picked slice for the bench's own shape
            # (800x260) where it loses 2.8x.
            o = self.offsets
            for i in range(self.n):
                if base[i] != 0.0:
                    cs[o[i]:o[i + 1]] -= base[i]
            return cs
        # many-segment batches: gather into a per-batch scratch buffer —
        # same values as np.repeat(base, lengths) but no 8B*total
        # allocation per scan (allocation + first-touch page faults
        # dominated).  The buffer never escapes this call.
        buf = self._carry_buf
        if buf is None:
            buf = np.empty(self.total, dtype=np.float64)
            self._carry_buf = buf
        np.take(base, self.seg_id, out=buf)
        np.subtract(cs, buf, out=cs)
        return cs

    def _cumsum_per_segment(self, x: np.ndarray) -> np.ndarray:
        """Independent per-segment cumsum slices: bit-identical to a
        per-row scan for any magnitudes (no cross-segment arithmetic at
        all — a self-resetting-accumulator variant was tried and leaks
        rounding into later segments when a boundary subtraction needs
        more than 53 mantissa bits)."""
        out = x.astype(np.float64, copy=True)
        o = self.offsets
        for i in range(self.n):
            s, e = o[i], o[i + 1]
            if e > s:
                np.cumsum(out[s:e], out=out[s:e])
        return out

    def shift1(self, x: np.ndarray) -> np.ndarray:
        out = np.empty_like(x)
        if out.size == 0:
            # every segment empty (a sub-batch of zero-token docs)
            return out
        out[1:] = x[:-1]
        out[0] = 0.0
        out[self.offsets[:-1][self.nonempty]] = 0.0
        return out

    def runmax(self, x: np.ndarray) -> np.ndarray:
        if self.n <= 2048:
            # Arrow-batch case: one accumulate pass per segment slice
            # beats the O(log max_len) doubling passes (measured 1.8x
            # at 512 segments); max is order-insensitive so both are
            # exact
            out = x.copy()
            o = self.offsets
            for i in range(self.n):
                s, e = o[i], o[i + 1]
                if e > s:
                    np.maximum.accumulate(out[s:e], out=out[s:e])
            return out
        out = x.copy()
        buf = np.empty_like(out)
        step = 1
        while step < self.max_len:
            buf[step:] = out[:-step]
            buf[:step] = -np.inf
            # invalidate lanes that would read across a segment boundary
            np.copyto(buf, -np.inf, where=self._step_mask(step))
            np.maximum(out, buf, out=out)
            step <<= 1
        return out

    def _step_mask(self, step: int) -> np.ndarray:
        """pos < step masks, cached per batch — reused by every runmax
        doubling pass of every arctic/bayesian scan in the plan."""
        cache = getattr(self, "_mask_cache", None)
        if cache is None:
            cache = {}
            self._mask_cache = cache
        m = cache.get(step)
        if m is None:
            m = self.pos < step
            cache[step] = m
        return m

    # --- reductions ----------------------------------------------------

    def _reduceat(self, ufunc, x: np.ndarray, empty_val: float) -> np.ndarray:
        out = np.full(self.n, empty_val, dtype=np.float64)
        if self.total == 0 or not self.nonempty.any():
            return out
        starts = self.offsets[:-1][self.nonempty]
        out[self.nonempty] = ufunc.reduceat(x, starts)
        # reduceat quirk: if a start index equals len(x) it wraps; our
        # nonempty filter guarantees starts < len(x).
        return out

    def sum(self, x: np.ndarray) -> np.ndarray:
        return self._reduceat(np.add, x, 0.0)

    def count(self, mask: np.ndarray) -> np.ndarray:
        """Per-segment True count of a BOOL array, accumulated directly
        in int64 by reduceat — no 8-byte float materialization of the
        mask (one full write+read pass saved per counted predicate;
        exact: counts are integers, bit-identical to summing 1.0s)."""
        out = np.zeros(self.n, dtype=np.float64)
        if self.total == 0 or not self.nonempty.any():
            return out
        starts = self.offsets[:-1][self.nonempty]
        out[self.nonempty] = np.add.reduceat(mask, starts, dtype=np.int64)
        return out

    def max(self, x: np.ndarray) -> np.ndarray:
        return self._reduceat(np.maximum, x, 0.0)

    def min(self, x: np.ndarray) -> np.ndarray:
        return self._reduceat(np.minimum, x, 0.0)

    def gather_last(self, x: np.ndarray) -> np.ndarray:
        out = np.zeros(self.n, dtype=np.float64)
        out[self.nonempty] = x[self.offsets[1:][self.nonempty] - 1]
        return out

    def gather_at(self, x: np.ndarray, idx: np.ndarray) -> np.ndarray:
        """Value at per-segment position ``idx`` (clipped into segment)."""
        out = np.zeros(self.n, dtype=np.float64)
        ne = self.nonempty
        pos = self.offsets[:-1][ne] + np.clip(
            idx[ne], 0, self.lengths[ne] - 1
        )
        out[ne] = x[pos]
        return out

    def broadcast(self, per_seg: np.ndarray) -> np.ndarray:
        # np.repeat beats per_seg[seg_id]: sequential write, no gather
        return np.repeat(per_seg, self.lengths)


# ---------------------------------------------------------------------------
# preparateurs with flat kernels (INC/STD/NRM) + the generic adapter
# ---------------------------------------------------------------------------

def inc_flat(seg: Seg, x: np.ndarray, shift: int = 1, depth: int = 1,
             zero_padding: bool = True) -> np.ndarray:
    out = x
    for _ in range(depth):
        nxt = np.zeros_like(out)
        nxt[shift:] = out[shift:] - out[:-shift]
        # zero (or restore) the first `shift` entries of every segment
        head = seg.pos < shift
        nxt[head] = 0.0 if zero_padding else x[head]
        out = nxt
    return out


def std_flat(seg: Seg, x: np.ndarray, var: bool = True,
             eps: float = 1e-5) -> np.ndarray:
    n = np.maximum(seg.lengths, 1).astype(np.float64)
    mu = seg.sum(x) / n
    # materialize (x - mu_b) ONCE and divide it in place: the naive
    # form recomputes the subtraction for the output (a full extra
    # read-read-write pass); same ops on the same inputs, bit-identical
    t = x - seg.broadcast(mu)
    if var:
        sd = np.sqrt(seg.sum(t * t) / n)
    else:
        sd = np.zeros(seg.n)
        sd += 1.0 - eps  # so (sd + eps) == 1
    t /= seg.broadcast(sd + eps)
    return t


def nrm_flat(seg: Seg, x: np.ndarray) -> np.ndarray:
    """Per-segment min-max to [0, 1], constant segments -> 0: the NRM
    prep and the weighting lookups' normalization (iss._nrm01)."""
    lo = seg._reduceat(np.minimum, x, 0.0)
    hi = seg._reduceat(np.maximum, x, 0.0)
    span = hi - lo
    safe = np.where(span == 0, 1.0, span)
    out = (x - seg.broadcast(lo)) / seg.broadcast(safe)
    return np.where(seg.broadcast(span) == 0, 0.0, out)


def nrm_flat_mv(seg: Seg, cols, scale_dim: bool = False) -> list:
    """Per-dimension NRM over a column list; ``scale_dim=True`` shares
    one min/max across all dims per series (prep.py nrm axis=(1,2))."""
    if not scale_dim or len(cols) == 1:
        return [nrm_flat(seg, c) for c in cols]
    lo = seg._reduceat(np.minimum, cols[0], 0.0)
    hi = seg._reduceat(np.maximum, cols[0], 0.0)
    for c in cols[1:]:
        lo = np.minimum(lo, seg._reduceat(np.minimum, c, 0.0))
        hi = np.maximum(hi, seg._reduceat(np.maximum, c, 0.0))
    span = hi - lo
    safe = np.where(span == 0, 1.0, span)
    blo, bsafe = seg.broadcast(lo), seg.broadcast(safe)
    zero = seg.broadcast(span) == 0
    return [np.where(zero, 0.0, (c - blo) / bsafe) for c in cols]


def bucketed_rows_map(seg: Seg, cols, fn) -> tuple[Seg, list]:
    """Run a 3-D-block callable over a flat batch: rows are grouped by
    length, ``fn`` gets each group as (n_group, d, l) and returns
    (n_group, d', l'); results scatter back to d' flat columns on the
    returned geometry (``l'`` may differ from ``l``, e.g. LAG's 2l-1).

    The generic adapter for every preparateur without a flat kernel
    (MAV, LAG, JLD, FUN, ...) and for a Custom weighting ``g(X)``
    (weighting.py:41-66) — the bucketed oracle's grouping, so results
    match it exactly.  Zero-length rows stay empty."""
    groups = []
    out_len = np.zeros(seg.n, dtype=np.int64)
    for ln in np.unique(seg.lengths[seg.nonempty]):
        rows = np.nonzero(seg.lengths == ln)[0]
        gather = (
            seg.offsets[rows][:, None] + np.arange(int(ln))[None, :]
        ).ravel()
        Z = np.stack(
            [c[gather].reshape(len(rows), int(ln)) for c in cols], axis=1
        )
        R = np.asarray(fn(Z), dtype=np.float64)
        if groups and R.shape[1] != groups[0][1].shape[1]:
            raise ValueError(
                f"prep output dims differ across lengths: "
                f"{groups[0][1].shape[1]} vs {R.shape[1]}"
            )
        out_len[rows] = R.shape[2]
        groups.append((rows, R))
    if not groups:
        return seg, list(cols)  # every row empty: nothing to transform
    out_seg = seg
    if not np.array_equal(out_len, seg.lengths):
        offsets = np.zeros(seg.n + 1, dtype=np.int64)
        np.cumsum(out_len, out=offsets[1:])
        out_seg = Seg(offsets)
    out = [np.zeros(out_seg.total) for _ in range(groups[0][1].shape[1])]
    for rows, R in groups:
        ln = R.shape[2]
        gather = (
            out_seg.offsets[rows][:, None] + np.arange(ln)[None, :]
        ).ravel()
        for d, c in enumerate(out):
            c[gather] = R[:, d, :].ravel()
    return out_seg, out


# ---------------------------------------------------------------------------
# weighting lookups + coquantiles
# ---------------------------------------------------------------------------

def indices_lookup_flat(seg: Seg, relative: bool = True,
                        scale: float = 50.0) -> np.ndarray:
    r = (seg.pos + 1).astype(np.float64)
    if relative:
        r = r / seg.broadcast(seg.lengths.astype(np.float64))
    return nrm_flat(seg, r) * scale


def plateaus_lookup_flat(seg: Seg, nplateaus: int, reverse: bool = False,
                         scale: float = 50.0) -> np.ndarray:
    """Step-function weighting g (reference weighting.py:213-256) on the
    flat layout: plateau i (of ``step = len // nplateaus`` positions)
    weighs ``i / (nplateaus - 1)``; positions past ``nplateaus * step``
    keep the pre-fill value 1.0 (matching the bucketed kernel's
    initialized-ones tail); per-segment min-max then scale.  ``reverse``
    indexes positions from the segment's end — identical to reversing
    the per-row array."""
    L = seg.broadcast(seg.lengths)
    p = (L - 1 - seg.pos) if reverse else seg.pos
    step = seg.broadcast(seg.lengths // nplateaus)
    vals = np.ones(seg.total, dtype=np.float64)
    ok = step > 0
    idx = np.zeros(seg.total, dtype=np.int64)
    np.floor_divide(p, step, out=idx, where=ok)
    inside = ok & (idx < nplateaus)
    vals[inside] = idx[inside] / (nplateaus - 1)
    return nrm_flat(seg, vals) * scale


def l1_mass_flat(seg: Seg, x: np.ndarray) -> np.ndarray:
    return seg.cumsum(np.abs(inc_flat(seg, x)))


def l2_mass_flat(seg: Seg, x: np.ndarray) -> np.ndarray:
    d = inc_flat(seg, x)
    return seg.cumsum(d * d)


def l1_lookup_flat(seg: Seg, x: np.ndarray, relative: bool = False,
                   scale: float = 50.0) -> np.ndarray:
    s = l1_mass_flat(seg, x)
    if relative:
        s = s / (seg.broadcast(seg.gather_last(s)) + 1e-5)
    return nrm_flat(seg, s) * scale


def l2_lookup_flat(seg: Seg, x: np.ndarray, relative: bool = False,
                   scale: float = 50.0) -> np.ndarray:
    s = l2_mass_flat(seg, x)
    if relative:
        s = s / (seg.broadcast(seg.gather_last(s)) + 1e-5)
    return nrm_flat(seg, s) * scale


def coquantile_flat(seg: Seg, x: np.ndarray, q: float,
                    norm: str = "L2") -> np.ndarray:
    mass = l1_mass_flat(seg, x) if norm == "L1" else l2_mass_flat(seg, x)
    last = seg.broadcast(seg.gather_last(mass))
    return seg.sum((mass <= q * last).astype(np.float64)).astype(np.int64)


# ---------------------------------------------------------------------------
# ISS letters and the per-word scan (the executor's one prefix trie builds
# on the letter ops; iss_flat_mv is the per-word oracle it is pinned to)
# ---------------------------------------------------------------------------

def _mul_letter_nd(tmp: np.ndarray | None, cols, exps) -> np.ndarray:
    """tmp * prod_d cols[d]**exps[d] with ``tmp=None`` the multiplicative
    identity.  Exponents apply as repeated multiply/divide in dimension
    order — the exact op order of the bucketed ``_pow_product``
    (iss.py:46-58, reference semiring.py:111-117); since the bucketed
    kernels seed with exact ones, dropping the leading ``1.0 *`` is
    bit-neutral."""
    for dim, e in enumerate(exps):
        e = int(e)
        if e > 0:
            for _ in range(e):
                tmp = cols[dim] if tmp is None else tmp * cols[dim]
        elif e < 0:
            if tmp is None:
                tmp = np.ones_like(cols[dim])
            for _ in range(-e):
                tmp = tmp / cols[dim]
    if tmp is None:
        return np.ones_like(cols[0])
    return tmp


def _mul_letter_nd_owned(tmp: np.ndarray, cols, exps) -> np.ndarray:
    """In-place :func:`_mul_letter_nd` for a caller-owned ``tmp``."""
    for dim, e in enumerate(exps):
        e = int(e)
        if e > 0:
            for _ in range(e):
                np.multiply(tmp, cols[dim], out=tmp)
        elif e < 0:
            for _ in range(-e):
                np.divide(tmp, cols[dim], out=tmp)
    return tmp


def _lin_combo_nd(cols, exps) -> np.ndarray:
    """sum_d exps[d] * cols[d] (arctic letter), accumulation order and
    zero-seed identical to the bucketed ``_linear_combo`` (iss.py:62-67)."""
    out = np.zeros_like(cols[0])
    for dim, e in enumerate(exps):
        e = int(e)
        if e != 0:
            out = out + float(e) * cols[dim]
    return out


def _mul_chain(tmp: np.ndarray, w: np.ndarray, k: int,
               owned: bool = False) -> np.ndarray:
    """``tmp * w`` applied ``k`` times, left-to-right — value-identical
    to the naive loop but only the FIRST multiply allocates (the rest
    run in place on the fresh buffer); ``owned=True`` when the caller
    already owns ``tmp`` (never pass a shared/trie-state array)."""
    for _ in range(k):
        if owned:
            np.multiply(tmp, w, out=tmp)
        else:
            tmp = tmp * w
            owned = True
    return tmp


def iss_flat_mv(
    seg: Seg,
    cols,
    word: np.ndarray,
    extended: int = 1,
    semiring: str = "reals",
    alpha: np.ndarray | None = None,
    lookup: np.ndarray | None = None,
    total: bool = False,
) -> list[np.ndarray]:
    """Per-word ISS on a flat batch; returns ``extended`` flat stream
    arrays (shortest prefix first).  ``cols`` is one flat float64 array
    per input dimension (shared ``seg`` geometry; univariate = one
    column), ``word`` a (letters, dims) exponent matrix.  Same
    recurrences as :func:`fruits_spark.kernels.iss.iss` on (n, d, l)
    blocks — the only dimension-aware ops are the per-letter monomials
    (:func:`_mul_letter_nd`) and arctic linear combinations
    (:func:`_lin_combo_nd`), both in bucketed op order.  Test oracle
    only: production ISS runs through the executor's prefix trie."""
    word = np.asarray(word)
    if word.shape[1] > len(cols):
        raise ValueError(
            f"word uses dim {word.shape[1]} but input has {len(cols)}"
        )
    k_total = word.shape[0]
    weighted = lookup is not None
    if weighted:
        a = np.asarray(
            alpha if alpha is not None else np.ones(k_total), dtype=np.float32
        ).astype(np.float64)
    results: list[np.ndarray] = []

    if semiring == "reals":
        if weighted and total:
            tmp = None
            for k in range(k_total):
                tmp = _mul_letter_nd(tmp, cols, word[k])
                tmp = seg.cumsum(tmp * np.exp(lookup * a[k]))
                if k_total - k <= extended:
                    results.append(tmp * np.exp(-lookup * a[k]))
                if k < k_total - 1:
                    tmp = seg.shift1(tmp) * np.exp(-lookup * a[k])
        else:
            tmp = None
            for k in range(k_total):
                if k > 0:
                    tmp = seg.shift1(tmp)
                tmp = _mul_letter_nd(tmp, cols, word[k])
                if weighted and k > 0:
                    tmp = tmp * np.exp(-lookup * a[k - 1])
                if k_total - k <= extended:
                    results.append(seg.cumsum(tmp))
                if k < k_total - 1:
                    if weighted:
                        tmp = seg.cumsum(tmp * np.exp(lookup * a[k]))
                    else:
                        tmp = seg.cumsum(tmp)
    elif semiring == "arctic":
        tmp = np.zeros_like(cols[0])
        if weighted and total:
            for k in range(k_total):
                tmp = tmp + _lin_combo_nd(cols, word[k])
                tmp = seg.runmax(tmp + lookup * a[k])
                if k_total - k <= extended:
                    results.append(tmp - lookup * a[k])
                if k < k_total - 1:
                    tmp = tmp - lookup * a[k]
        else:
            for k in range(k_total):
                tmp = tmp + _lin_combo_nd(cols, word[k])
                if weighted and k > 0:
                    tmp = tmp - lookup * a[k - 1]
                if k_total - k <= extended:
                    results.append(seg.runmax(tmp))
                if k < k_total - 1:
                    if weighted:
                        tmp = seg.runmax(tmp + lookup * a[k])
                    else:
                        tmp = seg.runmax(tmp)
    elif semiring == "bayesian":
        tmp: np.ndarray | None = np.ones_like(cols[0])
        if weighted and total:
            # mirror of the bucketed _iss_bayesian_total (round-5 fix)
            for k in range(k_total):
                tmp = _mul_letter_nd(tmp, cols, word[k])
                tmp = seg.runmax(tmp * np.exp(lookup * a[k]))
                if k_total - k <= extended:
                    results.append(tmp * np.exp(-lookup * a[k]))
                if k < k_total - 1:
                    tmp = tmp * np.exp(-lookup * a[k])
        else:
            for k in range(k_total):
                tmp = _mul_letter_nd(tmp, cols, word[k])
                if weighted and k > 0:
                    tmp = tmp * np.exp(-lookup * a[k - 1])
                if k_total - k <= extended:
                    results.append(seg.runmax(tmp))
                if k < k_total - 1:
                    if weighted:
                        tmp = seg.runmax(tmp * np.exp(lookup * a[k]))
                    else:
                        tmp = seg.runmax(tmp)
    else:
        raise ValueError(semiring)
    return results


def runmax_argmax_flat(seg: Seg, x: np.ndarray):
    """Segmented running max plus the within-segment index of the last
    strict improvement (ties keep the earlier index — the reference's
    ``>=`` keep-branch, iss.py _runmax_argmax)."""
    r = seg.runmax(x)
    changed = np.zeros(seg.total, dtype=bool)
    if seg.total:
        changed[1:] = r[1:] > r[:-1]
        changed[seg.offsets[:-1][seg.nonempty]] = True
    upd = np.where(changed, seg.pos.astype(np.float64), -1.0)
    return r, seg.runmax(upd)


def iss_arctic_argmax_flat(
    seg: Seg,
    cols,
    word: np.ndarray,
    alpha: np.ndarray | None = None,
    lookup: np.ndarray | None = None,
) -> list[np.ndarray]:
    """Arctic ISS with argmax tracking on the flat layout: same stream
    layout and values as :func:`..iss.iss_arctic_argmax` (p value
    streams interleaved with p(p+1)/2 maximizing-index streams, later
    letters freezing earlier letters' argmax streams at the position
    their final argmax points to).  ``cols`` is the per-dimension column
    list; the linear combo is the only dimension-aware op, matching the
    bucketed kernel's ``_linear_combo``."""
    word = np.asarray(word)
    p = len(word)
    if lookup is None:
        lookup = np.zeros(seg.total)
        alpha = np.zeros(p, dtype=np.float32)
    a = np.asarray(alpha, dtype=np.float32).astype(np.float64)
    zeros = np.zeros(seg.total)
    vals: list = [zeros] * p
    idxs: list = [zeros] * p
    tmp = np.zeros_like(cols[0])
    for k in range(p):
        if not np.any(word[k]):
            continue  # bucketed parity: zero letters leave zero streams
        tmp = tmp + _lin_combo_nd(cols, word[k])
        if k > 0:
            tmp = tmp - lookup * a[k - 1]
        vals[k], idxs[k] = runmax_argmax_flat(seg, tmp)
        if k < p - 1:
            tmp = seg.runmax(tmp + lookup * a[k])
    n_out = p + p * (p + 1) // 2
    out: list = [zeros] * n_out
    for k in range(p - 1, -1, -1):
        index = k + k * (k + 1) // 2
        out[index] = vals[k]
        out[index + k + 1] = idxs[k]
        for s in range(k, 0, -1):
            # freeze the earlier letter's argmax stream at the position
            # the later letter's final argmax points to
            c = seg.gather_last(out[index + s + 1]).astype(np.int64) + 1
            prev = idxs[s - 1]
            frozen = seg.gather_at(prev, np.maximum(c - 1, 0))
            out[index + s] = np.where(
                seg.pos < seg.broadcast(c), prev, seg.broadcast(frozen)
            )
    return out


def coswiss_flat_multi_mv(
    seg: Seg,
    cols,
    words,
    freq: float,
    exponent: int = 2,
    total: bool = False,
) -> list[np.ndarray]:
    """Flat-layout CosWISS for many words of one frequency with
    cross-word CSE (mirror of ``iss.coswiss_multi`` on a per-dimension
    column list; univariate = one column): trie keys are full letter
    tuples trimmed of trailing zero exponents, so words declared over
    fewer dims than the input share streams exactly as the bucketed
    kernel's zero-padding makes them."""
    from math import comb

    f32 = float(np.float32(freq))
    denom = f32 * np.maximum(seg.lengths - 1, 1).astype(np.float64)
    g = np.pi * seg.pos / seg.broadcast(denom)
    sin_w, cos_w = np.sin(g), np.cos(g)

    def trim(row):
        t = tuple(int(e) for e in row)
        while t and t[-1] == 0:
            t = t[:-1]
        return t

    letter_seqs = [
        tuple(trim(row) for row in np.asarray(w)) for w in words
    ]
    children: dict[tuple, list] = {(): []}
    ends: dict[tuple, list] = {}
    for wi, ls in enumerate(letter_seqs):
        for j in range(len(ls)):
            node, nxt = ls[:j], ls[:j + 1]
            kids = children.setdefault(node, [])
            if nxt not in kids:
                kids.append(nxt)
            children.setdefault(nxt, [])
        ends.setdefault(ls, []).append(wi)
    results = [np.zeros_like(cols[0]) for _ in words]

    def dfs(node, state, coeff, prev):
        # the shift + letter monomial and the leading sin^right_sin run
        # are IDENTICAL across a child's emission and all its exponent
        # choices — hoist them out of the choice loop.  Op sequence per
        # root-to-leaf path is unchanged (sins before coses, same
        # association), so results stay bit-identical; ~30% fewer array
        # passes at exponent 2.
        k = len(node)
        right_sin = (exponent - prev) if k > 0 else 0
        right_cos = prev if k > 0 else 0
        for child in children[node]:
            letter = child[-1]
            wis = ends.get(child, ())
            base = seg.shift1(state) if k > 0 else state
            base = _mul_letter_nd(base, cols, letter)
            presin = _mul_chain(base, sin_w, right_sin)
            if wis and not total:
                st = seg.cumsum(_mul_chain(presin, cos_w, right_cos))
                for wi in wis:
                    results[wi] += coeff * st
            if children[child] or (wis and total):
                for c in range(exponent + 1):
                    tmp = _mul_chain(presin, sin_w, exponent - c)
                    tmp = _mul_chain(tmp, cos_w, right_cos + c,
                                     owned=tmp is not presin)
                    st = seg.cumsum(tmp)
                    if wis and total:
                        tmp = _mul_chain(st, sin_w, exponent - c)
                        tmp = _mul_chain(tmp, cos_w, c, owned=tmp is not st)
                        for wi in wis:
                            results[wi] += (coeff * comb(exponent, c)) * tmp
                    if children[child]:
                        dfs(child, st, coeff * comb(exponent, c), c)

    dfs((), np.ones_like(cols[0]), 1, 0)
    return results


# ---------------------------------------------------------------------------
# sieves on flat streams
# ---------------------------------------------------------------------------

def resolve_cuts_flat(seg: Seg, cuts, norm: str, src: np.ndarray,
                      src_seg: Seg | None = None) -> np.ndarray:
    """(n, len(cuts)+1) sorted cut-index matrix; float cuts -> coquantile
    of the *source* series mass (matches bucketed resolve_cuts).
    ``src_seg`` is the source's geometry when a prep changed the
    stream's lengths; integer cuts always index the stream."""
    src_seg = seg if src_seg is None else src_seg
    out = np.zeros((seg.n, len(cuts) + 1), dtype=np.int64)
    for i, c in enumerate(cuts):
        if isinstance(c, float):
            out[:, i + 1] = coquantile_flat(src_seg, src, c, norm)
        else:
            out[:, i + 1] = c if c >= 0 else seg.lengths + c + 1
    out.sort(axis=1)
    return out


def _seg_band_mask(seg: Seg, stream, cuts, j, quantiles, k):
    """Mask for (segment j, band k), or None when it is all-true.

    The common case — full segment (cut -1) and full band (-inf, inf] —
    needs no mask; skipping it removes ~6 full-array passes per
    (stream, sieve) pair, which dominates memory traffic at scale.
    """
    full_seg = bool(
        np.all(cuts[:, j] == 0) and np.all(cuts[:, j + 1] == seg.lengths)
    )
    full_band = bool(
        np.isneginf(quantiles[k]) and np.isposinf(quantiles[k + 1])
    )
    m = None
    if not full_seg:
        lo = seg.broadcast(cuts[:, j])
        hi = seg.broadcast(cuts[:, j + 1])
        m = (seg.pos >= lo) & (seg.pos < hi)
    if not full_band:
        band = (quantiles[k] < stream) & (stream <= quantiles[k + 1])
        m = band if m is None else (m & band)
    return m


def _masked_feature(seg, stream, cuts, quantiles, reducer, empty=0.0):
    nseg = cuts.shape[1] - 1
    nb = len(quantiles) - 1
    out = np.zeros((seg.n, nseg * nb))
    for j in range(nseg):
        for k in range(nb):
            m = _seg_band_mask(seg, stream, cuts, j, quantiles, k)
            out[:, j * nb + k] = reducer(m)
    return out


def sieve_max_flat(seg, stream, cuts, quantiles):
    def red(m):
        x = stream if m is None else np.where(m, stream, -np.inf)
        v = seg._reduceat(np.maximum, x, -np.inf)
        return np.where(np.isfinite(v), v, 0.0)
    return _masked_feature(seg, stream, cuts, quantiles, red)


def sieve_min_flat(seg, stream, cuts, quantiles):
    def red(m):
        x = stream if m is None else np.where(m, stream, np.inf)
        v = seg._reduceat(np.minimum, x, np.inf)
        return np.where(np.isfinite(v), v, 0.0)
    return _masked_feature(seg, stream, cuts, quantiles, red)


def sieve_end_flat(seg, stream, cuts):
    out = np.zeros((seg.n, cuts.shape[1] - 1))
    for j in range(cuts.shape[1] - 1):
        out[:, j] = seg.gather_at(stream, cuts[:, j + 1] - 1)
    return out


def sieve_cur_flat(seg, stream, cuts, quantiles):
    x2 = inc_flat(seg, inc_flat(seg, stream))
    def red(m):
        return seg.sum(x2 * x2 if m is None else np.where(m, x2 * x2, 0.0))
    return _masked_feature(seg, x2, cuts, quantiles, red)


def sieve_avg_flat(seg, stream, cuts, quantiles):
    """True per-band mean (the ``faithful=False`` AVG; faithful=True is
    routed to CUR upstream, reproducing the reference quirk)."""
    def red(m):
        if m is None:
            cnt = seg.lengths.astype(np.float64)
            s = seg.sum(stream)
        else:
            cnt = seg.count(m)
            s = seg.sum(np.where(m, stream, 0.0))
        return np.where(cnt > 0, s / np.maximum(cnt, 1), 0.0)
    return _masked_feature(seg, stream, cuts, quantiles, red)


def sieve_std_flat(seg, stream, cuts, quantiles):
    """True per-band standard deviation (``faithful=False`` STD)."""
    def red(m):
        if m is None:
            cnt = np.maximum(seg.lengths, 1).astype(np.float64)
            mu_b = seg.broadcast(seg.sum(stream) / cnt)
            var = seg.sum((stream - mu_b) ** 2) / cnt
        else:
            cnt = np.maximum(seg.count(m), 1)
            mu_b = seg.broadcast(
                seg.sum(np.where(m, stream, 0.0)) / cnt
            )
            var = seg.sum(np.where(m, (stream - mu_b) ** 2, 0.0)) / cnt
        return np.sqrt(var)
    return _masked_feature(seg, stream, cuts, quantiles, red)


def _pre_inc_flat(seg, stream, inc):
    arr = stream
    if inc > 0:
        for _ in range(inc):
            arr = inc_flat(seg, arr)
    elif inc < 0:
        for _ in range(-inc):
            arr = seg.cumsum(arr)
    return arr


def sieve_npi_flat(seg, stream, cuts, quantiles, inc=1):
    arr = _pre_inc_flat(seg, stream, inc)
    def red(m):
        if m is None:
            return seg.lengths.astype(np.float64)
        return seg.count(m)
    return _masked_feature(seg, arr, cuts, quantiles, red)


def sieve_mpi_flat(seg, stream, cuts, quantiles, inc=1):
    arr = _pre_inc_flat(seg, stream, inc)
    def red(m):
        if m is None:
            cnt = seg.lengths.astype(np.float64)
            s = seg.sum(arr)
        else:
            cnt = seg.count(m)
            s = seg.sum(np.where(m, arr, 0.0))
        return np.where(cnt > 0, s / np.maximum(cnt, 1), 0.0)
    return _masked_feature(seg, arr, cuts, quantiles, red)


def sieve_xpi_flat(seg, stream, cuts, quantiles, inc=1):
    arr = _pre_inc_flat(seg, stream, inc)
    nseg = cuts.shape[1] - 1
    nb = len(quantiles) - 1
    out = np.zeros((seg.n, nseg * nb))
    for j in range(nseg):
        rel = seg.pos - seg.broadcast(cuts[:, j])
        for k in range(nb):
            m = _seg_band_mask(seg, arr, cuts, j, quantiles, k)
            if m is None:
                cnt = seg.lengths.astype(np.float64)
                s = seg.sum(rel.astype(np.float64))
            else:
                cnt = seg.count(m)
                s = seg.sum(np.where(m, rel, 0).astype(np.float64))
            out[:, j * nb + k] = np.where(cnt > 0, s / np.maximum(cnt, 1), 0.0)
    return out


def sieve_lpi_flat(seg, stream, cuts, quantiles, inc=1):
    arr = _pre_inc_flat(seg, stream, inc)
    nseg = cuts.shape[1] - 1
    nb = len(quantiles) - 1
    out = np.zeros((seg.n, nseg * nb))
    gidx = np.arange(seg.total)
    seg_start = seg.broadcast(seg.offsets[:-1])
    for j in range(nseg):
        for k in range(nb):
            m = _seg_band_mask(seg, arr, cuts, j, quantiles, k)
            if m is None:
                out[:, j * nb + k] = seg.lengths
                continue
            last_false = np.maximum.accumulate(np.where(~m, gidx, -1))
            reset = np.maximum(last_false, seg_start - 1)
            runs = np.where(m, gidx - reset, 0)
            out[:, j * nb + k] = seg.max(runs.astype(np.float64))
    return out


def sieve_ppv_flat(seg, stream, quantiles, segments=False):
    n = np.maximum(seg.lengths, 1).astype(np.float64)
    qs = list(quantiles)
    if segments:
        out = np.zeros((seg.n, len(qs) - 1))
        for j in range(1, len(qs)):
            m = (qs[j - 1] <= stream) & (stream < qs[j])
            out[:, j - 1] = seg.count(m) / n
        return out
    out = np.zeros((seg.n, len(qs)))
    for j, q in enumerate(qs):
        out[:, j] = seg.count(stream >= q) / n
    return out


def sieve_cpv_flat(seg, stream, quantiles, segments=False):
    n_even = (seg.lengths + (seg.lengths % 2)).astype(np.float64)
    n_even = np.maximum(n_even, 1)
    qs = list(quantiles)

    def rising(mask):
        # rising edge = True preceded by False, never at a segment
        # start (the float-increment form this replaces zeroed segment
        # heads); all-bool arithmetic — 1-byte traffic instead of the
        # former 8-byte float increment chain, identical counts
        if mask.size == 0:
            return np.zeros(seg.n, dtype=np.float64)
        r = np.empty_like(mask)
        r[1:] = mask[1:] & ~mask[:-1]
        r[0] = False
        r[seg.offsets[:-1][seg.nonempty]] = False
        return seg.count(r)

    if segments:
        out = np.zeros((seg.n, len(qs) - 1))
        for j in range(1, len(qs)):
            out[:, j - 1] = 2 * rising((qs[j - 1] <= stream) & (stream < qs[j])) / n_even
        return out
    out = np.zeros((seg.n, len(qs)))
    for j, q in enumerate(qs):
        out[:, j] = 2 * rising(stream >= q) / n_even
    return out

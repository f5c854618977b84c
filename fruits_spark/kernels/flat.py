"""Flat segmented kernels: ISS / preps / sieves on (values, offsets).

The length-bucketed 3-D kernels (:mod:`.iss`, :mod:`.prep`, :mod:`.sieve`)
are exact and simple, but a batch with many distinct sequence lengths
degenerates into hundreds of tiny NumPy calls.  This module computes the
same quantities on a whole batch at once — one set of array ops per
operator and length class, however the lengths are distributed.  It is
the engine's only production layout: a series is a list of
per-dimension columns sharing one :class:`Seg` geometry (univariate =
one column, with no univariate twin kernels).  The bucketed kernels
are this module's one oracle: per doc, the executor's ISS prefix trie
matches ``iss.iss`` and :func:`coswiss_flat_multi_mv` matches per-word
``iss.coswiss`` bit for bit; they are also the per-group body
:func:`bucketed_rows_map` runs for preparateurs that have no flat form.

Layout: :class:`Seg` sorts a batch's docs by length and cuts them into
``N_CLASSES`` equal-count length classes; each class is one time-major
``(L_c, n_c)`` block (row t = step t of every doc in the class, one doc
per column, ``L_c`` its longest doc), and the blocks sit back to back in
one 1-D buffer.  A column enters that buffer once (:meth:`Seg.enter`);
every kernel here takes and returns buffers.  Rows past a doc's end are
PAD lanes: they hold whatever the element-wise ops make of them (zero
on entry, possibly inf/nan later) and no valid row ever reads them.

Primitives: scans (``np.cumsum`` / ``np.maximum.accumulate`` down axis
0 per class, so each doc's ops run in the oracle's order and a pad row
only follows valid rows: bit-identical to a per-doc scan); a per-class
row shift; per-doc reductions over valid rows only.  A float sum is a
doc's last prefix sum, in time order whatever batch the doc is in (the
oracle's ``np.sum`` is pairwise: equal to rounding).
"""

from __future__ import annotations

import numpy as np

#: length classes per batch: more carry fewer pad rows, fewer make fewer
#: per-class calls per op (8 beat 4 on the flagship plan; BENCH.md)
N_CLASSES = 8

_IDENTITY = {np.add: 0.0, np.maximum: -np.inf, np.minimum: np.inf}
_LANES = 512  # inner-loop width an order-free reduction folds rows to


class Seg:
    """Length-class geometry of one batch (see the module docstring).

    ``offsets`` is the Arrow list layout; per-doc arrays (``lengths``,
    reductions, ``broadcast`` input) stay in doc order.  ``pos`` is each
    buffer element's step index, ``size`` the buffer length."""

    def __init__(self, offsets: np.ndarray) -> None:
        self.offsets = np.asarray(offsets, dtype=np.int64)
        self.lengths = np.diff(self.offsets)
        self.n = len(self.lengths)
        self.total = int(self.offsets[-1])
        self.nonempty = self.lengths > 0
        self.order = np.argsort(self.lengths, kind="stable")
        self._col = np.zeros(self.n, dtype=np.int64)  # buffer index, step 0
        self._stride = np.ones(self.n, dtype=np.int64)
        head = np.zeros(self.n, dtype=np.int64)
        # (start, rows L, cols n, head rows h, doc slice of order): the
        # first h rows are valid in every column, h a multiple of the
        # row fold k of an order-free reduction (see _reduce)
        self._blocks: list[tuple] = []
        self._tail_ok: list[np.ndarray] = []  # rows h..L-1: valid lanes
        o = 0
        cuts = np.arange(N_CLASSES + 1) * self.n // N_CLASSES
        for a, b in zip(cuts[:-1], cuts[1:]):
            docs = self.order[a:b]
            lens = self.lengths[docs]
            if b == a or lens[-1] == 0:
                continue  # no class, or a class of empty docs: no rows
            L, n = int(lens[-1]), int(b - a)
            h = int(lens[0]) - int(lens[0]) % max(1, _LANES // n)
            self._col[docs], self._stride[docs] = o + np.arange(n), n
            head[docs] = h
            self._blocks.append((o, L, n, h, slice(int(a), int(b))))
            self._tail_ok.append(np.arange(h, L)[:, None] < lens[None, :])
            o += L * n
        self.size = o
        self.pos = np.empty(o, dtype=np.int64)  # step index of each lane
        self._src = np.empty(o, dtype=np.int64)  # its flat index (pads: on)
        for (pos, src), (_, L, _, _, docs) in zip(
                self.blocks(self.pos, self._src), self._blocks):
            pos[...] = np.arange(L)[:, None]
            src[...] = pos + self.offsets[self.order[docs]]
        # valid tail lanes (steps h..len-1), doc by doc: an order-free
        # reduction gathers them for one reduceat (see _reduce)
        d = self._tail_docs = np.nonzero(self.lengths > head)[0]
        tail = self.lengths[d] - head[d]
        self._tail_starts = np.cumsum(tail) - tail
        self._tail_src = self.index(d, tail, head[d])

    def index(self, docs: np.ndarray, steps, first=0) -> np.ndarray:
        """Buffer positions of steps ``first .. first + steps - 1`` of
        ``docs``: a ``(len(docs), steps)`` matrix for one int ``steps``,
        else each doc's run (per-doc ``steps``) laid end to end."""
        stride = self._stride[docs]
        col = self._col[docs] + first * stride
        if np.ndim(steps) == 0:
            return col[:, None] + np.arange(steps) * stride[:, None]
        t = np.arange(steps.sum()) - np.repeat(np.cumsum(steps) - steps, steps)
        return np.repeat(col, steps) + t * np.repeat(stride, steps)

    def enter(self, x: np.ndarray) -> np.ndarray:
        """A flat (Arrow-order) column as a buffer: one gather, pads 0."""
        x = np.asarray(x, dtype=np.float64)
        return self.clean(np.take(x, self._src, mode="clip"))

    def leave(self, x: np.ndarray) -> np.ndarray:
        """A buffer back in flat (Arrow) order, pads dropped."""
        return x[self.index(np.arange(self.n), self.lengths)]

    def blocks(self, *arrays):
        """Each class's ``(L_c, n_c)`` views of the buffers ``arrays``."""
        for o, L, n, _, _ in self._blocks:
            yield tuple(a[o:o + L * n].reshape(L, n) for a in arrays)

    def clean(self, x: np.ndarray) -> np.ndarray:
        """Zero ``x``'s pad lanes in place (they sit in tail rows only)."""
        for (o, L, n, h, _), ok in zip(self._blocks, self._tail_ok):
            np.copyto(x[o + h * n:o + L * n].reshape(L - h, n), 0, where=~ok)
        return x

    # --- scans: down axis 0, so pad rows (after a doc's end) never reach
    # a valid row and each doc's ops run in per-doc order ----------------

    def cumsum(self, x: np.ndarray) -> np.ndarray:
        out = np.empty_like(x)
        for v, w in self.blocks(x, out):
            np.cumsum(v, axis=0, out=w)
        return out

    def runmax(self, x: np.ndarray) -> np.ndarray:
        out = np.empty_like(x)
        for v, w in self.blocks(x, out):
            np.maximum.accumulate(v, axis=0, out=w)
        return out

    def shift1(self, x: np.ndarray, fill=0) -> np.ndarray:
        out = np.empty_like(x)
        for o, L, n, _, _ in self._blocks:  # 1-D slices: one memmove
            out[o:o + n] = fill
            out[o + n:o + L * n] = x[o:o + (L - 1) * n]
        return out

    # --- reductions over valid rows, results in doc order ---------------

    def _reduce(self, ufunc, x: np.ndarray, empty_val: float,
                dtype=None) -> np.ndarray:
        """Per-doc ``ufunc`` reduction over valid rows, in doc order, for
        an order-free ``ufunc`` (max/min, integer counts)."""
        r = np.full(self.n, _IDENTITY[ufunc], dtype=dtype or x.dtype)
        for o, L, n, h, docs in self._blocks:
            if h:
                # k head rows fold into one row, so an inner loop spans
                # ~_LANES lanes, not n
                k = max(1, _LANES // n)
                v = x[o:o + L * n].reshape(L, n)
                part = ufunc.reduce(v[:h].reshape(h // k, k * n), axis=0,
                                    dtype=dtype)
                ufunc.reduce(part.reshape(k, n), axis=0, out=r[docs])
        out = np.empty(self.n, dtype=np.float64)
        out[self.order] = r
        if len(self._tail_docs):
            # ... and their valid tail lanes, gathered doc by doc
            t = self._tail_docs
            out[t] = ufunc(out[t], ufunc.reduceat(
                x[self._tail_src], self._tail_starts, dtype=dtype
            ))
        out[~self.nonempty] = empty_val
        return out

    def sum(self, x: np.ndarray) -> np.ndarray:
        """Per-doc float sum in time order: a doc's last prefix sum, so
        it does not depend on which docs share its batch (0 if empty)."""
        return self.gather_last(self.cumsum(x))

    def count(self, mask: np.ndarray) -> np.ndarray:
        """Per-doc True count of a BOOL buffer over valid rows: byte
        lanes summed in int32 (exact; no float copy of the mask)."""
        return self._reduce(np.add, mask.view(np.uint8), 0.0, np.int32)

    def max(self, x: np.ndarray) -> np.ndarray:
        return self._reduce(np.maximum, x, 0.0)

    def min(self, x: np.ndarray) -> np.ndarray:
        return self._reduce(np.minimum, x, 0.0)

    def gather_at(self, x: np.ndarray, idx: np.ndarray) -> np.ndarray:
        """Value at per-doc step ``idx`` (clipped into the doc); 0 for
        empty docs."""
        out = np.zeros(self.n, dtype=np.float64)
        ne = self.nonempty
        t = np.clip(idx[ne], 0, self.lengths[ne] - 1)
        out[ne] = x[self._col[ne] + t * self._stride[ne]]
        return out

    def gather_last(self, x: np.ndarray) -> np.ndarray:
        return self.gather_at(x, self.lengths - 1)

    def broadcast(self, per_seg: np.ndarray) -> np.ndarray:
        p = np.asarray(per_seg)[self.order]
        out = np.empty(self.size, dtype=p.dtype)
        for o, L, n, _, docs in self._blocks:
            out[o:o + L * n].reshape(L, n)[...] = p[docs]
        return out


# ---------------------------------------------------------------------------
# preparateurs with flat kernels (INC/STD/NRM) + the generic adapter
# ---------------------------------------------------------------------------

def inc_flat(seg: Seg, x: np.ndarray, shift: int = 1, depth: int = 1,
             zero_padding: bool = True) -> np.ndarray:
    out = x
    for _ in range(depth):
        nxt = np.empty_like(out)
        for v, w, x0 in seg.blocks(out, nxt, x):
            w[shift:] = v[shift:] - v[:-shift]
            # zero (or restore) the first `shift` steps of every doc
            w[:shift] = 0.0 if zero_padding else x0[:shift]
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
    """Per-doc min-max to [0, 1], constant docs -> 0: the NRM prep and
    the weighting lookups' normalization (iss._nrm01)."""
    return nrm_flat_mv(seg, [x], scale_dim=True)[0]


def nrm_flat_mv(seg: Seg, cols, scale_dim: bool = False) -> list:
    """Per-dimension NRM over a column list; ``scale_dim=True`` shares
    one min/max across all dims per series (prep.py nrm axis=(1,2))."""
    if not scale_dim:
        return [nrm_flat(seg, c) for c in cols]
    lo = np.minimum.reduce([seg.min(c) for c in cols])
    hi = np.maximum.reduce([seg.max(c) for c in cols])
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
        at = seg.index(rows, int(ln))
        Z = np.stack([c[at] for c in cols], axis=1)
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
    out = [np.zeros(out_seg.size) for _ in range(groups[0][1].shape[1])]
    for rows, R in groups:
        at = out_seg.index(rows, R.shape[2])
        for d, c in enumerate(out):
            c[at] = R[:, d, :]
    return out_seg, out


# ---------------------------------------------------------------------------
# weighting lookups + coquantiles
# ---------------------------------------------------------------------------

def indices_lookup_flat(seg: Seg, relative: bool = True,
                        scale: float = 50.0) -> np.ndarray:
    r = (seg.pos + 1).astype(np.float64)
    if relative:
        r = r / seg.broadcast(np.maximum(seg.lengths, 1).astype(np.float64))
    # zero pad lanes: past a doc's end r keeps growing, and exp(alpha *
    # lookup) of it would overflow there
    return seg.clean(nrm_flat(seg, r) * scale)


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
    vals = np.ones(seg.size, dtype=np.float64)
    ok = step > 0
    idx = np.zeros(seg.size, dtype=np.int64)
    np.floor_divide(p, step, out=idx, where=ok)
    inside = ok & (idx < nplateaus)
    vals[inside] = idx[inside] / (nplateaus - 1)
    return seg.clean(nrm_flat(seg, vals) * scale)


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
    return seg.clean(nrm_flat(seg, s) * scale)


def l2_lookup_flat(seg: Seg, x: np.ndarray, relative: bool = False,
                   scale: float = 50.0) -> np.ndarray:
    s = l2_mass_flat(seg, x)
    if relative:
        s = s / (seg.broadcast(seg.gather_last(s)) + 1e-5)
    return seg.clean(nrm_flat(seg, s) * scale)


def coquantile_flat(seg: Seg, x: np.ndarray, q: float,
                    norm: str = "L2") -> np.ndarray:
    mass = l1_mass_flat(seg, x) if norm == "L1" else l2_mass_flat(seg, x)
    last = seg.broadcast(seg.gather_last(mass))
    return seg.count(mass <= q * last).astype(np.int64)


# ---------------------------------------------------------------------------
# ISS letter ops (the executor's one prefix trie builds on them, in the
# bucketed iss.iss op order it is pinned to) and CosWISS
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


def runmax_argmax_flat(seg: Seg, x: np.ndarray):
    """Segmented running max plus the within-segment index of the last
    strict improvement (ties keep the earlier index — the reference's
    ``>=`` keep-branch, iss.py _runmax_argmax)."""
    r = seg.runmax(x)
    changed = np.empty(seg.size, dtype=bool)
    for v, c in seg.blocks(r, changed):
        c[0] = True
        np.greater(v[1:], v[:-1], out=c[1:])
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
        lookup = np.zeros(seg.size)
        alpha = np.zeros(p, dtype=np.float32)
    a = np.asarray(alpha, dtype=np.float32).astype(np.float64)
    zeros = np.zeros(seg.size)
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
    cross-word CSE on a per-dimension column list (univariate = one
    column): a word trie layered over ``iss.coswiss``'s gap-choice trie.
    Each word's root-to-leaf op sequences and leaf accumulation order
    are per-word ``iss.coswiss``'s, so per doc its stream is that
    kernel's bit for bit.  Trie keys are letter tuples trimmed of
    trailing zero exponents, so words declared over fewer dims than the
    input share streams as the bucketed kernel's zero-padding makes
    them."""
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


def sieve_max_flat(seg, stream, cuts, quantiles, ufunc=np.maximum):
    """Per-band max (``ufunc=np.minimum``: min); empty bands read 0."""
    ident = _IDENTITY[ufunc]

    def red(m):
        x = stream if m is None else np.where(m, stream, ident)
        v = seg._reduce(ufunc, x, ident)
        return np.where(np.isfinite(v), v, 0.0)
    return _masked_feature(seg, stream, cuts, quantiles, red)


def sieve_min_flat(seg, stream, cuts, quantiles):
    return sieve_max_flat(seg, stream, cuts, quantiles, np.minimum)


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
    for _ in range(abs(inc)):
        stream = inc_flat(seg, stream) if inc > 0 else seg.cumsum(stream)
    return stream


def sieve_npi_flat(seg, stream, cuts, quantiles, inc=1):
    arr = _pre_inc_flat(seg, stream, inc)
    def red(m):
        if m is None:
            return seg.lengths.astype(np.float64)
        return seg.count(m)
    return _masked_feature(seg, arr, cuts, quantiles, red)


def sieve_mpi_flat(seg, stream, cuts, quantiles, inc=1):
    """Per-band mean of the ``inc``-times incremented stream."""
    return sieve_avg_flat(seg, _pre_inc_flat(seg, stream, inc), cuts,
                          quantiles)


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
    for j in range(nseg):
        for k in range(nb):
            m = _seg_band_mask(seg, arr, cuts, j, quantiles, k)
            if m is None:
                out[:, j * nb + k] = seg.lengths
                continue
            # run length = steps since the doc's last False (or start)
            last_false = seg.runmax(np.where(m, -1, seg.pos))
            runs = np.where(m, seg.pos - last_false, 0)
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
        # rising edge = True preceded by False, never at a doc's first
        # step (the shift fills row 0 with True); all-bool arithmetic
        return seg.count(mask & ~seg.shift1(mask, fill=True))

    if segments:
        out = np.zeros((seg.n, len(qs) - 1))
        for j in range(1, len(qs)):
            out[:, j - 1] = 2 * rising((qs[j - 1] <= stream) & (stream < qs[j])) / n_even
        return out
    out = np.zeros((seg.n, len(qs)))
    for j, q in enumerate(qs):
        out[:, j] = 2 * rising(stream >= q) / n_even
    return out

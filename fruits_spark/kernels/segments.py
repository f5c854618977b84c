"""Variable-length sequence batches -> Arrow's flat list layout.

Arrow hands a pandas UDF a Series of lists.  The engine converts that to
per-dimension flat float64 columns plus one int64 ``offsets`` array
(Arrow's own list layout) and runs every operator as segmented array ops
on them (:mod:`.flat`) — no padding, no per-length blocks.

This replaces the reference's numba ``prange`` over series
(``fruits/iss/semiring.py:184-200``) as the intra-executor
parallelization strategy: vectorize across rows, parallelize across
Spark partitions.
"""

from __future__ import annotations

import numpy as np


def flatten_lists(col) -> tuple[np.ndarray, np.ndarray]:
    """pandas Series of sequences -> (values float64, offsets int64)."""
    lengths = np.fromiter((len(x) for x in col), dtype=np.int64, count=len(col))
    offsets = np.zeros(len(col) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    values = np.empty(offsets[-1], dtype=np.float64)
    for i, x in enumerate(col):
        values[offsets[i]:offsets[i + 1]] = x
    return values, offsets


def flatten_lists_mv(rows) -> list[tuple[np.ndarray, list, np.ndarray]]:
    """Sequence of (dims, length) nested rows -> one ``(row positions,
    per-dim flat columns, offsets)`` triple per distinct dim count, in
    order of first appearance.  Rows with 0 steps are empty segments;
    0-dim rows (``[]``) form a group with no columns."""
    n_dims = np.fromiter((len(r) for r in rows), dtype=np.int64,
                         count=len(rows))
    out = []
    for d in dict.fromkeys(n_dims.tolist()):
        pos = np.nonzero(n_dims == d)[0]
        lengths = np.fromiter(
            (len(rows[i][0]) if d else 0 for i in pos),
            dtype=np.int64, count=len(pos),
        )
        offsets = np.zeros(len(pos) + 1, dtype=np.int64)
        np.cumsum(lengths, out=offsets[1:])
        cols = [np.empty(offsets[-1], dtype=np.float64) for _ in range(d)]
        for j, i in enumerate(pos):
            s, e = offsets[j], offsets[j + 1]
            if e > s:
                for dim in range(d):
                    cols[dim][s:e] = rows[i][dim]
        out.append((pos, cols, offsets))
    return out

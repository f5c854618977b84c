"""Variable-length sequence batches -> Arrow's flat list layout.

Arrow's list layout is the engine's: per-dimension flat float64 columns
plus one int64 ``offsets`` array, run as segmented array ops
(:mod:`.flat`) — no padding, no per-length blocks; :func:`read_lists`
reads it off a ``mapInArrow`` batch.  This replaces the reference's
numba ``prange`` over series (``fruits/iss/semiring.py:184-200``):
vectorize across rows, parallelize across Spark partitions.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def flatten_lists(col) -> tuple[np.ndarray, np.ndarray]:
    """pandas Series of sequences -> (values float64, offsets int64)."""
    lengths = np.fromiter((len(x) for x in col), dtype=np.int64, count=len(col))
    offsets = np.zeros(len(col) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    values = np.empty(offsets[-1], dtype=np.float64)
    for i, x in enumerate(col):
        values[offsets[i]:offsets[i + 1]] = x
    return values, offsets


def read_lists(col: pa.Array) -> list[tuple[np.ndarray, list, np.ndarray]]:
    """Arrow ``list<num>`` or ``list<list<num>>`` (dims x steps) column ->
    one ``(row positions, per-dim float64 columns, offsets)`` triple per
    dim count, in order of first appearance; ``list<num>`` is the 1-dim
    case and 0-dim rows (``[]``) form a group with no columns.  Null
    numbers read as NaN; a null row or dim, or a row whose dims differ
    in length, raises ValueError."""
    nested = isinstance(col.type.value_type, (pa.ListType, pa.LargeListType))
    if col.null_count or (nested and col.flatten().null_count):
        raise ValueError(f"null token row or dim in a {col.type} column")
    # row r's dims are dims[first[r]:first[r + 1]], dim j's values are
    # values[ends[j]:ends[j + 1]]; an empty list array may lack offsets
    dims = col.values if nested else col
    first = col.offsets.to_numpy() if nested else np.arange(len(col) + 1)
    ends = dims.offsets.to_numpy() if len(dims) else np.zeros(1, np.int64)
    values = dims.values.cast(pa.float64()).to_numpy(zero_copy_only=False)
    lens, n_dims, out = np.diff(ends), np.diff(first), []
    for d in dict.fromkeys(n_dims.tolist()):
        pos = np.flatnonzero(n_dims == d)
        f = first[pos]
        steps = lens[f] if d else np.zeros(len(pos), dtype=np.int64)
        bad = (lens[f[:, None] + np.arange(1, d)] != steps[:, None]).any(1)
        if bad.any():
            r = pos[np.argmax(bad)]
            raise ValueError(f"token row {r}: dims differ in length "
                             f"{lens[first[r]:first[r + 1]].tolist()}")
        offsets = np.concatenate([[0], np.cumsum(steps, dtype=np.int64)])
        out.append((pos, [np.take(values, np.arange(offsets[-1]) + np.repeat(
            ends[f + k] - offsets[:-1], steps)) for k in range(d)], offsets))
    return out

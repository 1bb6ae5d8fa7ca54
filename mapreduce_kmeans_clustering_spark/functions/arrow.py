"""Vector columns to and from Arrow buffers, for the BLAS operators
(plans/kmeans_nd.py, the dedup gram blocks). Reading
a list column's flat value buffer builds no per-row Python object: a
10k×64 float32 batch took 0.54 ms, where the pandas conversion plus a
row-by-row copy took 4.8 + 14.7 ms (one core of a busy 4-core host).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def _vectors(batch: pa.RecordBatch | pa.Table, col: str, dim: int) -> np.ndarray:
    """``batch[col]`` (a list column) as an ``(n, dim)`` float64 matrix.

    Slice offsets are respected, and float32 (or integer) elements are
    widened exactly, so the result equals ``np.asarray(v, np.float64)``
    row by row. Raises ``ValueError`` naming the column on a null
    vector or on a vector whose length is not ``dim``."""
    arr = batch.column(col)
    if isinstance(arr, pa.ChunkedArray):  # applyInArrow hands over Tables
        arr = arr.combine_chunks()
    if arr.null_count:
        raise ValueError(f"{col}: null vector")
    off = arr.offsets.to_numpy()
    if np.any(np.diff(off) != dim):
        raise ValueError(f"{col}: vector length is not {dim}")
    flat = arr.values.slice(off[0], off[-1] - off[0]).to_numpy(zero_copy_only=False)
    return flat.astype(np.float64, copy=False).reshape(-1, dim)


def _batch(**cols) -> pa.RecordBatch:
    """A record batch of the named columns. A 2-D matrix becomes a list
    column (Spark ``array``) with one row per matrix row, built from its
    flat buffer; Arrow arrays pass as they are, anything else goes
    through ``pa.array``."""
    arrays = []
    for v in cols.values():
        if isinstance(v, np.ndarray) and v.ndim == 2:
            offsets = pa.array(np.arange(len(v) + 1, dtype=np.int32) * v.shape[1])
            v = pa.ListArray.from_arrays(offsets, pa.array(v.ravel()))
        arrays.append(v if isinstance(v, pa.Array) else pa.array(v))
    return pa.RecordBatch.from_arrays(arrays, names=list(cols))


def _passthrough(batch, id_col: str, vec_col: str, **extra) -> pa.RecordBatch:
    """``batch``'s id and vector columns as ``long`` and ``list<double>``,
    then the ``extra`` columns (as ``_batch`` takes them)."""
    ids = batch.column(id_col).cast(pa.int64())
    vecs = batch.column(vec_col).cast(pa.list_(pa.float64()))
    return _batch(**{id_col: ids, vec_col: vecs}, **extra)

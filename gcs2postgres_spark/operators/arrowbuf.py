"""Numpy views of Arrow buffers, and Arrow arrays built back from numpy
buffers: the one conversion seam of the Arrow-batch kernels in
``operators/similarity.py`` and ``operators/dedup.py``.

Why not ``Array.to_numpy``, ``pa.array`` or ``pa.scalar``: in
pyarrow 16 the first call of any of them imports pandas, and a
Python worker that imports pandas peaks ~30 MB higher (80.9 → 111.0 MB
for a fresh worker with pyarrow loaded). ``np.frombuffer`` over
``Array.buffers()``, ``pa.Array.from_buffers`` and
``ListArray.from_arrays`` never do.

The views are zero-copy and READ-ONLY: kernels must not update them in
place. A NULL value, a NULL vector or a ragged vector column raises
``ValueError`` instead of being reshaped into a matrix of the wrong
width.

The helpers are ``<locals>`` closures of one factory, so cloudpickle
ships them BY VALUE inside the worker closures that use them (the
``sinks.make_copy_partition`` pattern): executors that cannot import this
package still run them.
"""

from __future__ import annotations


def _make_arrow_views():
    import numpy as np
    import pyarrow as pa

    np_types = {"int32": np.int32, "int64": np.int64, "double": np.float64}
    pa_types = {
        np.dtype(np.int32): pa.int32(),
        np.dtype(np.int64): pa.int64(),
        np.dtype(np.float64): pa.float64(),
    }

    def np_column(arr):
        """1-D numpy view of a primitive int32/int64/double Arrow array."""
        dtype = np_types.get(str(arr.type))
        if dtype is None:
            raise TypeError(f"no numpy view for Arrow type {arr.type}")
        if arr.null_count:
            raise ValueError(f"{arr.null_count} NULL value(s) in a {arr.type} column")
        if len(arr) == 0:
            return np.empty(0, dtype)
        size = np.dtype(dtype).itemsize
        return np.frombuffer(
            arr.buffers()[1], dtype=dtype, count=len(arr), offset=arr.offset * size
        )

    def np_matrix(arr):
        """(rows × dim) float64 view of a list<double> vector column.
        Every vector must be non-NULL, NULL-free and of one length."""
        if arr.null_count:
            raise ValueError(f"{arr.null_count} NULL vector(s) in a vector column")
        n = len(arr)
        if n == 0:
            return np.empty((0, 0))
        lens = np.diff(np_column(arr.offsets))  # honours arr.offset
        dim = int(lens[0])
        if (lens != dim).any():
            raise ValueError(
                f"ragged vectors: lengths {sorted(set(lens.tolist()))[:5]} in one batch"
            )
        # flatten() is the zero-copy slice of the child under this
        # (possibly offset) list array
        return np_column(arr.flatten()).reshape(n, dim)

    def arrow_array(values):
        """Arrow array over a 1-D int32/int64/float64 numpy array."""
        values = np.ascontiguousarray(values)
        typ = pa_types.get(values.dtype)
        if typ is None or values.ndim != 1:
            raise TypeError(f"no Arrow array for numpy {values.dtype} of {values.ndim} dims")
        return pa.Array.from_buffers(typ, len(values), [None, pa.py_buffer(values)])

    def arrow_strings(values):
        """Arrow string array over a list of Python str (no NULLs)."""
        data = [s.encode("utf-8") for s in values]
        offs = np.zeros(len(data) + 1, dtype=np.int32)
        np.cumsum(np.fromiter(map(len, data), np.int64, len(data)), out=offs[1:])
        return pa.Array.from_buffers(
            pa.string(), len(data), [None, pa.py_buffer(offs), pa.py_buffer(b"".join(data))]
        )

    def arrow_lists(offsets, values):
        """list<values.type> array: row i holds values[offsets[i]:offsets[i+1]]."""
        return pa.ListArray.from_arrays(arrow_array(np.asarray(offsets, np.int32)), values)

    return np_column, np_matrix, arrow_array, arrow_strings, arrow_lists


np_column, np_matrix, arrow_array, arrow_strings, arrow_lists = _make_arrow_views()

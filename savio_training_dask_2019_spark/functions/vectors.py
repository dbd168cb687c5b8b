"""Vector math over ``ArrayType`` columns via higher-order functions.

Reference surface: dask.array elementwise ufuncs and reductions
(SURVEY.md §2.9). We deliberately represent vectors as array columns (rows =
vectors) instead of rebuilding an ndarray engine; the Column functions below
are built-in ``aggregate`` / ``zip_with`` / ``transform`` — fully JVM-side,
and they scale linearly with rows (no shuffle). Spark evaluates those
higher-order functions interpreted, per row, with no codegen, so the hot
many-pairs sites score inside an Arrow kernel instead, with
:func:`fold_dot`.

Precision note: fixture embeddings are float32; every function here casts to
double *first* so results match a double-precision oracle bit-for-bit
(sequential fold order is identical in Spark's ``aggregate`` and DuckDB's
``list_aggregate``).

Exact-order rule (the one contract every numpy cosine in the package keeps):
:func:`fold_dot` accumulates ``acc += a[j] * b[j]`` for ``j = 0, 1, …`` in
order, from ``acc = 0.0`` — per element the same IEEE multiply-then-add
sequence as :func:`dot`'s fold, so the same bits (never ``@``/BLAS, whose
blocked summation order differs). Norms are ``sqrt(fold_dot(a, a))``, and a
cosine keeps Spark's association ``dot / (n_a * n_b)``. ``round(…, 5)``
and every threshold or tie rule stay Spark expressions: Spark rounds
HALF_UP on the decimal value and numpy does not.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(arr: Column | str) -> Column:
    """Cast array<float> → array<double> elementwise."""
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two double arrays (sequential left fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def l2_normalize(a: Column) -> Column:
    """Unit-normalize; turns cosine similarity into plain dot product (and
    cosine NN into L2 NN — the trick the LSH path relies on)."""
    n = l2_norm(a)
    return F.transform(a, lambda x: x / n)


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def fold_dot(a, b):
    """numpy twin of :func:`dot`, bit for bit (the module's exact-order
    rule): dot products over the LAST axis of two float64 arrays, whose
    leading axes broadcast — ``fold_dot(A[:, None], B[None])`` is the
    pairwise ``len(A) × len(B)`` matrix, ``fold_dot(A, A)`` the row-wise
    squared norms."""
    import numpy as np

    at = np.ascontiguousarray(np.moveaxis(np.asarray(a, dtype=np.float64), -1, 0))
    bt = np.ascontiguousarray(np.moveaxis(np.asarray(b, dtype=np.float64), -1, 0))
    if len(at) != len(bt):
        raise ValueError(f"fold_dot: vector lengths differ ({len(at)} vs {len(bt)})")
    acc = np.zeros(np.broadcast_shapes(at.shape[1:], bt.shape[1:]))
    tmp = np.empty_like(acc)
    for aj, bj in zip(at, bt):
        np.multiply(aj, bj, out=tmp)
        acc += tmp
    return acc


def rows_by_length(vectors):
    """Split an Arrow ``list<double>`` column into dense float64 blocks, one
    per row length: yields ``(row_positions, matrix)``. Rows that are NULL
    or hold a NULL component are left out, because :func:`dot` gives NULL
    for every pair that touches them; and since ``zip_with`` pads unequal
    lengths with NULL, only rows of one length ever form a non-NULL pair."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(vectors, pa.ChunkedArray):
        vectors = vectors.combine_chunks()
    lens = pc.list_value_length(vectors).fill_null(-1).to_numpy(zero_copy_only=False)
    offs = vectors.offsets.to_numpy()  # absolute positions in .values
    values = vectors.values
    null_upto = np.concatenate(
        [[0], np.cumsum(values.is_null().to_numpy(zero_copy_only=False))]
    )
    ok = (lens >= 0) & (null_upto[offs[1:]] == null_upto[offs[:-1]])
    flat = values.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    for width in np.unique(lens[ok]):
        rows = np.flatnonzero(ok & (lens == width))
        yield rows, flat[offs[rows][:, None] + np.arange(width)]

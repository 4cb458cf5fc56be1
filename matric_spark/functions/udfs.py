"""Arrow-vectorized pandas UDFs.

NOTE: no `from __future__ import annotations` here — PySpark's pandas-UDF
type-hint inference needs evaluated (non-string) annotations.

Every UDF in the engine lives here so the Python boundary is auditable:
each one processes whole Arrow batches with numpy (no per-row Python),
per the north rule. Every UDF is NULL-tolerant: a NULL input vector
(NULL embedding, or the NULL that `ann._normalized` leaves for a
zero-norm row) yields a NULL output for that row instead of crashing the
worker on np.stack(None) — callers additionally pre-filter NULLs so the
mask path is cold.
"""

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf


def _stack_masked(v: pd.Series):
    """(matrix, mask) for an Arrow batch whose vectors may be NULL.

    mask is None when the batch is NULL-free (the hot path: one np.stack,
    no row scan copies); otherwise mask[i] marks non-NULL rows and matrix
    holds only those (or None if the whole batch is NULL)."""
    vals = v.to_numpy()
    # C-level null scan (ndarray elements are never "na" to pandas) —
    # a per-row `x is not None` comprehension here would put an
    # interpreted loop on every batch of every vector UDF's hot path
    mask = ~v.isna().to_numpy()
    if mask.all():
        return np.stack(vals).astype(np.float64), None
    if not mask.any():
        return None, mask
    return np.stack(vals[mask]).astype(np.float64), mask


def _scatter(result_list: list, mask, n: int) -> pd.Series:
    """Re-expand masked results to batch length with None holes."""
    out = np.full(n, None, dtype=object)
    if result_list is not None:
        out[np.flatnonzero(mask)] = result_list
    return pd.Series(out, dtype=object)


def make_hyperplane_bands_udf(planes: "np.ndarray", n_bands: int, band_bits: int):
    """Banded sign-bit LSH: one (batch × dim) @ (dim × n_bands·band_bits)
    matmul per Arrow batch, sign bits packed per band into one integer
    band value each → array<long>[n_bands]. Emitting band values directly
    (instead of one wide signature that is re-chunked downstream) keeps
    the candidate join payload to (id, band_idx, band_val) — no vector
    bytes ever enter the exchange."""
    assert planes.shape[0] == n_bands * band_bits
    weights = np.left_shift(
        np.int64(1), np.arange(band_bits, dtype=np.int64)
    )

    @pandas_udf("array<long>")
    def bands(v: pd.Series) -> pd.Series:
        mat, mask = _stack_masked(v)
        if mat is None:
            return pd.Series([None] * len(v), dtype=object)
        bits = (mat @ planes.T >= 0.0).astype(np.int64)
        vals = bits.reshape(len(mat), n_bands, band_bits) @ weights
        if mask is None:
            return pd.Series(list(vals))
        return _scatter(list(vals), mask, len(v))

    return bands


def make_centroid_assign_udf(centroids: "np.ndarray"):
    """IVF cell assignment: argmax cosine against the (k × d) centroid
    matrix — one (batch × d) @ (d × k) matmul per Arrow batch. Centroids
    are unit rows (operators/ann.ivf_centroids), inputs are pre-normalized,
    so the matmul IS the cosine. Ties break to the lowest cell id
    (np.argmax), deterministically."""
    cent = centroids.T  # (d, k), captured once per task

    @pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        mat, mask = _stack_masked(v)
        if mat is None:
            return pd.Series([None] * len(v), dtype=object)
        vals = (mat @ cent).argmax(axis=1).astype(np.int32)
        if mask is None:
            return pd.Series(vals)
        return _scatter(list(vals), mask, len(v))

    return assign


def make_centroid_probe_udf(centroids: "np.ndarray", nprobe: int):
    """Top-`nprobe` nearest cells per query vector (the IVF probe list):
    one matmul + argpartition per Arrow batch. The probe list is sorted
    (cosine desc, cell asc) so the output is deterministic under ties."""
    cent = centroids.T

    @pandas_udf("array<int>")
    def probe(v: pd.Series) -> pd.Series:
        mat, mask = _stack_masked(v)
        if mat is None:
            return pd.Series([None] * len(v), dtype=object)
        sims = mat @ cent  # (batch, k)
        p = min(nprobe, sims.shape[1])
        top = np.argpartition(-sims, p - 1, axis=1)[:, :p]
        row_sims = np.take_along_axis(sims, top, axis=1)
        order = np.lexsort((top, -row_sims), axis=1)
        cells = np.take_along_axis(top, order, axis=1).astype(np.int32)
        if mask is None:
            return pd.Series(list(cells))
        return _scatter(list(cells), mask, len(v))

    return probe


# DataType objects (not DDL strings) so the decorators bind at import
# time without an active SparkSession
from pyspark.sql.types import IntegerType as _IntT  # noqa: E402
from pyspark.sql.types import LongType as _LongT  # noqa: E402


@pandas_udf(_LongT())
def byte_checksum(payload: pd.Series) -> pd.Series:
    """Sum of the raw uint8 bytes of a binary column (NULL-safe). The
    value probe for decoded-media gates: each payload is one numpy
    buffer-sum, batch iterated via pandas map (the per-element work is a
    single vectorized reduction, not per-byte Python)."""
    return payload.map(
        lambda b: None
        if b is None
        else int(np.frombuffer(b, dtype=np.uint8).sum())
    ).astype("Int64")


@pandas_udf(_IntT())
def first_byte(payload: pd.Series) -> pd.Series:
    """First raw byte of a binary column as an int (NULL-safe; NULL for
    empty payloads) — the position-sensitive twin of byte_checksum."""
    return payload.map(
        lambda b: None if not b else int(b[0])
    ).astype("Int32")

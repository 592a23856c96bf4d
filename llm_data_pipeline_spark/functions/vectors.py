"""Vector math over array<float> embedding columns — native higher-order
functions only (no UDFs), so vector scoring stays inside codegen.

All arithmetic is done in double with a *sequential* left fold, which is
bit-reproducible and matches DuckDB's list_dot_product/list_reduce exactly
(verified by the streaming_embedding_topk oracle query).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


def to_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double."""
    return F.aggregate(
        F.zip_with(to_double(a), to_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb)).otherwise(F.lit(0.0))


def cosine_arrow(a: Column, b: Column) -> Column:
    """Arrow-batched cosine, BIT-IDENTICAL to :func:`cosine`.

    ``np.add.accumulate`` is a strict left-to-right running sum — the
    exact IEEE double addition sequence of the native sequential fold
    (which starts from 0.0, and 0.0 + x0 == x0 exactly) — and the
    float32→float64 casts and multiplies are the same operand set, so
    every output double matches the fold bit for bit (pinned on the real
    embeddings table in tests/test_similarity.py). Use in wide scoring
    projections: the interpreted higher-order fold costs ~µs/element,
    this is one vectorized numpy pass per batch.

    Degenerate-row parity with the native expression (all test-pinned):
    null on either side → 0.0 (the when-condition nulls out and falls to
    otherwise); equal-length non-null → the fold value (0.0 for empty /
    zero-norm); LENGTH-MISMATCHED non-null → NULL (zip_with pads the
    short side with nulls, so dot is null while both norms are positive).
    Rows are grouped by dimension before stacking, so mixed-dimension
    batches score correctly instead of crashing np.stack."""
    @F.pandas_udf(DoubleType())
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        n = len(va)
        out = np.zeros(n, dtype=np.float64)
        is_null = np.zeros(n, dtype=bool)
        by_dim: dict = {}
        for i, (x, y) in enumerate(zip(va, vb)):
            if x is None or y is None:
                continue  # native: condition null -> otherwise -> 0.0
            if len(x) != len(y):
                # native: dot is null (zip_with pads with nulls), so the
                # result is NULL — unless either norm is 0 (or the vector
                # empty), where the when-condition is false -> 0.0
                xa = np.asarray(x, dtype=np.float64)
                ya = np.asarray(y, dtype=np.float64)
                na1 = (
                    np.sqrt(np.add.accumulate(xa * xa)[-1]) if len(xa) else 0.0
                )
                nb1 = (
                    np.sqrt(np.add.accumulate(ya * ya)[-1]) if len(ya) else 0.0
                )
                if na1 > 0 and nb1 > 0:
                    is_null[i] = True
                continue
            if len(x):
                by_dim.setdefault(len(x), []).append(i)
        for _, idxs in by_dim.items():
            ix = np.asarray(idxs, dtype=np.int64)
            A = np.stack([np.asarray(va.iloc[i], dtype=np.float64) for i in idxs])
            B = np.stack([np.asarray(vb.iloc[i], dtype=np.float64) for i in idxs])
            dot_ = np.add.accumulate(A * B, axis=1)[:, -1]
            na = np.sqrt(np.add.accumulate(A * A, axis=1)[:, -1])
            nb = np.sqrt(np.add.accumulate(B * B, axis=1)[:, -1])
            ok = (na > 0) & (nb > 0)
            s = np.zeros(len(ix), dtype=np.float64)
            s[ok] = dot_[ok] / (na[ok] * nb[ok])
            out[ix] = s
        # explicitly-masked Float64 result: in a plain float64 Series
        # Arrow folds EVERY NaN to SQL NULL (and pd.array() also
        # reinterprets NaN as NA at construction), so a genuine computed
        # NaN — overflowing inputs -> inf/inf — would diverge from the
        # native fold, which yields NaN. The mask alone carries intended
        # NULLs; NaN stays a value.
        return pd.Series(pd.arrays.FloatingArray(out, mask=is_null))

    return _cos(a, b)

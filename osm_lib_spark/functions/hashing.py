"""Cross-engine-deterministic hashing + vector kernels.

Every hash the engine uses for dedup/similarity must produce identical
values in three places: Spark Column expressions (JVM), DuckDB oracle
SQL, and the numpy golden oracle. md5 is the common denominator — all
three expose it bit-identically — so integer hashes are prefixes of the
md5 hex digest:

    h_k(s) = int(md5(utf8(s)).hexdigest()[:k], 16)

Spark:  conv(substring(md5(col), 1, k), 16, 10) cast long
DuckDB: CAST(('0x' || substr(md5(s), 1, k)) AS BIGINT)
numpy:  int(hashlib.md5(s.encode()).hexdigest()[:k], 16)

k=8 → 32-bit token hashes (fingerprints), k=15 → 60-bit (minhash,
simhash; 15 hex digits keeps all arithmetic inside a signed int64).

Float kernels use explicit LEFT-FOLD accumulation in float64 so Spark's
``aggregate`` and the numpy oracle produce bit-identical doubles
(numpy's own ``sum``/``dot`` use pairwise/BLAS orders that differ in
low bits — never use them where cross-engine equality matters).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MOD_FP = 1_000_000_007  # fingerprint fold modulus (products fit in int64)
FP_BASE = 31


def md5_int_col(col: Column, hex_chars: int = 8) -> Column:
    """Spark: md5-prefix integer hash (see module docstring)."""
    return F.conv(F.substring(F.md5(col), 1, hex_chars), 16, 10).cast("long")


def md5_int_sql(expr: str, hex_chars: int = 8) -> str:
    """DuckDB SQL fragment computing the same hash."""
    return f"CAST(('0x' || substr(md5({expr}), 1, {hex_chars})) AS BIGINT)"


def md5_int_py(s: str, hex_chars: int = 8) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:hex_chars], 16)


# ---------------------------------------------------------------------------
# Left-fold float64 vector kernels (bit-identical across engines)
# ---------------------------------------------------------------------------


def dot_fold_col(a: Column, b: Column) -> Column:
    """Σ a_i·b_i as an explicit left fold in double precision.

    zip_with multiplies element-wise (each float cast to double first —
    exact), aggregate folds left-to-right from 0.0. Matches
    ``dot_fold_np`` bit-for-bit.
    """
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def dot_fold_np(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(N, D) × (D,) or (N, D) × (N, D) left-fold dot, float64.

    Sequential over dimensions (vectorized over rows) — the same
    addition order as ``dot_fold_col``.
    """
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    if b.ndim == 1:
        b = np.broadcast_to(b, a.shape)
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for i in range(a.shape[1]):
        acc = acc + a[:, i] * b[:, i]
    return acc


def norm_fold_np(a: np.ndarray) -> np.ndarray:
    return np.sqrt(dot_fold_np(a, a))


def norm_fold_col(a: Column) -> Column:
    return F.sqrt(dot_fold_col(a, a))


def cosine_fold_col(a: Column, b: Column) -> Column:
    """cos(a,b) = dot/(‖a‖·‖b‖), all in the fold order above."""
    return dot_fold_col(a, b) / (norm_fold_col(a) * norm_fold_col(b))


def l2_fold_np(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(N, D) × (D,) or (N, D) × (N, D) left-fold squared L2, float64 —
    bit-identical to ``l2_fold_sql``."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    if b.ndim == 1:
        b = np.broadcast_to(b, a.shape)
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for i in range(a.shape[1]):
        d = a[:, i] - b[:, i]
        acc = acc + d * d
    return acc


def l2_fold_sql(a: str, b: str) -> str:
    """DuckDB fragment computing the same left-fold squared L2."""
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(list_zip({a}, {b}), "
        "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
        "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), (acc, x) -> acc + x)"
    )


def cosine_fold_np(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    if b.ndim == 1:
        b = np.broadcast_to(b, a.shape)
    return dot_fold_np(a, b) / (norm_fold_np(a) * norm_fold_np(b))

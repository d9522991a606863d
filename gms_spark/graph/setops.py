"""Vectorized sorted-set kernels (numpy) — the engine's Set contract.

The reference's Set concept (cardinality/union/intersect/difference/
contains over sorted int vectors, gms/representations/sets/sorted_set.h:21-276
with merge kernels in sorted_set_operations.h:29-106) collapses here to
ONE backend: sorted int64 numpy arrays inside Arrow batches. Roaring /
robin-hood variants are physical-storage concerns that Parquet/Tungsten
already own (SURVEY §2.3).

Key reference optimization preserved: *_count variants never materialize
the result set (sorted_set_operations.h:44-71).
"""

from __future__ import annotations

import numpy as np


def intersect(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Sorted-unique intersection (set_intersection, sorted_set_operations.h:36-42)."""
    return np.intersect1d(a, b, assume_unique=True)


def intersect_count(a: np.ndarray, b: np.ndarray) -> int:
    """|a ∩ b| without materializing (sorted_set_operations.h:44-71).

    searchsorted of the smaller into the larger: O(min·log max), beats the
    linear merge when sizes are skewed (hub vs leaf neighborhoods).
    """
    if len(a) > len(b):
        a, b = b, a
    if len(a) == 0:
        return 0
    idx = np.searchsorted(b, a)
    idx[idx == len(b)] = len(b) - 1
    return int(np.count_nonzero(b[idx] == a))


def union(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return np.union1d(a, b)


def union_count(a: np.ndarray, b: np.ndarray) -> int:
    """|a ∪ b| without materializing (sorted_set.h:140-158)."""
    return len(a) + len(b) - intersect_count(a, b)


def difference(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return np.setdiff1d(a, b, assume_unique=True)


def contains(a: np.ndarray, x: int) -> bool:
    """Binary-search membership (sorted_set.h:218-222)."""
    i = int(np.searchsorted(a, x))
    return i < len(a) and a[i] == x


def add(a: np.ndarray, x: int) -> np.ndarray:
    """Sorted insert (sorted_set.h:224-227); no-op if present."""
    i = int(np.searchsorted(a, x))
    if i < len(a) and a[i] == x:
        return a
    return np.insert(a, i, x)


def remove(a: np.ndarray, x: int) -> np.ndarray:
    """Sorted delete (sorted_set.h:229-232); no-op if absent."""
    i = int(np.searchsorted(a, x))
    if i < len(a) and a[i] == x:
        return np.delete(a, i)
    return a


def set_range(n: int) -> np.ndarray:
    """The set {0..n-1} (sorted_set.h:257-262)."""
    return np.arange(n, dtype=np.int64)


def equals(a: np.ndarray, b: np.ndarray) -> bool:
    """Set equality (sorted_set.h:241-249) — sorted-unique inputs."""
    return len(a) == len(b) and bool(np.array_equal(a, b))


def batch_intersect(rows_a, rows_b) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Row-wise sorted intersection over a WHOLE Arrow batch, flattened.

    ``rows_a``/``rows_b``: equal-length sequences of sorted-unique int64
    arrays. Returns (values, counts, row_of_value): all matched values
    concatenated, per-row match counts, and each value's row index.

    One concatenate + one searchsorted for the entire batch — an
    offsets+values formulation that replaces interpreter-bound per-row
    np.intersect1d calls (~10-30× on the many-tiny-arrays shape mining kernels produce).
    Rows are disambiguated by keying value + row·base with base >
    max(value); keys stay globally sorted because each row is sorted.
    Falls back to the per-row loop if keys would overflow int64.
    """
    n = len(rows_a)
    if n == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    arrs_a = [np.asarray(x, dtype=np.int64) for x in rows_a]
    arrs_b = [np.asarray(x, dtype=np.int64) for x in rows_b]
    la = np.fromiter((len(x) for x in arrs_a), dtype=np.int64, count=n)
    lb = np.fromiter((len(x) for x in arrs_b), dtype=np.int64, count=n)
    if la.sum() == 0 or lb.sum() == 0:
        z = np.empty(0, dtype=np.int64)
        return z, np.zeros(n, dtype=np.int64), z.copy()
    A = np.concatenate(arrs_a)
    B = np.concatenate(arrs_b)
    # shift to the min so the row-key trick also holds for negative
    # values (vertex ids are non-negative, but the Set contract is not)
    mn = int(min(A.min(), B.min()))
    base = int(max(A.max(), B.max())) - mn + 1
    if base > 0 and n > (2**62) // base:  # key overflow guard (never at sandbox scale)
        vals_l, counts_l, rows_l = [], [], []
        for i in range(n):
            v = np.intersect1d(arrs_a[i], arrs_b[i], assume_unique=True)
            vals_l.append(v)
            counts_l.append(len(v))
            rows_l.append(np.full(len(v), i, dtype=np.int64))
        return (
            np.concatenate(vals_l) if vals_l else np.empty(0, np.int64),
            np.asarray(counts_l, dtype=np.int64),
            np.concatenate(rows_l) if rows_l else np.empty(0, np.int64),
        )
    row_a = np.repeat(np.arange(n, dtype=np.int64), la)
    row_b = np.repeat(np.arange(n, dtype=np.int64), lb)
    AK = row_a * base + (A - mn)
    BK = row_b * base + (B - mn)  # globally sorted: sorted within rows, rows disjoint
    idx = np.searchsorted(BK, AK)
    ok = idx < len(BK)
    match = np.zeros(len(AK), dtype=bool)
    match[ok] = BK[idx[ok]] == AK[ok]
    vals = A[match]
    rows = row_a[match]
    counts = np.bincount(rows, minlength=n).astype(np.int64)
    return vals, counts, rows

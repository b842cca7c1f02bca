"""NumPy reference selection, independent of the program under test.

The greedy loop of ``tests/test_selector.py::np_greedy`` (Brown et al.,
JMLR 2012 framework), vectorized: each pass builds the tables of EVERY
remaining feature against the winner with ONE ``bincount`` over offset
codes.  It supports the criteria the workloads fit (MIM, mRMR) and
applies the selector's documented contracts:

- MI is computed in float64 from the integer tables and emitted
  as float32 (``emit_f32=True``, the selector default);
- argmax compares ``floor(score * 1e5 + 0.5)`` (``tie_precision=5``) and
  breaks ties by the lowest feature index.

Usage: python3 reference.py <matrix.parquet> <label> <criterion> <k>
prints ``{"path": [...], "sums": {col: int}}`` where ``sums`` are the
column sums of the selected features and the label (the expected result
of a forced aggregate over the projection).
"""

from __future__ import annotations

import json
import math
import sys

import numpy as np


def _f32(x: float) -> float:
    return float(np.float32(x))


def mutual_info(counts: np.ndarray, n: int) -> float:
    p = counts.astype(np.float64) / float(n)
    px = p.sum(axis=1, keepdims=True)
    py = p.sum(axis=0, keepdims=True)
    mask = p > 0
    with np.errstate(divide="ignore", invalid="ignore"):
        terms = p * np.log2(p / (px * py))
    return float(terms[mask].sum())


def _tie_key(score: float) -> int:
    return math.floor(score * 1e5 + 0.5)


def _tables(X: np.ndarray, cols: list[int], inner: np.ndarray, inner_dim: int, dims):
    """Per column i of ``cols``: bincount of ``X[:, i] * inner_dim + inner``
    with minlength ``dims[i] * inner_dim`` — all columns in one bincount."""
    sizes = np.array([dims[i] * inner_dim for i in cols], dtype=np.int64)
    offsets = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    codes = X[:, cols] * inner_dim + inner[:, None] + offsets[None, :]
    flat = np.bincount(codes.ravel(), minlength=int(sizes.sum()))
    return [flat[o : o + s] for o, s in zip(offsets, sizes)]


def greedy(X: np.ndarray, y: np.ndarray, k: int, criterion: str) -> list[int]:
    n, nf = X.shape
    dims = (X.max(axis=0) + 1).tolist()
    yd = int(y.max()) + 1
    rel = np.array(
        [
            _f32(mutual_info(t.reshape(dims[i], yd), n))
            for i, t in zip(range(nf), _tables(X, list(range(nf)), y, yd, dims))
        ]
    )
    if criterion == "mim":
        return sorted(range(nf), key=lambda i: (-_tie_key(rel[i]), i))[:k]
    if criterion != "mrmr":
        raise ValueError(f"reference supports mim and mrmr, got {criterion!r}")
    red = np.zeros(nf)
    cnt = 0
    selected: list[int] = []
    remaining = list(range(nf))
    while len(selected) < k:
        # same float64 operations, in the same order, as the criterion
        scores = rel - red / cnt if cnt else rel
        best = max(remaining, key=lambda i: (_tie_key(scores[i]), -i))
        selected.append(best)
        remaining.remove(best)
        if len(selected) >= k or not remaining:
            break
        # mRMR consumes only MI(x; winner): the 2-D table is the 3-D
        # (x, winner, label) table summed over the label, exactly
        bd = dims[best]
        for i, t in zip(remaining, _tables(X, remaining, X[:, best], bd, dims)):
            red[i] += _f32(mutual_info(t.reshape(dims[i], bd), n))
        cnt += 1
    return selected


def main() -> None:
    import pyarrow.parquet as pq

    path, label, criterion, k = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
    table = pq.read_table(path)
    feats = [c for c in table.column_names if c != label]
    X = np.stack([table.column(c).to_numpy().astype(np.int64) for c in feats], axis=1)
    y = table.column(label).to_numpy().astype(np.int64)
    sel = [feats[i] for i in greedy(X, y, k, criterion)]
    sums = {c: int(table.column(c).to_numpy().astype(np.int64).sum()) for c in sel + [label]}
    print(json.dumps({"path": sel, "sums": sums}))


if __name__ == "__main__":
    main()

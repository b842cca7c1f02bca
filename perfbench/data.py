"""Seeded input generators for the selector benchmark.

Each generator is a pure function of its seed: the same seed writes the
same rows.  They run in a child process (``python3 data.py ...``) so the
arrays they build never count toward the driver's peak RSS.

Each table's CONTENT comes from a fixed base seed, like the fixed sf0.1
tables of the repo's testdata; the benchmark seed shuffles the row order
and, for the wide matrix, recodes every column's values by a random
bijection.  Neither changes any contingency table's counts (up to the
order of cells), so every seed runs the same greedy path with the same
number of loop passes: a seed that rebuilt the content would move the
pass count (3 vs 5 passes, measured) and with it the operation time by
~25%, which no run-to-run bound can absorb.

- ``lineitem``: a TPC-H-shaped ``lineitem`` table carrying every column
  ``datasets.features_dense`` derives from.  ``l_returnflag`` follows the
  TPC-H rule (``R``/``A`` for lines received before 1995-06-17, ``N``
  after), so the date-derived features carry label signal and the rest
  are noise, as in the repo's own sf0.1 table.  One row group, like the
  repo's testdata, so the scan is parallelism-starved and the program's
  spread step runs.
- ``wide``: the reference's 8,192 x 631 default shape, built by the
  repo's ``tools/scale_proof_wide.build_matrix``.

Usage: python3 data.py lineitem|wide <out_dir> <seed> <rows> [<features>]
prints the written path.
"""

from __future__ import annotations

import os
import sys

import numpy as np

_CUTOFF_DAY = 1263  # 1995-06-17 as days after 1992-01-01 (TPC-H "current date")
BASE_SEED = 42


def lineitem(out_dir: str, seed: int, rows: int) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(BASE_SEED)
    # 1..7 lines per order, truncated to exactly `rows`
    lines = rng.integers(1, 8, size=rows // 2 + 8)
    order_idx = np.repeat(np.arange(lines.size), lines)[:rows]
    starts = np.concatenate(([0], np.cumsum(lines)[:-1]))
    linenumber = (np.arange(rows) - starts[order_idx] + 1).astype(np.int32)
    # TPC-H sparse order keys: 8 used keys in every block of 32
    orderkey = (order_idx // 8) * 32 + order_idx % 8 + 1
    n_parts = max(rows // 30, 100)
    partkey = rng.integers(1, n_parts + 1, size=rows)
    suppkey = rng.integers(1, max(rows // 600, 10) + 1, size=rows)
    quantity = rng.integers(1, 51, size=rows).astype(np.float64)
    retail = (90000 + (partkey // 10) % 20001 + 100 * (partkey % 1000)) / 100.0
    extendedprice = np.round(quantity * retail, 2)
    discount = rng.integers(0, 11, size=rows) / 100.0
    tax = rng.integers(0, 9, size=rows) / 100.0
    orderdate = rng.integers(0, 2406, size=lines.size)[order_idx]
    shipday = orderdate + rng.integers(1, 122, size=rows)
    receiptday = shipday + rng.integers(1, 31, size=rows)
    returned = np.where(rng.random(rows) < 0.5, "R", "A")
    returnflag = np.where(receiptday <= _CUTOFF_DAY, returned, "N")
    linestatus = np.where(shipday > _CUTOFF_DAY, "O", "F")
    epoch_us = np.datetime64("1992-01-01", "us")
    shipdate = epoch_us + shipday.astype("timedelta64[D]").astype("timedelta64[us]")
    table = pa.table(
        {
            "l_orderkey": orderkey.astype(np.int64),
            "l_partkey": partkey.astype(np.int64),
            "l_suppkey": suppkey.astype(np.int64),
            "l_linenumber": linenumber,
            "l_quantity": quantity,
            "l_extendedprice": extendedprice,
            "l_discount": discount,
            "l_tax": tax,
            "l_returnflag": returnflag,
            "l_linestatus": linestatus,
            "l_shipdate": pa.array(shipdate, type=pa.timestamp("us")),
        }
    )
    table = table.take(np.random.default_rng(seed).permutation(rows))
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "lineitem.parquet")
    pq.write_table(table, path, row_group_size=rows)
    return path


def wide(out_dir: str, seed: int, rows: int, features: int) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    from tools.scale_proof_wide import build_matrix

    base_path = build_matrix(os.path.join(out_dir, "base"), rows, features, BASE_SEED)
    base = pq.read_table(base_path)
    rng = np.random.default_rng(seed)
    order = rng.permutation(rows)
    cols = {}
    for name in base.column_names:
        v = base.column(name).to_numpy()[order]
        dim = int(v.max()) + 1
        cols[name] = rng.permutation(dim).astype(v.dtype)[v]
    os.remove(base_path)
    path = os.path.join(out_dir, "wide.parquet")
    pq.write_table(pa.table(cols), path, row_group_size=65536)
    return path


if __name__ == "__main__":
    kind, out, seed, rows = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
    if kind == "lineitem":
        print(lineitem(out, seed, rows))
    else:
        print(wide(out, seed, rows, int(sys.argv[5])))

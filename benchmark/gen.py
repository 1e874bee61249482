"""Seeded input generator for the spatialgraft benchmark.

Writes the three key-only parquet tables the engine's synthesis reads
through ``spatialgraft.sqlgen`` (``lineitem(l_orderkey, l_linenumber)``,
``part(p_partkey)``, ``orders(o_orderkey)``) into a directory of its own.
Every derived geometry (documents, query boxes, convex and concave
polygons, kNN probes) is a pure function of these keys, so the same seed
always gives the same inputs, to the engine and to the DuckDB oracle
alike.

    python3 benchmark/gen.py --seed 7 --out .bench_scratch/in
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# l_linenumber spans 1..7 and each order carries 4 lines on average, as in
# the TPC-H-shaped tables the engine was built against; (orderkey,
# linenumber) pairs repeat, so the document count is below the row count.
LINES_PER_ORDER = 4
MAX_LINENUMBER = 7
# kNN probes are the orders whose key is a multiple of 16 (sqlgen).
KNN_QUERY_MOD = 16
# table sizes of every workload: ~36.6k docs, 1500 query boxes
ORDERS = 12000
PARTS = 1500


def generate(seed: int, out_dir: str) -> dict:
    """Write lineitem/part/orders parquet under out_dir; return the
    record of what was generated (seed, sizes and derived counts)."""
    rng = np.random.default_rng(seed)
    n_lines = LINES_PER_ORDER * ORDERS
    l_orderkey = rng.integers(0, ORDERS, n_lines, dtype=np.int64)
    l_linenumber = rng.integers(1, MAX_LINENUMBER + 1, n_lines,
                                dtype=np.int32)
    # part and order keys are drawn from a wider key space, so the boxes,
    # polygons and probes (hashes of the key) change with the seed too
    p_partkey = np.sort(rng.choice(16 * PARTS, PARTS, replace=False)
                        ).astype(np.int64)
    o_orderkey = np.sort(rng.choice(4 * ORDERS, ORDERS, replace=False)
                         ).astype(np.int64)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({"l_orderkey": l_orderkey,
                             "l_linenumber": l_linenumber}),
                   os.path.join(out_dir, "lineitem.parquet"))
    pq.write_table(pa.table({"p_partkey": p_partkey}),
                   os.path.join(out_dir, "part.parquet"))
    pq.write_table(pa.table({"o_orderkey": o_orderkey}),
                   os.path.join(out_dir, "orders.parquet"))
    doc_keys = np.unique(l_orderkey * 8 + l_linenumber)
    return {
        "seed": seed,
        "dir": out_dir,
        "n_docs": int(doc_keys.size),
        "n_boxes": PARTS,
        "n_polygons": int(np.count_nonzero(p_partkey % 3 == 1)),
        "n_concave": int(np.count_nonzero(p_partkey % 3 == 2)),
        "n_queries": int(np.count_nonzero(o_orderkey % KNN_QUERY_MOD == 0)),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.out)))


if __name__ == "__main__":
    main()

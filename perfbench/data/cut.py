#!/usr/bin/env python3
"""Cuts the benchmark's input tables out of graft's sf0.1 test tables.

    python3 perfbench/data/cut.py <sf0.1 directory>

The benchmark must not read outside its checkout, so it carries these
slices of the test tables (the tables graft's tests and `graft.Bench`
use) instead of generating stand-ins. Each slice is a key prefix, so a
slice keeps the relations between tables: every lineitem's order and
every order's customer is present. Rows and columns are copied as they
are. The benchmark then takes a seeded subset of each slice at run time
(see perfbench/README.md).
"""
import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

# table -> (key column, keys kept: key < limit); None keeps every row
CUTS = {
    "orders": ("o_orderkey", 50000),
    "lineitem": ("l_orderkey", 12000),
    "documents": ("doc_id", 800),
    "embeddings": ("vec_id", 600),
    "customer": None,
    "part": None,
    "supplier": None,
    "nation": None,
}


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    src = sys.argv[1]
    for name, cut in CUTS.items():
        t = pq.read_table(os.path.join(src, name + ".parquet"))
        if cut is not None:
            key, limit = cut
            t = t.filter(pc.less(t[key], limit))
        t = t.replace_schema_metadata(None)
        pq.write_table(t, os.path.join(HERE, name + ".parquet"), compression="zstd")
        print("%s: %d rows" % (name, t.num_rows))


if __name__ == "__main__":
    main()

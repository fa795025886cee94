#!/usr/bin/env python3
"""Write the benchmark's input samples from a test-data directory.

    python3 perfbench/make_data.py <testdata-dir>

``<testdata-dir>`` holds the generated scale factors ``sf0.01`` and
``sf0.1`` (one ``<table>.parquet`` file each). The samples written to
perfbench/data are committed, so a benchmark run reads nothing outside
its checkout:

- ``sf0.1-sample``: 6,000 whole orders of sf0.1 with their line items
  (the engine derives its FileInfo/Phot analog from them), and a row
  sample of sf0.1's documents and embeddings;
- ``sf0.01-sample``: a row sample of sf0.01's documents and embeddings,
  the base that the clone corpus repeats.

Rows are drawn by a fixed seed and kept in their source order. Rerun
only to change the samples, then rerun perfbench/record.py.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
SEED = 20261017
SAMPLES = {
    # sample dir: (source scale factor, {table: rows})
    "sf0.1-sample": ("sf0.1", {"orders": 6000, "documents": 2000, "embeddings": 1000}),
    "sf0.01-sample": ("sf0.01", {"documents": 200, "embeddings": 250}),
}


def sample(table: pa.Table, n: int, rng: np.random.Generator) -> pa.Table:
    return table.take(pa.array(np.sort(rng.choice(table.num_rows, n, replace=False))))


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    src_root = argv[0]
    rng = np.random.default_rng(SEED)
    for name, (sf, sizes) in SAMPLES.items():
        out = os.path.join(DATA, name)
        os.makedirs(out, exist_ok=True)
        for table, n in sizes.items():
            t = sample(pq.read_table(os.path.join(src_root, sf, f"{table}.parquet")), n, rng)
            pq.write_table(t, os.path.join(out, f"{table}.parquet"))
            if table == "orders":
                li = pq.read_table(os.path.join(src_root, sf, "lineitem.parquet"))
                li = li.filter(pc.is_in(li.column("l_orderkey"), t.column("o_orderkey")))
                pq.write_table(li, os.path.join(out, "lineitem.parquet"))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

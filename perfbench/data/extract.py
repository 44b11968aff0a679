"""Rebuild the fixture slices in this directory from the sf0.1 fixture
set (TESTDATA.md: the seed-42 tables the oracle checks and ``bench.py``
read):

    python3 perfbench/data/extract.py <sf0.1 fixture dir>

The benchmark reads only inside its checkout, so it carries these
slices instead of reading the fixture directory. Rows and values are
the fixtures' own; only whole rows are left out:

- ``region``, ``nation``, ``customer``, ``supplier``, ``part``,
  ``documents``: every row;
- ``orders``: ``o_orderkey < 36000``, and ``lineitem`` of those orders;
- ``events``: the first 60000 rows (about 18 days of the ts-ordered
  stream);
- ``embeddings``: the first 1000 vectors.

The benchmark draws its seeded inputs from these (``inputs.py``).
"""

from __future__ import annotations

import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ORDER_KEYS = 36_000
EVENT_ROWS = 60_000
EMBEDDING_ROWS = 1_000
WHOLE = ("region", "nation", "customer", "supplier", "part", "documents")


def main(src: str) -> None:
    def read(name):
        return pq.read_table(os.path.join(src, f"{name}.parquet"))

    tables = {name: read(name) for name in WHOLE}
    orders = read("orders")
    tables["orders"] = orders.filter(pc.less(orders["o_orderkey"], ORDER_KEYS))
    lines = read("lineitem")
    tables["lineitem"] = lines.filter(pc.less(lines["l_orderkey"], ORDER_KEYS))
    tables["events"] = read("events").slice(0, EVENT_ROWS)
    tables["embeddings"] = read("embeddings").slice(0, EMBEDDING_ROWS)
    for name, t in tables.items():
        pq.write_table(
            t.replace_schema_metadata(None),
            os.path.join(HERE, f"{name}.parquet"),
            compression="zstd",
            compression_level=9,
        )


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])

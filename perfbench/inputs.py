"""Seeded benchmark inputs.

The source tables are the snapshot under ``perfbench/data/<scale>/``
(the project's deterministic synthetic star schema plus the events,
documents and embeddings tables). A seed derives one input set from
them by dropping a seeded few percent of the fact rows:

- orders, together with every lineitem of a dropped order, so the
  join keys stay consistent;
- events, documents and embeddings, row by row.

Row order is preserved and the dimension tables are copied unchanged,
so every query sees the same schema and value distributions as on the
snapshot, and the DuckDB oracle is evaluated on the same derived files
as the engine.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
DIMENSIONS = ("region", "nation", "customer", "supplier", "part")
ROW_SAMPLED = ("events", "documents", "embeddings")
DROP_FRACTION = 0.03


def derive(scale: str, seed: int, dst_dir: str) -> dict[str, int]:
    """Write the seed's input tables to ``dst_dir``; return row counts."""
    src_dir = os.path.join(DATA_DIR, scale)
    if not os.path.isdir(src_dir):
        raise FileNotFoundError(f"no input snapshot for scale {scale!r}")
    os.makedirs(dst_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows: dict[str, int] = {}

    def write(name, table):
        pq.write_table(table, os.path.join(dst_dir, f"{name}.parquet"))
        rows[name] = table.num_rows

    for name in DIMENSIONS:
        shutil.copyfile(os.path.join(src_dir, f"{name}.parquet"),
                        os.path.join(dst_dir, f"{name}.parquet"))
        rows[name] = pq.ParquetFile(os.path.join(dst_dir, f"{name}.parquet")).metadata.num_rows

    orders = pq.read_table(os.path.join(src_dir, "orders.parquet"))
    keep = rng.random(orders.num_rows) >= DROP_FRACTION
    dropped = orders["o_orderkey"].filter(pc.invert(keep))
    write("orders", orders.filter(keep))
    lineitem = pq.read_table(os.path.join(src_dir, "lineitem.parquet"))
    write("lineitem", lineitem.filter(
        pc.invert(pc.is_in(lineitem["l_orderkey"], value_set=dropped))))

    for name in ROW_SAMPLED:
        table = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        write(name, table.filter(rng.random(table.num_rows) >= DROP_FRACTION))
    return rows

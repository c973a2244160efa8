"""Seeded benchmark inputs: a row permutation of the vendored base tables.

The base tables in ``data/sf0.01`` are a byte-identical copy of the
sf0.01 test drop (TESTDATA.md), so a run needs nothing outside its own
checkout. Each run writes every table again with its rows in an order
drawn from the seed: the answers stay the same (every benchmarked entry
is order-independent, and its oracle checks that), while the file bytes,
row-group statistics and the order rows reach each operator change from
seed to seed. Every column keeps its parquet physical and logical type;
the writer checks that before it returns.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def generate(seed: int, out_dir: str, tables: tuple[str, ...]) -> dict[str, dict[str, int]]:
    """Write ``tables`` permuted by ``seed`` into ``out_dir``.

    Returns ``{table: {"rows": n, "bytes": size_of_written_file}}``.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    manifest: dict[str, dict[str, int]] = {}
    for name in tables:
        src = pq.ParquetFile(os.path.join(BASE_DIR, f"{name}.parquet"))
        table = src.read()
        shuffled = table.take(pa.array(rng.permutation(table.num_rows)))
        dst = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(shuffled, dst, compression="snappy")
        if not pq.ParquetFile(dst).schema.equals(src.schema):
            raise RuntimeError(f"{name}: permuted copy changed the parquet schema")
        manifest[name] = {"rows": table.num_rows, "bytes": os.path.getsize(dst)}
    return manifest

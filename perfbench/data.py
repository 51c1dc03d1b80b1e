"""Inputs of the ``tables`` workload.

``perfbench/data/`` holds slices of the repository's TPC-H-style test
tables at scale factor 0.1: the first 200k rows of ``lineitem`` and all
5k rows of ``documents``, as they are (same columns, types and values).
The benchmark reads only files of its own checkout, so the slices are
committed; rebuild them with

    python3 perfbench/data.py <dir holding the sf0.1 lineitem.parquet and documents.parquet>

``load`` takes the first ``rows`` rows of a slice and rotates the row
order by an offset drawn from ``seed``, so that the row a split starts
at, and every group's contents, depend on the seed while the data does
not.  The same seed gives the same table.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SLICE_ROWS = {"lineitem": 200_000, "documents": 5_000}


def load(name: str, rows: int, seed: int) -> pa.Table:
    """The first ``rows`` rows of slice ``name``, rotated by a seeded offset."""
    t = pq.read_table(os.path.join(DATA, f"{name}.parquet"))
    if rows > t.num_rows:
        raise ValueError(f"{name}: {rows} rows asked, the slice has {t.num_rows}")
    t = t.slice(0, rows)
    off = int(np.random.default_rng([seed, 1]).integers(0, rows))
    return pa.concat_tables([t.slice(off), t.slice(0, off)]).combine_chunks()


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    os.makedirs(DATA, exist_ok=True)
    for name, rows in SLICE_ROWS.items():
        t = pq.read_table(os.path.join(argv[0], f"{name}.parquet")).slice(0, rows)
        t = t.replace_schema_metadata(None)
        pq.write_table(t, os.path.join(DATA, f"{name}.parquet"),
                       compression="zstd", compression_level=19,
                       row_group_size=len(t))
        print(f"{name}: {t.num_rows} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

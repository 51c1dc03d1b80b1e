#!/usr/bin/env python
"""Supplementary microbenchmarks (guide 1.1/1.4): isolate the TASK-SIDE
work of the engine paths bench.py times through Spark, so per-change
effects are measurable without scheduler/bridge noise.

bench.py is the frozen driver-facing benchmark; this file only exists to
make the numbers cited in OPTIMIZATION_r06.md reproducible.  Prints one
JSON line.  No Spark session: each section replays exactly what one
scan-side task does (pyarrow read -> _encode_batch_stream windowing ->
chunk kernels / decode -> our parquet writer).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time


def _best(fn, n=5):
    best = 1e9
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkcodec.datagen import gen_rows
    from sparkcodec.engine import (
        DEFAULT_CHUNK_ROWS, DEFAULT_TOKEN_BUDGET,
        _encode_batch_stream, _encode_plan, decode_chunk_group,
    )
    from sparkcodec.parquet.writer import ParquetWriter

    out: dict[str, object] = {}
    tmp = tempfile.mkdtemp(prefix="sparkcodec_bx_")
    try:
        # F1-shaped single-task input: 20k rows (~10M tokens)
        f1 = os.path.join(tmp, "f1.parquet")
        pq.write_table(pa.Table.from_batches([gen_rows(np.arange(20000), 42)]), f1)

        def encode_of(path):
            pf = pq.ParquetFile(path)
            batches = list(pf.iter_batches(batch_size=16384))
            _, out_schema = _encode_plan(pf.schema_arrow.names, pf.schema_arrow)
            pf.close()

            def run():
                return list(_encode_batch_stream(
                    iter(batches), 0, out_schema, DEFAULT_CHUNK_ROWS,
                    DEFAULT_TOKEN_BUDGET, True))
            return run

        run_f1 = encode_of(f1)
        out["encode_task_f1_20k"] = _best(run_f1)
        for name in ("documents", "lineitem", "events"):
            p = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(p):
                out[f"encode_task_{name}"] = _best(encode_of(p))

        # decode + our parquet writer (what one decode_to_parquet task does)
        enc = run_f1()
        rows = []
        for b in enc:
            pi = b.schema.get_field_index("payload")
            si = b.schema.get_field_index("schema_json")
            for i in range(len(b)):
                rows.append((b.column(pi)[i].as_py(),
                             json.loads(b.column(si)[i].as_py())))

        def dec():
            return [decode_chunk_group(p, pairs) for p, pairs in rows]

        out["decode_task_f1_20k"] = _best(dec)

        def dec_write():
            w = None
            for p, pairs in rows:
                rb = decode_chunk_group(p, pairs)
                if w is None:
                    w = ParquetWriter(rb.schema, compression="zstd",
                                      row_group_rows=1 << 20)
                w.write(pa.Table.from_batches([rb]))
            return w.finish()

        out["decode_write_task_f1_20k"] = _best(dec_write, n=3)
        print(json.dumps({"metric": "task_side_microbench", "unit": "sec",
                          **out}))
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

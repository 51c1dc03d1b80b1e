"""Focused regression tests for the round-6 optimization internals:
each pins that a rewritten fast path produces EXACTLY the bytes/rows of
the shape it replaced (the round's contract is identical results)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest


# ---------- RLE hybrid: vectorized emission == scalar loop ----------

def _rle_scalar_reference(values: np.ndarray, bw: int) -> bytes:
    """The pre-round scalar emission loop, kept as the oracle."""
    from sparkcodec.kernels.bitpack import pack_bits_lsb
    from sparkcodec.kernels.varint import write_uvarint

    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    out = bytearray()
    if n == 0:
        return bytes(out)
    vbytes = (bw + 7) // 8

    def emit_bitpack(lo, hi):
        count = hi - lo
        if count == 0:
            return
        groups = (count + 7) // 8
        seg = v[lo:hi]
        if count % 8:
            seg = np.concatenate([seg, np.zeros(groups * 8 - count, np.uint64)])
        write_uvarint(out, (groups << 1) | 1)
        out.extend(pack_bits_lsb(seg, bw))

    boundaries = np.flatnonzero(v[1:] != v[:-1]) + 1
    starts = np.concatenate(([0], boundaries))
    ends = np.concatenate((boundaries, [n]))
    lens = ends - starts
    pend = 0
    for ri in np.flatnonzero(lens >= 8):
        s, l = int(starts[ri]), int(lens[ri])
        k = (-(s - pend)) % 8
        if l - k < 8:
            continue
        emit_bitpack(pend, s + k)
        write_uvarint(out, (l - k) << 1)
        out.extend(int(v[s]).to_bytes(vbytes, "little"))
        pend = int(ends[ri])
    emit_bitpack(pend, n)
    return bytes(out)


def test_rle_fast_path_matches_scalar_reference():
    from sparkcodec.kernels.rle import rle_hybrid_decode, rle_hybrid_encode

    rng = np.random.default_rng(7)
    for trial in range(60):
        bw = int(rng.integers(1, 9))
        vmax = (1 << bw) - 1
        parts = []
        # enough runs to engage the vectorized path (> 64), with
        # borrow-edge lengths (8..14) mixed in so the acceptance walk runs
        for _ in range(int(rng.integers(70, 160))):
            parts.append(np.full(int(rng.integers(6, 18)),
                                 int(rng.integers(0, vmax + 1)), np.int64))
            parts.append(rng.integers(0, vmax + 1,
                                      int(rng.integers(0, 10))).astype(np.int64))
        arr = np.concatenate(parts).astype(np.uint64)
        enc = rle_hybrid_encode(arr, bw)
        assert enc == _rle_scalar_reference(arr, bw)
        back = rle_hybrid_decode(enc, bw, len(arr))
        assert np.array_equal(back, arr)


def test_rle_levels_shape_roundtrip():
    from sparkcodec.kernels.rle import rle_hybrid_decode, rle_hybrid_encode

    rng = np.random.default_rng(3)
    lens = rng.integers(1, 60, 500)
    lvl = np.concatenate(
        [np.concatenate([[0], np.ones(l - 1, np.int64)]) for l in lens]
    ).astype(np.uint64)
    enc = rle_hybrid_encode(lvl, 1)
    assert enc == _rle_scalar_reference(lvl, 1)
    assert np.array_equal(rle_hybrid_decode(enc, 1, len(lvl)), lvl)


# ---------- DELTA_BINARY_PACKED: vectorized assembly ----------

def test_delta_pack_partial_blocks_and_extremes():
    from sparkcodec.kernels.delta import delta_binary_pack, delta_binary_unpack

    rng = np.random.default_rng(11)
    for arr in (
        rng.integers(0, 100, 137).astype(np.int64),          # partial block
        np.array([5], np.int64),
        np.array([2**62, -(2**62), 0, -1, 1] * 999, np.int64),
        np.cumsum(rng.integers(0, 900, 10_001)).astype(np.int64),
        np.full(4096, -7, np.int64),
    ):
        buf = delta_binary_pack(arr)
        assert np.array_equal(delta_binary_unpack(buf), arr)


def test_uvarint_scatter_matches_scalar():
    from sparkcodec.kernels.varint import (
        read_uvarint, uvarint_lengths, uvarint_scatter, write_uvarint,
    )

    rng = np.random.default_rng(2)
    vals = np.concatenate([
        rng.integers(0, 128, 50), rng.integers(0, 1 << 20, 50),
        rng.integers(0, 1 << 62, 50), [0, 127, 128, (1 << 64) - 1],
    ]).astype(np.uint64)
    nb = uvarint_lengths(vals)
    out = np.zeros(int(nb.sum()), dtype=np.uint8)
    starts = np.zeros(len(vals), dtype=np.int64)
    np.cumsum(nb[:-1], out=starts[1:])
    uvarint_scatter(vals, nb, out, starts)
    ref = bytearray()
    for x in vals:
        write_uvarint(ref, int(x))
    assert out.tobytes() == bytes(ref)
    pos = 0
    for x in vals:
        got, pos = read_uvarint(out, pos)
        assert got == int(x)


# ---------- FSST: probe skip never changes the pick ----------

def test_fsst_probe_skipped_when_dict_wins():
    from sparkcodec.chunk import decode_array, encode_array

    cats = pa.array([["a", "bb", "ccc"][i % 3] for i in range(5000)])
    blob, meta = encode_array(cats)
    assert meta["codec"] == "DICT"
    assert decode_array(blob).cast(pa.string()).to_pylist() == cats.to_pylist()


def test_fsst_match_tables_agree_with_searchsorted():
    from sparkcodec.kernels.fsst import (
        MAX_SYM_LEN, _LEN_MASKS, _match_table, _windows_u64, train,
    )

    rng = np.random.default_rng(5)
    words = [b"the ", b"quick", b"encode", b"spark", b"zz"]
    data = np.frombuffer(
        b"".join(words[int(i)] for i in rng.integers(0, len(words), 3000)),
        dtype="u1").copy()
    offsets = np.arange(0, len(data) + 1, max(len(data) // 100, 1),
                        dtype=np.int64)
    offsets[-1] = len(data)
    table = train(offsets, data)
    bc, bl = _match_table(data, table)
    # reference: pure searchsorted over every length
    win = _windows_u64(data)
    ref_code = np.full(len(data), 255, dtype=np.int16)
    ref_len = np.ones(len(data), dtype=np.int8)
    for L in range(1, MAX_SYM_LEN + 1):
        ent = table._by_len.get(L)
        if ent is None:
            continue
        keys, codes = ent
        masked = win & _LEN_MASKS[L - 1]
        idx = np.minimum(np.searchsorted(keys, masked), len(keys) - 1)
        hit = keys[idx] == masked
        ref_code[hit] = codes[idx[hit]]
        ref_len[hit] = L
    assert np.array_equal(bc, ref_code)
    assert np.array_equal(np.asarray(bl, np.int64), np.asarray(ref_len, np.int64))


# ---------- ranged splits ----------

def test_ranged_split_reader_covers_exact_rows(tmp_path):
    import pyarrow.parquet as pq

    from sparkcodec.engine import _plan_parquet_splits

    n = 40_000
    tbl = pa.table({"i": np.arange(n, dtype=np.int64),
                    "v": np.arange(n, dtype=np.int64) * 3})
    p = str(tmp_path / "one_rg.parquet")
    pq.write_table(tbl, p, row_group_size=n)  # ONE row group
    splits = _plan_parquet_splits(p, 8)
    assert len(splits) > 1, "oversized row group should range-split"
    assert all(s["row_groups"] == [0] for s in splits)
    covered = []
    for s in splits:
        lo = s["skip_rows"]
        covered.append((lo, lo + s["take_rows"]))
    covered.sort()
    assert covered[0][0] == 0 and covered[-1][1] == n
    for (a, b), (c, d) in zip(covered, covered[1:]):
        assert b == c, "ranges must tile without gap or overlap"
    # pieces respect the row floor
    assert all(hi - lo >= 16384 for lo, hi in covered)


def test_ranged_splits_list_only_overlapping_row_groups(spark, tmp_path):
    """A small row group packed ahead of an oversized one: each range lists
    only the row groups its rows overlap, with skip counted from the first
    of them, so no range but the first decodes the small group again.  The
    ranges read the same rows as the untrimmed descriptors did, and here
    -- each range below chunk_rows, so one flush per task -- encode to the
    same payload bytes.  (The split reader's batches continue across row
    groups, so a range that fills chunk_rows mid-stream may cut its chunks
    at other rows than the untrimmed plan did; the rows are the same.)"""
    import hashlib

    import pyarrow.parquet as pq

    from sparkcodec.engine import (
        DEFAULT_CHUNK_ROWS, DEFAULT_TOKEN_BUDGET, _encode_batch_stream,
        _encode_plan, _plan_parquet_splits, _read_splits,
        encode_parquet_dataset,
    )

    ids = np.arange(101_000, dtype=np.int64)
    schema = pa.schema([("id", pa.int64()), ("v", pa.int64())])
    path = str(tmp_path / "small_then_big.parquet")
    with pq.ParquetWriter(path, schema) as w:
        w.write_table(pa.table({"id": ids[:1000], "v": ids[:1000] * 3}))
        w.write_table(pa.table({"id": ids[1000:], "v": ids[1000:] * 3}),
                      row_group_size=100_000)
    splits = _plan_parquet_splits(path, 4)
    assert [(s["row_groups"], s["skip_rows"], s["take_rows"])
            for s in splits] == [([0, 1], 0, 25250), ([1], 24250, 25250),
                                 ([1], 49500, 25250), ([1], 74750, 25250)]
    untrimmed = [(path, [0, 1], i * 25250, 25250) for i in range(4)]
    for s, old in zip(splits, untrimmed):
        got = pa.Table.from_batches(list(_read_splits(
            [(path, s["row_groups"], s["skip_rows"], s["take_rows"])], None)))
        assert got.equals(pa.Table.from_batches(list(_read_splits([old], None))))

    def payloads(tbl):
        return {r["chunk_id"]: hashlib.sha256(r["payload"]).hexdigest()
                for r in tbl.select(["chunk_id", "payload"]).to_pylist()}

    _, out_schema = _encode_plan(schema.names, schema)
    want = {}
    for pid, old in enumerate(untrimmed):  # n_splits given: one task each
        want.update(payloads(pa.Table.from_batches(list(_encode_batch_stream(
            _read_splits([old], None), pid, out_schema, DEFAULT_CHUNK_ROWS,
            DEFAULT_TOKEN_BUDGET, True)))))
    got = payloads(encode_parquet_dataset(spark, path, n_splits=4).toArrow())
    assert got == want and len(got) == 4


def test_plan_splits_no_ranges_when_disallowed(tmp_path):
    import pyarrow.parquet as pq

    from sparkcodec.engine import _plan_parquet_splits

    tbl = pa.table({"i": np.arange(100_000, dtype=np.int64)})
    p = str(tmp_path / "one_rg.parquet")
    pq.write_table(tbl, p, row_group_size=100_000)
    splits = _plan_parquet_splits(p, 8, allow_ranges=False)
    assert len(splits) == 1
    assert "skip_rows" not in splits[0]


def test_task_slices_adaptive():
    from sparkcodec.engine import _MIN_SPLIT_BYTES, _task_slices

    tiny = [{"n_bytes": 1 << 20} for _ in range(64)]   # 64 MB total
    assert _task_slices(tiny, 8) == 8                  # parallelism floor
    assert _task_slices(tiny, None) == 64              # pinned n_splits
    big = [{"n_bytes": _MIN_SPLIT_BYTES} for _ in range(64)]
    assert _task_slices(big, 8) == 64                  # enough bytes: 1/task
    assert _task_slices(big[:4], 8) == 4               # never exceeds splits


# ---------- zero-copy cells ----------

def test_binary_cells_zero_copy_and_nulls():
    from sparkcodec.engine import _binary_cells

    arr = pa.array([b"abc", None, b"", b"xyzw"], type=pa.binary())
    cells = _binary_cells(arr)
    assert bytes(cells[0]) == b"abc"
    assert cells[1] is None
    assert bytes(cells[2]) == b""
    assert bytes(cells[3]) == b"xyzw"
    assert isinstance(cells[0], memoryview)
    # sliced arrays keep correct offsets
    s = arr.slice(2)
    cells = _binary_cells(s)
    assert bytes(cells[0]) == b"" and bytes(cells[1]) == b"xyzw"


# ---------- RANK decode dtype fusion ----------

def test_rank_decode_int32_exact():
    from sparkcodec.chunk import decode_array, encode_array
    from sparkcodec.selector import RANK

    rng = np.random.default_rng(9)
    u = rng.random(300_000)
    toks = ((np.minimum(u ** (-1 / 0.2), 1e9).astype(np.int64) * 2654435761)
            % 50021).astype(np.int32)
    blob, meta = encode_array(pa.array(toks), codec=RANK)
    back = decode_array(blob)
    assert back.type == pa.int32()
    assert np.array_equal(back.to_numpy(), toks)


# ---------- task driving: spark.range ids, descriptors in the closure ----------

_DESC_SCHEMA = pa.schema([("task", pa.int64()), ("path", pa.string()),
                          ("rgs", pa.list_(pa.int32())),
                          ("skip", pa.int64()), ("take", pa.int64())])


def _ids_file(path, lo: int, n: int, rg_rows: int) -> None:
    import pyarrow.parquet as pq

    ids = np.arange(lo, lo + n, dtype=np.int64)
    pq.write_table(pa.table({"id": ids, "v": ids * 3}), path,
                   row_group_size=rg_rows)


def _split_inputs(spark, tmp_path, case: str):
    """(path, n_splits, planned splits, task slices) for one split-planning
    case, planned as the scan-side jobs plan them."""
    from sparkcodec.engine import _plan_parquet_splits, _task_slices

    # None: the default plan, 2x the parallelism spread adaptively;
    # "pinned": n_splits given -> one task per split
    n_splits = 6 if case == "pinned" else None
    min_splits = max(spark.sparkContext.defaultParallelism, 2)
    if case == "ranged":  # one 200k-row row group -> skip/take ranges
        path = str(tmp_path / "one_rg.parquet")
        _ids_file(path, 0, 200_000, 200_000)
        splits = _plan_parquet_splits(path, min_splits * 2)
        assert len(splits) > 1 and all("skip_rows" in s for s in splits)
        return path, n_splits, splits, _task_slices(splits, min_splits)
    sizes = [3000, 7000, 1000, 5000, 4000]
    path, lo = [], 0
    for k, n in enumerate(sizes):
        path.append(str(tmp_path / f"in-{k}.parquet"))
        _ids_file(path[-1], lo, n, 1000)
        lo += n
    if case == "pinned":
        splits = _plan_parquet_splits(path, n_splits)
        return path, n_splits, splits, _task_slices(splits, None)
    splits = _plan_parquet_splits(path, min_splits * 2)
    return path, n_splits, splits, _task_slices(splits, min_splits)


@pytest.mark.parametrize("case", ["ranged", "multi_file", "pinned"])
def test_map_splits_reads_every_split_once(spark, tmp_path, case):
    """Each planned split reaches exactly one task, tasks hold contiguous
    runs of the plan in order, and the task count is the slice count."""
    from sparkcodec.engine import _map_splits

    path, n_splits, splits, n_slices = _split_inputs(spark, tmp_path, case)
    planned = [(s["path"], s["row_groups"], s.get("skip_rows", 0),
                s.get("take_rows", -1)) for s in splits]

    def task(i, descs):
        yield pa.RecordBatch.from_pylist(
            [{"task": i, "path": p, "rgs": rgs, "skip": skip, "take": take}
             for p, rgs, skip, take in descs],
            schema=_DESC_SCHEMA)

    if case == "pinned":
        assert n_slices == len(splits)
    df = _map_splits(spark, path, n_splits, task, _DESC_SCHEMA)
    assert df.rdd.getNumPartitions() == n_slices
    got = [tuple(r) for r in df.collect()]
    assert [(p, list(g), s, t) for _, p, g, s, t in got] == planned
    tasks = [r[0] for r in got]
    assert tasks == sorted(tasks)
    per_task = np.bincount(tasks, minlength=n_slices)
    assert per_task.max() - per_task.min() <= 1


@pytest.mark.parametrize("case", ["ranged", "multi_file", "pinned"])
def test_scan_encode_covers_every_row_once(spark, tmp_path, case):
    from sparkcodec.engine import decode_dataframe, encode_parquet_dataset

    path, _, _, _ = _split_inputs(spark, tmp_path, case)
    enc = encode_parquet_dataset(
        spark, path, n_splits=6 if case == "pinned" else None)
    ids = np.sort(np.array([r["id"] for r in decode_dataframe(enc).collect()]))
    assert np.array_equal(ids, np.arange(200_000 if case == "ranged" else 20_000))


def test_scan_encode_source_file_tags_each_file_once(spark, tmp_path):
    import pyarrow.parquet as pq

    from sparkcodec.engine import decode_dataframe, encode_parquet_dataset

    paths, _, _, _ = _split_inputs(spark, tmp_path, "multi_file")
    enc = encode_parquet_dataset(spark, paths, include_source_file=True)
    for p in paths:
        part = enc.filter(enc.source_file == p).drop("source_file")
        ids = sorted(r["id"] for r in decode_dataframe(part).collect())
        assert ids == pq.read_table(p).column("id").to_pylist()


def test_encode_to_parquet_matches_parallelize_placement(spark, tmp_path):
    """For a fixed input the container equals what the former descriptor
    DataFrame produced: the splits are placed on tasks as
    ``parallelize(rows, n)`` placed them, and each task's encode stream
    windows across its splits exactly as before (chunk_rows spans two
    splits here), so manifests and payload bytes match."""
    import pyarrow.parquet as pq

    from sparkcodec.engine import (
        DEFAULT_TOKEN_BUDGET, _encode_batch_stream, _encode_plan,
        _plan_parquet_splits, _read_splits, _task_slices, encode_to_parquet,
    )

    rng = np.random.default_rng(4)
    n = 16 * 3000
    lens = rng.integers(1, 40, n)
    toks = (rng.zipf(1.3, int(lens.sum())) % 5000).astype(np.int32)
    offs = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    src = str(tmp_path / "in.parquet")
    pq.write_table(pa.table({
        "id": np.arange(n, dtype=np.int64),
        "toks": pa.ListArray.from_arrays(pa.array(offs), pa.array(toks))}),
        src, row_group_size=3000)
    min_splits = max(spark.sparkContext.defaultParallelism, 2)
    splits = _plan_parquet_splits(src, min_splits * 2)
    n_slices = _task_slices(splits, min_splits)
    assert len(splits) > n_slices  # tasks hold several splits
    rows = [(s["path"], s["row_groups"], s.get("skip_rows", 0),
             s.get("take_rows", -1)) for s in splits]
    placed = spark.sparkContext.parallelize(rows, n_slices).glom().collect()

    chunk_rows = 5000
    out = tmp_path / "enc"
    manifest = {r["path"]: r for r in
                encode_to_parquet(spark, src, str(out),
                                  chunk_rows=chunk_rows).collect()}
    assert len(manifest) == n_slices
    keep = ["part_id", "chunk_seq", "chunk_id", "n_rows", "n_tokens",
            "bytes_in", "bytes_out", "schema_json", "payload"]
    schema = pq.read_schema(src)
    _, out_schema = _encode_plan(schema.names, schema)
    for pid, descs in enumerate(placed):
        want = pa.Table.from_batches(list(_encode_batch_stream(
            _read_splits(descs, None), pid, out_schema, chunk_rows,
            DEFAULT_TOKEN_BUDGET, True)))
        fpath = str(out / f"part-{pid:05d}.parquet")
        assert pq.read_table(fpath).select(keep).equals(want.select(keep))
        assert manifest[fpath]["n_chunks"] == want.num_rows
        assert manifest[fpath]["bytes_out"] == pa.compute.sum(
            want["bytes_out"]).as_py()


def test_scan_side_plans_have_no_rdd_scan(spark, tmp_path):
    """Scan-side jobs start from a Range, not a Python-RDD descriptor scan
    (whose rows cost every task a second Python worker)."""
    from sparkcodec.engine import (
        decode_to_parquet, encode_dataframe, encode_parquet_dataset,
        encode_to_parquet,
    )

    src = str(tmp_path / "in.parquet")
    _ids_file(src, 0, 5000, 1000)
    enc_dir = str(tmp_path / "enc")
    encode_to_parquet(spark, src, enc_dir).collect()
    for df in (encode_parquet_dataset(spark, src),
               encode_dataframe(spark.read.parquet(src)),
               encode_to_parquet(spark, src, str(tmp_path / "enc2")),
               decode_to_parquet(spark, enc_dir, str(tmp_path / "dec"))):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Range" in plan, plan
        assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan


def test_scan_side_jobs_on_input_without_rows(spark, tmp_path):
    """The planner's empty-input return serves all three scan-side jobs:
    an input with no row groups gives an empty DataFrame of the job's
    schema -- also for decode_to_parquet(columns=...) over a directory
    without files, where there is no schema to check the columns against."""
    import os

    import pyarrow.parquet as pq

    from sparkcodec.engine import (
        decode_to_parquet, encode_parquet_dataset, encode_to_parquet,
    )

    src = str(tmp_path / "empty.parquet")
    pq.write_table(pa.table({"id": pa.array([], pa.int64())}), src)
    enc = encode_parquet_dataset(spark, src, stat_columns=("id",))
    assert enc.count() == 0 and "min_id" in enc.columns
    assert encode_to_parquet(spark, src, str(tmp_path / "enc")).collect() == []
    assert os.listdir(tmp_path / "enc") == []
    assert decode_to_parquet(spark, str(tmp_path / "enc"), str(tmp_path / "dec"),
                             columns=["id"]).collect() == []

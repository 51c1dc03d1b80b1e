"""Cross-implementation oracle (FIXTURES.md F4(b)): parquet files written
by our own encoders must decode identically with pyarrow AND DuckDB --
the stand-in for the reference's hyparquet-reader round-trips
(reference: test/encoding.test.js:12-25, test/write.roundtrip.test.js)."""

from __future__ import annotations

import io

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sparkcodec.parquet import write_parquet_bytes

RNG = np.random.default_rng(42)


def _read_both(buf: bytes) -> tuple[pa.Table, object]:
    t_pa = pq.read_table(io.BytesIO(buf))
    con = duckdb.connect()
    import tempfile, os
    with tempfile.NamedTemporaryFile(suffix=".parquet", delete=False) as f:
        f.write(buf)
        path = f.name
    try:
        t_dd = con.execute(f"SELECT * FROM '{path}'").arrow()
    finally:
        os.unlink(path)
    return t_pa, t_dd


def _assert_equal(buf: bytes, expected: pa.Table):
    got_pa, got_dd = _read_both(buf)
    for got, who in ((got_pa, "pyarrow"), (got_dd, "duckdb")):
        assert got.num_rows == expected.num_rows, who
        for name in expected.column_names:
            e = expected.column(name).combine_chunks()
            g = got.column(name).combine_chunks()
            if not g.type.equals(e.type):
                g = g.cast(e.type)
            assert g.equals(e), (who, name, g.slice(0, 5), e.slice(0, 5))


def test_plain_numeric_columns():
    t = pa.table({
        "i32": pa.array(RNG.integers(-1000, 1000, 5000).astype(np.int32)),
        "i64": pa.array(RNG.integers(-(2**40), 2**40, 5000)),
        "f32": pa.array(RNG.normal(size=5000).astype(np.float32)),
        "f64": pa.array(RNG.normal(size=5000)),
        "b": pa.array(RNG.integers(0, 2, 5000).astype(bool)),
    })
    _assert_equal(write_parquet_bytes(t, use_dictionary=False), t)


def test_dictionary_strings():
    t = pa.table({"s": pa.array(["aaaa", "bbbb"] * 50000)})
    buf = write_parquet_bytes(t)
    _assert_equal(buf, t)
    # dictionary + RLE keeps the file tiny (reference 170-byte pin analog;
    # our footer is a bit chattier but the same order of magnitude)
    assert len(buf) < 1000, len(buf)


def test_delta_binary_packed_ints():
    t = pa.table({"m": pa.array((np.arange(60000) * 3).astype(np.int32))})
    buf = write_parquet_bytes(t, use_dictionary=False)
    _assert_equal(buf, t)
    assert len(buf) < 20000  # ~0 bits/value + block headers


def test_delta_byte_array_strings():
    urls = pa.array([f"https://example.com/path/{i:08d}" for i in range(20000)])
    t = pa.table({"u": urls})
    buf = write_parquet_bytes(t, use_dictionary=False)
    _assert_equal(buf, t)


def test_nullable_columns():
    t = pa.table({
        "x": pa.array([None if i % 3 == 0 else i for i in range(10000)], type=pa.int64()),
        "s": pa.array([None if i % 7 == 0 else f"v{i % 50}" for i in range(10000)]),
    })
    _assert_equal(write_parquet_bytes(t), t)


def test_tokens_list_column():
    lens = RNG.integers(0, 50, 3000)
    offsets = np.zeros(3001, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    vals = (RNG.zipf(1.2, int(offsets[-1])) % 50257).astype(np.int32)
    tok = pa.ListArray.from_arrays(pa.array(offsets), pa.array(vals))
    t = pa.table({"doc_id": pa.array([f"d{i:06d}" for i in range(3000)]), "tokens": tok})
    _assert_equal(write_parquet_bytes(t), t)


def test_list_with_nulls_and_empties():
    data = [[1, 2, 3], [], None, [7] * 100, None, [0]]
    tok = pa.array(data, type=pa.list_(pa.int32()))
    t = pa.table({"tokens": tok})
    _assert_equal(write_parquet_bytes(t), t)


def test_timestamp_and_date():
    ts = pa.array(np.arange(1000) * 10**6 + 1700000000 * 10**6, type=pa.timestamp("us"))
    d = pa.array((np.arange(1000) % 2000).astype(np.int32), type=pa.date32())
    t = pa.table({"ts": ts, "d": d})
    _assert_equal(write_parquet_bytes(t), t)


def test_multi_row_group_and_page_split():
    t = pa.table({"x": pa.array(RNG.integers(0, 10**6, 800000).astype(np.int64)),
                  "s": pa.array([f"row-{i}" for i in range(800000)])})
    buf = write_parquet_bytes(t, row_group_rows=300000, use_dictionary=False,
                              page_bytes=1 << 18)
    got = pq.ParquetFile(io.BytesIO(buf))
    assert got.num_row_groups == 3
    _assert_equal(buf, t)


def test_statistics_visible_to_readers():
    t = pa.table({"x": pa.array(np.arange(1000, 3000).astype(np.int64)),
                  "s": pa.array(["x" * 56 + f"{i:06d}" for i in range(2000)])})
    buf = write_parquet_bytes(t, use_dictionary=False)
    md = pq.ParquetFile(io.BytesIO(buf)).metadata
    st = md.row_group(0).column(0).statistics
    assert st.min == 1000 and st.max == 2999 and st.null_count == 0
    st2 = md.row_group(0).column(1).statistics
    assert st2.min == "x" * 16  # truncated prefix
    assert st2.max == "x" * 15 + "y"  # rounded up
    # predicate pushdown works against our stats
    con = duckdb.connect()
    import tempfile, os
    with tempfile.NamedTemporaryFile(suffix=".parquet", delete=False) as f:
        f.write(buf)
    n = con.execute(f"SELECT count(*) FROM '{f.name}' WHERE x < 1100").fetchone()[0]
    os.unlink(f.name)
    assert n == 100


def test_empty_table():
    t = pa.table({"x": pa.array([], type=pa.int32())})
    buf = write_parquet_bytes(t)
    got = pq.read_table(io.BytesIO(buf))
    assert got.num_rows == 0 and got.column_names == ["x"]


def test_gzip_compression_effective():
    t = pa.table({"s": pa.array(["the same text again and again"] * 20000)})
    gz = write_parquet_bytes(t, compression="gzip", use_dictionary=False)
    raw = write_parquet_bytes(t, compression="none", use_dictionary=False)
    assert len(gz) < len(raw) * 0.2
    _assert_equal(gz, t)


def test_spark_partitioned_parquet_sink(spark, tmp_path):
    """Distributed sink: Spark partitions -> our parquet files -> Spark and
    DuckDB read them back identically."""
    from sparkcodec.parquet.writer import write_partitioned_parquet
    from sparkcodec.tokens import tokens_table
    from tests.conftest import SF_DIR

    toks = tokens_table(spark, SF_DIR)
    out = str(tmp_path / "files")
    manifest = write_partitioned_parquet(toks.repartition(4), out).collect()
    assert len(manifest) == 4 and all(r["n_bytes"] > 0 for r in manifest)
    back = spark.read.parquet(out)
    a = sorted((r["doc_id"], tuple(r["tokens"] or ())) for r in toks.collect())
    b = sorted((r["doc_id"], tuple(r["tokens"] or ())) for r in back.collect())
    assert a == b
    n = duckdb.sql(f"SELECT count(*) FROM '{out}/*.parquet'").fetchone()[0]
    assert n == toks.count()


def test_partitioned_sink_rerun_keeps_one_copy(spark, tmp_path):
    """Writing into a directory that already holds this sink's output
    replaces it: part files are named by partition id (a retried task
    replaces its own file) and earlier part files are removed first, so a
    rerun -- here also with fewer partitions -- never duplicates rows."""
    import os

    from sparkcodec.parquet.writer import write_partitioned_parquet

    df = spark.range(1000).selectExpr("id", "CAST(id % 7 AS INT) AS k")
    out = str(tmp_path / "files")
    write_partitioned_parquet(df.repartition(4), out).collect()
    write_partitioned_parquet(df.repartition(4), out).collect()
    assert spark.read.parquet(out).count() == 1000
    write_partitioned_parquet(df.repartition(2), out).collect()
    assert sorted(os.listdir(out)) == ["part-00000.parquet",
                                       "part-00001.parquet"]
    back = spark.read.parquet(out)
    assert sorted(r["id"] for r in back.collect()) == list(range(1000))


def test_page_indexes_written_and_valid():
    """ColumnIndex/OffsetIndex parity (SURVEY M3/M4): parse the structures
    back with our generic thrift reader and validate them against the data."""
    from sparkcodec.parquet.thrift_read import read_struct

    n = 400000
    t = pa.table({"x": pa.array(np.arange(n).astype(np.int64))})
    buf = write_parquet_bytes(t, use_dictionary=False, page_bytes=1 << 18,
                              compression="none")
    mv = memoryview(buf)
    flen = int.from_bytes(buf[-8:-4], "little")
    footer, _ = read_struct(mv, len(buf) - 8 - flen)
    chunk = footer[4][0][1][0]  # row_groups[0].columns[0]
    ci_off, ci_len = chunk[6], chunk[7]
    oi_off, oi_len = chunk[4], chunk[5]
    assert ci_off and oi_off
    ci, _ = read_struct(mv, ci_off)
    oi, _ = read_struct(mv, oi_off)
    pages = oi[1]
    assert len(pages) > 1
    # boundary order ascending for a sorted column
    assert ci[4] == 1
    assert all(v is False for v in ci[1])  # no null pages
    mins = [int.from_bytes(b, "little", signed=True) for b in ci[2]]
    maxs = [int.from_bytes(b, "little", signed=True) for b in ci[3]]
    assert mins == sorted(mins) and maxs == sorted(maxs)
    assert mins[0] == 0 and maxs[-1] == n - 1
    # offset index: first_row_index increases, offsets point at page starts
    first_rows = [p[3] for p in pages]
    assert first_rows[0] == 0 and first_rows == sorted(first_rows)
    sizes = [p[2] for p in pages]
    offs = [p[1] for p in pages]
    for i in range(len(pages) - 1):
        assert offs[i] + sizes[i] == offs[i + 1]
    # file still decodes everywhere
    _assert_equal(buf, t)


def test_page_index_per_column_opt_in():
    """Reference parity (src/parquet-writer.js:75-80): columnIndex and
    offsetIndex are per-column options, and a ColumnIndex without an
    OffsetIndex is rejected.  Footer parse must show indexes only where
    requested."""
    import pytest as _pt

    from sparkcodec.parquet.thrift_read import read_struct

    n = 400000
    t = pa.table({"x": pa.array(np.arange(n, dtype=np.int64)),
                  "y": pa.array(np.arange(n, dtype=np.int64))})

    def chunk_fields(buf):
        mv = memoryview(buf)
        flen = int.from_bytes(buf[-8:-4], "little")
        footer, _ = read_struct(mv, len(buf) - 8 - flen)
        out = {}
        for i, name in enumerate(t.column_names):
            chunk = footer[4][0][1][i]
            out[name] = (chunk.get(6) is not None,  # ColumnIndex offset
                         chunk.get(4) is not None)  # OffsetIndex offset
        return out

    kw = dict(use_dictionary=False, page_bytes=1 << 18, compression="none")
    # both per-column: x fully indexed, y offset-only
    got = chunk_fields(write_parquet_bytes(t, column_index=("x",), **kw))
    assert got == {"x": (True, True), "y": (False, True)}
    # offset index opted out for y too
    got = chunk_fields(write_parquet_bytes(t, column_index=("x",),
                                           offset_index=("x",), **kw))
    assert got == {"x": (True, True), "y": (False, False)}
    # global opt-out
    got = chunk_fields(write_parquet_bytes(t, column_index=False,
                                           offset_index=False, **kw))
    assert got == {"x": (False, False), "y": (False, False)}
    # spec rule: ColumnIndex requires OffsetIndex (reference error string)
    with _pt.raises(ValueError, match="cannot be present without OffsetIndex"):
        write_parquet_bytes(t, column_index=True, offset_index=("x",), **kw)
    # a bare string is ONE column name (no substring matching over chars)
    got = chunk_fields(write_parquet_bytes(t, column_index="x", **kw))
    assert got == {"x": (True, True), "y": (False, True)}
    # unknown names are typos, not silent no-ops
    with _pt.raises(ValueError, match="not in schema"):
        write_parquet_bytes(t, column_index=("nope",), **kw)
    # files decode identically regardless of index opt-ins
    _assert_equal(write_parquet_bytes(t, column_index=False,
                                      offset_index=False, **kw), t)


def test_incremental_writer_multi_call():
    """S5 parity: incremental multi-call writer, byte-level equivalence of
    the decoded data with a one-shot write."""
    from sparkcodec.parquet.writer import ParquetWriter

    t1 = pa.table({"x": pa.array(np.arange(1000, dtype=np.int64)),
                   "s": pa.array([f"a{i}" for i in range(1000)])})
    t2 = pa.table({"x": pa.array(np.arange(1000, 3000, dtype=np.int64)),
                   "s": pa.array([f"b{i}" for i in range(2000)])})
    w = ParquetWriter(t1.schema)
    w.write(t1)
    w.write(t2)
    buf = w.finish()
    got = pq.read_table(io.BytesIO(buf))
    full = pa.concat_tables([t1, t2])
    assert got.num_rows == 3000
    for c in full.column_names:
        assert got.column(c).combine_chunks().cast(full.column(c).type)\
            .equals(full.column(c).combine_chunks())
    assert pq.ParquetFile(io.BytesIO(buf)).num_row_groups == 2
    import pytest as _pt
    with _pt.raises(RuntimeError, match="finished"):
        w.write(t1)


def test_row_group_size_array_fast_preview():
    """S6 parity: rowGroupSize as array-of-sizes with the last repeating
    (reference fast-preview default [1000, 100000])."""
    t = pa.table({"x": pa.array(np.arange(250000, dtype=np.int32))})
    buf = write_parquet_bytes(t, row_group_rows=[1000, 100000], use_dictionary=False)
    f = pq.ParquetFile(io.BytesIO(buf))
    sizes = [f.metadata.row_group(i).num_rows for i in range(f.num_row_groups)]
    assert sizes == [1000, 100000, 100000, 49000]
    _assert_equal(buf, t)


def test_kv_metadata_readable():
    t = pa.table({"x": pa.array([1, 2, 3], type=pa.int32())})
    buf = write_parquet_bytes(t, kv_metadata={"source": "unit", "snapshot": "v7"})
    md = pq.ParquetFile(io.BytesIO(buf)).metadata.metadata
    assert md[b"source"] == b"unit" and md[b"snapshot"] == b"v7"
    _assert_equal(buf, t)


def test_struct_columns_in_parquet_file():
    """E11 full parity: nested structs written to real parquet files
    (reference: test/write.struct.test.js, 3-level structs)."""
    t3 = pa.struct([("deep", pa.int64())])
    t2 = pa.struct([("y", pa.string()), ("inner", t3)])
    vals = [
        {"x": 1, "s": {"y": "a", "inner": {"deep": 10}}},
        {"x": 2, "s": None},
        {"x": 3, "s": {"y": None, "inner": {"deep": 30}}},
        {"x": 4, "s": {"y": "d", "inner": None}},
        {"x": None, "s": {"y": "e", "inner": {"deep": None}}},
    ] * 200
    t = pa.table({
        "x": pa.array([v["x"] for v in vals], type=pa.int64()),
        "s": pa.array([v["s"] for v in vals], type=pa.struct([("y", pa.string()), ("inner", t3)])),
    })
    buf = write_parquet_bytes(t)
    _assert_equal(buf, t)


def test_list_inside_struct_roundtrip():
    """Arbitrary nesting via the general Dremel walk (reference:
    src/dremel.js:16-163): list inside struct, incl. empty/None shapes."""
    t = pa.table({"s": pa.array(
        [{"tag": "u", "l": [1, 2]}, {"tag": None, "l": []},
         None, {"tag": "w", "l": None}, {"tag": "x", "l": [None, 3]}] * 40,
        type=pa.struct([("tag", pa.string()), ("l", pa.list_(pa.int32()))]))})
    buf = write_parquet_bytes(t)
    assert pq.read_table(io.BytesIO(buf)).to_pylist() == t.to_pylist()


def test_struct_inside_list_and_list_of_list():
    t = pa.table({
        "ls": pa.array([[{"a": 1}, {"a": None}], None, [], [{"a": 5}]] * 25,
                       type=pa.list_(pa.struct([("a", pa.int32())]))),
        "ll": pa.array([[[1], [2, 3]], [[]], None, [None, [4]]] * 25,
                       type=pa.list_(pa.list_(pa.int64()))),
    })
    buf = write_parquet_bytes(t)
    assert pq.read_table(io.BytesIO(buf)).to_pylist() == t.to_pylist()


def test_row_group_sizes_rejects_nonpositive():
    """ADVICE r1: a 0/negative row-group size must raise, not hang."""
    import pytest

    from sparkcodec.parquet.writer import _row_group_sizes

    assert _row_group_sizes(10, [3, 4]) == [3, 4, 3]
    for bad in (0, [0], [1000, 0], [-5], []):
        with pytest.raises(ValueError):
            _row_group_sizes(10, bad)


def test_map_column_roundtrip():
    """MAP columns (reference: src/dremel.js:173-192): key REQUIRED group
    key_value, any value type, readable by pyarrow AND DuckDB."""
    t = pa.table({"m": pa.array(
        [[("a", 1), ("b", 2)], [], None, [("c", None)]] * 30,
        type=pa.map_(pa.string(), pa.int32()))})
    buf = write_parquet_bytes(t)
    assert pq.read_table(io.BytesIO(buf)).to_pylist() == t.to_pylist()
    con = duckdb.connect()
    con.execute("CREATE TABLE _m AS SELECT * FROM read_parquet($1)",
                [_tmp(buf)])
    rows = con.execute("SELECT m FROM _m LIMIT 4").fetchall()
    assert rows[0][0] == {"key": ["a", "b"], "value": [1, 2]}
    assert rows[2][0] is None


def test_map_nested_in_struct_roundtrip():
    t = pa.table({"c": pa.array(
        [{"m": [("k1", [1, 2])], "n": 5}, None, {"m": None, "n": None}] * 20,
        type=pa.struct([("m", pa.map_(pa.string(), pa.list_(pa.int32()))),
                        ("n", pa.int64())]))})
    buf = write_parquet_bytes(t)
    assert pq.read_table(io.BytesIO(buf)).to_pylist() == t.to_pylist()


def _tmp(buf: bytes) -> str:
    import tempfile

    f = tempfile.NamedTemporaryFile(suffix=".parquet", delete=False)
    f.write(buf)
    f.close()
    return f.name


def test_decimal_float16_flba_golden_roundtrip():
    """DECIMAL (INT32/INT64 unscaled), FLOAT16 (FLBA2 + logical), and
    FLBA/UUID leaves (reference: src/schema.js:146-170,
    src/unconvert.js:21-28,313-367), decoded by pyarrow."""
    import decimal

    t = pa.table({
        "d9": pa.array([decimal.Decimal("12.34"), None, decimal.Decimal("-0.01")],
                       pa.decimal128(9, 2)),
        "d18": pa.array([decimal.Decimal("123456.789"), decimal.Decimal("-1.000"), None],
                        pa.decimal128(18, 3)),
        "h": pa.array(np.array([1.5, -2.25, 0.0], dtype=np.float16), pa.float16()),
        "u": pa.array([b"0123456789abcdef", None, b"fedcba9876543210"], pa.binary(16)),
        "f4": pa.array([b"abcd", b"wxyz", None], pa.binary(4)),
    })
    buf = write_parquet_bytes(t)
    got = pq.read_table(io.BytesIO(buf))
    assert got.to_pylist() == t.to_pylist()
    # physical lowering is what the reference produces: INT32/INT64/FLBA
    md = pq.ParquetFile(io.BytesIO(buf)).metadata
    phys = {md.schema.column(i).name: md.schema.column(i).physical_type
            for i in range(md.num_columns)}
    assert phys["d9"] == "INT32" and phys["d18"] == "INT64"
    assert phys["h"] == "FIXED_LEN_BYTE_ARRAY" and phys["u"] == "FIXED_LEN_BYTE_ARRAY"
    # DuckDB agrees on decimals
    con = duckdb.connect()
    rows = con.execute(f"SELECT d9, d18 FROM '{_tmp(buf)}' ORDER BY d9 NULLS LAST").fetchall()
    assert str(rows[0][0]) == "-0.01"


def test_boolean_rle_pages():
    """Run-heavy booleans auto-pick RLE data pages (reference auto rule
    src/column.js:71); sparse bools beat PLAIN bit-packing on size and
    both pyarrow and DuckDB decode them."""
    bools = np.zeros(100_000, dtype=bool)
    bools[::97] = True
    t = pa.table({"b": pa.array(bools)})
    buf = write_parquet_bytes(t, compression="none")
    md = pq.ParquetFile(io.BytesIO(buf)).metadata
    assert "RLE" in md.row_group(0).column(0).encodings
    # far below the 12.5 KB PLAIN bitpacked payload
    assert md.row_group(0).column(0).total_compressed_size < 6_000
    got = pq.read_table(io.BytesIO(buf))
    assert got.column("b").to_pylist() == bools.tolist()
    con = duckdb.connect()
    assert con.execute(f"SELECT count(*) FROM '{_tmp(buf)}' WHERE b").fetchone()[0] \
        == int(bools.sum())


def test_file_bloom_filters_probe_and_compat():
    """SBBF blooms clustered after the page indexes with offsets patched
    into chunk metadata (reference: src/bloom.js:205-213,
    src/parquet-writer.js:153-155).  Verified by parsing our own footer
    (DuckDB 1.0 / pyarrow 16 expose no bloom probe API): present values
    always hit, absent values mostly miss; mainstream readers still read
    the file."""
    from sparkcodec.kernels.bloom import SplitBlockBloom, xxhash64_int64
    from sparkcodec.parquet.thrift_read import read_struct

    keys = np.arange(0, 5000, 2, dtype=np.int64)  # evens only
    t = pa.table({"k": pa.array(keys), "s": [f"v{i}" for i in range(len(keys))]})
    buf = write_parquet_bytes(t, bloom_columns=("k",), row_group_rows=1000)
    # readers unaffected
    assert pq.read_table(io.BytesIO(buf)).num_rows == len(keys)
    assert duckdb.connect().execute(
        f"SELECT count(*) FROM '{_tmp(buf)}'").fetchone()[0] == len(keys)
    # parse footer -> bloom offsets (ColumnMetaData fields 14/15)
    mv = memoryview(buf)
    flen = int.from_bytes(buf[-8:-4], "little")
    footer, _ = read_struct(mv[len(buf) - 8 - flen:], 0)
    row_groups = footer[4]
    probed = 0
    for gi, rg in enumerate(row_groups):
        rg_keys = keys[gi * 1000:(gi + 1) * 1000]  # blooms are per row group
        for chunk in rg[1]:
            meta = chunk[3]
            path = [p.decode() for p in meta[3]]
            if path != ["k"]:
                assert 14 not in meta  # only the opted-in column has one
                continue
            off, length = meta[14], meta[15]
            header, pos = read_struct(mv[off:off + length], 0)
            nbytes = header[1]
            assert header[2] == {1: {}} and header[3] == {1: {}}  # BLOCK, XXHASH
            bitset = bytes(mv[off + pos:off + length])
            assert len(bitset) == nbytes
            bloom = SplitBlockBloom.from_bytes(bitset)
            assert bool(bloom.might_contain(xxhash64_int64(rg_keys)).all())
            absent = xxhash64_int64(keys + 1)  # odds: never written
            assert float(bloom.might_contain(absent).mean()) < 0.05
            probed += 1
    assert probed == len(row_groups) >= 3


def test_zstd_and_snappy_page_compression():
    """Pages compressed with pyarrow-native zstd/snappy decode in both
    readers and beat uncompressed size on repetitive data."""
    t = pa.table({"s": pa.array(["repetitive text payload"] * 20000)})
    raw = write_parquet_bytes(t, compression="none", use_dictionary=False)
    for comp in ("zstd", "snappy"):
        buf = write_parquet_bytes(t, compression=comp, use_dictionary=False)
        assert len(buf) < len(raw) * 0.2
        _assert_equal(buf, t)


def test_flba_dictionary_encoding():
    """Repetitive UUID-style FLBA columns dictionary-encode (RLE_DICT with
    a raw fixed-width dictionary page) and stay readable by both readers."""
    uuids = [bytes([i] * 16) for i in range(8)]
    t = pa.table({"u": pa.array([uuids[i % 8] for i in range(20000)], pa.binary(16))})
    buf = write_parquet_bytes(t, compression="none")
    md = pq.ParquetFile(io.BytesIO(buf)).metadata
    encs = md.row_group(0).column(0).encodings
    assert "RLE_DICTIONARY" in encs or "PLAIN_DICTIONARY" in encs
    # dictionary collapses 320 KB of raw values to well under 10 KB
    assert md.row_group(0).column(0).total_compressed_size < 10_000
    assert pq.read_table(io.BytesIO(buf)).to_pylist() == t.to_pylist()
    # DuckDB maps the UUID logical type to its UUID (string) rendering:
    # check cardinality + count rather than byte equality
    con = duckdb.connect()
    n, ndv = con.execute(
        f"SELECT count(*), count(DISTINCT u) FROM '{_tmp(buf)}'").fetchone()
    assert (n, ndv) == (20000, 8)


def test_nested_edge_shapes():
    """Dremel edge shapes: empty nested tables, all-null nested columns,
    single rows, empty-only containers, nulls at every depth."""
    cases = [
        pa.table({
            "m": pa.array([], pa.map_(pa.string(), pa.int32())),
            "ls": pa.array([], pa.list_(pa.struct([("a", pa.int64())]))),
            "st": pa.array([], pa.struct([("l", pa.list_(pa.int32()))]))}),
        pa.table({
            "m": pa.array([None, None], pa.map_(pa.string(), pa.int32())),
            "l": pa.array([None, None], pa.list_(pa.int64())),
            "s": pa.array([None, None], pa.struct([("x", pa.int32())]))}),
        pa.table({"m": pa.array([[("k", [1])]],
                                pa.map_(pa.string(), pa.list_(pa.int32())))}),
        pa.table({"l": pa.array([[], [], []], pa.list_(pa.int32()))}),
        pa.table({"x": pa.array(
            [{"a": [None, {"b": None}]}, {"a": None}, None],
            pa.struct([("a", pa.list_(pa.struct([("b", pa.int64())])))]))}),
    ]
    for t in cases:
        buf = write_parquet_bytes(t, compression="none")
        assert pq.read_table(io.BytesIO(buf)).to_pylist() == t.to_pylist()


def test_multipage_nested_roundtrip():
    """Page splitting in slot space (rows start where rep==0) across row
    groups, with null/empty lists and maps mixed in; DuckDB re-aggregates
    the flattened values exactly."""
    rng = np.random.default_rng(3)
    n = 60_000
    lens = rng.integers(0, 12, n)
    off = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=off[1:])
    vals = rng.integers(0, 10**6, int(off[-1])).astype(np.int64)
    lst = pa.ListArray.from_arrays(pa.array(off), pa.array(vals))
    mask = rng.random(n) < 0.05
    lst = pa.array([None if m else x for m, x in zip(mask, lst.to_pylist())],
                   pa.list_(pa.int64()))
    mp = pa.array([[(f"k{i % 7}", float(i))] if i % 3 else [] for i in range(n)],
                  pa.map_(pa.string(), pa.float64()))
    t = pa.table({"l": lst, "m": mp})
    buf = write_parquet_bytes(t, row_group_rows=25_000, page_bytes=1 << 17,
                              compression="none")
    assert pq.ParquetFile(io.BytesIO(buf)).metadata.num_row_groups == 3
    assert pq.read_table(io.BytesIO(buf)).to_pylist() == t.to_pylist()
    exp_sum = int(vals[~np.repeat(mask, lens)].sum())
    got_sum = duckdb.sql(
        f"SELECT sum(x) FROM (SELECT unnest(l) x FROM '{_tmp(buf)}')").fetchone()[0]
    assert got_sum == exp_sum


def _roundtrip(t: pa.Table) -> pa.Table:
    return pq.read_table(io.BytesIO(write_parquet_bytes(t)))


def test_wide_decimal_flba_roundtrip(tmp_path):
    """DECIMAL precision > 18 lowers to FLBA big-endian two's-complement
    (reference: src/unconvert.js:279-307); pyarrow and DuckDB both decode
    values AND the decimal(38, 9) logical type exactly."""
    import decimal

    t = pa.table({
        "d38": pa.array([decimal.Decimal("12345678901234567890.123456789"),
                         None,
                         decimal.Decimal("-98765432109876543210.000000001"),
                         decimal.Decimal("0.000000001")],
                        type=pa.decimal128(38, 9)),
        "d25": pa.array([decimal.Decimal("1234567890123456789.012345"), None,
                         decimal.Decimal("-1.000001"), decimal.Decimal("0")],
                        type=pa.decimal128(25, 6)),
    })
    back = _roundtrip(t)
    assert back.schema.field("d38").type == pa.decimal128(38, 9)
    assert back.schema.field("d25").type == pa.decimal128(25, 6)
    assert back.equals(t)
    p = tmp_path / "wide.parquet"
    p.write_bytes(write_parquet_bytes(t))
    rows = duckdb.connect().execute(
        f"SELECT d38, d25 FROM read_parquet('{p}') ORDER BY d38 NULLS LAST"
    ).fetchall()
    assert rows[0][0] == decimal.Decimal("-98765432109876543210.000000001")
    assert rows[1][0] == decimal.Decimal("0.000000001")
    assert rows[3][0] is None and rows[3][1] is None


def test_timestamp_unit_lowering_roundtrip():
    """Per-unit timestamp lowering (reference: src/unconvert.js:35-48):
    ms keeps TIMESTAMP_MILLIS, us TIMESTAMP_MICROS, ns the LogicalType-only
    TIMESTAMP(NANOS); tz-aware marks isAdjustedToUTC."""
    t = pa.table({
        "ts_ns": pa.array([1, None, 2_000_000_000, -5], type=pa.timestamp("ns")),
        "ts_ms": pa.array([1000, None, 123456789, -1], type=pa.timestamp("ms")),
        "ts_us": pa.array([7, None, 99, 3], type=pa.timestamp("us")),
        "ts_tz": pa.array([7, None, 99, 3], type=pa.timestamp("us", tz="UTC")),
    })
    back = _roundtrip(t)
    assert back.schema.field("ts_ns").type == pa.timestamp("ns")
    assert back.schema.field("ts_ms").type == pa.timestamp("ms")
    assert back.schema.field("ts_tz").type == pa.timestamp("us", tz="UTC")
    assert back.equals(t)


def test_time_and_small_int_logical_types():
    """TIME(ms/ns) and INTEGER(bits, signed) reinterpretations
    (reference: src/unconvert.js:59-69 and src/metadata.js:132-168);
    uint32/uint64 use signed-range reinterpretation on the wire and decode
    back to the unsigned logical values."""
    t = pa.table({
        "t32": pa.array([1, 2, None, 86399999], type=pa.time32("ms")),
        "t64": pa.array([1, 2, None, 86399999999999], type=pa.time64("ns")),
        "i8": pa.array([-128, 127, None, 0], type=pa.int8()),
        "i16": pa.array([-32768, 32767, None, 5], type=pa.int16()),
        "u8": pa.array([0, 255, None, 7], type=pa.uint8()),
        "u16": pa.array([0, 65535, None, 7], type=pa.uint16()),
        "u32": pa.array([0, 4294967295, None, 7], type=pa.uint32()),
        "u64": pa.array([0, 18446744073709551615, None, 7], type=pa.uint64()),
    })
    back = _roundtrip(t)
    for name in t.schema.names:
        assert back.schema.field(name).type == t.schema.field(name).type, name
    assert back.equals(t)


def test_second_unit_timestamp_lowers_to_millis():
    t = pa.table({"ts": pa.array([1, None, -2], type=pa.timestamp("s"))})
    back = _roundtrip(t)
    assert back.schema.field("ts").type == pa.timestamp("ms")
    assert back.column("ts").to_pylist() == \
        t.column("ts").cast(pa.timestamp("ms")).to_pylist()


def test_logical_hints_enum_json_bson_footer_tags():
    """ENUM/JSON/BSON footer annotations (reference: src/schema.js:146-170,
    src/metadata.js:132-168): pure footer tags over string/binary bytes."""
    t = pa.table({
        "ev": pa.array(["A", "B", "A", None]),
        "js": pa.array(['{"a":1}', "[1,2]", "3", None]),
        "bs": pa.array([b"\x01\x02", b"", None, b"\xff"], type=pa.binary()),
    })
    buf = write_parquet_bytes(
        t, logical_hints={"ev": "ENUM", "js": "JSON", "bs": "BSON"})
    back = pq.read_table(io.BytesIO(buf))
    # pyarrow surfaces JSON as an extension or string depending on version;
    # compare raw values through a cast
    assert back.column("ev").combine_chunks().cast(pa.string()).to_pylist() \
        == t.column("ev").to_pylist()
    assert back.column("bs").combine_chunks().cast(pa.binary()).to_pylist() \
        == t.column("bs").to_pylist()
    md = pq.ParquetFile(io.BytesIO(buf)).schema_arrow  # parses footer OK
    sch = pq.ParquetFile(io.BytesIO(buf)).schema
    assert "ENUM" in str(sch.column(0).logical_type).upper()
    assert "JSON" in str(sch.column(1).logical_type).upper()
    assert "BSON" in str(sch.column(2).logical_type).upper()
    with pytest.raises(TypeError, match="string/binary"):
        write_parquet_bytes(pa.table({"x": pa.array([1, 2])}),
                            logical_hints={"x": "ENUM"})


def test_explicit_column_encodings():
    """Per-column encoding pins (reference ColumnSource.encoding,
    src/column.js:71, test/write.splitstream.test.js): BYTE_STREAM_SPLIT on
    float/double/int32/int64/FLBA, DELTA pins, forced dictionary -- every
    file decodes exactly in pyarrow + DuckDB."""
    n = 5000
    t = pa.table({
        "f": pa.array(RNG.normal(size=n).astype(np.float32)),
        "d": pa.array(RNG.normal(size=n)),
        "i32": pa.array(RNG.integers(-10**6, 10**6, n).astype(np.int32)),
        "i64": pa.array(RNG.integers(-10**12, 10**12, n)),
        "u": pa.array([f"u{i:07d}" for i in range(n)]),
        "s": pa.array([f"s{i % 7}" for i in range(n)]),
        "x16": pa.array([RNG.bytes(16) for _ in range(n)], type=pa.binary(16)),
    })
    buf = write_parquet_bytes(t, column_encodings={
        "f": "BYTE_STREAM_SPLIT", "d": "BYTE_STREAM_SPLIT",
        "i64": "DELTA_BINARY_PACKED",
        "u": "DELTA_BYTE_ARRAY", "s": "RLE_DICTIONARY",
    }, logical_hints={"x16": "RAW"})  # generic 16-byte binary, not UUID
    _assert_equal(buf, t)
    md = pq.ParquetFile(io.BytesIO(buf)).metadata
    encs = {md.schema.column(i).name: md.row_group(0).column(i).encodings
            for i in range(md.num_columns)}
    assert "BYTE_STREAM_SPLIT" in encs["f"]
    assert "DELTA_BINARY_PACKED" in encs["i64"]
    assert "DELTA_BYTE_ARRAY" in encs["u"]
    assert "RLE_DICTIONARY" in encs["s"]
    # BSS on INT32/INT64/FLBA is parquet-format 2.11 (reference
    # src/splitstream.js supports it; pyarrow reads it, DuckDB's reader
    # still limits BSS to FLOAT/DOUBLE -- checked via pyarrow only)
    buf2 = write_parquet_bytes(t.select(["i32", "i64", "x16"]), column_encodings={
        "i32": "BYTE_STREAM_SPLIT", "i64": "BYTE_STREAM_SPLIT",
        "x16": "BYTE_STREAM_SPLIT",
    })
    back2 = pq.read_table(io.BytesIO(buf2))
    assert back2.equals(t.select(["i32", "i64", "x16"]))
    md2 = pq.ParquetFile(io.BytesIO(buf2)).metadata
    assert "BYTE_STREAM_SPLIT" in md2.row_group(0).column(2).encodings
    with pytest.raises(TypeError, match="invalid for physical"):
        write_parquet_bytes(t, column_encodings={"u": "DELTA_BINARY_PACKED"})
    with pytest.raises(ValueError, match="unknown encoding"):
        write_parquet_bytes(t, column_encodings={"u": "NOPE"})


def test_statistics_off():
    """statistics=False omits Statistics structs (reference parquetWrite
    option, src/write.js:22; the 170-byte regression pin is measured with
    stats off, test/write.buffer.test.js:101-112)."""
    t = pa.table({"s": pa.array(["aaaa", "bbbb"] * 50000)})
    on = write_parquet_bytes(t)
    off = write_parquet_bytes(t, statistics=False)
    assert len(off) < len(on)
    md = pq.ParquetFile(io.BytesIO(off)).metadata
    st = md.row_group(0).column(0).statistics
    assert st is None or st.min is None
    _assert_equal(off, t)


def test_wide_decimal_stats_exact_past_28_digits():
    """Decimal stats must be exact beyond Python's default 28-digit
    Decimal context: int(scaleb) would round the unscaled value and write
    wrong min/max into the footer (code-review r3 finding)."""
    import decimal

    lo = decimal.Decimal("-98765432109876543210.000000001")   # 29 sig digits
    hi = decimal.Decimal("12345678901234567890123456.789012")  # 32 sig digits
    t = pa.table({"d": pa.array([lo, hi, None], type=pa.decimal128(38, 9))})
    buf = write_parquet_bytes(t, use_dictionary=False)
    st = pq.ParquetFile(io.BytesIO(buf)).metadata.row_group(0).column(0).statistics
    assert st.min == lo and st.max == hi and st.null_count == 1


def test_time32_seconds_lowers_to_millis():
    t = pa.table({"t": pa.array([1, 2, None, 86399], type=pa.time32("s"))})
    back = _roundtrip(t)
    assert back.schema.field("t").type == pa.time32("ms")
    assert back.column("t").to_pylist() == \
        t.column("t").cast(pa.time32("ms")).to_pylist()


def test_stats_omitted_pages_get_no_column_index():
    """uint64 stats are omitted (UNSIGNED sort order); a ColumnIndex would
    have to mark live pages null_pages=true, which readers treat as
    all-null -- so no ColumnIndex may be written for such chunks
    (code-review r3 finding)."""
    n = 400000
    t = pa.table({"u": pa.array(
        np.arange(n, dtype=np.uint64) + (1 << 63), type=pa.uint64())})
    buf = write_parquet_bytes(t, use_dictionary=False, page_bytes=1 << 18)
    pf = pq.ParquetFile(io.BytesIO(buf))
    # values decode exactly despite omitted stats
    assert pq.read_table(io.BytesIO(buf)).equals(t)
    # our own thrift reader: the chunk must carry NO column_index_offset
    from sparkcodec.parquet.thrift_read import read_struct

    mv = memoryview(buf)
    flen = int.from_bytes(buf[-8:-4], "little")
    footer, _ = read_struct(mv, len(buf) - 8 - flen)
    chunk = footer[4][0][1][0]
    assert chunk.get(6) is None  # no ColumnIndex offset
    assert chunk.get(4) is not None  # OffsetIndex still present


def test_forced_dictionary_on_floats_bit_exact():
    """RLE_DICTIONARY pinned on float columns must write the raw values
    (an arrow cast from int bit patterns would CONVERT them); round-trips
    bit-exactly in both readers."""
    t = pa.table({
        "f64": pa.array(np.tile(RNG.normal(size=8), 1000)),
        "f32": pa.array(np.tile(RNG.normal(size=8).astype(np.float32), 1000)),
        "i": pa.array(np.tile(RNG.integers(0, 9, 8), 1000).astype(np.int32)),
    })
    buf = write_parquet_bytes(t, column_encodings={
        "f64": "RLE_DICTIONARY", "f32": "RLE_DICTIONARY", "i": "RLE_DICTIONARY"})
    _assert_equal(buf, t)
    md = pq.ParquetFile(io.BytesIO(buf)).metadata
    for c in range(3):
        assert "RLE_DICTIONARY" in md.row_group(0).column(c).encodings


def test_int32_delta_wraps_at_32_bits():
    """DELTA_BINARY_PACKED on INT32 wraps deltas at 32 bits, as parquet-mr
    does: deltas spanning more than 32 bits (0 -> -2**31 -> 1) used to be
    packed in 33-bit miniblocks, which INT32 readers refuse."""
    t = pa.table({"c1": pa.array([0, 2, -1, 0, 0, 0, -2**31, 1], pa.int32())})
    assert pq.read_table(io.BytesIO(write_parquet_bytes(t))).equals(t)
    lo, hi = -2**31, 2**31 - 1
    ext = pa.table({"i32": pa.array(
        np.tile([lo, hi, 0, hi, lo, -1, 7], 300).astype(np.int32))})
    buf = write_parquet_bytes(ext, column_encodings={"i32": "DELTA_BINARY_PACKED"})
    assert "DELTA_BINARY_PACKED" in \
        pq.ParquetFile(io.BytesIO(buf)).metadata.row_group(0).column(0).encodings
    _assert_equal(buf, ext)

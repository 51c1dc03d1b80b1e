"""Property-based round-trip invariants over the codec kernels and the
chunk layer (hypothesis), mirroring the reference's randomized round-trips
(reference: test/encoding.test.js:51-57, test/delta.test.js:181)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkcodec.chunk import decode_array, encode_array
from sparkcodec.kernels import (
    delta_binary_pack,
    delta_binary_unpack,
    delta_for_pack,
    delta_for_unpack,
    for_pack,
    for_unpack,
    rle_hybrid_decode,
    rle_hybrid_encode,
)
from sparkcodec.kernels.bitpack import bit_widths

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@settings(max_examples=60, deadline=None)
@given(st.lists(I64, max_size=300))
def test_delta_binary_roundtrip_any_int64(vals):
    arr = np.array(vals, dtype=np.int64)
    np.testing.assert_array_equal(delta_binary_unpack(delta_binary_pack(arr)), arr)


@settings(max_examples=60, deadline=None)
@given(st.lists(I64, max_size=300))
def test_for_roundtrip_any_int64(vals):
    arr = np.array(vals, dtype=np.int64)
    np.testing.assert_array_equal(for_unpack(for_pack(arr)), arr)
    np.testing.assert_array_equal(delta_for_unpack(delta_for_pack(arr)), arr)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**20 - 1), max_size=400),
       st.integers(min_value=20, max_value=64))
def test_rle_hybrid_roundtrip_any(vals, bw):
    arr = np.array(vals, dtype=np.uint64)
    out = rle_hybrid_decode(rle_hybrid_encode(arr, bw), bw, len(arr))
    np.testing.assert_array_equal(out, arr)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)), max_size=200))
def test_chunk_nullable_int_any(vals):
    v = pa.array(vals, type=pa.int32())
    buf, meta = encode_array(v)
    out = decode_array(buf)
    assert out.cast(pa.int32()).to_pylist() == vals


@settings(max_examples=40, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(max_size=40)), max_size=150))
def test_chunk_nullable_string_any(vals):
    v = pa.array(vals, type=pa.string())
    buf, meta = encode_array(v)
    out = decode_array(buf)
    assert out.cast(pa.string()).to_pylist() == vals


@settings(max_examples=40, deadline=None)
@given(st.lists(st.one_of(st.none(), st.binary(max_size=60)), max_size=120))
def test_chunk_nullable_binary_any(vals):
    v = pa.array(vals, type=pa.large_binary())
    buf, meta = encode_array(v)
    out = decode_array(buf)
    assert out.cast(pa.large_binary()).to_pylist() == vals


@settings(max_examples=40, deadline=None)
@given(st.lists(st.floats(allow_nan=True, allow_infinity=True, width=64), max_size=200))
def test_chunk_float_bitexact_any(vals):
    v = pa.array(vals, type=pa.float64())
    buf, meta = encode_array(v)
    out = decode_array(buf).to_numpy(zero_copy_only=False)
    src = np.array(vals, dtype=np.float64)
    # bit-exact incl. NaN payloads and signed zeros
    np.testing.assert_array_equal(out.view(np.int64), src.view(np.int64))


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=1, max_size=64))
def test_bit_widths_matches_python(vals):
    arr = np.array(vals, dtype=np.uint64)
    np.testing.assert_array_equal(bit_widths(arr), [v.bit_length() for v in vals])


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_chunk_group_random_mixed_tables(data):
    """Random mixed-schema tables (every supported type, random nulls)
    through the chunk-group encode/decode."""
    import datetime
    import decimal as dec

    from sparkcodec.engine import decode_chunk_group, encode_chunk_group

    n = data.draw(st.integers(min_value=0, max_value=120))

    def maybe_null(gen):
        return st.one_of(st.none(), gen)

    pools = {
        pa.int32(): maybe_null(st.integers(-(2**31), 2**31 - 1)),
        pa.int64(): maybe_null(st.integers(-(2**63), 2**63 - 1)),
        pa.float64(): maybe_null(st.floats(allow_nan=False, width=64)),
        pa.bool_(): maybe_null(st.booleans()),
        pa.string(): maybe_null(st.text(max_size=20)),
        pa.large_binary(): maybe_null(st.binary(max_size=20)),
        pa.timestamp("us"): maybe_null(st.datetimes(
            min_value=datetime.datetime(1980, 1, 1),
            max_value=datetime.datetime(2100, 1, 1))),
        pa.date32(): maybe_null(st.dates(min_value=datetime.date(1980, 1, 1),
                                         max_value=datetime.date(2100, 1, 1))),
        pa.decimal128(12, 3): maybe_null(st.decimals(
            min_value=dec.Decimal("-999999.999"),
            max_value=dec.Decimal("999999.999"), places=3)),
        pa.list_(pa.int32()): maybe_null(st.lists(
            st.integers(-(2**31), 2**31 - 1), max_size=8)),
    }
    types = data.draw(st.lists(st.sampled_from(list(pools)), min_size=1,
                               max_size=4))
    arrays = {}
    for i, t in enumerate(types):
        vals = data.draw(st.lists(pools[t], min_size=n, max_size=n))
        arrays[f"c{i}"] = pa.array(vals, type=t)
    tbl = pa.table(arrays)
    blob, metas, pairs, _ = encode_chunk_group(tbl)
    back = decode_chunk_group(blob, pairs)
    got = pa.Table.from_batches([back])
    for name in tbl.column_names:
        e = tbl.column(name).combine_chunks()
        g = got.column(name).combine_chunks()
        if not g.type.equals(e.type):
            g = g.cast(e.type)
        assert g.to_pylist() == e.to_pylist(), name


# ---------- parquet writer: randomized nested schemas ----------

_pq_prims = st.sampled_from(["int32", "int64", "float64", "string", "bool"])


@st.composite
def _pq_type(draw, depth=0):
    if depth >= 3:
        return draw(_pq_prims)
    kind = draw(st.sampled_from(["prim", "prim", "prim", "list", "struct", "map"]))
    if kind == "prim":
        return draw(_pq_prims)
    if kind == "list":
        return ("list", draw(_pq_type(depth + 1)))
    if kind == "map":
        return ("map", draw(_pq_prims), draw(_pq_type(depth + 1)))
    n = draw(st.integers(1, 3))
    return ("struct", [(f"f{i}", draw(_pq_type(depth + 1))) for i in range(n)])


def _pq_pa_type(spec):
    import pyarrow as pa

    prims = {"int32": pa.int32(), "int64": pa.int64(), "float64": pa.float64(),
             "string": pa.string(), "bool": pa.bool_()}
    if isinstance(spec, str):
        return prims[spec]
    if spec[0] == "list":
        return pa.list_(_pq_pa_type(spec[1]))
    if spec[0] == "map":
        return pa.map_(_pq_pa_type(spec[1]), _pq_pa_type(spec[2]))
    return pa.struct([(n, _pq_pa_type(t)) for n, t in spec[1]])


def _pq_value(draw, spec, depth=0):
    if draw(st.integers(0, 9)) == 0:
        return None
    if isinstance(spec, str):
        return draw({
            "int32": st.integers(-(2**31), 2**31 - 1),
            "int64": st.integers(-(2**63), 2**63 - 1),
            "float64": st.floats(allow_nan=False, width=64),
            "string": st.text(max_size=8),
            "bool": st.booleans(),
        }[spec])
    if spec[0] == "list":
        return [_pq_value(draw, spec[1], depth + 1)
                for _ in range(draw(st.integers(0, 3)))]
    if spec[0] == "map":
        n = draw(st.integers(0, 3))
        keys = draw(st.lists(
            {"int32": st.integers(-100, 100), "int64": st.integers(-100, 100),
             "float64": st.floats(allow_nan=False, width=64),
             "string": st.text(max_size=4), "bool": st.booleans()}[spec[1]],
            min_size=n, max_size=n, unique=True))
        return [(k, _pq_value(draw, spec[2], depth + 1)) for k in keys]
    return {n: _pq_value(draw, t, depth + 1) for n, t in spec[1]}


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_parquet_writer_random_nested_schemas(data):
    """Randomized nesting fuzz for the general Dremel walk: any
    struct/list/map composition must round-trip through pyarrow."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkcodec.parquet.writer import write_parquet_bytes

    n_cols = data.draw(st.integers(1, 3))
    specs = [data.draw(_pq_type()) for _ in range(n_cols)]
    n_rows = data.draw(st.integers(0, 20))
    arrays, names = [], []
    for i, spec in enumerate(specs):
        vals = [_pq_value(data.draw, spec) for _ in range(n_rows)]
        arrays.append(pa.array(vals, type=_pq_pa_type(spec)))
        names.append(f"c{i}")
    t = pa.table(dict(zip(names, arrays)))
    buf = write_parquet_bytes(t, compression="none")
    got = pq.read_table(io.BytesIO(buf))
    assert got.to_pylist() == t.to_pylist()


# ---------- variant codec: randomized JSON trees ----------

_json_scalars = st.one_of(
    st.none(), st.booleans(),
    st.integers(-(2**63), 2**63 - 1),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(max_size=12),
)
_json_values = st.recursive(
    _json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.text(min_size=1, max_size=6), children, max_size=4),
    ),
    max_leaves=20,
)


@settings(max_examples=60, deadline=None)
@given(st.lists(_json_values, max_size=6))
def test_variant_roundtrip_random_trees(values):
    """Any JSON-shaped value tree must round-trip through the variant
    codec, and Spark's native VariantVal must parse our bytes to the same
    Python value (cross-engine fuzz)."""
    from pyspark.sql.types import VariantVal

    from sparkcodec.variant import decode_variant, encode_variant_rows

    meta, blobs = encode_variant_rows(values)
    for v, b in zip(values, blobs):
        assert decode_variant(meta, b) == v
        assert VariantVal(b, meta).toPython() == v


@settings(max_examples=40, deadline=None)
@given(st.lists(_json_values, min_size=1, max_size=6))
def test_variant_shredded_roundtrip_random_trees(values):
    """Auto-detected shredding must reconstruct every value exactly,
    whatever mix of matching/fallback shapes the sample produces."""
    from sparkcodec.variant import decode_shredded, decode_variant, encode_shredded_rows

    rows, used = encode_shredded_rows(values)
    for v, r in zip(values, rows):
        got = (decode_variant(r["metadata"], r["value"]) if used is None
               else decode_shredded(r["metadata"], r, used))
        assert got == v


@settings(max_examples=30, deadline=None)
@given(st.lists(st.one_of(st.none(), st.integers(-(10**37), 10**37 - 1)),
                max_size=150))
def test_chunk_wide_decimal_any(vals):
    """decimal128 precision 38 (16-byte two's-complement path) round-trips
    any unscaled value incl. negatives and nulls."""
    import decimal as dec

    pyvals = [None if v is None else dec.Decimal(v).scaleb(-9) for v in vals]
    v = pa.array(pyvals, type=pa.decimal128(38, 9))
    buf, meta = encode_array(v)
    out = decode_array(buf)
    assert out.to_pylist() == pyvals
    assert meta["type"] == "decimal_wide"


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_split_payload_cells_random_mixed_tables(data):
    """The per-column payload layout's cell grammar: random mixed tables
    encoded column-by-column (_encode_group_columns) decode exactly from
    their individual cells (_decode_cells) -- the kernel invariant
    under split_payload=True, no Spark session needed."""
    import datetime
    import decimal as dec

    from sparkcodec.engine import _decode_cells, _encode_group_columns

    n = data.draw(st.integers(min_value=0, max_value=80))

    def maybe_null(gen):
        return st.one_of(st.none(), gen)

    pools = {
        pa.int32(): maybe_null(st.integers(-(2**31), 2**31 - 1)),
        pa.int64(): maybe_null(st.integers(-(2**63), 2**63 - 1)),
        pa.float64(): maybe_null(st.floats(allow_nan=False, width=64)),
        pa.bool_(): maybe_null(st.booleans()),
        pa.string(): maybe_null(st.text(max_size=20)),
        pa.decimal128(12, 3): maybe_null(st.decimals(
            min_value=dec.Decimal("-999999.999"),
            max_value=dec.Decimal("999999.999"), places=3)),
        pa.timestamp("us"): maybe_null(st.datetimes(
            min_value=datetime.datetime(1980, 1, 1),
            max_value=datetime.datetime(2100, 1, 1))),
        pa.list_(pa.int32()): maybe_null(st.lists(
            st.integers(-(2**31), 2**31 - 1), max_size=8)),
    }
    types = data.draw(st.lists(st.sampled_from(list(pools)), min_size=1,
                               max_size=4))
    arrays = {}
    for i, t in enumerate(types):
        vals = data.draw(st.lists(pools[t], min_size=n, max_size=n))
        arrays[f"c{i}"] = pa.array(vals, type=t)
    tbl = pa.table(arrays)
    cols, metas, pairs, _ = _encode_group_columns(tbl, True)
    type_map = dict(pairs)
    cells = {name: blob for name, blob, _ in cols}
    back = _decode_cells(type_map, cells, n)
    got = pa.Table.from_batches([back])
    for name in tbl.column_names:
        e = tbl.column(name).combine_chunks()
        g = got.column(name).combine_chunks()
        if not g.type.equals(e.type):
            g = g.cast(e.type)
        assert g.to_pylist() == e.to_pylist(), name


@settings(max_examples=30, deadline=None)
@given(st.data())
def test_widened_type_surface_roundtrip(data):
    """The engine's widen-at-encode / restore-at-decode shim for arrow
    types the chunk codecs don't tag natively: random values (with nulls)
    for every widened type round-trip type- and value-exact, including
    uint64 above 2^63 and nesting inside lists."""
    import datetime

    from sparkcodec.engine import _decode_any_column, _encode_any_column, _type_name, _type_from_name

    pools = {
        pa.int8(): st.integers(-128, 127),
        pa.int16(): st.integers(-(2**15), 2**15 - 1),
        pa.uint8(): st.integers(0, 255),
        pa.uint16(): st.integers(0, 2**16 - 1),
        pa.uint32(): st.integers(0, 2**32 - 1),
        pa.uint64(): st.integers(0, 2**64 - 1),
        pa.time32("s"): st.integers(0, 86399).map(
            lambda s: datetime.time(s // 3600, s // 60 % 60, s % 60)),
        pa.time64("us"): st.integers(0, 86_399_999_999).map(
            lambda u: datetime.time(u // 3600_000_000,
                                    u // 60_000_000 % 60,
                                    u // 1_000_000 % 60, u % 1_000_000)),
    }
    t = data.draw(st.sampled_from(list(pools)))
    vals = data.draw(st.lists(st.one_of(st.none(), pools[t]), max_size=60))
    arr = pa.array(vals, type=t)
    if data.draw(st.booleans()):
        arr = pa.array([vals[: len(vals) // 2] or None,
                        vals[len(vals) // 2:]], type=pa.list_(t))
    blob, meta = _encode_any_column(arr, True)
    back = _decode_any_column(blob, _type_from_name(_type_name(arr.type)))
    assert back.type.equals(arr.type)
    assert back.to_pylist() == arr.to_pylist()


@given(st.lists(I64, max_size=300))
def test_pfor_roundtrip_any_int64(vals):
    from sparkcodec.kernels.pfor import (
        delta_pfor_pack, delta_pfor_unpack, pfor_pack, pfor_unpack)

    v = np.array(vals, dtype=np.int64)
    assert np.array_equal(pfor_unpack(pfor_pack(v)), v)
    assert np.array_equal(delta_pfor_unpack(delta_pfor_pack(v)), v)


@given(st.lists(st.floats(allow_nan=True, allow_infinity=True, width=64),
                max_size=250))
def test_alp_roundtrip_any_float64(vals):
    from sparkcodec.kernels.alp import alp_decode, alp_encode

    v = np.array(vals, dtype=np.float64)
    out = alp_decode(alp_encode(v))
    assert out.dtype == v.dtype
    assert np.array_equal(out.view(np.uint64), v.view(np.uint64))


@given(st.lists(st.floats(allow_nan=True, allow_infinity=True, width=32),
                max_size=250))
def test_alp_roundtrip_any_float32(vals):
    from sparkcodec.kernels.alp import alp_decode, alp_encode

    v = np.array(vals, dtype=np.float32)
    out = alp_decode(alp_encode(v))
    assert out.dtype == v.dtype
    assert np.array_equal(out.view(np.uint32), v.view(np.uint32))


@settings(deadline=None, max_examples=25)  # one DuckDB connect per example
@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1),
                min_size=1, max_size=80))
def test_hll_sql_replay_any_int64(vals):
    import duckdb

    from sparkcodec.kernels.bloom import xxhash64_int64
    from sparkcodec.kernels.hll import hll_registers, hll_registers_oracle_sql, hll_sketch

    v = np.array(vals, dtype=np.int64)
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (SELECT unnest(?) AS v)",
                [v.tolist()])
    reg = hll_registers(hll_sketch(xxhash64_int64(np.unique(v))))
    py_regs = {int(b): int(r) for b, r in enumerate(reg) if r}
    sql_regs = dict(con.execute(
        hll_registers_oracle_sql("SELECT v FROM t")).fetchall())
    con.close()
    assert py_regs == {int(b): int(r) for b, r in sql_regs.items()}

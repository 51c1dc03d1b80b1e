"""Parquet file writer built on sparkcodec's own encoding kernels.

File anatomy mirrors the reference (reference: src/parquet-writer.js:
48,63-175): PAR1 magic, row groups of column chunks (optional dictionary
page + DataPageV2s), a TCompactProtocol FileMetaData footer, u32 footer
length, PAR1.  Everything is produced by this package's kernels -- the
point is that pyarrow/DuckDB then act as the cross-implementation decode
oracle for our encoders (FIXTURES.md F4(b)).

Supported types: BOOLEAN, INT32/64 (plus INTEGER(bits,signed)
reinterpretations of int8/16 and uint8-64), FLOAT, DOUBLE, FLOAT16,
BYTE_ARRAY (string/binary, ENUM/JSON/BSON hints), FIXED_LEN_BYTE_ARRAY
(UUID), DECIMAL (int32/int64 unscaled to precision 18, FLBA
two's-complement to 38), DATE, TIME(ms/us/ns), TIMESTAMP(ms/us/ns, utc
flag), and arbitrarily nested STRUCT / LIST / MAP columns via general
Dremel definition/repetition levels.  Encodings: PLAIN, RLE (boolean
data + levels), RLE_DICTIONARY, DELTA_BINARY_PACKED,
DELTA_LENGTH_BYTE_ARRAY, DELTA_BYTE_ARRAY, BYTE_STREAM_SPLIT.
Compression: gzip, zstd, snappy, or none.  Optional per-chunk SBBF bloom
filters and ColumnIndex/OffsetIndex page indexes.
"""

from __future__ import annotations

import zlib
from collections.abc import Callable

import numpy as np
import pyarrow as pa

from .. import selector as S
from ..kernels.bitpack import bit_width
from ..kernels.delta import delta_binary_pack
from ..kernels.dictionary import factorize
from ..kernels.plain import binary_buffers, plain_encode_binary, plain_encode_bool, plain_encode_numeric
from ..kernels.rle import rle_hybrid_encode
from ..kernels.strings import byte_stream_split_encode
from ..stats import binary_stats, numeric_stats
from .thrift import CT_BINARY, CT_BYTE, CT_I32, CT_I64, CT_LIST, CT_STRUCT, CT_TRUE, serialize_struct

MAGIC = b"PAR1"

# parquet enums
PT_BOOLEAN, PT_INT32, PT_INT64, PT_INT96, PT_FLOAT, PT_DOUBLE, PT_BYTE_ARRAY = 0, 1, 2, 3, 4, 5, 6
PT_FLBA = 7
ENC_PLAIN, ENC_RLE, ENC_DELTA_BP, ENC_DELTA_LBA, ENC_DELTA_BA, ENC_RLE_DICT, ENC_BSS = 0, 3, 5, 6, 7, 8, 9
COMP_UNCOMPRESSED, COMP_SNAPPY, COMP_GZIP, COMP_ZSTD = 0, 1, 2, 6
PAGE_DATA_V2, PAGE_DICT = 3, 2
REP_REQUIRED, REP_OPTIONAL, REP_REPEATED = 0, 1, 2
CONV_UTF8, CONV_MAP, CONV_LIST, CONV_DECIMAL, CONV_DATE, CONV_TS_MICROS = 0, 1, 3, 5, 6, 10
CONV_ENUM, CONV_TIME_MILLIS, CONV_TIME_MICROS, CONV_TS_MILLIS = 4, 7, 8, 9
CONV_JSON, CONV_BSON = 19, 20
# ConvertedType INTEGER reinterpretations (reference: src/unconvert.js:59-69)
CONV_INT = {(8, True): 15, (16, True): 16, (32, True): 17, (64, True): 18,
            (8, False): 11, (16, False): 12, (32, False): 13, (64, False): 14}
# LogicalType union field ids (parquet.thrift)
LT_DECIMAL, LT_UUID, LT_FLOAT16 = 5, 14, 15
LT_ENUM, LT_TIME, LT_TIMESTAMP, LT_INTEGER, LT_JSON, LT_BSON = 4, 7, 8, 10, 12, 13
# TimeUnit union field ids: 1 MILLIS, 2 MICROS, 3 NANOS (empty structs)
_TIME_UNIT_FIELD = {"ms": 1, "us": 2, "ns": 3}

_PAGE_BYTES = 1 << 20  # estimated-uncompressed split budget (reference: src/column.js:211-239)


class _Leaf:
    """One leaf of the (arbitrarily nested) schema tree.

    ``ops`` is the column-root-to-leaf chain of level transformations that
    :func:`_compute_levels` replays over the Arrow array -- the vectorized
    equivalent of the reference's recursive Dremel walk
    (reference: src/dremel.js:16-163, maps at src/dremel.js:173-192):

      ("opt",)            optional node: def+1 where non-null
      ("field", i)        descend into struct/entries child i
      ("list", rep, map)  repeated expansion (map=True converts a MapArray
                          to its list<struct<key,value>> view first)
    """

    def __init__(self, path: list[str], value_type: pa.DataType, col_index: int,
                 ops: list[tuple], max_def: int, max_rep: int):
        self.path = path
        self.col_index = col_index
        self.ops = ops
        self.max_def = max_def
        self.max_rep = max_rep
        self.value_type = value_type
        (self.phys, self.conv, self.type_length,
         self.logical, self.dec_ps) = _physical_of(value_type)


def _build_leaves(schema: pa.Schema) -> list[_Leaf]:
    """Flatten an arbitrarily nested schema (struct/list/map in any
    combination) into leaves, preorder."""
    leaves: list[_Leaf] = []

    def walk(t: pa.DataType, col_index: int, path: list[str],
             ops: list[tuple], max_def: int, max_rep: int) -> None:
        if pa.types.is_struct(t):
            ops = ops + [("opt",)]
            for i in range(t.num_fields):
                f = t.field(i)
                walk(f.type, col_index, path + [f.name],
                     ops + [("field", i)], max_def + 1, max_rep)
            return
        if pa.types.is_map(t):
            kv_ops = ops + [("opt",), ("list", max_rep + 1, True)]
            base = max_def + 2  # optional map + repeated key_value
            if not _is_primitive_leaf(t.key_type):
                raise TypeError(f"map keys must be primitive, got {t.key_type}")
            # key is REQUIRED by the parquet spec (arrow maps never have
            # null keys) -- no ("opt",) step, no def increment
            leaves.append(_Leaf(path + ["key_value", "key"], t.key_type,
                                col_index, kv_ops + [("field", 0)],
                                base, max_rep + 1))
            walk(t.item_type, col_index, path + ["key_value", "value"],
                 kv_ops + [("field", 1)], base, max_rep + 1)
            return
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            walk(t.value_type, col_index, path + ["list", "element"],
                 ops + [("opt",), ("list", max_rep + 1, False)],
                 max_def + 2, max_rep + 1)
            return
        leaves.append(_Leaf(path, t, col_index, ops + [("opt",)],
                            max_def + 1, max_rep))

    for i, f in enumerate(schema):
        walk(f.type, i, [f.name], [], 0, 0)
    return leaves


def _dec_flba_width(precision: int) -> int:
    """Minimal FLBA byte width holding any signed decimal of ``precision``
    digits: smallest n with 2**(8n-1) > 10**precision."""
    n = 1
    while (1 << (8 * n - 1)) <= 10 ** precision:
        n += 1
    return n


def _is_primitive_leaf(t: pa.DataType) -> bool:
    try:
        _physical_of(t)
        return True
    except TypeError:
        return False


def _physical_of(t: pa.DataType):
    """(physical type, converted type, type_length, logical fields,
    (precision, scale) | None) for a leaf type."""
    if pa.types.is_boolean(t):
        return PT_BOOLEAN, None, None, None, None
    if pa.types.is_int32(t):
        return PT_INT32, None, None, None, None
    if pa.types.is_int64(t):
        return PT_INT64, None, None, None, None
    if pa.types.is_float32(t):
        return PT_FLOAT, None, None, None, None
    if pa.types.is_float64(t):
        return PT_DOUBLE, None, None, None, None
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return PT_BYTE_ARRAY, CONV_UTF8, None, None, None
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return PT_BYTE_ARRAY, None, None, None, None
    if pa.types.is_timestamp(t):
        # per-unit lowering (reference: src/unconvert.js:35-48): millis and
        # micros carry their legacy ConvertedType; nanos is LogicalType-only.
        # pyarrow/DuckDB read NANOS files exactly; Spark's builtin reader
        # rejects TIMESTAMP(NANOS) by design (no nanos type) unless
        # spark.sql.legacy.parquet.nanosAsLong is set
        unit = "ms" if t.unit in ("s", "ms") else t.unit  # s lowered to ms
        conv = {"ms": CONV_TS_MILLIS, "us": CONV_TS_MICROS, "ns": None}[unit]
        logical = (LT_TIMESTAMP, [
            (1, CT_TRUE, t.tz is not None),
            (2, CT_STRUCT, [(_TIME_UNIT_FIELD[unit], CT_STRUCT, [])]),
        ])
        return PT_INT64, conv, None, logical, None
    if pa.types.is_time32(t) or pa.types.is_time64(t):
        unit = "ms" if t.unit == "s" else t.unit  # s scaled to ms in _numeric_np
        conv = {"ms": CONV_TIME_MILLIS, "us": CONV_TIME_MICROS,
                "ns": None}[unit]
        logical = (LT_TIME, [
            (1, CT_TRUE, False),
            (2, CT_STRUCT, [(_TIME_UNIT_FIELD[unit], CT_STRUCT, [])]),
        ])
        phys = PT_INT32 if pa.types.is_time32(t) else PT_INT64
        return phys, conv, None, logical, None
    if pa.types.is_date32(t):
        return PT_INT32, CONV_DATE, None, None, None
    if pa.types.is_integer(t):  # int8/16, uint8-64 (int32/int64 hit above)
        signed = pa.types.is_signed_integer(t)
        bits = t.bit_width
        conv = CONV_INT[(bits, signed)]
        logical = (LT_INTEGER, [(1, CT_BYTE, bits), (2, CT_TRUE, signed)])
        # narrow ints widen; uint32/64 are signed-range reinterpretations
        # (reference: src/unconvert.js:59-69)
        phys = PT_INT64 if bits == 64 else PT_INT32
        return phys, conv, None, logical, None
    if pa.types.is_decimal(t):
        if not pa.types.is_decimal128(t):
            # decimal256 storage is 32 bytes; the 16-byte lowering would
            # silently reinterpret value pairs
            raise TypeError(f"only decimal128 supported, got {t}")
        # precision <= 9 -> INT32, <= 18 -> INT64 unscaled; wider -> FLBA
        # two's-complement (reference: src/schema.js:146-156,
        # src/unconvert.js:21-28, 279-307)
        logical = (LT_DECIMAL, [(1, CT_I32, t.scale), (2, CT_I32, t.precision)])
        if t.precision > 18:
            if t.precision > 38:
                raise TypeError(f"decimal precision > 38 unsupported: {t}")
            width = _dec_flba_width(t.precision)
            return PT_FLBA, CONV_DECIMAL, width, logical, (t.precision, t.scale)
        phys = PT_INT32 if t.precision <= 9 else PT_INT64
        return phys, CONV_DECIMAL, None, logical, (t.precision, t.scale)
    if pa.types.is_float16(t):
        # IEEE half as FLBA(2) + FLOAT16 logical type (reference:
        # src/unconvert.js:313-367 lowers Float16Array the same way)
        return PT_FLBA, None, 2, (LT_FLOAT16, []), None
    if pa.types.is_fixed_size_binary(t):
        # FLBA(w); 16-byte values cover the reference's UUID lowering
        # (reference: src/schema.js:157-159)
        logical = (LT_UUID, []) if t.byte_width == 16 else None
        return PT_FLBA, None, t.byte_width, logical, None
    raise TypeError(f"unsupported parquet leaf type {t}")


def _map_as_list(arr: pa.Array) -> pa.ListArray:
    """View a (non-null) MapArray window as list<struct<key,value>>.
    pyarrow's .keys/.items are not slice-adjusted; window them manually
    (same workaround as engine._encode_map_column)."""
    off = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lo, hi = int(off[0]), int(off[-1])
    entries = pa.StructArray.from_arrays(
        [arr.keys.slice(lo, hi - lo), arr.items.slice(lo, hi - lo)],
        names=["key", "value"])
    return pa.ListArray.from_arrays(pa.array((off - lo).astype(np.int32)), entries)


def _compute_levels(arr: pa.Array, leaf: _Leaf) -> tuple[np.ndarray, np.ndarray, pa.Array]:
    """(def_levels, rep_levels, dense non-null leaf values) by replaying
    the leaf's op chain.  Slot arrays d/r/alive grow at list expansions;
    ``vals`` stays dense over alive slots (vals[i] is the value of the
    i-th alive slot)."""
    n = len(arr)
    d = np.zeros(n, dtype=np.uint64)
    r = np.zeros(n, dtype=np.uint64)
    alive = np.ones(n, dtype=bool)
    vals: pa.Array = arr
    for op in leaf.ops:
        if op[0] == "opt":
            if len(vals) and vals.null_count:
                v = np.asarray(vals.is_valid())
                idx = np.flatnonzero(alive)
                d[idx[v]] += 1
                alive[idx[~v]] = False
                vals = vals.drop_null()
            else:
                d[alive] += 1
        elif op[0] == "field":
            vals = vals.field(op[1])
        else:  # ("list", this_rep, is_map)
            _, this_rep, is_map = op
            if is_map:
                vals = _map_as_list(vals) if len(vals) else pa.array(
                    [], type=pa.list_(pa.struct([("key", vals.type.key_type),
                                                 ("value", vals.type.item_type)])))
            lens = (vals.value_lengths().to_numpy(zero_copy_only=False).astype(np.int64)
                    if len(vals) else np.zeros(0, dtype=np.int64))
            counts = np.ones(len(alive), dtype=np.int64)
            idx = np.flatnonzero(alive)
            counts[idx] = np.maximum(lens, 1)
            has = np.zeros(len(alive), dtype=bool)
            has[idx] = lens > 0
            total = int(counts.sum())
            # +1 def level applied on the ROW vector before expansion
            # (identical to incrementing every expanded slot of a
            # non-empty row, minus a full-width mask + fancy index)
            new_d = np.repeat(d + has.astype(np.uint64), counts)
            new_r = np.full(total, this_rep, dtype=np.uint64)
            starts = np.zeros(len(counts) + 1, dtype=np.int64)
            np.cumsum(counts, out=starts[1:])
            new_r[starts[:-1]] = r
            d, r = new_d, new_r
            alive = np.repeat(has, counts)
            vals = vals.flatten()
    return d, r, vals


def _rle_levels(levels: np.ndarray, max_level: int) -> bytes:
    if max_level == 0 or len(levels) == 0:
        return b""
    return rle_hybrid_encode(levels, bit_width(max_level))


def _flba_bytes(values: pa.Array, width: int) -> bytes:
    """Raw fixed-width bytes of an FLBA-lowered leaf (PLAIN encoding)."""
    t = values.type
    if pa.types.is_float16(t):
        return np.asarray(values, dtype="<f2").tobytes()
    n = len(values)
    if n == 0:
        return b""
    if pa.types.is_decimal(t):
        # decimal128 storage is 16-byte little-endian two's-complement;
        # parquet DECIMAL FLBA is big-endian, truncated to the minimal
        # width for the precision (reference: src/unconvert.js:279-307)
        buf = values.buffers()[1]
        raw = np.frombuffer(buf, dtype="u1", count=16 * (values.offset + n))
        le = raw.reshape(-1, 16)[values.offset:]
        be = le[:, ::-1]  # big-endian 16-byte
        return np.ascontiguousarray(be[:, 16 - width:]).tobytes()
    buf = values.buffers()[1]
    raw = np.frombuffer(buf, dtype="u1", count=(values.offset + n) * width)
    return raw[values.offset * width:].tobytes()


def _encode_values(values: pa.Array, phys: int, encoding: int,
                   type_length: int | None = None) -> bytes:
    if phys == PT_BOOLEAN:
        if encoding == ENC_RLE:
            # RLE used for DATA (not levels) carries a u32 length prefix
            # (reference auto rule: src/column.js:71, src/datapage.js:41-46)
            bits = np.asarray(values).astype(np.uint64)
            payload = rle_hybrid_encode(bits, 1)
            return len(payload).to_bytes(4, "little") + payload
        return plain_encode_bool(np.asarray(values))
    if phys == PT_FLBA:
        if encoding == ENC_BSS:
            raw = np.frombuffer(_flba_bytes(values, type_length), dtype="u1")
            mat = raw.reshape(-1, type_length)
            # all first bytes, then all second bytes, ... (reference:
            # src/splitstream.js:13-60 supports FLBA the same way)
            return np.ascontiguousarray(mat.T).tobytes()
        return _flba_bytes(values, type_length)
    if phys == PT_BYTE_ARRAY:
        offsets, data = binary_buffers(values)
        if encoding == ENC_PLAIN:
            return plain_encode_binary(values)
        # spec layouts are bare concatenations -- DELTA_BINARY_PACKED is
        # self-delimiting via its header count, so no length prefixes
        # (reference: src/delta.js:280-298, 307-364)
        if encoding == ENC_DELTA_LBA:
            lengths = np.diff(offsets.astype(np.int64))
            return delta_binary_pack(lengths) + data.tobytes()
        if encoding == ENC_DELTA_BA:
            from ..kernels.strings import _common_prefix_lengths

            offsets = offsets.astype(np.int64)
            prefix = _common_prefix_lengths(offsets, data)
            lengths = np.diff(offsets)
            suffix_len = lengths - prefix
            starts = offsets[:-1] + prefix
            keep = np.zeros(len(data) + 1, dtype=np.int8)
            np.add.at(keep, starts, 1)
            np.add.at(keep, offsets[1:], -1)
            mask = np.cumsum(keep[:-1]) > 0
            return (delta_binary_pack(prefix) + delta_binary_pack(suffix_len)
                    + data[mask].tobytes())
        raise ValueError(f"bad byte-array encoding {encoding}")
    # numeric
    np_vals = _numeric_np(values, phys)
    if encoding == ENC_PLAIN:
        dt = {PT_INT32: "int32", PT_INT64: "int64", PT_FLOAT: "float32", PT_DOUBLE: "float64"}[phys]
        return plain_encode_numeric(np_vals, dt)
    if encoding == ENC_DELTA_BP:
        return delta_binary_pack(np_vals, bits=32 if phys == PT_INT32 else 64)
    if encoding == ENC_BSS:
        return byte_stream_split_encode(np_vals, np_vals.dtype.itemsize)
    raise ValueError(f"bad numeric encoding {encoding}")


def _numeric_np(values: pa.Array, phys: int) -> np.ndarray:
    t = values.type
    if pa.types.is_decimal(t):
        from ..chunk import _decimal_unscaled

        low = _decimal_unscaled(values).to_numpy(zero_copy_only=False)
        return low.astype(np.int32) if phys == PT_INT32 else low
    if pa.types.is_timestamp(t):
        if t.unit == "s":  # footer says millis; scale the values to match
            values = values.cast(pa.timestamp("ms", tz=t.tz))
        values = values.cast(pa.int64())
    elif pa.types.is_time32(t):
        if t.unit == "s":  # footer says millis; scale the values to match
            values = values.cast(pa.time32("ms"))
        values = values.cast(pa.int32())
    elif pa.types.is_time64(t):
        values = values.cast(pa.int64())
    elif pa.types.is_date32(t):
        values = values.cast(pa.int32())
    elif pa.types.is_unsigned_integer(t):
        raw = values.to_numpy(zero_copy_only=False)
        # uint32/uint64 reinterpret into the same-width signed range
        # (reference: src/unconvert.js:59-69); narrower uints widen
        if t.bit_width == 64:
            return raw.view(np.int64) if raw.dtype == np.uint64 \
                else raw.astype(np.int64)
        if t.bit_width == 32:
            return raw.view(np.int32) if raw.dtype == np.uint32 \
                else raw.astype(np.int32)
        return raw.astype(np.int32)
    elif pa.types.is_integer(t) and t.bit_width < 32:
        values = values.cast(pa.int32())
    return values.to_numpy(zero_copy_only=False)


def _plain_single(value, phys: int) -> bytes:
    """PLAIN encoding of one value, for Statistics min/max."""
    if phys == PT_INT32:
        return int(value).to_bytes(4, "little", signed=True)
    if phys == PT_INT64:
        return int(value).to_bytes(8, "little", signed=True)
    if phys == PT_FLOAT:
        return np.float32(value).tobytes()
    if phys == PT_DOUBLE:
        return np.float64(value).tobytes()
    if phys == PT_BOOLEAN:
        return b"\x01" if value else b"\x00"
    raise ValueError


def _stats_raw(values: pa.Array, phys: int, n_logical: int,
               type_length: int | None = None):
    """(null_count, min_raw, max_raw, min_bytes, max_bytes)."""
    if phys == PT_FLBA:
        null_count = n_logical - len(values)
        if pa.types.is_decimal(values.type):
            if len(values) == 0:
                return null_count, None, None, None, None
            import pyarrow.compute as pc

            mm = pc.min_max(values)
            mn_v, mx_v = mm["min"].as_py(), mm["max"].as_py()
            scale = values.type.scale

            def enc(d):
                # exact unscaled int from the digit tuple -- scaleb would
                # round past the Decimal context's 28 significant digits
                sign, digits, exp = d.as_tuple()
                unscaled = int("".join(map(str, digits)) or "0") \
                    * 10 ** (exp + scale)
                return (-unscaled if sign else unscaled).to_bytes(
                    type_length, "big", signed=True)

            return null_count, mn_v, mx_v, enc(mn_v), enc(mx_v)
        if pa.types.is_float16(values.type) or len(values) == 0:
            # float16 has its own total order in the spec; omit min/max
            # rather than emit byte-lexicographic values readers mistrust
            return null_count, None, None, None, None
        mat = np.frombuffer(_flba_bytes(values, type_length), dtype="u1")
        mat = mat.reshape(-1, type_length)
        order = np.lexsort(mat[:, ::-1].T)
        mn = mat[order[0]].tobytes()
        mx = mat[order[-1]].tobytes()
        return null_count, mn, mx, mn, mx
    if phys == PT_BYTE_ARRAY:
        offsets, data = binary_buffers(values)
        st = binary_stats(offsets, data, n_logical)
        return st.null_count, st.min_value, st.max_value, st.min_value, st.max_value
    if pa.types.is_unsigned_integer(values.type) and values.type.bit_width >= 32:
        # uint32/64 reinterpret into the signed range; signed min/max on the
        # wrapped values would violate UNSIGNED sort order -- omit stats
        return n_logical - len(values), None, None, None, None
    np_vals = _numeric_np(values, phys) if phys != PT_BOOLEAN else np.asarray(values)
    st = numeric_stats(np_vals, n_logical)
    mn = None if st.min_value is None else _plain_single(st.min_value, phys)
    mx = None if st.max_value is None else _plain_single(st.max_value, phys)
    return st.null_count, st.min_value, st.max_value, mn, mx


def _statistics(values: pa.Array, phys: int, n_logical: int,
                type_length: int | None = None) -> list:
    """Statistics struct fields (3: null_count, 5: max_value, 6: min_value)."""
    null_count, _, _, mn, mx = _stats_raw(values, phys, n_logical, type_length)
    return [(3, CT_I64, null_count), (5, CT_BINARY, mx), (6, CT_BINARY, mn)]


def _pick_encoding(values: pa.Array, phys: int, use_dictionary: bool):
    """(encoding, dict_values|None, indexes|None) via the chunk selector."""
    n = len(values)
    if n == 0:
        return ENC_PLAIN, None, None
    if phys == PT_BOOLEAN:
        # boolean auto rule (reference: src/column.js:71): RLE pages when
        # the sample is run-heavy, PLAIN bit-packing otherwise
        bits = np.asarray(values).astype(np.int64)
        samp = S.sample_numeric(bits)
        return (ENC_RLE if samp.mean_run >= 16 else ENC_PLAIN), None, None
    if phys == PT_FLBA:
        if use_dictionary and not pa.types.is_float16(values.type) \
                and not pa.types.is_decimal(values.type):
            as_bin = values.cast(pa.large_binary())
            offsets, data = binary_buffers(as_bin)
            samp = S.sample_binary(offsets, data)
            if samp.ndv_ratio <= S.DICT_NDV_RATIO:
                idx, d = factorize(as_bin, "binary")
                if len(d) <= (1 << 20):
                    if not (pa.types.is_binary(d.type) or pa.types.is_large_binary(d.type)):
                        d = d.cast(pa.large_binary())
                    return ENC_RLE_DICT, d.cast(values.type), idx
        return ENC_PLAIN, None, None
    if phys == PT_BYTE_ARRAY:
        offsets, data = binary_buffers(values)
        samp = S.sample_binary(offsets, data)
        costs = S.estimate_costs_binary(samp)
        costs.pop(S.FSST, None)
        if not use_dictionary:
            costs.pop(S.DICT, None)
        pick = S.pick(costs)
        if pick == S.DICT:
            idx, d = factorize(values, "binary")
            if len(d) <= (1 << 20):
                return ENC_RLE_DICT, d, idx
            pick = S.DELTA_LENGTH
        return {S.PLAIN: ENC_PLAIN, S.DELTA_LENGTH: ENC_DELTA_LBA,
                S.DELTA_BA: ENC_DELTA_BA}.get(pick, ENC_PLAIN), None, None
    np_vals = _numeric_np(values, phys)
    kind = np_vals.dtype.kind
    samp = S.sample_numeric(np_vals)
    costs = S.estimate_costs_numeric(samp, kind)
    # parquet has no FOR/DELTA_FOR/RLE data encoding for plain ints; map to
    # the closest spec encoding
    costs.pop(S.RLE, None)
    costs.pop(S.FOR, None)
    costs.pop(S.PFOR, None)  # no patched encoding in the parquet spec
    costs.pop(S.ALP, None)   # no ALP either; BSS is the in-spec float path
    if kind == "f":
        costs.pop(S.DELTA_FOR, None)
        costs.pop(S.DELTA_PFOR, None)
        costs.pop(S.DELTA_BP, None)
    else:
        # DELTA_BINARY_PACKED min-references each miniblock, so it realizes
        # both delta-FOR (constant-delta ~0 bits) and most of delta-PFOR's
        # (outlier damage contained to one block): fold their costs in
        for folded in (S.DELTA_FOR, S.DELTA_PFOR):
            if folded in costs:
                costs[S.DELTA_BP] = min(costs.get(S.DELTA_BP, 1e18),
                                        costs.pop(folded))
    if not use_dictionary:
        costs.pop(S.DICT, None)
    pick = S.pick(costs)
    if pick == S.DICT:
        idx, d = factorize(np_vals, "numeric")
        return ENC_RLE_DICT, d, idx
    return {S.PLAIN: ENC_PLAIN, S.DELTA_BP: ENC_DELTA_BP,
            S.BSS: ENC_BSS}.get(pick, ENC_PLAIN), None, None


def _compress(data: bytes, codec: int) -> bytes:
    if codec == COMP_GZIP:
        co = zlib.compressobj(6, zlib.DEFLATED, 31)
        return co.compress(data) + co.flush()
    if codec == COMP_ZSTD:
        return pa.Codec("zstd", compression_level=1).compress(data, asbytes=True)
    if codec == COMP_SNAPPY:
        return pa.Codec("snappy").compress(data, asbytes=True)
    return data


def _page_header_v2(num_values: int, num_nulls: int, num_rows: int, encoding: int,
                    def_len: int, rep_len: int, comp_size: int, uncomp_size: int,
                    stats_fields) -> bytes:
    dphv2 = [
        (1, CT_I32, num_values), (2, CT_I32, num_nulls), (3, CT_I32, num_rows),
        (4, CT_I32, encoding), (5, CT_I32, def_len), (6, CT_I32, rep_len),
        (7, CT_TRUE, True),
        (8, CT_STRUCT, stats_fields) if stats_fields else (8, CT_STRUCT, None),
    ]
    return serialize_struct([
        (1, CT_I32, PAGE_DATA_V2),
        (2, CT_I32, uncomp_size),
        (3, CT_I32, comp_size),
        (8, CT_STRUCT, dphv2),
    ])


def _dict_page(dict_values, phys: int, codec: int,
               type_length: int | None = None) -> tuple[bytes, int, int]:
    if phys == PT_BYTE_ARRAY:
        raw = plain_encode_binary(dict_values)
    elif phys == PT_FLBA:
        raw = _flba_bytes(dict_values, type_length)  # raw fixed-width concat
    else:
        dt = {PT_INT32: "int32", PT_INT64: "int64", PT_FLOAT: "float32",
              PT_DOUBLE: "float64"}[phys]
        raw = plain_encode_numeric(np.asarray(dict_values, dtype=dt), dt)
    comp = _compress(raw, codec)
    header = serialize_struct([
        (1, CT_I32, PAGE_DICT),
        (2, CT_I32, len(raw)),
        (3, CT_I32, len(comp)),
        (7, CT_STRUCT, [(1, CT_I32, len(dict_values)), (2, CT_I32, ENC_PLAIN)]),
    ])
    return header + comp, len(dict_values), len(header) + len(raw)


def _row_group_sizes(n_rows: int, spec) -> list[int]:
    """Row-group sizes from an int or an array-of-sizes with the LAST entry
    repeating (the reference's fast-preview shape [1000, 100000],
    reference: src/parquet-writer.js:186-216, src/write.js:23)."""
    sizes = [spec] if isinstance(spec, int) else list(spec)
    if not sizes or any(not isinstance(s, int) or s < 1 for s in sizes):
        raise ValueError(f"row-group sizes must be positive ints, got {spec!r}")
    out = []
    remaining = n_rows
    i = 0
    while remaining > 0:
        s = sizes[min(i, len(sizes) - 1)]
        take = min(s, remaining)
        out.append(take)
        remaining -= take
        i += 1
    return out


class ParquetWriter:
    """Incremental multi-call parquet writer (the reference's ParquetWriter
    class analog, reference: src/parquet-writer.js:18-176): each ``write``
    encodes row groups immediately into the output buffer (bounded memory),
    ``finish`` emits page indexes + footer + trailing magic."""

    def __init__(self, schema: pa.Schema, *, row_group_rows=1 << 20,
                 compression: str = "gzip", use_dictionary: bool = True,
                 page_bytes: int = _PAGE_BYTES,
                 kv_metadata: dict[str, str] | None = None,
                 bloom_columns: tuple[str, ...] = (),
                 logical_hints: dict[str, str] | None = None,
                 statistics: bool = True,
                 column_encodings: dict[str, str] | None = None,
                 column_index=True, offset_index=True):
        self.schema = schema
        # per-column page-index opt-in (reference ColumnSource.columnIndex /
        # offsetIndex, src/parquet-writer.js:75-80): each option is a bool
        # (all columns), a single column name, or a collection of top-level
        # column names.  The parquet spec forbids a ColumnIndex without an
        # OffsetIndex, same check as the reference.
        names = {f.name for f in schema}

        def _norm(opt, label: str):
            if isinstance(opt, bool):
                return opt
            # a bare string is ONE column name, not an iterable of chars
            # (the `in` test below would otherwise substring-match)
            sel = {opt} if isinstance(opt, str) else set(opt)
            unknown = sel - names
            if unknown:
                raise ValueError(
                    f"{label} names {sorted(unknown)} not in schema "
                    f"{sorted(names)}")
            return sel

        column_index = _norm(column_index, "column_index")
        offset_index = _norm(offset_index, "offset_index")

        def _per_col(opt, name: str) -> bool:
            return opt if isinstance(opt, bool) else name in opt

        self._index_opts = {}
        for field in schema:
            ci = _per_col(column_index, field.name)
            oi = _per_col(offset_index, field.name)
            if ci and not oi:
                raise ValueError(
                    f"column {field.name!r}: parquet ColumnIndex cannot be "
                    "present without OffsetIndex")
            self._index_opts[field.name] = (ci, oi)
        self.logical_hints = logical_hints
        self.statistics = statistics
        self.column_encodings = {}
        for name, enc in (column_encodings or {}).items():
            if enc not in _ENC_NAMES:
                raise ValueError(f"unknown encoding {enc!r} for column {name}; "
                                 f"one of {sorted(_ENC_NAMES)}")
            self.column_encodings[name] = _ENC_NAMES[enc]
        self.codec = {"gzip": COMP_GZIP, "none": COMP_UNCOMPRESSED,
                      "zstd": COMP_ZSTD, "snappy": COMP_SNAPPY}[compression]
        self.row_group_rows = row_group_rows
        self.use_dictionary = use_dictionary
        self.page_bytes = page_bytes
        self.kv_metadata = kv_metadata
        self.bloom_columns = tuple(bloom_columns)
        self.leaves: list[_Leaf] | None = None
        self.out = bytearray(MAGIC)
        self.row_groups: list = []
        self.n_rows = 0
        self._finished = False

    def write(self, table: pa.Table) -> None:
        if self._finished:
            raise RuntimeError("writer already finished")
        table = table.combine_chunks()
        if self.leaves is None:
            self.leaves = _build_leaves(table.schema)
        start = 0
        for size in _row_group_sizes(len(table), self.row_group_rows):
            rg = table.slice(start, size)
            start += size
            chunk_infos = []
            total_bytes = 0
            for leaf in self.leaves:
                col = rg.column(leaf.col_index)
                if isinstance(col, pa.ChunkedArray):
                    col = col.combine_chunks()
                want_bloom = ("*" in self.bloom_columns
                              or leaf.path[0] in self.bloom_columns)
                info = _write_column_chunk(self.out, col, leaf, self.codec,
                                           self.use_dictionary, self.page_bytes,
                                           bloom=want_bloom,
                                           user_enc=self.column_encodings.get(
                                               leaf.path[0]),
                                           statistics=self.statistics)
                chunk_infos.append(info)
                total_bytes += info["total_comp"]
            self.row_groups.append((chunk_infos, total_bytes, len(rg)))
            self.n_rows += len(rg)

    def finish(self) -> bytes:
        if self._finished:
            raise RuntimeError("writer already finished")
        self._finished = True
        if self.leaves is None:
            self.leaves = _build_leaves(self.schema)
        out = self.out
        # page indexes: all ColumnIndexes, then all OffsetIndexes, after the
        # row groups and before the footer (reference: src/indexes.js:15-22);
        # skipped for single-page chunks (reference: src/indexes.js:31)
        def indexable(info) -> bool:
            # a ColumnIndex encodes "no min/max" as null_pages=true, which
            # MEANS all-null to readers: chunks whose stats were omitted
            # (statistics=False, uint32/64, float16) but whose pages hold
            # live values must not get a ColumnIndex at all
            return len(info["pages"]) > 1 and all(
                p["min_bytes"] is not None or p["null_count"] == p["n_values"]
                for p in info["pages"])

        for chunk_infos, _, _ in self.row_groups:
            for info, leaf in zip(chunk_infos, self.leaves):
                if self._index_opts[leaf.path[0]][0] and indexable(info):
                    ci = _column_index_bytes(info)
                    info["column_index_offset"] = len(out)
                    info["column_index_length"] = len(ci)
                    out.extend(ci)
        for chunk_infos, _, _ in self.row_groups:
            for info, leaf in zip(chunk_infos, self.leaves):
                if self._index_opts[leaf.path[0]][1] and len(info["pages"]) > 1:
                    oi = _offset_index_bytes(info)
                    info["offset_index_offset"] = len(out)
                    info["offset_index_length"] = len(oi)
                    out.extend(oi)
        # bloom filters clustered after the indexes, offsets patched into
        # chunk metadata (reference: src/bloom.js:205-213,
        # src/parquet-writer.js:153-155)
        for chunk_infos, _, _ in self.row_groups:
            for info in chunk_infos:
                blob = info.pop("bloom_bytes", None)
                if blob is not None:
                    info["bloom_offset"] = len(out)
                    header = serialize_struct([
                        (1, CT_I32, len(blob)),
                        (2, CT_STRUCT, [(1, CT_STRUCT, [])]),  # BLOCK (SBBF)
                        (3, CT_STRUCT, [(1, CT_STRUCT, [])]),  # XXHASH
                        (4, CT_STRUCT, [(1, CT_STRUCT, [])]),  # UNCOMPRESSED
                    ])
                    out.extend(header)
                    out.extend(blob)
                    info["bloom_length"] = len(header) + len(blob)
        rg_structs = [([_chunk_struct(info) for info in chunk_infos], tb, nr)
                      for chunk_infos, tb, nr in self.row_groups]
        footer = _file_metadata(self.schema, self.leaves, rg_structs, self.n_rows,
                                self.kv_metadata, self.logical_hints)
        out.extend(footer)
        out.extend(len(footer).to_bytes(4, "little"))
        out.extend(MAGIC)
        return bytes(out)


def write_parquet_bytes(table: pa.Table, *, row_group_rows=1 << 20,
                        compression: str = "gzip", use_dictionary: bool = True,
                        page_bytes: int = _PAGE_BYTES,
                        kv_metadata: dict[str, str] | None = None,
                        bloom_columns: tuple[str, ...] = (),
                        logical_hints: dict[str, str] | None = None,
                        statistics: bool = True,
                        column_encodings: dict[str, str] | None = None,
                        column_index=True, offset_index=True) -> bytes:
    """Serialize a pyarrow Table to parquet bytes using our own encoders.

    ``row_group_rows`` may be an int or an array of sizes with the last
    repeating (reference fast-preview shape, e.g. [1000, 100000]).
    ``bloom_columns`` opts top-level columns into per-chunk SBBF bloom
    filters ("*" for all eligible leaves).
    ``logical_hints`` maps top-level string/binary column names to
    "JSON" / "ENUM" / "BSON" footer annotations (reference BasicType
    lowerings: src/schema.js:146-170, src/metadata.js:132-168) -- pure
    footer tags, the bytes are written unchanged.
    ``statistics=False`` omits chunk/page Statistics structs (reference
    parquetWrite option, src/write.js:22).
    ``column_encodings`` pins a per-column data-page encoding by name
    (reference ColumnSource.encoding, src/column.js:71): PLAIN, RLE
    (boolean), RLE_DICTIONARY, DELTA_BINARY_PACKED,
    DELTA_LENGTH_BYTE_ARRAY, DELTA_BYTE_ARRAY, or BYTE_STREAM_SPLIT
    (numeric and FLBA) -- overrides the auto-selector for that column.
    ``column_index`` / ``offset_index`` opt columns into page indexes: a
    bool for all columns or a collection of top-level names (reference
    ColumnSource.columnIndex/offsetIndex, src/parquet-writer.js:75-80);
    a ColumnIndex without an OffsetIndex is rejected, as the spec
    requires."""
    w = ParquetWriter(table.schema, row_group_rows=row_group_rows,
                      compression=compression, use_dictionary=use_dictionary,
                      page_bytes=page_bytes, kv_metadata=kv_metadata,
                      bloom_columns=bloom_columns, logical_hints=logical_hints,
                      statistics=statistics, column_encodings=column_encodings,
                      column_index=column_index, offset_index=offset_index)
    if len(table):
        w.write(table)
    return w.finish()


def _boundary_order(pages: list[dict]) -> int:
    mins = [p["min_raw"] for p in pages if p["min_raw"] is not None]
    maxs = [p["max_raw"] for p in pages if p["max_raw"] is not None]
    if len(mins) < 2:
        return 0  # UNORDERED
    try:
        asc = all(mins[i] <= mins[i + 1] for i in range(len(mins) - 1)) and \
            all(maxs[i] <= maxs[i + 1] for i in range(len(maxs) - 1))
        desc = all(mins[i] >= mins[i + 1] for i in range(len(mins) - 1)) and \
            all(maxs[i] >= maxs[i + 1] for i in range(len(maxs) - 1))
    except TypeError:
        return 0
    if asc:
        return 1
    if desc:
        return 2
    return 0


def _column_index_bytes(info: dict) -> bytes:
    pages = info["pages"]
    null_pages = [p["min_bytes"] is None for p in pages]
    min_values = [p["min_bytes"] if p["min_bytes"] is not None else b"" for p in pages]
    max_values = [p["max_bytes"] if p["max_bytes"] is not None else b"" for p in pages]
    return serialize_struct([
        (1, CT_LIST, ("bool", null_pages)),
        (2, CT_LIST, ("binary", min_values)),
        (3, CT_LIST, ("binary", max_values)),
        (4, CT_I32, _boundary_order(pages)),
        (5, CT_LIST, ("i64", [p["null_count"] for p in pages])),
    ])


def _offset_index_bytes(info: dict) -> bytes:
    locs = [[(1, CT_I64, p["offset"]), (2, CT_I32, p["size"]),
             (3, CT_I64, p["first_row"])] for p in info["pages"]]
    return serialize_struct([(1, CT_LIST, ("struct", locs))])


def _chunk_struct(info: dict):
    col_meta = [
        (1, CT_I32, info["phys"]),
        (2, CT_LIST, ("i32", info["encodings"])),
        (3, CT_LIST, ("binary", info["path"])),
        (4, CT_I32, info["codec"]),
        (5, CT_I64, info["n_slots"]),
        (6, CT_I64, info["uncomp_total"]),
        (7, CT_I64, info["total_comp"]),
        (9, CT_I64, info["data_offset"]),
        (11, CT_I64, info["dict_offset"]),
        (12, CT_STRUCT, info["stats_all"]),
        (14, CT_I64, info.get("bloom_offset")),
        (15, CT_I32, info.get("bloom_length")),
    ]
    return [
        (2, CT_I64, info["chunk_start"]),
        (3, CT_STRUCT, col_meta),
        (4, CT_I64, info.get("offset_index_offset")),
        (5, CT_I32, info.get("offset_index_length")),
        (6, CT_I64, info.get("column_index_offset")),
        (7, CT_I32, info.get("column_index_length")),
    ]


_ENC_NAMES = {  # user-facing encoding names (reference ColumnSource.encoding)
    "PLAIN": ENC_PLAIN, "RLE": ENC_RLE, "RLE_DICTIONARY": ENC_RLE_DICT,
    "DELTA_BINARY_PACKED": ENC_DELTA_BP, "DELTA_LENGTH_BYTE_ARRAY": ENC_DELTA_LBA,
    "DELTA_BYTE_ARRAY": ENC_DELTA_BA, "BYTE_STREAM_SPLIT": ENC_BSS,
}


def _forced_encoding(values: pa.Array, phys: int, user_enc: int):
    """(encoding, dict_vals, indexes) for an explicit per-column encoding
    (reference: src/column.js:71, userEncoding pins the data-page encoding
    and disables the dictionary path unless it IS the dictionary)."""
    if user_enc == ENC_RLE_DICT:
        as_bin = values
        if phys == PT_FLBA and not pa.types.is_decimal(values.type) \
                and not pa.types.is_float16(values.type):
            as_bin = values.cast(pa.large_binary())
        if phys == PT_BYTE_ARRAY or (phys == PT_FLBA and as_bin is not values):
            idx, d = factorize(as_bin, "binary")
            return ENC_RLE_DICT, (d.cast(values.type) if as_bin is not values
                                  else d), idx
        if phys in (PT_INT32, PT_INT64, PT_FLOAT, PT_DOUBLE):
            # same shape as the auto path: the dict page is written from
            # the raw numpy values (plain_encode_numeric), so no arrow
            # casting that would CONVERT float values instead of keeping
            # their bit patterns
            idx, d = factorize(_numeric_np(values, phys), "numeric")
            return ENC_RLE_DICT, d, idx
        raise TypeError(f"RLE_DICTIONARY override unsupported for {values.type}")
    ok = {
        ENC_PLAIN: True,
        ENC_RLE: phys == PT_BOOLEAN,
        ENC_DELTA_BP: phys in (PT_INT32, PT_INT64),
        ENC_DELTA_LBA: phys == PT_BYTE_ARRAY,
        ENC_DELTA_BA: phys == PT_BYTE_ARRAY,
        ENC_BSS: phys in (PT_INT32, PT_INT64, PT_FLOAT, PT_DOUBLE, PT_FLBA),
    }.get(user_enc, False)
    if not ok:
        raise TypeError(f"encoding override {user_enc} invalid for physical "
                        f"type {phys}")
    return user_enc, None, None


def _write_column_chunk(out: bytearray, arr: pa.Array, leaf: _Leaf, codec: int,
                        use_dictionary: bool, page_bytes: int,
                        bloom: bool = False, user_enc: int | None = None,
                        statistics: bool = True):
    d, r, values = _compute_levels(arr, leaf)
    n_slots = len(d)
    if user_enc is not None:
        encoding, dict_vals, indexes = _forced_encoding(values, leaf.phys, user_enc)
    else:
        encoding, dict_vals, indexes = _pick_encoding(values, leaf.phys, use_dictionary)

    chunk_start = len(out)
    dict_offset = None
    encodings = [ENC_PLAIN]
    uncomp_total = 0
    if dict_vals is not None:
        dict_offset = len(out)
        page, _, dict_uncomp = _dict_page(dict_vals, leaf.phys, codec,
                                          leaf.type_length)
        out.extend(page)
        uncomp_total += dict_uncomp
        encodings = [ENC_PLAIN, ENC_RLE_DICT]

    data_offset = len(out)
    # greedy page split on estimated uncompressed bytes (reference E13:
    # src/column.js:211-239); levels computed once, pages slice the level
    # and dense-value arrays directly (no re-walk per page)
    spans = _page_spans_from_levels(d, r, values, leaf, page_bytes)
    first_row = 0
    pages_info = []
    for (slot_lo, slot_hi, val_lo, val_hi, page_rows) in spans:
        dd = d[slot_lo:slot_hi]
        rr = r[slot_lo:slot_hi] if leaf.max_rep else r[:0]
        vv = values.slice(val_lo, val_hi - val_lo)
        def_bytes = _rle_levels(dd, leaf.max_def)
        rep_bytes = _rle_levels(rr, leaf.max_rep)
        if indexes is not None:
            idx = indexes[val_lo:val_hi]
            bw = max(1, bit_width(max(len(dict_vals) - 1, 0)))
            raw = bytes([bw]) + rle_hybrid_encode(idx.astype(np.uint64), bw)
            enc_tag = ENC_RLE_DICT
        else:
            raw = _encode_values(vv, leaf.phys, encoding, leaf.type_length)
            enc_tag = encoding
        comp = _compress(raw, codec)
        if statistics:
            null_count, mn_raw, mx_raw, mn_b, mx_b = _stats_raw(
                vv, leaf.phys, len(dd), leaf.type_length)
            stats = [(3, CT_I64, null_count), (5, CT_BINARY, mx_b),
                     (6, CT_BINARY, mn_b)]
        else:
            # statistics=False skips the min/max computation entirely, not
            # just the footer structs
            null_count = len(dd) - len(vv)
            mn_raw = mx_raw = mn_b = mx_b = None
            stats = None
        header = _page_header_v2(
            num_values=len(dd),
            num_nulls=len(dd) - len(vv),
            num_rows=page_rows, encoding=enc_tag,
            def_len=len(def_bytes), rep_len=len(rep_bytes),
            comp_size=len(comp) + len(def_bytes) + len(rep_bytes),
            uncomp_size=len(raw) + len(def_bytes) + len(rep_bytes),
            stats_fields=stats)
        page_offset = len(out)
        out.extend(header)
        out.extend(rep_bytes)
        out.extend(def_bytes)
        out.extend(comp)
        uncomp_total += len(header) + len(rep_bytes) + len(def_bytes) + len(raw)
        pages_info.append({
            "offset": page_offset, "size": len(out) - page_offset,
            "first_row": first_row, "null_count": null_count,
            "n_values": len(dd),
            "min_raw": mn_raw, "max_raw": mx_raw,
            "min_bytes": mn_b, "max_bytes": mx_b,
        })
        first_row += page_rows

    total_comp = len(out) - chunk_start
    enc_final = ENC_RLE_DICT if indexes is not None else encoding
    info = {
        "phys": leaf.phys,
        "path": leaf.path,
        "codec": codec,
        "n_slots": n_slots,
        "uncomp_total": uncomp_total,
        "total_comp": total_comp,
        "chunk_start": chunk_start,
        "data_offset": data_offset,
        "dict_offset": dict_offset,
        "encodings": sorted({ENC_RLE, enc_final} | set(encodings)),
        "stats_all": (_statistics(values, leaf.phys, n_slots, leaf.type_length)
                      if statistics else None),
        "pages": pages_info,
    }
    if bloom:
        hashes = _leaf_hashes(values, leaf)
        if hashes is not None and len(hashes):
            from ..kernels.bloom import build_bloom

            filt = build_bloom(hashes)
            if filt is not None:
                info["bloom_bytes"] = filt.to_bytes()
    return info


def _leaf_hashes(values: pa.Array, leaf: _Leaf) -> np.ndarray | None:
    """xxhash64 (seed 0) of each dense value's PLAIN encoding -- the
    parquet SBBF hash contract (reference: src/bloom.js:14-34)."""
    from ..kernels.bloom import xxhash64_int64, xxhash64_matrix

    phys = leaf.phys
    if phys == PT_BOOLEAN or len(values) == 0:
        return None
    if phys == PT_BYTE_ARRAY:
        offsets, data = binary_buffers(values)
        lens = np.diff(offsets).astype(np.int64)
        width = max(int(lens.max(initial=1)), 1)
        mat = np.zeros((len(lens), width), dtype="u1")
        valid = np.arange(width)[None, :] < lens[:, None]
        if data.size:
            gather = offsets[:-1, None] + np.arange(width)
            mat[valid] = data[np.minimum(gather, len(data) - 1)][valid]
        return xxhash64_matrix(mat, lens)
    if phys == PT_FLBA:
        raw = np.frombuffer(_flba_bytes(values, leaf.type_length), dtype="u1")
        mat = raw.reshape(-1, leaf.type_length)
        return xxhash64_matrix(mat, np.full(len(mat), leaf.type_length, dtype=np.int64))
    np_vals = _numeric_np(values, phys)
    if phys in (PT_INT32, PT_FLOAT):
        dt = "<i4" if phys == PT_INT32 else "<f4"
        mat = np.ascontiguousarray(np_vals, dtype=dt).view("u1").reshape(-1, 4)
        return xxhash64_matrix(mat, np.full(len(mat), 4, dtype=np.int64))
    dt = "<i8" if phys == PT_INT64 else "<f8"
    v = np.ascontiguousarray(np_vals, dtype=dt).view("<i8")
    return xxhash64_int64(v)


def _page_spans_from_levels(d: np.ndarray, r: np.ndarray, values: pa.Array,
                            leaf: _Leaf, page_bytes: int
                            ) -> list[tuple[int, int, int, int, int]]:
    """Page spans as (slot_lo, slot_hi, val_lo, val_hi, n_rows), split on
    row boundaries by estimated uncompressed bytes."""
    n_slots = len(d)
    if n_slots == 0:
        return [(0, 0, 0, 0, 0)]
    row_starts = (np.flatnonzero(np.asarray(r) == 0) if leaf.max_rep
                  else np.arange(n_slots, dtype=np.int64))
    n_rows = len(row_starts)
    valued = d == leaf.max_def
    slot_size = np.ones(n_slots, dtype=np.int64)
    if leaf.phys == PT_BYTE_ARRAY:
        import pyarrow.compute as pc

        vlens = pc.binary_length(values).to_numpy(zero_copy_only=False).astype(np.int64) + 4
        slot_size[valued] += vlens
    elif leaf.phys == PT_BOOLEAN:
        slot_size[valued] += 1
    elif leaf.phys == PT_FLBA:
        slot_size[valued] += leaf.type_length
    else:
        slot_size[valued] += 4 if leaf.phys in (PT_INT32, PT_FLOAT) else 8
    # page boundaries are row-aligned, so all cumulative bookkeeping can
    # live at ROW granularity: reduceat folds the slot-level sizes/value
    # counts to one entry per row (slot-level cumsums built full-column
    # int64 temporaries that dominated this function on list leaves)
    row_end_slots = np.concatenate([row_starts[1:], [n_slots]])
    row_cum = np.cumsum(np.add.reduceat(slot_size, row_starts))
    rowval_cum = np.cumsum(
        np.add.reduceat(valued.astype(np.int64), row_starts))
    spans = []
    start = 0
    while start < n_rows:
        target = (row_cum[start - 1] if start else 0) + page_bytes
        end = int(np.searchsorted(row_cum, target, side="left")) + 1
        end = max(start + 1, min(end, n_rows))
        slot_lo = int(row_starts[start])
        slot_hi = int(row_end_slots[end - 1])
        val_lo = int(rowval_cum[start - 1]) if start else 0
        val_hi = int(rowval_cum[end - 1])
        spans.append((slot_lo, slot_hi, val_lo, val_hi, end - start))
        start = end
    return spans


_HINT_TYPES = {  # name -> (ConvertedType, LogicalType union field)
    "JSON": (CONV_JSON, LT_JSON),
    "ENUM": (CONV_ENUM, LT_ENUM),
    "BSON": (CONV_BSON, LT_BSON),
}


def _file_metadata(schema: pa.Schema, leaves: list[_Leaf], row_groups, n_rows: int,
                   kv_metadata: dict[str, str] | None = None,
                   logical_hints: dict[str, str] | None = None) -> bytes:
    # preorder schema tree; struct/list/map columns emit nested groups
    # mirroring _build_leaves' walk exactly
    elements = [_schema_element("root", None, None, len(schema), None)]

    def emit(name: str, t: pa.DataType, rep: int = REP_OPTIONAL) -> None:
        if pa.types.is_struct(t):
            elements.append(_schema_element(name, None, rep, t.num_fields, None))
            for i in range(t.num_fields):
                f = t.field(i)
                emit(f.name, f.type)
            return
        if pa.types.is_map(t):
            elements.append(_schema_element(name, None, rep, 1, CONV_MAP))
            elements.append(_schema_element("key_value", None, REP_REPEATED, 2, None))
            emit("key", t.key_type, REP_REQUIRED)
            emit("value", t.item_type)
            return
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            elements.append(_schema_element(name, None, rep, 1, CONV_LIST))
            elements.append(_schema_element("list", None, REP_REPEATED, 1, None))
            emit("element", t.value_type)
            return
        phys, conv, tlen, logical, dec_ps = _physical_of(t)
        hint = (logical_hints or {}).get(name)
        if hint == "RAW":
            # suppress auto annotations (e.g. the FLBA(16) -> UUID default)
            conv, logical = None, None
        elif hint == "UUID":
            if phys != PT_FLBA or tlen != 16:
                raise TypeError(f"UUID hint needs a 16-byte fixed column, "
                                f"got {t} for {name}")
            logical = (LT_UUID, [])
        elif hint is not None:
            if hint not in _HINT_TYPES:
                raise ValueError(f"unknown logical hint {hint!r} for {name}")
            if phys != PT_BYTE_ARRAY:
                raise TypeError(
                    f"logical hint {hint} needs a string/binary column, "
                    f"got {t} for {name}")
            conv, lt = _HINT_TYPES[hint]
            logical = (lt, [])
        elements.append(_schema_element(name, phys, rep, None, conv,
                                        type_length=tlen, dec_ps=dec_ps,
                                        logical=logical))

    for f in schema:
        emit(f.name, f.type)
    rgs = []
    for cols_meta, total_bytes, nr in row_groups:
        rgs.append([
            (1, CT_LIST, ("struct", cols_meta)),
            (2, CT_I64, total_bytes),
            (3, CT_I64, nr),
        ])
    # column_orders (TypeDefinedOrder per leaf) -- required for readers to
    # trust min_value/max_value statistics
    orders = [[(1, CT_STRUCT, [])] for _ in leaves]
    kvs = None
    if kv_metadata:
        kvs = ("struct", [[(1, CT_BINARY, k), (2, CT_BINARY, v)]
                          for k, v in sorted(kv_metadata.items())])
    return serialize_struct([
        (1, CT_I32, 2),
        (2, CT_LIST, ("struct", elements)),
        (3, CT_I64, n_rows),
        (4, CT_LIST, ("struct", rgs)),
        (5, CT_LIST, kvs),
        (6, CT_BINARY, "sparkcodec"),
        (7, CT_LIST, ("struct", orders)),
    ])


def _sweep_stale_parts(out_dir: str) -> None:
    """Driver-side pre-clean for the task-side sinks: remove part files
    (and orphaned .tmp files) that OUR writers produced in a previous run
    into the same directory.  Task-side deterministic names only replace
    files for pids that execute THIS run -- a rerun with fewer splits, or
    a pid whose task yields no rows, would otherwise leave a previous
    run's file in place and ``spark.read.parquet(out_dir)`` would silently
    mix chunks from different runs.  Only files matching our own naming
    scheme (part-NNNNN.parquet / part-NNNNN-NNN.parquet and their tmp
    leftovers) are touched, so pointing at a directory with foreign files
    raises on the subsequent read instead of deleting user data."""
    import glob
    import os
    import re

    # \d{5,}/\d{3,}: the {:05d}/{:03d} task-side formats WIDEN past their
    # padding (pid >= 100000, file_idx >= 1000) -- a fixed-width pattern
    # would leave exactly those high-index files stale
    own = re.compile(r"part-\d{5,}(-\d{3,})?\.parquet(\.[0-9a-f]{8}\.tmp)?$")
    for p in glob.glob(os.path.join(out_dir, "part-*")):
        if own.search(os.path.basename(p)):
            os.remove(p)


def _commit_part_file(path: str, write: Callable[[str], object]) -> None:
    """The atomic part-file commit of every task-side sink: ``write(tmp)``
    fills a tmp file next to ``path``, which then replaces ``path``.  The
    final name is deterministic per task, so a retried or speculative
    attempt re-produces the same file and REPLACES it instead of
    committing a duplicate; the tmp name is unique per attempt, so
    concurrent attempts never clobber each other's in-progress writes,
    and a failed write leaves no tmp file behind."""
    import os
    import uuid

    tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
    try:
        write(tmp)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def write_partitioned_parquet(df, out_dir: str, *, compression: str = "gzip",
                              use_dictionary: bool = True,
                              row_group_rows: int = 1 << 20,
                              bloom_columns: tuple[str, ...] = ()):
    """Spark sink: each partition writes one parquet file
    ``part-NNNNN.parquet`` produced by OUR encoders (the reference's
    file-sink analog, reference: src/node.js:16-70).  Part files of an
    earlier run into ``out_dir`` are removed first, and a retried task
    replaces its file, so a rerun never duplicates rows.  Returns a
    DataFrame of (path, n_rows, n_bytes) manifest rows."""
    import os
    from pathlib import Path

    from pyspark import TaskContext

    os.makedirs(out_dir, exist_ok=True)
    _sweep_stale_parts(out_dir)

    def sink(batches):
        import pyarrow as pa

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        tbls = list(batches)
        if not tbls:
            return
        table = pa.Table.from_batches(tbls)
        buf = write_parquet_bytes(table, compression=compression,
                                  use_dictionary=use_dictionary,
                                  row_group_rows=row_group_rows,
                                  bloom_columns=bloom_columns)
        path = os.path.join(out_dir, f"part-{pid:05d}.parquet")
        _commit_part_file(path, lambda tmp: Path(tmp).write_bytes(buf))
        yield pa.RecordBatch.from_pylist(
            [{"path": path, "n_rows": len(table), "n_bytes": len(buf)}],
            schema=pa.schema([("path", pa.string()), ("n_rows", pa.int64()),
                              ("n_bytes", pa.int64())]))

    return df.mapInArrow(sink, "path string, n_rows long, n_bytes long")


def _schema_element(name: str, phys: int | None, rep: int | None,
                    num_children: int | None, conv: int | None,
                    type_length: int | None = None,
                    dec_ps: tuple[int, int] | None = None,
                    logical: tuple[int, list] | None = None):
    fields = [
        (1, CT_I32, phys),
        (2, CT_I32, type_length),
        (3, CT_I32, rep),
        (4, CT_BINARY, name),
        (5, CT_I32, num_children),
        (6, CT_I32, conv),
    ]
    if dec_ps is not None:
        fields.append((7, CT_I32, dec_ps[1]))  # scale
        fields.append((8, CT_I32, dec_ps[0]))  # precision
    if logical is not None:
        # LogicalType is a thrift union: one field set, id = the variant
        fields.append((10, CT_STRUCT, [(logical[0], CT_STRUCT, logical[1])]))
    return fields

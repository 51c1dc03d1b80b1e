"""Spark-level encode/decode engine.

The dataflow (SURVEY.md §7.0):

    input DataFrame (e.g. doc_id, tokens, n_tok, source)
      -> weighted/range repartition on (source, doc_id)   [skew defusal]
      -> mapInArrow(encode)                               [zero-copy Arrow]
           per chunk group: per column: sample -> auto-select codec
           -> encode -> stats
      -> one output row per chunk group:
           (part_id, chunk_seq, chunk_id, n_rows, n_tokens, bytes_in,
            bytes_out, schema_json, meta_json, payload BINARY)

    decode: mapInArrow over encoded rows -> original schema, exact values.

A chunk group is the analog of the reference's row group (reference:
src/parquet-writer.js:63-144): all column chunks for a window of rows,
with a tiny footer-style JSON metadata row alongside.  List columns (the
`tokens` payload) collapse the Dremel machinery to Arrow offset
arithmetic (SURVEY.md §1.4): one chunk for the rebased offsets, one for
the flattened values.

Every encode produces one cell (encoded bytes) per column per chunk group.
The two payload layouts differ only in where those cells sit: behind one
header in a self-describing ``payload`` blob (the default), or in one
``payload_<col>`` BINARY column each (``split_payload=True``).  On the
read side one function maps an encoded row to ``{column: cell}``
(:func:`_row_cells`), and every reader -- :func:`decode_dataframe`,
:func:`decode_to_parquet`, :func:`apply_deletes` and the blob bloom probe
-- loops over it and decodes through one per-row step
(:func:`_decode_cells`).

Every encode is planned once, on the driver, from the arrow types of its
source (:func:`_encode_plan`): the bloom/ndv/hist/stat/agg columns are
checked against those types and the encoded table's schema is built once.
Workers emit record batches of exactly that schema and Spark is handed
its ``from_arrow_schema``.  The scan-side jobs -- :func:`encode_parquet_dataset`,
:func:`encode_to_parquet` and :func:`decode_to_parquet` -- run through one
split planner (:func:`_map_splits`), and both task-side sinks commit part
files through one atomic helper (``parquet.writer._commit_part_file``).
"""

from __future__ import annotations

import json
from bisect import bisect_left, bisect_right
from collections.abc import Callable, Iterator
from itertools import accumulate

import numpy as np
import pandas as pd
import pyarrow as pa

from .chunk import decode_array, encode_array
from .kernels.rle import rle_hybrid_decode, rle_hybrid_encode
from .kernels.varint import read_uvarint, write_uvarint

GROUP_MAGIC = b"SCG1"
GROUP_VERSION = 2  # v2 adds an optional per-column bloom-filter section

DEFAULT_CHUNK_ROWS = 65536
DEFAULT_TOKEN_BUDGET = 1 << 22  # list elements per chunk group

# the columns every encoded chunk row starts with, ahead of its payload
# cell column(s) and the aux columns (see _encode_plan)
_ENCODED_BASE = [
    ("part_id", pa.int32()), ("bucket", pa.int32()), ("chunk_seq", pa.int32()),
    ("chunk_id", pa.int64()), ("n_rows", pa.int64()), ("n_tokens", pa.int64()),
    ("bytes_in", pa.int64()), ("bytes_out", pa.int64()), ("encode_ms", pa.float64()),
    ("schema_json", pa.string()), ("meta_json", pa.string()),
]


# ---------- type naming ----------

def _type_name(t: pa.DataType):
    if pa.types.is_map(t):
        return {"map": [_type_name(t.key_type), _type_name(t.item_type)]}
    if pa.types.is_struct(t):
        # nested spec kept as JSON structure, not a parsed string
        return {"struct": [[f.name, _type_name(f.type)] for f in t]}
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        inner = _type_name(t.value_type)
        if isinstance(inner, dict):
            return {"list": inner}
        return f"list<{inner}>"
    if pa.types.is_timestamp(t):
        return f"timestamp[{t.unit};{t.tz or ''}]"
    if pa.types.is_date32(t):
        return "date32"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_time32(t) or pa.types.is_time64(t):
        kind = "time32" if pa.types.is_time32(t) else "time64"
        return f"{kind}[{t.unit}]"
    if pa.types.is_fixed_size_binary(t):
        return f"fixed<{t.byte_width}>"
    for name, typ in _PRIMS.items():
        if t.equals(typ):
            return name
    if pa.types.is_large_string(t):
        return "string"
    if pa.types.is_large_binary(t):
        return "binary"
    raise TypeError(f"unsupported type {t}")


_PRIMS = {
    "int32": pa.int32(), "int64": pa.int64(), "float32": pa.float32(),
    "float64": pa.float64(), "bool": pa.bool_(), "string": pa.string(),
    "binary": pa.binary(), "date32": pa.date32(),
    "int8": pa.int8(), "int16": pa.int16(),
    "uint8": pa.uint8(), "uint16": pa.uint16(),
    "uint32": pa.uint32(), "uint64": pa.uint64(),
    "float16": pa.float16(),
}


def _type_from_name(name) -> pa.DataType:
    if isinstance(name, dict):
        if "struct" in name:
            return pa.struct([pa.field(n, _type_from_name(t)) for n, t in name["struct"]])
        if "list" in name:
            return pa.list_(_type_from_name(name["list"]))
        if "map" in name:
            k, v = name["map"]
            return pa.map_(_type_from_name(k), _type_from_name(v))
        raise TypeError(f"bad type spec {name}")
    if name.startswith("list<"):
        return pa.list_(_type_from_name(name[5:-1]))
    if name.startswith("timestamp["):
        unit, tz = name[10:-1].split(";")
        return pa.timestamp(unit, tz or None)
    if name.startswith("decimal("):
        p, s = name[8:-1].split(",")
        return pa.decimal128(int(p), int(s))
    if name.startswith("time32["):
        return pa.time32(name[7:-1])
    if name.startswith("time64["):
        return pa.time64(name[7:-1])
    if name.startswith("fixed<"):
        return pa.binary(int(name[6:-1]))
    return _PRIMS[name]


def spark_schema_from_names(pairs: list[list[str]]):
    from pyspark.sql.types import (
        ArrayType, BinaryType, BooleanType, DoubleType, FloatType,
        IntegerType, LongType, StringType, StructField, StructType,
    )

    from pyspark.sql.types import DateType, TimestampType

    from pyspark.sql.types import ByteType, DecimalType, ShortType

    # unsigned widths follow Spark's own parquet-reader conventions:
    # uint8 -> short, uint16 -> int, uint32 -> long, uint64 -> decimal(20,0)
    prim = {
        "int32": IntegerType(), "int64": LongType(), "float32": FloatType(),
        "float64": DoubleType(), "bool": BooleanType(), "string": StringType(),
        "binary": BinaryType(), "date32": DateType(),
        "int8": ByteType(), "int16": ShortType(),
        "uint8": ShortType(), "uint16": IntegerType(),
        "uint32": LongType(), "uint64": DecimalType(20, 0),
        "float16": FloatType(),
    }

    def conv(name):
        if isinstance(name, dict):
            if "struct" in name:
                return StructType([StructField(n, conv(t), True)
                                   for n, t in name["struct"]])
            if "map" in name:
                from pyspark.sql.types import MapType

                return MapType(conv(name["map"][0]), conv(name["map"][1]), True)
            return ArrayType(conv(name["list"]))
        if name.startswith("list<"):
            # recurse: element may itself be list<...>/timestamp/decimal (ADVICE r1)
            return ArrayType(conv(name[5:-1]))
        if name.startswith("timestamp["):
            return TimestampType()
        if name.startswith("decimal("):
            p, s = name[8:-1].split(",")
            return DecimalType(int(p), int(s))
        if name.startswith(("time32[", "time64[")):
            # Spark 4.1's Arrow bridge rejects arrow TIME outright
            # (UNSUPPORTED_ARROWTYPE), even though TimeType exists
            raise NotImplementedError(
                "Spark's Arrow bridge cannot receive TIME columns; decode "
                "this dataset with decode_to_parquet (native time types "
                "preserved by our writer) or exclude the time column via "
                "decode_dataframe(columns=[...])")
        if name.startswith("fixed<"):
            return BinaryType()
        return prim[name]

    return StructType([StructField(n, conv(t), True) for n, t in pairs])


# ---------- chunk-group blob ----------

def _encode_list_column(arr: pa.Array, compress: bool) -> tuple[bytes, dict]:
    n = len(arr)
    null_count = arr.null_count
    lens = arr.value_lengths()
    if null_count:
        lens = lens.fill_null(0)
    lens_np = lens.to_numpy(zero_copy_only=False).astype(np.int64)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens_np, out=offsets[1:])
    values = arr.flatten()  # null/slice-safe concatenation of list contents

    out = bytearray()
    write_uvarint(out, n)
    write_uvarint(out, null_count)
    if 0 < null_count < n:
        validity = np.asarray(arr.is_valid()).astype(np.uint64)
        vbuf = rle_hybrid_encode(validity, 1)
        write_uvarint(out, len(vbuf))
        out.extend(vbuf)
    off_chunk, off_meta = encode_array(pa.array(offsets), compress=compress)
    val_chunk, val_meta = _encode_any_column(values, compress)
    write_uvarint(out, len(off_chunk))
    out.extend(off_chunk)
    write_uvarint(out, len(val_chunk))
    out.extend(val_chunk)
    meta = {
        "kind": "list",
        "n_values": n,
        "null_count": null_count,
        "codec": f"offsets:{off_meta['codec']}|values:{val_meta['codec']}",
        "offsets": off_meta,
        "values": val_meta,
        "bytes_out": len(out),
    }
    return bytes(out), meta


def _decode_list_column(buf, value_type: pa.DataType) -> pa.Array:
    mv = memoryview(buf)
    n, pos = read_uvarint(mv, 0)
    null_count, pos = read_uvarint(mv, pos)
    validity = None
    if 0 < null_count < n:
        vlen, pos = read_uvarint(mv, pos)
        validity = rle_hybrid_decode(mv[pos : pos + vlen], 1, n).astype(bool)
        pos += vlen
    olen, pos = read_uvarint(mv, pos)
    offsets64 = decode_array(mv[pos : pos + olen]).to_numpy(zero_copy_only=False).astype(np.int64)
    pos += olen
    vlen2, pos = read_uvarint(mv, pos)
    values = _decode_any_column(mv[pos : pos + vlen2], value_type)
    # keep int64 offsets (LargeList) when the flattened chunk exceeds int32
    # range -- a raised token_budget must not silently wrap offsets (ADVICE r1)
    large = len(offsets64) and int(offsets64[-1]) >= (1 << 31)
    offsets = offsets64 if large else offsets64.astype(np.int32)
    if null_count == n:
        off_pa = pa.array(offsets, mask=np.concatenate([np.ones(n, bool), [False]]))
    elif validity is not None:
        off_pa = pa.array(offsets, mask=np.concatenate([~validity, [False]]))
    else:
        off_pa = pa.array(offsets)
    cls = pa.LargeListArray if large else pa.ListArray
    return cls.from_arrays(off_pa, values)


def _encode_map_column(arr: pa.Array, compress: bool) -> tuple[bytes, dict]:
    """Map column: rebased offsets + key/value sub-chunks (a map is
    physically list<struct<key,value>>; reference normalizes Map/object
    entries the same way, reference: src/dremel.js:173-192)."""
    n = len(arr)
    null_count = arr.null_count
    off_abs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lo, hi = int(off_abs[0]), int(off_abs[-1])
    # .keys/.items are NOT slice-adjusted in pyarrow: window them manually
    keys = arr.keys.slice(lo, hi - lo)
    items = arr.items.slice(lo, hi - lo)
    out = bytearray()
    write_uvarint(out, n)
    write_uvarint(out, null_count)
    if 0 < null_count < n:
        validity = np.asarray(arr.is_valid()).astype(np.uint64)
        vbuf = rle_hybrid_encode(validity, 1)
        write_uvarint(out, len(vbuf))
        out.extend(vbuf)
    off_chunk, off_meta = encode_array(pa.array(off_abs - lo), compress=compress)
    key_chunk, key_meta = _encode_any_column(keys, compress)
    item_chunk, item_meta = _encode_any_column(items, compress)
    for blob in (off_chunk, key_chunk, item_chunk):
        write_uvarint(out, len(blob))
        out.extend(blob)
    return bytes(out), {
        "kind": "map", "n_values": n, "null_count": null_count,
        "codec": (f"offsets:{off_meta['codec']}|keys:{key_meta['codec']}"
                  f"|values:{item_meta['codec']}"),
        "offsets": off_meta, "keys": key_meta, "values": item_meta,
        "bytes_out": len(out),
    }


def _decode_map_column(buf, target: pa.DataType) -> pa.Array:
    mv = memoryview(buf)
    n, pos = read_uvarint(mv, 0)
    null_count, pos = read_uvarint(mv, pos)
    validity = None
    if 0 < null_count < n:
        vlen, pos = read_uvarint(mv, pos)
        validity = rle_hybrid_decode(mv[pos : pos + vlen], 1, n).astype(bool)
        pos += vlen
    parts = []
    for _ in range(3):
        blen, pos = read_uvarint(mv, pos)
        parts.append(mv[pos : pos + blen])
        pos += blen
    offsets64 = decode_array(parts[0]).to_numpy(zero_copy_only=False).astype(np.int64)
    if len(offsets64) and int(offsets64[-1]) >= (1 << 31):
        # Arrow MapArray has no Large variant: a single chunk cannot hold
        # >= 2^31 map entries.  Encode-side windowing weights map entry
        # counts, so reaching this means token_budget was raised past the
        # format's representable range.
        raise ValueError(
            f"map chunk holds {int(offsets64[-1])} entries, over Arrow's "
            "int32 map-offset limit; re-encode with a smaller token_budget")
    offsets = offsets64.astype(np.int32)
    keys = _decode_any_column(parts[1], target.key_type)
    items = _decode_any_column(parts[2], target.item_type)
    dense = pa.MapArray.from_arrays(pa.array(offsets), keys, items)
    if null_count == n:
        validity = np.zeros(n, dtype=bool)
    if validity is not None:
        # dense covers every slot (null maps encoded as empty); identity
        # take with a mask re-nulls them
        return dense.take(pa.array(np.arange(n), mask=~validity))
    return dense


def _encode_struct_column(arr: pa.Array, compress: bool) -> tuple[bytes, dict]:
    """Struct column: per-field sub-blobs + struct validity.  The Dremel
    generality of the reference (src/dremel.js:16-163) reduces, for
    structs, to per-child encoding plus one definition level per ancestor,
    which Arrow already materializes as validity bitmaps."""
    n = len(arr)
    null_count = arr.null_count
    out = bytearray()
    write_uvarint(out, n)
    write_uvarint(out, null_count)
    if 0 < null_count < n:
        validity = np.asarray(arr.is_valid()).astype(np.uint64)
        vbuf = rle_hybrid_encode(validity, 1)
        write_uvarint(out, len(vbuf))
        out.extend(vbuf)
    t = arr.type
    write_uvarint(out, t.num_fields)
    metas = {}
    for i in range(t.num_fields):
        fname = t.field(i).name
        blob, meta = _encode_any_column(arr.field(i), compress)
        nb = fname.encode()
        write_uvarint(out, len(nb))
        out.extend(nb)
        write_uvarint(out, len(blob))
        out.extend(blob)
        metas[fname] = meta
    return bytes(out), {
        "kind": "struct", "n_values": n, "null_count": null_count,
        "codec": "|".join(f"{k}:{v['codec']}" for k, v in metas.items()),
        "fields": metas, "bytes_out": len(out),
    }


def _decode_struct_column(buf, target: pa.DataType) -> pa.Array:
    mv = memoryview(buf)
    n, pos = read_uvarint(mv, 0)
    null_count, pos = read_uvarint(mv, pos)
    validity = None
    if 0 < null_count < n:
        vlen, pos = read_uvarint(mv, pos)
        validity = rle_hybrid_decode(mv[pos : pos + vlen], 1, n).astype(bool)
        pos += vlen
    n_fields, pos = read_uvarint(mv, pos)
    children = []
    names = []
    for _ in range(n_fields):
        nlen, pos = read_uvarint(mv, pos)
        fname = bytes(mv[pos : pos + nlen]).decode()
        pos += nlen
        blen, pos = read_uvarint(mv, pos)
        ftype = target.field(fname).type
        children.append(_decode_any_column(mv[pos : pos + blen], ftype))
        names.append(fname)
        pos += blen
    mask = None
    if null_count == n:
        mask = pa.array(np.ones(n, dtype=bool))
    elif validity is not None:
        mask = pa.array(~validity)
    return pa.StructArray.from_arrays(children, names=names, mask=mask)


def _widen_for_chunk(col: pa.Array) -> pa.Array:
    """Lower arrow types the chunk codecs don't tag natively to a
    supported integer physical type.  Lossless: schema_json records the
    ORIGINAL type name and :func:`_decode_any_column` restores it.
    uint64 is reinterpreted (view) rather than cast -- values above
    2^63-1 must survive bit-exactly."""
    t = col.type
    if t.equals(pa.uint64()):
        return col.view(pa.int64())
    if pa.types.is_integer(t) and t.bit_width < 32:  # int8/16, uint8/16
        return col.cast(pa.int32())
    if t.equals(pa.uint32()):
        return col.cast(pa.int64())
    if pa.types.is_time32(t):
        return col.cast(pa.int32())
    if pa.types.is_time64(t):
        return col.cast(pa.int64())
    return col


def _encode_any_column(col: pa.Array, compress: bool) -> tuple[bytes, dict]:
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    t = col.type
    if pa.types.is_map(t):
        return _encode_map_column(col, compress)
    if pa.types.is_struct(t):
        return _encode_struct_column(col, compress)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return _encode_list_column(col, compress)
    blob, meta = encode_array(_widen_for_chunk(col), compress=compress)
    if t.equals(pa.uint64()) and meta.get("min") is not None:
        import pyarrow.compute as pc

        # the chunk encoded the int64 BIT PATTERN, whose signed order is
        # wrong above 2^63: publish the true unsigned bounds in the meta
        mm = pc.min_max(col.drop_null() if col.null_count else col)
        meta = {**meta, "min": int(mm["min"].as_py()),
                "max": int(mm["max"].as_py())}
    return blob, meta


def _decode_any_column(buf, target: pa.DataType) -> pa.Array:
    if pa.types.is_map(target):
        return _decode_map_column(buf, target)
    if pa.types.is_struct(target):
        return _decode_struct_column(buf, target)
    if pa.types.is_list(target) or pa.types.is_large_list(target):
        return _decode_list_column(buf, target.value_type)
    arr = decode_array(buf)
    if not arr.type.equals(target):
        if target.equals(pa.uint64()):
            # stored as the int64 bit pattern (see _widen_for_chunk);
            # a cast would overflow on values past 2^63-1
            arr = arr.view(pa.uint64())
        else:
            arr = arr.cast(target)
    return arr


def _column_hashes(col: pa.Array) -> np.ndarray | None:
    """xxhash64 of each non-null value's canonical bytes (for blooms)."""
    from .kernels.bloom import xxhash64_int64, xxhash64_matrix

    dense = col.drop_null() if col.null_count else col
    t = dense.type
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        # ELEMENT-level bloom: hash the flattened element values (null
        # rows and null elements contribute nothing).  A "does any row's
        # array contain value X" probe then reuses the same scalar probe
        # hashes -- the token-native needle query over the contract's
        # tokens array<int32> payload
        return _column_hashes(dense.flatten())
    if pa.types.is_date32(t):
        # no direct date32->int64 cast in pyarrow: go through the int32
        # day count (the canonical int the probe hashes)
        dense = dense.cast(pa.int32())
        t = dense.type
    if t.equals(pa.uint64()):
        # reinterpret, never cast: values above 2^63-1 must hash their
        # bit pattern (the probe wraps the same way)
        return xxhash64_int64(dense.view(pa.int64()).to_numpy(zero_copy_only=False))
    if pa.types.is_integer(t) or pa.types.is_timestamp(t):
        return xxhash64_int64(dense.cast(pa.int64()).to_numpy(zero_copy_only=False))
    if pa.types.is_string(t) or pa.types.is_large_string(t) or \
            pa.types.is_binary(t) or pa.types.is_large_binary(t):
        from .kernels.plain import binary_buffers

        offsets, data = binary_buffers(dense)
        lens = np.diff(offsets).astype(np.int64)
        n = len(lens)
        if n == 0:
            return np.zeros(0, dtype=np.uint64)
        # hash in equal-length groups: memory stays O(total bytes), never
        # O(n x longest value) -- one megabyte document in a chunk must
        # not inflate every other row's padded width
        out = None
        for length in np.unique(lens):
            idx = np.flatnonzero(lens == length)
            length = int(length)
            if length == 0:
                mat = np.zeros((len(idx), 1), dtype="u1")
            else:
                mat = data[offsets[:-1][idx][:, None] + np.arange(length)]
            h = xxhash64_matrix(mat, np.full(len(idx), length, dtype=np.int64))
            if out is None:
                out = np.empty(n, dtype=h.dtype)
            out[idx] = h
        return out
    return None


N_MAG_BUCKETS = 128  # 0, pos bit-lengths 1..63, 64 + neg magnitude bits


def _magnitude_bucket_counts(col: pa.Array) -> np.ndarray | None:
    """Power-of-two magnitude histogram of an int-like column (list
    columns: their ELEMENTS).  Bucket 0 holds zeros, 1..63 positive values
    by bit length, 64+k negatives by bit length of ~v (two's-complement
    safe for INT64_MIN).  Deterministic, merges by elementwise SUM, and
    replayable exactly in SQL (length(bin(x))) -- the profiling/selectivity
    metadata zone maps can't give (min/max says nothing about skew)."""
    from .kernels.bitpack import bit_widths

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    dense = col.drop_null() if col.null_count else col
    t = dense.type
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return _magnitude_bucket_counts(dense.flatten())
    if pa.types.is_date32(t):
        dense = dense.cast(pa.int32())
        t = dense.type
    if not (pa.types.is_integer(t) or pa.types.is_timestamp(t)):
        return None
    v = dense.cast(pa.int64()).to_numpy(zero_copy_only=False)
    buckets = np.zeros(len(v), dtype=np.int64)
    pos = v > 0
    neg = v < 0
    if pos.any():
        buckets[pos] = bit_widths(v[pos].astype(np.uint64)).astype(np.int64)
    if neg.any():
        buckets[neg] = 64 + bit_widths((~v[neg]).astype(np.uint64)).astype(np.int64)
    return np.bincount(buckets, minlength=N_MAG_BUCKETS)


def _encode_group_columns(batch: pa.Table | pa.RecordBatch, compress: bool,
                          bloom_columns: tuple[str, ...] = (),
                          bloom_sink: dict[str, bytes] | None = None,
                          ndv_columns: tuple[str, ...] = (),
                          ndv_sink: dict[str, bytes] | None = None,
                          ) -> tuple[list[tuple[str, bytes, bytes]], dict, list[list[str]], int]:
    """Per-column encode loop shared by both payload layouts.  Returns
    ([(name, column blob, bloom bytes)], per-column meta, schema pairs,
    n_tokens)."""
    from .kernels.bloom import build_bloom

    cols: list[tuple[str, bytes, bytes]] = []
    metas: dict[str, dict] = {}
    pairs: list[list[str]] = []
    n_tokens = 0
    for name in batch.schema.names:
        col = batch.column(name)
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        tname = _type_name(col.type)
        pairs.append([name, tname])
        blob, meta = _encode_any_column(col, compress)
        if meta.get("kind") == "list":
            n_tokens += int(meta["values"]["n_values"])
        bloom_bytes = b""
        # scalar columns bloom/sketch their values; list columns their
        # ELEMENTS (struct/map shapes return no hashes and build nothing).
        # Both consumers share ONE canonical-hash pass over the column.
        want_bloom = name in bloom_columns and isinstance(tname, str)
        want_ndv = (ndv_sink is not None and name in ndv_columns
                    and isinstance(tname, str))
        if want_bloom or want_ndv:
            hashes = _column_hashes(col)
            if hashes is not None:
                if want_bloom and len(hashes):
                    bloom = build_bloom(hashes)
                    if bloom is not None:
                        bloom_bytes = bloom.to_bytes()
                        meta["bloom_bytes"] = len(bloom_bytes)
                        if bloom_sink is not None:
                            bloom_sink[name] = bloom_bytes
                if want_ndv:
                    from .kernels.hll import hll_sketch

                    ndv_sink[name] = hll_sketch(hashes)
        cols.append((name, blob, bloom_bytes))
        metas[name] = meta
    return cols, metas, pairs, n_tokens


def _group_blob(n_rows: int, cols: list[tuple[str, bytes, bytes]]) -> bytes:
    """The single-blob layout of one chunk row: a header, then each
    column's (name, bloom, cell) section -- the same cells the per-column
    layout stores as ``payload_<col>``."""
    out = bytearray()
    out.extend(GROUP_MAGIC)
    out.append(GROUP_VERSION)
    write_uvarint(out, n_rows)
    write_uvarint(out, len(cols))
    for name, blob, bloom_bytes in cols:
        for section in (name.encode(), bloom_bytes, blob):
            write_uvarint(out, len(section))
            out.extend(section)
    return bytes(out)


def encode_chunk_group(batch: pa.Table | pa.RecordBatch, compress: bool = True,
                       bloom_columns: tuple[str, ...] = (),
                       bloom_sink: dict[str, bytes] | None = None,
                       ndv_columns: tuple[str, ...] = (),
                       ndv_sink: dict[str, bytes] | None = None) -> tuple[bytes, dict, list[list[str]], int]:
    """Encode all columns of a row window into ONE self-describing group
    blob.  Returns (blob, per-column meta, schema pairs, n_tokens).

    The blob is the single-blob layout of the per-column cells every
    encode produces (:func:`_encode_group_columns`); ``split_payload=True``
    on the encode entry points stores the same cells as one
    ``payload_<col>`` BINARY column each instead.

    ``bloom_columns`` opt in per-column split-block bloom filters stored in
    the group blob (reference analog: per-chunk bloom, src/bloom.js), used
    by :func:`group_may_contain` for chunk pruning without decode.
    When ``bloom_sink`` is given, each built bloom's bytes are also stored
    there (column name -> SBBF bytes) so callers can emit them as
    dedicated top-level columns -- the IO-prunable probe path
    (:func:`filter_chunks_may_contain` reads those kilobyte columns and
    never scans ``payload``).
    """
    cols, metas, pairs, n_tokens = _encode_group_columns(
        batch, compress, bloom_columns, bloom_sink, ndv_columns, ndv_sink)
    return _group_blob(len(batch), cols), metas, pairs, n_tokens


def _group_sections(blob) -> tuple[int, dict, dict]:
    """The one chunk-group header walk: ``(n_rows, cells, blooms)``, with
    each column's encoded cell and its non-empty bloom section as
    zero-copy views.  A bad magic, an unknown version, a section running
    past the end and bytes after the last section raise ValueError."""
    mv = memoryview(blob)
    if bytes(mv[:4]) != GROUP_MAGIC:
        raise ValueError("bad chunk-group magic")
    version = mv[4] if len(mv) > 4 else None
    if version not in (1, 2):
        raise ValueError(f"unsupported chunk-group version {version}")
    pos = 5

    def section():
        nonlocal pos
        n, pos = read_uvarint(mv, pos)
        if pos + n > len(mv):
            raise ValueError("truncated chunk group: a section runs past "
                             "the end of the blob")
        pos += n
        return mv[pos - n:pos]

    cells: dict[str, memoryview] = {}
    blooms: dict[str, memoryview] = {}
    try:
        n_rows, pos = read_uvarint(mv, pos)
        n_cols, pos = read_uvarint(mv, pos)
        for _ in range(n_cols):
            name = bytes(section()).decode()
            bloom = section() if version >= 2 else None
            cells[name] = section()
            if bloom:
                blooms[name] = bloom
    except IndexError:
        raise ValueError("truncated chunk-group header") from None
    if pos != len(mv):
        raise ValueError(f"{len(mv) - pos} bytes trail the last chunk-group "
                         "section")
    return n_rows, cells, blooms


def _bloom_admits(bloom, hashes, require_all: bool) -> bool:
    """A bloom's verdict on the probe ``hashes``: admits ANY (or, with
    ``require_all``, EVERY) of them.  No bloom admits everything."""
    if not bloom:
        return True
    from .kernels.bloom import SplitBlockBloom

    hits = SplitBlockBloom.from_bytes(bytes(bloom)).might_contain(hashes)
    return bool(hits.all() if require_all else hits.any())


def group_may_contain(blob, column: str, value, ts_unit: str = "us") -> bool:
    """Bloom probe on an encoded chunk group WITHOUT decoding the data.
    True if the chunk may contain ``value`` in ``column`` (always True when
    the column carries no bloom filter).  ``ts_unit`` is the encoded
    timestamp unit for datetime probes (see :func:`_probe_hash`)."""
    return group_may_contain_hashes(blob, column, _probe_hash(value, ts_unit))


def group_may_contain_hashes(blob, column: str, hashes,
                             require_all: bool = False) -> bool:
    """Bloom probe with precomputed xxhash64 values: ONE header walk and
    ONE SplitBlockBloom parse per blob regardless of how many probe
    hashes are tested (the IN-list path).  ``require_all`` flips the
    verdict to "admits EVERY hash" (the contains-all pruning shape)."""
    _, _, blooms = _group_sections(blob)
    return _bloom_admits(blooms.get(column), hashes, require_all)


def _decode_cells(types: dict, cells: dict, n_rows: int,
                  names: list[str] | None = None,
                  del_mask=None) -> pa.RecordBatch:
    """The per-row decode step of every reader: decode the ``names`` cells
    of one chunk row (None = all, in stored order), check each column
    holds ``n_rows`` values, and drop the rows a ``del_mask`` bitmap marks
    deleted."""
    names = list(cells) if names is None else names
    arrays = []
    for name in names:
        arr = _decode_any_column(cells[name], _type_from_name(types[name]))
        if len(arr) != n_rows:
            raise ValueError(f"column {name!r} decodes to {len(arr)} rows "
                             f"but its chunk holds {n_rows}")
        arrays.append(arr)
    rb = pa.RecordBatch.from_arrays(arrays, names=names)
    if del_mask is not None:
        rb = rb.filter(pa.array(~_decode_delete_mask(del_mask, n_rows)))
    return rb


def decode_chunk_group(blob, pairs: list[list[str]],
                       columns: set[str] | None = None) -> pa.RecordBatch:
    """Decode a chunk-group blob.  ``columns`` prunes decoding to the named
    columns -- the payload bytes of other columns are skipped entirely
    (column pruning inside the chunk, no wasted decompression)."""
    n_rows, cells, _ = _group_sections(blob)
    names = [n for n in cells if columns is None or n in columns]
    return _decode_cells(dict(pairs), cells, n_rows, names)


def _split_layout(columns) -> bool:
    """Which payload layout an encoded table's ``columns`` hold: True for
    one ``payload_<col>`` cell column per source column, False for the
    single ``payload`` blob."""
    return "payload" not in columns


def _payload_columns(columns, names: list[str] | None = None) -> list[str]:
    """The encoded columns to read for the cells of source columns
    ``names`` (None = all): the ``payload`` blob, or only the named
    ``payload_<col>`` columns -- the projection that lets the parquet
    reader of a per-column table skip the other columns' bytes."""
    if not _split_layout(columns):
        return ["payload"]
    if names is None:
        return [c for c in columns if c.startswith("payload_")]
    missing = [n for n in names if f"payload_{n}" not in columns]
    if missing:
        raise ValueError(
            f"encoded table has no payload_<col> column for {missing}; "
            f"available: {[c for c in columns if c.startswith('payload_')]}")
    return [f"payload_{n}" for n in names]


def _row_cells(b: pa.RecordBatch) -> Iterator[tuple[int, dict, dict]]:
    """The one map from encoded rows to cells: ``(n_rows, cells, blooms)``
    per row of ``b``, shaped like :func:`_group_sections`.  A ``payload``
    blob goes through the header walk; ``payload_<col>`` cells are read
    directly (their blooms, if any, are ``bloom_<col>`` columns)."""
    names = b.schema.names
    if not _split_layout(names):
        for blob in _binary_cells(b.column(names.index("payload"))):
            yield _group_sections(blob)
        return
    cols = {n[len("payload_"):]: _binary_cells(b.column(j))
            for j, n in enumerate(names) if n.startswith("payload_")}
    for i, n_rows in enumerate(b.column(names.index("n_rows")).to_pylist()):
        yield n_rows, {c: v[i] for c, v in cols.items()}, {}


def _decode_rows(b: pa.RecordBatch,
                 names: list[str] | None = None) -> Iterator[pa.RecordBatch]:
    """Decode the live rows of every encoded row in ``b`` (``schema_json``,
    ``n_rows``, the payload cells, and ``del_mask`` / ``n_live`` when the
    table carries deletes): chunks with ``n_live = 0`` are skipped, the
    rest go through :func:`_decode_cells`."""
    def column(name):
        i = b.schema.get_field_index(name)
        return b.column(i).to_pylist() if i >= 0 else [None] * len(b)

    schemas, masks, lives = column("schema_json"), column("del_mask"), column("n_live")
    for i, (n_rows, cells, _) in enumerate(_row_cells(b)):
        if lives[i] != 0:
            yield _decode_cells(dict(json.loads(schemas[i])), cells, n_rows,
                                names, masks[i])


# ---------- chunk windowing ----------

def _window_boundaries(weights: np.ndarray, max_rows: int, budget: int) -> list[tuple[int, int]]:
    """Split rows into windows bounded by row count and summed weight."""
    n = len(weights)
    cum = np.cumsum(weights, dtype=np.int64)
    spans = []
    start = 0
    while start < n:
        end_rows = min(start + max_rows, n)
        target = (cum[start - 1] if start else 0) + budget
        end_w = int(np.searchsorted(cum, target, side="left")) + 1
        end = max(start + 1, min(end_rows, end_w))
        spans.append((start, end))
        start = end
    return spans


# ---------- the encode plan ----------

def _stat_fields(schema: pa.Schema, stat_columns: tuple[str, ...]) -> list[tuple[str, pa.DataType]]:
    """(name, type) pairs for the typed per-chunk min/max columns, lowered
    to Spark-bridge-compatible arrow types (the stat columns ride the
    encoded DataFrame back through the JVM)."""
    out = []
    for c in stat_columns:
        t = schema.field(c).type
        if pa.types.is_list(t) or pa.types.is_large_list(t) or \
                pa.types.is_struct(t) or pa.types.is_map(t):
            raise TypeError(f"stat_columns must be scalar, got {c}: {t}")
        if t.equals(pa.uint64()):
            raise TypeError(
                f"stat_columns entry {c!r} is uint64: min/max above 2^63 "
                "have no Spark-orderable integer representation; cast the "
                "column or drop the stat")
        if pa.types.is_time32(t) or pa.types.is_time64(t):
            raise TypeError(
                f"stat_columns entry {c!r} is a TIME column: Spark's Arrow "
                "bridge rejects arrow TIME, so typed stat columns cannot "
                "carry it; use the JSON meta stats (encode without "
                "stat_columns) or cast the column")
        t = _spark_arrow_type(t)
        out.append((f"min_{c}", t))
        out.append((f"max_{c}", t))
    return out


def _agg_fields(schema: pa.Schema, agg_columns: tuple[str, ...]) -> list[tuple[str, pa.DataType]]:
    """(name, type) pairs for the typed per-chunk aggregate columns:
    ``cnt_<col>`` (non-null value count, int64) and ``sum_<col>`` (int64
    for integer inputs, float64 for floats).  These are the ORC-style
    stripe sums the reference's footer stats lack (reference
    src/metadata.js keeps min/max/null_count only,
    src/parquet-writer.js:75-80); together with min_/max_ stat columns
    they let :func:`aggregate_encoded` answer global
    count/sum/min/max/avg from chunk metadata alone -- zero payload IO."""
    out = []
    for c in agg_columns:
        t = schema.field(c).type
        if pa.types.is_integer(t):
            if t.equals(pa.uint64()):
                raise TypeError(
                    f"agg_columns entry {c!r} is uint64: sums above 2^63 "
                    "have no Spark integer representation; cast the column "
                    "or drop the aggregate")
            sum_t = pa.int64()
        elif pa.types.is_floating(t):
            sum_t = pa.float64()
        else:
            raise TypeError(
                f"agg_columns entry {c!r} has type {t}: per-chunk sums are "
                "defined for integer and float columns only (strings/"
                "timestamps/decimals/bools have no additive aggregate)")
        out.append((f"cnt_{c}", pa.int64()))
        out.append((f"sum_{c}", sum_t))
    return out


def _hashed_type(t: pa.DataType) -> pa.DataType:
    """The type of the values an aux column hashes or buckets: the element
    type of a (nested) list column, else the column's own type."""
    while pa.types.is_list(t) or pa.types.is_large_list(t):
        t = t.value_type
    return t


def _is_bloomable(t: pa.DataType) -> bool:
    """A column can carry an SBBF -- and an NDV sketch, over the same
    hashes -- when its (element) values have canonical hash bytes: int/
    string/binary/timestamp/date, or an array of such.  Array columns
    bloom their ELEMENTS (the token-native needle shape over the
    contract's ``tokens array<int32>`` payload)."""
    t = _hashed_type(t)
    return (pa.types.is_integer(t) or pa.types.is_string(t)
            or pa.types.is_large_string(t) or pa.types.is_binary(t)
            or pa.types.is_large_binary(t) or pa.types.is_timestamp(t)
            or pa.types.is_date32(t))


def _is_histable(t: pa.DataType) -> bool:
    """Magnitude histograms need int-like (element) values: scalar
    int/timestamp/date or an array of such (elements are bucketed)."""
    t = _hashed_type(t)
    return (pa.types.is_integer(t) or pa.types.is_timestamp(t)
            or pa.types.is_date32(t))


def _encode_plan(names: list[str], types: pa.Schema, *,
                 read_columns: list[str] | None = None,
                 split_payload: bool = False,
                 bloom_columns: tuple[str, ...] = (),
                 ndv_columns: tuple[str, ...] = (),
                 hist_columns: tuple[str, ...] = (),
                 stat_columns: tuple[str, ...] = (),
                 agg_columns: tuple[str, ...] = (),
                 ) -> tuple[tuple[str, ...] | None, pa.Schema]:
    """The one driver-side plan of every encode: check the aux columns
    against their arrow types and return ``(payload_columns, out_schema)``.
    Workers emit record batches of exactly ``out_schema``
    (:func:`_encode_batch_stream`), and Spark is handed
    ``from_arrow_schema(out_schema)``.

    ``names`` are the source columns, ``types`` holds the arrow type of
    (at least) every aux column, ``read_columns`` is a scan-side read
    projection.  ``payload_columns`` is None for the ``payload`` blob
    layout, else the ``payload_<col>`` order: the read projection, or
    ``names``.  ``out_schema`` columns: the base columns, the payload
    cell column(s), then ``bloom_``/``ndv_``/``hist_<col>``,
    ``min_``/``max_<col>`` and ``cnt_``/``sum_<col>``.

    Rejected, so that no aux column silently never prunes:

    * names with '.'/'`' (the derived bloom_<col>/min_<col> output
      columns are referenced by unquoted name in the probe/prune paths);
    * columns outside the read projection (stats would KeyError
      executor-side, blooms would emit all-null);
    * columns that do not exist;
    * bloom/ndv columns without canonical hash bytes (float/decimal/bool)
      and hist columns that are not int-like;
    * stat/agg columns with no Spark-orderable or additive type
      (``TypeError`` from :func:`_stat_fields` / :func:`_agg_fields`).
    """
    hashed = (*bloom_columns, *ndv_columns)
    for c in (*hashed, *stat_columns, *agg_columns, *hist_columns):
        if "." in c or "`" in c:
            raise ValueError(
                f"bloom/stat column name {c!r} contains '.' or '`': the "
                "derived bloom_<col>/min_<col> output columns are referenced "
                "by unquoted name in the probe/prune paths; rename the "
                "column first")
        if read_columns is not None and c not in read_columns:
            raise ValueError(
                f"bloom/stat column {c!r} is not in the read projection "
                f"{sorted(read_columns)}; add it to columns= or drop it")
        if c not in names:
            raise ValueError(
                f"bloom/stat column {c!r} does not exist; schema has "
                f"{sorted(names)} (a misspelled bloom column "
                "would otherwise emit all-null blooms that never prune)")
    for c in hashed:
        t = types.field(c).type
        if not _is_bloomable(t):
            raise ValueError(
                f"bloom_columns/ndv_columns entry {c!r} has type {t}: "
                "blooms are built -- and NDV sketches share the rule -- for "
                "int/string/binary/timestamp/date columns (or arrays of "
                "those, hashed element-wise) only (float/decimal/bool "
                "values have no canonical hash bytes)")
    for c in hist_columns:
        t = types.field(c).type
        if not _is_histable(t):
            raise ValueError(
                f"hist_columns entry {c!r} has type {t}: magnitude "
                "histograms are built for int/timestamp/date columns (or "
                "arrays of those, bucketed element-wise) only")
    payload_columns = None
    payload = ["payload"]
    if split_payload:
        payload_columns = tuple(names if read_columns is None else read_columns)
        for c in payload_columns:
            # the decoders select payload_<col> by backtick-quoted name
            if "`" in c:
                raise ValueError(
                    f"split_payload column name {c!r} contains '`': the "
                    "derived payload_<col> output column cannot be quoted "
                    "in a Spark column reference; rename the column first")
        payload = [f"payload_{c}" for c in payload_columns]
    fields = [*_ENCODED_BASE,
              *[(n, pa.binary()) for n in payload],
              *[(f"bloom_{c}", pa.binary()) for c in bloom_columns],
              *[(f"ndv_{c}", pa.binary()) for c in ndv_columns],
              *[(f"hist_{c}", pa.list_(pa.int64())) for c in hist_columns],
              *_stat_fields(types, stat_columns),
              *_agg_fields(types, agg_columns)]
    return payload_columns, pa.schema(fields)


def _encode_batch_stream(batches: Iterator[pa.RecordBatch], part_id: int,
                         out_schema: pa.Schema, chunk_rows: int,
                         token_budget: int, compress,
                         partition_col: str | None = None,
                         seq_start: int = 0) -> Iterator[pa.RecordBatch]:
    """Shared worker-side encode loop: window incoming Arrow batches by row
    count + token weight, encode each window as one chunk group, emit one
    encoded row per chunk as a record batch of ``out_schema`` (the plan of
    :func:`_encode_plan`).  Used by both :func:`encode_dataframe` (data via
    the JVM Arrow bridge) and the scan-side encodes (data read directly
    from parquet by the Python task).

    The plan is read off ``out_schema``'s names: ``payload_<col>`` fields
    select the per-column layout (their columns must equal the encoded
    ones), and each ``bloom_``/``ndv_``/``hist_``/``min_``/``cnt_<col>``
    field names a column to build that aux value for."""
    import time

    import pyarrow.compute as pc

    def planned(prefix: str) -> list[str]:
        return [n[len(prefix):] for n in out_schema.names if n.startswith(prefix)]

    payload_columns = (None if "payload" in out_schema.names
                       else tuple(planned("payload_")))
    bloom_columns, ndv_columns = planned("bloom_"), planned("ndv_")
    hist_columns, stat_columns = planned("hist_"), planned("min_")
    agg_columns = planned("cnt_")
    seq = seq_start
    pending: list[pa.RecordBatch] = []
    pending_ws: list[np.ndarray] = []  # per-batch weights, computed ONCE
    pending_rows = 0
    pending_weight = 0

    def weights_of(b) -> np.ndarray:
        for i, f in enumerate(b.schema):
            if f.name == partition_col:
                continue
            # maps are list-shaped too: entry counts must bound the window,
            # else a map-heavy chunk can exceed int32 Arrow offsets
            if pa.types.is_map(f.type):
                col = b.column(i)
                if isinstance(col, pa.ChunkedArray):
                    col = col.combine_chunks()
                # no list_value_length kernel for maps in this pyarrow:
                # per-row entry counts are the offset diffs (null rows
                # repeat their offset -> 0)
                off = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
                return np.diff(off)
            if pa.types.is_list(f.type) or pa.types.is_large_list(f.type):
                lens = pc.list_value_length(b.column(i))
                return lens.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
        return np.ones(len(b), dtype=np.int64)

    def flush(tbl: pa.Table, w: np.ndarray) -> Iterator[pa.RecordBatch]:
        nonlocal seq
        bucket = part_id
        if partition_col is not None and len(tbl):
            bucket = int(tbl.column(partition_col)[0].as_py())
            tbl = tbl.drop_columns([partition_col])
        for s, e in _window_boundaries(w, chunk_rows, token_budget):
            window = tbl.slice(s, e - s)
            bytes_in = sum(c.nbytes for c in window.columns)
            t0 = time.perf_counter()
            bloom_sink: dict[str, bytes] = {}
            ndv_sink: dict[str, bytes] = {}
            if payload_columns not in (None, tuple(window.schema.names)):
                raise ValueError(
                    "split_payload column mismatch: encoding "
                    f"{window.schema.names} but the output schema was "
                    f"declared for {list(payload_columns)}")
            cols, metas, pairs, n_tokens = _encode_group_columns(
                window, compress, bloom_columns, bloom_sink,
                ndv_columns, ndv_sink)
            if payload_columns is None:
                pay_cells = {"payload": _group_blob(len(window), cols)}
            else:
                pay_cells = {f"payload_{name}": cell for name, cell, _ in cols}
            bytes_out = sum(len(cell) for cell in pay_cells.values())
            encode_ms = (time.perf_counter() - t0) * 1000.0
            row = {
                "part_id": part_id,
                "bucket": bucket,
                "chunk_seq": seq,
                "chunk_id": (part_id << 32) | seq,
                "n_rows": len(window),
                "n_tokens": n_tokens,
                "bytes_in": int(bytes_in),
                "bytes_out": bytes_out,
                "encode_ms": encode_ms,
                "schema_json": json.dumps(pairs),
                "meta_json": json.dumps(metas, default=str),
                **pay_cells,
            }
            for c in bloom_columns:
                row[f"bloom_{c}"] = bloom_sink.get(c)
            for c in ndv_columns:
                row[f"ndv_{c}"] = ndv_sink.get(c)
            for c in hist_columns:
                counts = _magnitude_bucket_counts(window.column(c))
                row[f"hist_{c}"] = (counts.tolist() if counts is not None
                                    else None)
            for c in stat_columns:
                colv = window.column(c)
                if pa.types.is_float16(colv.type):
                    # no halffloat min_max kernel in pyarrow; the stat
                    # field is float32 anyway (_spark_arrow_type)
                    colv = colv.cast(pa.float32())
                mm = pc.min_max(colv)
                row[f"min_{c}"] = mm["min"].as_py()
                row[f"max_{c}"] = mm["max"].as_py()
            for c in agg_columns:
                colv = window.column(c)
                row[f"cnt_{c}"] = len(colv) - colv.null_count
                # cast pins the accumulator width (int64/float64); the
                # default min_count=1 makes an all-null chunk sum NULL,
                # matching SQL SUM semantics chunk-locally
                total = pc.sum(colv.cast(out_schema.field(f"sum_{c}").type))
                row[f"sum_{c}"] = total.as_py()
            seq += 1
            yield pa.RecordBatch.from_pylist([row], schema=out_schema)

    def split_by_bucket(b: pa.RecordBatch) -> list[pa.RecordBatch]:
        if partition_col is None:
            return [b]
        vals = b.column(b.schema.get_field_index(partition_col)).to_numpy(
            zero_copy_only=False)
        cuts = np.flatnonzero(vals[1:] != vals[:-1]) + 1
        if len(cuts) == 0:
            return [b]
        bounds = [0, *cuts.tolist(), len(b)]
        return [b.slice(bounds[i], bounds[i + 1] - bounds[i])
                for i in range(len(bounds) - 1)]

    def flush_pending() -> Iterator[pa.RecordBatch]:
        nonlocal pending, pending_ws, pending_rows, pending_weight
        w = (np.concatenate(pending_ws) if pending_ws
             else np.zeros(0, dtype=np.int64))
        yield from flush(pa.Table.from_batches(pending), w)
        pending, pending_ws = [], []
        pending_rows = pending_weight = 0

    cur_bucket = None
    for raw in batches:
        for b in split_by_bucket(raw):
            if partition_col is not None and len(b):
                bval = b.column(b.schema.get_field_index(partition_col))[0].as_py()
                if cur_bucket is not None and bval != cur_bucket and pending:
                    yield from flush_pending()
                cur_bucket = bval
            wb = weights_of(b)
            pending.append(b)
            pending_ws.append(wb)
            pending_rows += len(b)
            pending_weight += int(wb.sum())
            if pending_rows >= chunk_rows or pending_weight >= token_budget:
                yield from flush_pending()
    if pending:
        yield from flush_pending()


def _bare_parquet_scan(df) -> tuple[list[str], list[str] | None] | None:
    """(local parquet files, pruned columns | None) when the optimized plan
    is exactly a parquet scan with at most a simple column projection --
    the shape :func:`encode_dataframe` can reroute to the scan-side fast
    path.  None for anything else (filters, joins, generated columns,
    partitioned dirs, non-local filesystems)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        cols = None
        if plan.getClass().getSimpleName() == "Project":
            exprs = plan.projectList()
            cols = []
            for i in range(exprs.size()):
                e = exprs.apply(i)
                if e.getClass().getSimpleName() != "AttributeReference":
                    return None
                cols.append(e.name())
            plan = plan.child()
        if plan.getClass().getSimpleName() != "LogicalRelation":
            return None
        rel = plan.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        if "Parquet" not in rel.fileFormat().toString():
            return None
        if rel.partitionSchema().length() != 0:
            return None  # dir-partition columns live in paths, not files
        files = []
        for f in rel.location().inputFiles():
            if f.startswith("file://"):
                files.append(f[7:])
            elif f.startswith("file:"):
                files.append(f[5:])
            elif f.startswith("/"):
                files.append(f)
            else:
                return None  # remote fs: let pyarrow handle it explicitly
        return (files, cols) if files else None
    except Exception:
        return None


def encode_dataframe(df, chunk_rows: int = DEFAULT_CHUNK_ROWS,
                     token_budget: int = DEFAULT_TOKEN_BUDGET,
                     compress: bool = True, partition_col: str | None = None,
                     bloom_columns: tuple[str, ...] = (),
                     auto_fastpath: bool = True,
                     stat_columns: tuple[str, ...] = (),
                     agg_columns: tuple[str, ...] = (),
                     split_payload: bool = False,
                     ndv_columns: tuple[str, ...] = (),
                     hist_columns: tuple[str, ...] = ()):
    """DataFrame -> encoded chunk-group DataFrame (one row per chunk).

    ``partition_col`` names an int column carrying a deterministic bucket
    id (see :func:`assign_weight_buckets`): it is excluded from the encoded
    payload, chunks never span two bucket values (input must be sorted by
    it within partitions), and the value is recorded per chunk -- the unit
    of checkpoint/resume in :mod:`sparkcodec.manifest`.

    The JVM->Python Arrow bridge serializes array elements one at a time,
    which dominates wall clock for token tables (measured ~10-20s per 50M
    list elements on local[32] vs <0.3s of kernel).  When the input plan
    is a bare parquet scan (at most a column projection on top), the call
    transparently reroutes to :func:`encode_parquet_dataset`
    (``auto_fastpath=False`` pins the bridge path); any other plan --
    filters, joins, derived columns, explicit repartitions -- runs
    through the bridge as given.

    ``stat_columns`` adds TYPED per-chunk min_<col>/max_<col> columns to
    the output: unlike the JSON stats in ``meta_json``, filters on these
    push down into the parquet scan of the ENCODED table, so range scans
    skip whole row groups of payload bytes.

    ``agg_columns`` adds TYPED per-chunk ``cnt_<col>``/``sum_<col>``
    columns (non-null count + sum, ORC-style stripe sums): together with
    ``stat_columns`` min/max they make :func:`aggregate_encoded` a pure
    metadata scan -- global count/sum/min/max/avg without decoding one
    payload byte.

    ``split_payload=True`` emits the per-column payload layout (one
    ``payload_<col>`` BINARY column per source column instead of a single
    ``payload`` blob): decoding a projection then prunes unselected
    columns' bytes at the parquet reader of the encoded table.

    ``ndv_columns`` adds per-chunk HyperLogLog sketches (``ndv_<col>``
    BINARY, 4 KiB dense registers over the same canonical value hashes the
    bloom filters use): :func:`estimate_ndv` then answers dataset-level
    distinct counts from metadata alone (partition-local register merges,
    one blob per partition to the driver, no payload decode).

    ``hist_columns`` adds per-chunk power-of-two magnitude histograms
    (``hist_<col> ARRAY<BIGINT>``, 128 counts): exact, mergeable by
    elementwise sum, so :func:`magnitude_histogram` profiles a column's
    value distribution (skew, sign mix, width classes) metadata-only.
    """
    from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_type

    aux = (*bloom_columns, *ndv_columns, *hist_columns, *stat_columns,
           *agg_columns)
    if partition_col is not None and partition_col in aux:
        raise ValueError(
            f"partition_col {partition_col!r} cannot be a bloom/stat/agg "
            "column: it is dropped from the encoded payload")
    # the plan needs arrow types for the aux columns only
    types = pa.schema([(f.name, to_arrow_type(f.dataType))
                       for f in df.schema if f.name in aux])
    _, out_schema = _encode_plan(
        [f.name for f in df.schema if f.name != partition_col], types,
        split_payload=split_payload, bloom_columns=bloom_columns,
        ndv_columns=ndv_columns, hist_columns=hist_columns,
        stat_columns=stat_columns, agg_columns=agg_columns)
    if auto_fastpath and partition_col is None:
        scan = _bare_parquet_scan(df)
        if scan is not None:
            files, cols = scan
            return encode_parquet_dataset(
                df.sparkSession, files, chunk_rows=chunk_rows,
                token_budget=token_budget, compress=compress,
                columns=cols, bloom_columns=bloom_columns,
                stat_columns=stat_columns, agg_columns=agg_columns,
                split_payload=split_payload, ndv_columns=ndv_columns,
                hist_columns=hist_columns)

    # Spark's mapInArrow re-selects its input columns by UNQUOTED name, so
    # a top-level name containing '.' breaks analysis before our code ever
    # runs.  Rename positionally to safe aliases for the bridge crossing
    # and restore the real names inside the worker (schema_json and the
    # payload_<col> columns keep the ORIGINAL names).
    orig_names = [f.name for f in df.schema]
    needs_rename = any("." in n or "`" in n for n in orig_names)
    if needs_rename:
        from pyspark.sql import functions as F

        # partition_col stays the ORIGINAL name: the worker restores real
        # names before the encode stream ever sees a batch
        df = df.select([F.col(f"`{n}`").alias(f"_c{i}")
                        for i, n in enumerate(orig_names)])

    def encode_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else 0
        if needs_rename:
            batches = (pa.RecordBatch.from_arrays(list(b.columns),
                                                  names=orig_names)
                       for b in batches)
        yield from _encode_batch_stream(batches, part_id, out_schema,
                                        chunk_rows, token_budget, compress,
                                        partition_col)

    return df.mapInArrow(encode_partition, from_arrow_schema(out_schema))


# ---------- scan-side jobs ----------

_READ_BATCH_ROWS = 16384  # pyarrow record batch size of the split reader
_MIN_RANGE_ROWS = 16384  # never range-split below this many rows per piece
_MAX_RANGES = 8          # bounds the decode-and-discard amplification
_MIN_SPLIT_BYTES = 16 << 20  # uncompressed bytes under which extra splits
#                              are pure dispatch overhead (guide 2.2/6:
#                              fewer, larger map tasks; each Python task
#                              costs a worker round-trip regardless of
#                              its data)


def _plan_parquet_splits(path, n_splits: int,
                         allow_ranges: bool = True) -> list[dict]:
    """Driver-side split planning: list parquet fragments and pack their
    row groups into ~``n_splits`` row-balanced splits.  Only footers are
    read (one metadata fetch per file) -- no data moves to the driver.
    Mirrors Spark's own FilePartition packing, but the read happens in the
    Python task via pyarrow, so list columns never cross the JVM bridge.

    ``allow_ranges``: a single row group far larger than the row target
    (one giant unsplittable input -- the guide's input-skew case; Spark's
    own scan cannot split it either) is divided into row RANGES
    (skip/take over the group's row sequence) so the encode parallelizes
    instead of serializing onto one core.  Ranges are capped at
    _MAX_RANGES pieces of >= _MIN_RANGE_ROWS rows: rows before ``skip``
    are decoded and discarded by the reader, so the amplification stays
    bounded and tiny tables are never over-chunked.  Each range lists only
    the row groups its rows overlap, with ``skip`` counted from the first
    of them, so a small group packed ahead of the oversized one is not
    decoded again by every range.  Callers that need file-atomic
    semantics (include_source_file resume) pass False.

    Each split also records its (uncompressed) ``n_bytes`` so callers can
    choose how many task slices to spread the splits over (see
    :func:`_task_slices`)."""
    import pyarrow.dataset as ds

    dataset = ds.dataset(path, format="parquet")
    units: list[tuple[str, int, int, int]] = []  # (file, rg, n_rows, bytes)
    for frag in dataset.get_fragments():
        md = frag.metadata
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            units.append((frag.path, rg, rgm.num_rows, rgm.total_byte_size))
    if not units:
        return []
    total_rows = sum(u[2] for u in units)
    target = max(1, total_rows // max(n_splits, 1))
    splits: list[dict] = []
    cur_file, cur_rgs, cur_rows, cur_bytes = None, [], 0, 0
    for f, rg, nr, nb in units:  # get_fragments yields file order; rgs stay contiguous
        if cur_file is not None and (f != cur_file or cur_rows >= target):
            splits.append({"path": cur_file, "row_groups": cur_rgs,
                           "n_rows": cur_rows, "n_bytes": cur_bytes})
            cur_rgs, cur_rows, cur_bytes = [], 0, 0
        cur_file = f
        cur_rgs = [*cur_rgs, rg]
        cur_rows += nr
        cur_bytes += nb
    splits.append({"path": cur_file, "row_groups": cur_rgs,
                   "n_rows": cur_rows, "n_bytes": cur_bytes})
    if not allow_ranges:
        return splits
    rg_rows = {(f, rg): nr for f, rg, nr, _ in units}
    out: list[dict] = []
    for s in splits:
        rows = s["n_rows"]
        k = min(rows // max(target, _MIN_RANGE_ROWS), _MAX_RANGES,
                rows // _MIN_RANGE_ROWS)
        if k < 2:
            out.append(s)
            continue
        per = rows // k
        # starts[j]: first row of the split's j-th row group
        starts = [0, *accumulate(rg_rows[s["path"], g] for g in s["row_groups"])]
        for i in range(k):
            lo = i * per
            hi = rows if i == k - 1 else (i + 1) * per
            first = bisect_right(starts, lo) - 1
            out.append({"path": s["path"],
                        "row_groups": s["row_groups"][first:bisect_left(starts, hi)],
                        "skip_rows": lo - starts[first], "take_rows": hi - lo,
                        "n_bytes": s["n_bytes"] // k})
    return out


def _task_slices(splits: list[dict], min_splits: int | None) -> int:
    """How many task partitions to spread the splits over.  None (caller
    pinned n_splits) -> one task per split, as before.  Otherwise the
    adaptive count: at least ``min_splits`` (cluster parallelism) tasks,
    more only while each still averages >= _MIN_SPLIT_BYTES of input --
    on small inputs every extra Python task is a fixed worker round-trip
    that dwarfs its data (guide 2.2/6: fewer, larger map tasks), while on
    large inputs the byte floor is irrelevant and the full
    2x-parallelism count stands for straggler backfill.  Scale-adaptive
    by construction: derived from input bytes and parallelism, never a
    host-specific constant."""
    if min_splits is None:
        return len(splits)
    total_bytes = sum(s.get("n_bytes", 0) for s in splits)
    return int(min(len(splits),
                   max(min_splits, total_bytes // _MIN_SPLIT_BYTES, 1)))


def _map_splits(spark, path, n_splits: int | None,
                task: Callable[[int, list[tuple]], Iterator[pa.RecordBatch]],
                schema: pa.Schema, allow_ranges: bool = True):
    """The one planner of the scan-side jobs: plan the parquet splits of
    ``path`` on the driver (:func:`_plan_parquet_splits`), spread them over
    task slices, run ``task(slice_index, descriptors)`` once per slice and
    return the DataFrame of its record batches (arrow ``schema``; empty
    when the input has no row groups).  ``n_splits=None`` plans twice the
    cluster parallelism and lets :func:`_task_slices` size the task count
    from the input bytes; a given ``n_splits`` runs one task per split.

    A descriptor is a ``(path, row_groups, skip_rows, take_rows)`` tuple;
    skip/take bound a row RANGE within the listed row groups (0/-1 = all
    rows), see _plan_parquet_splits on when ranges appear.  Consecutive
    splits share a task, and its encode stream then windows across them,
    keeping chunks full.

    The descriptors ride in the task closure, not in rows: the job is
    ``spark.range(0, n, 1, n).mapInArrow(...)``, one id per task naming
    its slice, so the only Python worker in a task is the ``mapInArrow``
    one.  The pickled command carries every slice; past
    ``spark.broadcast.UDFCompressionThreshold`` (1 MB) Spark ships it as
    a broadcast instead of inside each task.  The former descriptor
    DataFrame, ``createDataFrame(parallelize(rows, n), ddl)``, ran
    ``rdd.map(schema.toInternal)`` in a second Python worker inside every
    task ahead of the ``mapInArrow`` one -- a worker round-trip per task
    for a handful of tuples.

    Slice ``i`` of ``n`` is ``rows[i*L//n : (i+1)*L//n]`` over the ``L``
    planned splits: the contiguous slicing ``parallelize`` used when ``n``
    divides ``L`` or ``L <= n``.  Otherwise ``parallelize`` sliced batches
    of ``L//n`` rows, so one task could get twice the splits of another;
    here task sizes differ by at most one split."""
    from pyspark.sql.pandas.types import from_arrow_schema

    min_splits = None
    if n_splits is None:
        min_splits = max(spark.sparkContext.defaultParallelism, 2)
        n_splits = min_splits * 2
    splits = _plan_parquet_splits(path, n_splits, allow_ranges)
    if not splits:
        return spark.createDataFrame([], from_arrow_schema(schema))
    n_slices = _task_slices(splits, min_splits)
    rows = [(s["path"], s["row_groups"], s.get("skip_rows", 0),
             s.get("take_rows", -1)) for s in splits]
    L = len(rows)
    slices = [rows[i * L // n_slices:(i + 1) * L // n_slices]
              for i in range(n_slices)]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            for i in b.column(0).to_numpy():
                yield from task(int(i), slices[i])

    return spark.range(0, n_slices, 1, n_slices).mapInArrow(
        run, from_arrow_schema(schema))


def _read_splits(descs: list[tuple], columns) -> Iterator[pa.RecordBatch]:
    """Worker-side split reader: the record batches of every
    ``(path, row_groups, skip_rows, take_rows)`` descriptor of a task
    slice (see :func:`_map_splits`), read locally with pyarrow.  A ranged
    split slices [skip, skip+take) out of its row groups' row sequence and
    stops reading as soon as the range is exhausted (parquet cannot seek
    inside a row group, so rows before ``skip`` are decoded and discarded
    -- the bounded price of parallelizing a grossly oversized row
    group)."""
    import pyarrow.parquet as pq

    for p, rgs, skip, take in descs:
        pf = pq.ParquetFile(p)
        try:
            remaining = None if take < 0 else take
            for rb in pf.iter_batches(batch_size=_READ_BATCH_ROWS,
                                      row_groups=rgs, columns=columns):
                if skip:
                    if skip >= len(rb):
                        skip -= len(rb)
                        continue
                    rb = rb.slice(skip)
                    skip = 0
                if remaining is not None:
                    if remaining <= 0:
                        break
                    if len(rb) > remaining:
                        rb = rb.slice(0, remaining)
                    remaining -= len(rb)
                yield rb
        finally:
            pf.close()


def _scan_encode(path, columns: list[str] | None, chunk_rows: int,
                 token_budget: int, compress: bool,
                 include_source_file: bool = False, **aux,
                 ) -> tuple[pa.Schema, Callable[[int, list[tuple]], Iterator[pa.RecordBatch]]]:
    """A scan-side encode: its plan, from the dataset's arrow schema (``aux``
    are :func:`_encode_plan`'s keywords), and its per-task encode stream.
    Returns ``(out_schema, encode_split)``; ``encode_split(part_id,
    descriptors)`` reads the task's splits with pyarrow and yields encoded
    chunk rows of ``out_schema``.  ``include_source_file`` appends a
    ``source_file`` column and runs one encode stream per file, so chunks
    never span two files."""
    import pyarrow.dataset as ds

    ds_schema = ds.dataset(path, format="parquet").schema
    payload_columns, stream_schema = _encode_plan(
        ds_schema.names, ds_schema, read_columns=columns, **aux)
    if payload_columns is not None:
        # the per-file read projection is PINNED to the payload_<col>
        # order: files written at different times may order columns
        # differently, the output schema is fixed at plan time
        columns = list(payload_columns)

    def encode_split(part_id: int, descs: list[tuple]) -> Iterator[pa.RecordBatch]:
        if not include_source_file:
            yield from _encode_batch_stream(
                _read_splits(descs, columns), part_id, stream_schema,
                chunk_rows, token_budget, compress)
            return
        # chunk_seq stays unique within the task across the file streams
        seq = 0
        for d in descs:
            for rb in _encode_batch_stream(
                    _read_splits([d], columns), part_id, stream_schema,
                    chunk_rows, token_budget, compress, seq_start=seq):
                seq += len(rb)
                yield rb.append_column(
                    "source_file", pa.array([d[0]] * len(rb), type=pa.string()))

    if include_source_file:
        return stream_schema.append(pa.field("source_file", pa.string())), encode_split
    return stream_schema, encode_split


def encode_parquet_dataset(spark, path, *,
                           chunk_rows: int = DEFAULT_CHUNK_ROWS,
                           token_budget: int = DEFAULT_TOKEN_BUDGET,
                           compress: bool = True,
                           columns: list[str] | None = None,
                           bloom_columns: tuple[str, ...] = (),
                           n_splits: int | None = None,
                           include_source_file: bool = False,
                           stat_columns: tuple[str, ...] = (),
                           agg_columns: tuple[str, ...] = (),
                           split_payload: bool = False,
                           ndv_columns: tuple[str, ...] = (),
                           hist_columns: tuple[str, ...] = ()):
    """Scan-side encode: parquet is read directly by pyarrow inside each
    Python task; only (file, row-groups) descriptors cross the JVM.

    This is the 100-TB-shaped path: on a real cluster the same descriptors
    point at S3/HDFS objects and each executor-side pyarrow reader streams
    its row groups locally.  It avoids the per-element JVM ArrowWriter cost
    that makes :func:`encode_dataframe` transfer-bound on token tables
    (the reference, being single-process, has no such boundary; this is
    the Spark-native equivalent of its streaming file writer,
    reference: src/parquet-writer.js:63-144).

    ``path`` may also be an explicit list of parquet files.  ``n_splits``
    pins the number of planned splits, one task each (default: twice the
    cluster parallelism, spread over as many tasks as the input bytes
    warrant).  ``include_source_file`` adds a ``source_file`` column and
    guarantees chunks never span two files -- the unit the file-granular
    resumable job (manifest.run_encode_files_job) overwrites idempotently.
    """
    out_schema, encode_split = _scan_encode(
        path, columns, chunk_rows, token_budget, compress,
        include_source_file, split_payload=split_payload,
        bloom_columns=bloom_columns, ndv_columns=ndv_columns,
        hist_columns=hist_columns, stat_columns=stat_columns,
        agg_columns=agg_columns)
    # file-tagged encodes keep whole files per descriptor (resume
    # overwrites per file, so ranges would break idempotent replacement)
    return _map_splits(spark, path, n_splits, encode_split, out_schema,
                       allow_ranges=not include_source_file)


def encode_to_parquet(spark, path, out_dir: str, *,
                      chunk_rows: int = DEFAULT_CHUNK_ROWS,
                      token_budget: int = DEFAULT_TOKEN_BUDGET,
                      compress: bool = True,
                      columns: list[str] | None = None,
                      bloom_columns: tuple[str, ...] = (),
                      stat_columns: tuple[str, ...] = (),
                      split_payload: bool = False,
                      n_splits: int | None = None):
    """Scan-side encode with a TASK-SIDE sink: each Python task runs the
    encode stream of :func:`encode_parquet_dataset` and writes its encoded
    chunk rows straight into one parquet file ``part-NNNNN.parquet`` in
    ``out_dir`` via pyarrow's writer -- encoded payload bytes never cross
    the Python->JVM Arrow bridge in either direction (the encode mirror of
    :func:`decode_to_parquet`).  On a real cluster the same tasks write
    directly to S3/HDFS.  Returns a DataFrame of
    (path, n_chunks, n_rows, n_tokens, bytes_in, bytes_out) manifest rows
    -- the only thing that crosses back to the JVM.

    The container file is zstd-1 compressed: payload cells are already
    chunk-compressed, so it mostly squeezes the JSON metadata columns.
    Part files of an earlier run into ``out_dir`` are removed first.
    """
    import itertools
    import os

    import pyarrow.parquet as pq

    from .parquet.writer import _commit_part_file, _sweep_stale_parts

    os.makedirs(out_dir, exist_ok=True)
    _sweep_stale_parts(out_dir)
    out_schema, encode_split = _scan_encode(
        path, columns, chunk_rows, token_budget, compress,
        split_payload=split_payload, bloom_columns=bloom_columns,
        stat_columns=stat_columns)
    manifest = pa.schema([
        ("path", pa.string()), ("n_chunks", pa.int64()),
        ("n_rows", pa.int64()), ("n_tokens", pa.int64()),
        ("bytes_in", pa.int64()), ("bytes_out", pa.int64()),
    ])

    def sink(pid: int, descs: list[tuple]) -> Iterator[pa.RecordBatch]:
        stream = encode_split(pid, descs)
        first = next(stream, None)
        if first is None:
            return  # no rows, no part file
        n_chunks = 0
        sums = dict.fromkeys(("n_rows", "n_tokens", "bytes_in", "bytes_out"), 0)

        def write(tmp: str) -> None:
            nonlocal n_chunks
            with pq.ParquetWriter(tmp, out_schema, compression="zstd",
                                  compression_level=1) as writer:
                for rb in itertools.chain([first], stream):
                    writer.write_batch(rb)
                    n_chunks += len(rb)
                    for k in sums:
                        sums[k] += int(pa.compute.sum(rb.column(k)).as_py() or 0)

        fpath = os.path.join(out_dir, f"part-{pid:05d}.parquet")
        _commit_part_file(fpath, write)
        yield pa.RecordBatch.from_pylist(
            [{"path": fpath, "n_chunks": n_chunks, **sums}], schema=manifest)

    return _map_splits(spark, path, n_splits, sink, manifest)


def _probe_hash(value, ts_unit: str = "us") -> np.ndarray:
    """xxhash64 of a single probe value (same canonical bytes as
    _column_hashes uses at encode time: ints/timestamps/dates hash their
    int64 representation, strings/binary their raw bytes).

    ``ts_unit`` is the encoded column's timestamp unit for datetime probes
    (_column_hashes casts the column AT ITS OWN UNIT to int64, so the
    probe must scale the same way; Spark-side timestamps are 'us').
    """
    import datetime as _dt

    from .kernels.bloom import xxhash64_int64, xxhash64_matrix

    if isinstance(value, bool) or isinstance(value, (float, np.floating)):
        raise TypeError(
            f"bloom probes are not defined for {type(value).__name__} "
            "values: blooms are built for int/string/binary/timestamp/date "
            "columns only")
    if isinstance(value, _dt.datetime):
        epoch = _dt.datetime(1970, 1, 1,
                             tzinfo=value.tzinfo and _dt.timezone.utc)
        delta = value - epoch
        # exact integer micros: float total_seconds() loses the final
        # microsecond past ~2100 (e.g. the 9999-12-31 sentinel)
        micros = (delta.days * 86400 + delta.seconds) * 10**6 + delta.microseconds
        if ts_unit == "us":
            ticks = micros
        elif ts_unit == "ns":
            ticks = micros * 1000
        elif ts_unit == "ms":
            ticks = micros // 1000
        elif ts_unit == "s":
            ticks = micros // 10**6
        else:
            raise ValueError(f"unknown timestamp unit {ts_unit!r}")
        return xxhash64_int64(np.array([ticks], dtype=np.int64))
    if isinstance(value, _dt.date):
        days = (value - _dt.date(1970, 1, 1)).days
        return xxhash64_int64(np.array([days], dtype=np.int64))
    if isinstance(value, (int, np.integer)):
        v = int(value)
        if v >= 1 << 63:
            # uint64 columns hash their int64 BIT PATTERN (two's-complement
            # wrap), so probes above 2^63-1 must wrap identically
            v -= 1 << 64
        return xxhash64_int64(np.array([v], dtype=np.int64))
    if not isinstance(value, (str, bytes, bytearray, memoryview)):
        raise TypeError(
            f"bloom probes are not defined for {type(value).__name__} "
            "values: use int/str/bytes/date/datetime")
    b = value.encode() if isinstance(value, str) else bytes(value)
    mat = np.zeros((1, max(len(b), 1)), dtype="u1")
    if b:
        mat[0, : len(b)] = np.frombuffer(b, dtype="u1")
    return xxhash64_matrix(mat, np.array([len(b)]))


def filter_chunks_may_contain(enc_df, column: str, value):
    """Bloom-prune encoded chunk rows WITHOUT decoding: keeps only chunks
    whose per-column SBBF (or absence of one) admits ``value``.

    When the encode emitted a dedicated ``bloom_<column>`` column
    (``bloom_columns=...``), the probe stage scans ONLY
    (chunk_id, bloom_<column>) -- the parquet reader of the encoded table
    prunes ``payload`` out of the probe's ReadSchema, so a needle query
    reads kilobytes of bloom bytes per chunk instead of the whole table --
    and the surviving chunk_ids broadcast back as a left-semi join.
    Legacy encodes without the column fall back to parsing each blob's
    bloom section (no decompression, but the payload bytes do cross);
    per-column cells embed no bloom, so such tables keep every chunk.

    datetime probes hash at the ENCODED column's timestamp unit, read from
    one chunk's schema_json (encode-side hashing uses the column's own
    int64 ticks, so a ns/ms-unit source must not be probed at micros --
    that yields silent false negatives, never false positives)."""
    return filter_chunks_may_contain_any(enc_df, column, [value])


def filter_chunks_may_contain_any(enc_df, column: str, values):
    """Batch needle probe: keep chunks whose per-column SBBF admits ANY of
    ``values`` -- the IN-list analog of :func:`filter_chunks_may_contain`.
    All probe hashes are tested against each bloom in ONE vectorized pass
    (one bloom parse per chunk regardless of list size), so probing a
    thousand keys costs barely more than probing one.

    ``values`` is a driver-side list (the modest-IN-list shape, e.g. a
    batch of document ids to fetch).  For key sets too large to ship in a
    task closure, flip the join around: decode nothing, semi-join the
    keys DataFrame against ``lookup_rows``-style probes per partition --
    or simply range-partition the keys and call this per batch."""
    return _filter_chunks_probe(enc_df, column, values, require_all=False)


def filter_chunks_may_contain_all(enc_df, column: str, values):
    """Conjunctive batch probe: keep chunks whose per-column SBBF admits
    EVERY one of ``values`` -- the pruning shape for "rows whose array
    contains ALL of these elements" (element-level blooms over an
    ``array<...>`` column hash the flattened elements, so a chunk missing
    any required element is provably row-free and prunes).  Same
    one-bloom-parse-per-chunk cost as the ANY variant."""
    return _filter_chunks_probe(enc_df, column, values, require_all=True)


def _filter_chunks_probe(enc_df, column: str, values, require_all: bool):
    import datetime as _dt

    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    values = list(values)
    if not values:
        # ANY of zero values matches no chunk; ALL of zero values is
        # vacuously true for every chunk
        return enc_df.filter(F.lit(require_all))
    ts_unit = "us"
    if any(isinstance(v, _dt.datetime) for v in values):
        row = enc_df.select("schema_json").limit(1).collect()
        if row:
            tname = dict(json.loads(row[0][0])).get(column)
            if isinstance(tname, str) and tname.startswith("timestamp["):
                ts_unit = tname[len("timestamp["):-1].split(";")[0]
    hs = np.concatenate([_probe_hash(v, ts_unit) for v in values])

    bloom_col = f"bloom_{column}"
    if bloom_col in enc_df.columns:
        @pandas_udf("boolean")
        def may_contain(blooms: pd.Series) -> pd.Series:
            return pd.Series([_bloom_admits(buf, hs, require_all)
                              for buf in blooms], dtype=bool)

        keep = (enc_df.select("chunk_id", bloom_col)
                .filter(may_contain(F.col(bloom_col)))
                .select("chunk_id"))
        return enc_df.join(F.broadcast(keep), "chunk_id", "left_semi")

    def probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            # one header walk + one bloom parse per chunk, all K hashes
            # tested in a single vectorized might_contain; per-column cells
            # carry no embedded bloom, so every such chunk is kept
            keep = [i for i, (_, _, blooms) in enumerate(_row_cells(b))
                    if _bloom_admits(blooms.get(column), hs, require_all)]
            if keep:
                yield b.take(pa.array(keep, type=pa.int32()))

    return _map_in_arrow(enc_df, probe, enc_df.schema)


def lookup_rows_in(enc_df, column: str, values, schema=None):
    """Batch point lookup over ENCODED data: one bloom pass admits chunks
    containing ANY of ``values``, survivors decode once, an IN-list
    exact-filters the rows.  The fetch-these-K-documents-from-100TB
    shape: K needles cost one probe scan + the union of their chunks."""
    from pyspark.sql import functions as F

    # materialize FIRST: a one-shot iterable would be exhausted by the
    # probe below and the isin() would silently see an empty list
    values = list(values)
    if schema is None:
        schema = infer_decoded_schema(enc_df)
    pruned = filter_chunks_may_contain_any(enc_df, column, values)
    dec = decode_dataframe(pruned, schema=schema)
    return dec.filter(
        F.col(column).isin([_eq_literal(v) for v in values]))


def filter_chunks_by_range(enc_df, column: str, lo=None, hi=None,
                           dtype: str = "double"):
    """Min/max-stats chunk pruning, entirely JVM-side.  When the encode
    was run with ``stat_columns`` the TYPED min_<col>/max_<col> columns are
    used -- those predicates PUSH DOWN into the parquet scan of the encoded
    table (row groups of payload bytes are skipped at the reader).
    Otherwise the footer-style JSON statistics in ``meta_json`` are cast
    inside codegen (no pushdown, but still no payload decode).  Keeps
    chunks whose [min, max] intersects [lo, hi]."""
    from pyspark.sql import functions as F

    if f"min_{column}" in enc_df.columns:
        mn = F.col(f"min_{column}")
        mx = F.col(f"max_{column}")
    else:
        # bracket notation: a column name containing '.' must address the
        # literal key, not navigate nested fields (dot notation would
        # yield NULL and silently prune EVERY chunk)
        if "'" in column:
            raise ValueError(f"column name {column!r} contains a quote; "
                             "not addressable in a JSON path")
        mn = F.get_json_object("meta_json", f"$['{column}'].min").cast(dtype)
        mx = F.get_json_object("meta_json", f"$['{column}'].max").cast(dtype)
    # a NULL bound means "no sound bound published" (statistics disabled,
    # or an un-representable truncated max) -- the chunk MAY match and must
    # survive; a plain comparison would evaluate NULL and silently prune
    # every such chunk
    keep = F.lit(True)
    if lo is not None:
        keep = keep & (mx.isNull() | (mx >= F.lit(_eq_literal(lo))))
    if hi is not None:
        keep = keep & (mn.isNull() | (mn <= F.lit(_eq_literal(hi))))
    return enc_df.filter(keep)


def range_scan_rows(enc_df, column: str, lo=None, hi=None,
                    dtype: str = "double", schema=None):
    """Range scan over ENCODED data: stats-prune chunk groups (JVM-side),
    decode only survivors, exact-filter."""
    from pyspark.sql import functions as F

    # infer the decoded schema from the UN-pruned table: if pruning
    # eliminates every chunk (nothing in range) the query must return an
    # empty result, not crash on schema inference over zero rows
    if schema is None:
        schema = infer_decoded_schema(enc_df)
    pruned = filter_chunks_by_range(enc_df, column, lo, hi, dtype)
    dec = decode_dataframe(pruned, schema=schema)
    keep = F.lit(True)
    if lo is not None:
        keep = keep & (F.col(column) >= F.lit(_eq_literal(lo)))
    if hi is not None:
        keep = keep & (F.col(column) <= F.lit(_eq_literal(hi)))
    return dec.filter(keep)


def aggregate_encoded(enc_df, columns, *, include_avg: bool = False):
    """Metadata-only aggregation over an ENCODED table: global
    count/sum/min/max (and optionally avg) for each named column, computed
    purely from the typed per-chunk stat/agg columns -- ZERO payload bytes
    are read or decoded.

    Requires the table to have been encoded with both
    ``stat_columns=(c,...)`` (min/max) and ``agg_columns=(c,...)``
    (cnt/sum).  Output is one row:

    * ``count_rows``    -- total logical rows (sum of per-chunk n_rows)
    * ``count_<c>``     -- non-null values of c
    * ``sum_<c>``       -- SUM(c) (BIGINT for int inputs, DOUBLE for float)
    * ``min_<c>`` / ``max_<c>``
    * ``avg_<c>``       -- sum/count as DOUBLE (include_avg=True)

    At 100 TB this is the zone-map aggregate every warehouse engine runs:
    over an on-disk encoded table, the scan's ReadSchema contains only the
    scalar metadata columns, so parquet never materializes the payload
    blobs (the reference keeps min/max/null_count per chunk but has no
    query path over them -- reference src/metadata.js; this closes that
    loop Spark-side).  NULL semantics mirror SQL: empty table ->
    count 0 / NULL sums; all-null chunks contribute count 0 and NULL
    partial sums, which F.sum skips.
    """
    from pyspark.sql import functions as F

    if isinstance(columns, str):
        columns = [columns]
    have = set(enc_df.columns)
    if "del_mask" in have:
        # the per-chunk cnt_/sum_/min_/max_ metadata describes the rows AS
        # ENCODED; deletion bitmaps don't rewrite it, so a metadata-only
        # aggregate over a marked table would silently include deleted rows
        raise ValueError(
            "aggregate_encoded over a table carrying deletion vectors "
            "(del_mask column) would include deleted rows: run "
            "materialize_deletes(...) first (rewrites masks out and "
            "refreshes the per-chunk metadata), or aggregate the decoded "
            "DataFrame")
    aggs = [F.coalesce(F.sum("n_rows"), F.lit(0)).cast("long")
             .alias("count_rows")]
    for c in columns:
        need = (f"cnt_{c}", f"sum_{c}", f"min_{c}", f"max_{c}")
        missing = [n for n in need if n not in have]
        if missing:
            raise ValueError(
                f"aggregate_encoded({c!r}): encoded table lacks "
                f"{missing}; encode with stat_columns=({c!r},) and "
                f"agg_columns=({c!r},) to carry per-chunk min/max and "
                "cnt/sum metadata")
        aggs += [
            F.coalesce(F.sum(f"cnt_{c}"), F.lit(0)).cast("long")
             .alias(f"count_{c}"),
            F.sum(f"sum_{c}").alias(f"sum_{c}"),
            F.min(f"min_{c}").alias(f"min_{c}"),
            F.max(f"max_{c}").alias(f"max_{c}"),
        ]
        if include_avg:
            aggs.append(
                (F.sum(f"sum_{c}").cast("double")
                 / F.sum(f"cnt_{c}").cast("double")).alias(f"avg_{c}"))
    return enc_df.agg(*aggs)


def lookup_rows(enc_df, column: str, value, schema=None):
    """Point lookup over ENCODED data: bloom-prune chunk groups, decode
    only the survivors, exact-filter.  The needle-in-100TB query shape:
    with blooms on the key column, almost every chunk is skipped before
    any decompression happens."""
    # (delegates to the IN-list implementation with one value: schema
    # inference from the UN-pruned table, bloom prune, decode survivors,
    # exact filter -- a miss prunes every chunk and returns empty)
    return lookup_rows_in(enc_df, column, [value], schema)


def lookup_rows_containing(enc_df, column: str, values, schema=None, *,
                           mode: str = "any"):
    """Element needle lookup over an ENCODED table whose ``column`` is an
    array: rows whose array contains ANY (``mode='any'``) or ALL
    (``mode='all'``) of ``values``.

    Array columns named in ``bloom_columns=`` at encode time carry an
    ELEMENT-level SBBF (the flattened values hash exactly like a scalar
    column of the element type), so "which documents contain token X"
    over the contract's ``tokens array<int32>`` payload prunes at the
    chunk level before any payload decode -- the inverted-index-free
    needle shape at 100 TB: the probe stage scans only
    (chunk_id, bloom_<col>), survivors decode once, and
    ``array_contains`` exact-filters inside codegen.  ``mode='all'``
    prunes harder: a chunk whose bloom rejects ANY required element is
    provably row-free.

    Null elements never match (SQL three-valued logic: ``array_contains``
    over an array holding nulls yields NULL for a miss, which the filter
    drops -- same verdict DuckDB's ``list_contains`` reaches)."""
    from pyspark.sql import functions as F

    if mode not in ("any", "all"):
        raise ValueError(f"mode must be 'any' or 'all', got {mode!r}")
    values = list(values)
    if schema is None:
        schema = infer_decoded_schema(enc_df)
    if not values:
        dec = decode_dataframe(enc_df, schema=schema)
        # ALL of zero values is vacuously true; ANY of zero matches nothing
        return dec if mode == "all" else dec.filter(F.lit(False))
    if mode == "any":
        pruned = filter_chunks_may_contain_any(enc_df, column, values)
    else:
        pruned = filter_chunks_may_contain_all(enc_df, column, values)
    dec = decode_dataframe(pruned, schema=schema)
    conds = [F.array_contains(F.col(column), F.lit(_eq_literal(v)))
             for v in values]
    keep = conds[0]
    for c in conds[1:]:
        keep = (keep | c) if mode == "any" else (keep & c)
    return dec.filter(keep)


def _eq_literal(value):
    """uint64 columns decode to DecimalType(20,0); a plain int literal
    past the long range has no Spark representation."""
    if isinstance(value, (int, np.integer)) and \
            not -(1 << 63) <= int(value) < (1 << 63):
        from decimal import Decimal

        return Decimal(int(value))
    return value


def probe_rows(enc_df, *, equals: dict | None = None,
               ranges: dict | None = None, contains: dict | None = None,
               schema=None, range_dtypes: dict | None = None):
    """Conjunctive needle query over ENCODED data: EVERY pruning structure
    fires before any payload decode.

    ``equals``  maps column -> probe value: each key bloom-prunes via its
                ``bloom_<col>`` SBBF (:func:`filter_chunks_may_contain`).
    ``ranges``  maps column -> (lo, hi) (either bound may be None): each
                key stats-prunes via the typed ``min_/max_<col>`` columns
                or the JSON footer stats (:func:`filter_chunks_by_range`).
    ``contains`` maps an ARRAY column -> element value (or list of
                elements, ALL required): element-level bloom pruning via
                :func:`filter_chunks_may_contain_all`, exact-filtered
                with ``array_contains`` -- "rows in this doc_id range
                whose tokens contain X" never decodes a chunk whose
                bloom rejects any required element.
    ``range_dtypes`` optionally maps a ranges column to the cast dtype for
                JSON-stats fallback (default "double").

    Stats pruning is applied FIRST: the min/max predicates are pure
    codegen and push down into the parquet scan of the encoded table, so
    the bloom probe stage afterwards scans (chunk_id, bloom_<col>) for
    the range-surviving row groups only -- at 100 TB a conjunctive probe
    reads bloom bytes for the narrow key range instead of the whole
    table.  Survivors decode once; ALL predicates exact-filter the
    decoded rows."""
    from pyspark.sql import functions as F

    equals = equals or {}
    ranges = ranges or {}
    contains = {c: (list(v) if isinstance(v, (list, tuple, set)) else [v])
                for c, v in (contains or {}).items()}
    if not equals and not ranges and not contains:
        raise ValueError(
            "probe_rows needs at least one equals/ranges/contains entry")
    if schema is None:
        schema = infer_decoded_schema(enc_df)
    pruned = enc_df
    for col, (lo, hi) in ranges.items():
        pruned = filter_chunks_by_range(
            pruned, col, lo, hi, (range_dtypes or {}).get(col, "double"))
    for col, value in equals.items():
        pruned = filter_chunks_may_contain(pruned, col, value)
    for col, elems in contains.items():
        pruned = filter_chunks_may_contain_all(pruned, col, elems)
    dec = decode_dataframe(pruned, schema=schema)
    keep = F.lit(True)
    for col, value in equals.items():
        keep = keep & (F.col(col) == F.lit(_eq_literal(value)))
    for col, (lo, hi) in ranges.items():
        if lo is not None:
            keep = keep & (F.col(col) >= F.lit(_eq_literal(lo)))
        if hi is not None:
            keep = keep & (F.col(col) <= F.lit(_eq_literal(hi)))
    for col, elems in contains.items():
        for v in elems:
            keep = keep & F.array_contains(F.col(col), F.lit(_eq_literal(v)))
    return dec.filter(keep)


def decode_to_parquet(spark, enc_path: str, out_dir: str, *,
                      columns: list[str] | None = None,
                      n_splits: int | None = None,
                      target_file_bytes: int = 256 << 20):
    """Scan-side decode sink: Python tasks read encoded chunk rows with
    pyarrow, decode them, and stream the rows into OUR parquet writer
    (sparkcodec.parquet.ParquetWriter, zstd) -- decoded token arrays never
    cross the Python->JVM Arrow bridge, the mirror of
    :func:`encode_parquet_dataset` on the way out.  Returns a DataFrame of
    (path, n_rows, n_bytes) manifest rows.

    Deletion bitmaps are honored like :func:`decode_dataframe`: masked
    rows are dropped and ``n_live = 0`` chunks are not decoded.

    Output rolls to a new file ``part-NNNNN-NNN.parquet`` whenever the
    decoded (uncompressed Arrow) bytes exceed ``target_file_bytes``: task
    memory stays bounded by one file's worth of data regardless of split
    size, and the output is bounded-size files -- the shape object stores
    want.  Part files of an earlier run into ``out_dir`` are removed
    first."""
    import os
    from pathlib import Path

    import pyarrow.dataset as _ds

    from .parquet.writer import _commit_part_file, _sweep_stale_parts

    os.makedirs(out_dir, exist_ok=True)
    _sweep_stale_parts(out_dir)
    enc_ds = _ds.dataset(enc_path, format="parquet")
    enc_names = enc_ds.schema.names
    names = None  # every column, in stored order
    if columns is not None and enc_names:  # no names: no files, no rows
        head = enc_ds.head(1, columns=["schema_json"])
        names = _known_columns(columns, [
            n for n, _ in json.loads(head.column(0)[0].as_py())]
            if head.num_rows else list(columns))
    read_cols = (["schema_json", "n_rows", *_payload_columns(enc_names, names)]
                 + [c for c in ("del_mask", "n_live") if c in enc_names])

    manifest_schema = pa.schema([("path", pa.string()), ("n_rows", pa.int64()),
                                 ("n_bytes", pa.int64())])

    def decode_split(pid: int, descs: list[tuple]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        from .parquet.writer import ParquetWriter

        state = {"writer": None, "n_rows": 0, "arrow_bytes": 0,
                 "file_idx": 0, "schema": None}

        def flush():
            buf = state["writer"].finish()
            path = os.path.join(
                out_dir, f"part-{pid:05d}-{state['file_idx']:03d}.parquet")
            _commit_part_file(path, lambda tmp: Path(tmp).write_bytes(buf))
            row = {"path": path, "n_rows": state["n_rows"],
                   "n_bytes": len(buf)}
            state.update(writer=None, n_rows=0, arrow_bytes=0,
                         file_idx=state["file_idx"] + 1)
            return pa.RecordBatch.from_pylist([row], schema=manifest_schema)

        for p, rgs, _, _ in descs:
            pf = pq.ParquetFile(p)
            try:
                for enc_b in pf.iter_batches(batch_size=64, row_groups=rgs,
                                             columns=read_cols):
                    for rb in _decode_rows(enc_b, names):
                        if state["schema"] is None:
                            state["schema"] = rb.schema
                        elif not rb.schema.equals(state["schema"]):
                            raise ValueError(
                                "mixed encoded schemas in one dataset: "
                                f"chunk in {p!r} decodes to {rb.schema!r} "
                                f"but this writer was opened with "
                                f"{state['schema']!r}; decode each "
                                "encode's output directory separately")
                        if state["writer"] is None:
                            state["writer"] = ParquetWriter(
                                rb.schema, compression="zstd")
                        state["writer"].write(pa.Table.from_batches([rb]))
                        state["n_rows"] += len(rb)
                        state["arrow_bytes"] += sum(
                            c.nbytes for c in rb.columns)
                        if state["arrow_bytes"] >= target_file_bytes:
                            yield flush()
            finally:
                pf.close()
        if state["writer"] is not None:
            yield flush()

    # encoded containers carry one row per chunk (tiny row counts), and
    # this reader consumes whole splits: no row ranges here
    return _map_splits(spark, enc_path, n_splits, decode_split,
                       manifest_schema, allow_ranges=False)


def _schema_pairs(enc_df) -> list[list[str]]:
    """One chunk's parsed schema_json (the [name, type] pairs)."""
    row = enc_df.select("schema_json").limit(1).collect()
    if not row:
        raise ValueError("encoded DataFrame is empty")
    return json.loads(row[0][0])


def _known_columns(columns: list[str] | None, known: list[str]) -> list[str]:
    """The requested ``columns`` in encoded order (all of ``known`` when
    None); a name the encoded schema lacks raises ValueError."""
    if columns is None:
        return known
    missing = set(columns) - set(known)
    if missing:
        raise ValueError(f"unknown columns {sorted(missing)}; "
                         f"encoded schema has {sorted(known)}")
    return [n for n in known if n in columns]


def infer_decoded_schema(enc_df):
    return spark_schema_from_names(_schema_pairs(enc_df))


def decode_dataframe(enc_df, schema=None, columns: list[str] | None = None):
    """Encoded chunk-group DataFrame -> original rows (exact values).

    One path for both payload layouts: each encoded row's cells of the
    wanted columns are decoded (other columns' cells are never
    decompressed), and rows a ``del_mask`` deletion bitmap marks are
    dropped (``n_live = 0`` chunks are filtered out before any payload
    read).  ``columns`` selects a subset to decode; on the per-column
    layout (``split_payload=True`` at encode time) only the selected
    ``payload_<col>`` columns are scanned at all, so the parquet reader of
    the encoded table skips the other columns' bytes on disk.
    """
    if schema is None:
        # select from the PAIRS before Spark-type conversion: a column
        # Spark cannot receive (TIME) must not block decoding a projection
        # that excludes it
        pairs = dict(_schema_pairs(enc_df))
        schema = spark_schema_from_names(
            [[n, pairs[n]] for n in _known_columns(columns, list(pairs))])
    elif columns is not None:
        from pyspark.sql.types import StructType

        schema = StructType([schema[n] for n in
                             _known_columns(columns, schema.fieldNames())])
    names = schema.fieldNames()
    # project before mapInArrow so the scan reads only these columns
    # (column pruning reaches the parquet ReadSchema)
    sel = ["schema_json", "n_rows", *_payload_columns(enc_df.columns, names)]
    if "del_mask" in enc_df.columns:
        from pyspark.sql import functions as F

        sel.append("del_mask")
        # fully-deleted chunks never leave storage: the n_live predicate
        # pushes into the encoded table's parquet scan
        if "n_live" in enc_df.columns:
            enc_df = enc_df.filter(F.col("n_live").isNull()
                                   | (F.col("n_live") > 0))

    def decode_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            for rb in _decode_rows(b, names):
                yield _spark_compatible_batch(rb)

    return _map_in_arrow(enc_df.select(*[f"`{c}`" for c in sel]),
                         decode_partition, schema)


def _map_in_arrow(df, fn, schema):
    """``df.mapInArrow(fn, schema)`` for any column names: Spark re-selects
    mapInArrow's input columns by UNQUOTED name, so a name with '.' (the
    ``payload_<col>`` of a dotted source column) crosses the bridge under
    a positional alias and gets its real name back in the worker."""
    names = df.columns

    def renamed(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return fn(pa.RecordBatch.from_arrays(b.columns, names=names)
                  for b in batches)

    return (df.toDF(*[f"_c{i}" for i in range(len(names))])
            .mapInArrow(renamed, schema))


def _spark_arrow_type(t: pa.DataType) -> pa.DataType:
    """The nearest arrow type Spark's Arrow bridge accepts (recursive).
    Unsigned widths follow Spark's parquet-reader conventions; non-us
    timestamps/times lower to micros (ns truncates -- Spark has no nanos);
    float16 widens to float32; fixed-size binary relaxes to binary."""
    if pa.types.is_timestamp(t):
        return pa.timestamp("us", t.tz) if t.unit != "us" else t
    if t.equals(pa.uint8()):
        return pa.int16()
    if t.equals(pa.uint16()):
        return pa.int32()
    if t.equals(pa.uint32()):
        return pa.int64()
    if t.equals(pa.uint64()):
        return pa.decimal128(20, 0)
    if pa.types.is_float16(t):
        return pa.float32()
    if pa.types.is_fixed_size_binary(t):
        return pa.binary()
    if pa.types.is_time32(t) or (pa.types.is_time64(t) and t.unit != "us"):
        return pa.time64("us")
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        inner = _spark_arrow_type(t.value_type)
        return t if inner.equals(t.value_type) else pa.list_(inner)
    if pa.types.is_struct(t):
        fields = [pa.field(f.name, _spark_arrow_type(f.type)) for f in t]
        return t if all(f.type.equals(t.field(i).type)
                        for i, f in enumerate(fields)) else pa.struct(fields)
    if pa.types.is_map(t):
        k, v = _spark_arrow_type(t.key_type), _spark_arrow_type(t.item_type)
        return t if k.equals(t.key_type) and v.equals(t.item_type) \
            else pa.map_(k, v)
    return t


def _spark_compatible_batch(rb: pa.RecordBatch) -> pa.RecordBatch:
    """Lower decoded columns to types Spark's Arrow bridge accepts (see
    :func:`_spark_arrow_type`) before handing batches back to the JVM.
    decode_to_parquet keeps native types: its sink is our own writer,
    not Spark."""
    arrays, fields, changed = [], [], False
    for i, f in enumerate(rb.schema):
        a = rb.column(i)
        target = _spark_arrow_type(f.type)
        if not target.equals(f.type):
            a = a.cast(target, safe=False)
            f = pa.field(f.name, target)
            changed = True
        arrays.append(a)
        fields.append(f)
    if not changed:
        return rb
    return pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))


def _binary_cells(arr) -> list:
    """Zero-copy per-cell views of a (large_)binary column (None for null
    cells): memoryview slices over the Arrow data buffer.  ``.as_py()``
    would copy every payload cell -- multi-MB per chunk -- before decode;
    the decoders never retain views of their input, so slicing is safe."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    if not (pa.types.is_binary(t) or pa.types.is_large_binary(t)):
        return [v.as_py() for v in arr]
    n = len(arr)
    bufs = arr.buffers()
    width = 8 if pa.types.is_large_binary(t) else 4
    off = np.frombuffer(bufs[1], dtype=f"<i{width}", count=n + 1,
                        offset=arr.offset * width)
    # cast("B"): a pyarrow Buffer's memoryview has format "b" (signed), so
    # decoders indexing single bytes (FSST's symbol count) would read >= 128
    # as negative
    data = memoryview(bufs[2]).cast("B") if bufs[2] is not None else memoryview(b"")
    if arr.null_count:
        valid = np.asarray(arr.is_valid())
        return [data[off[i]:off[i + 1]] if valid[i] else None
                for i in range(n)]
    return [data[off[i]:off[i + 1]] for i in range(n)]


# ---------- partitioning / skew defusal ----------

def assign_weight_buckets(df, num_partitions: int, weight_col: str = "n_tok",
                          source_col: str = "source", id_col: str = "doc_id",
                          bucket_col: str = "_bucket"):
    """Add a deterministic bucket id sized by per-source weight share
    (north-rule skew defusal): heavy sources get proportionally many salt
    buckets, so long token arrays cannot pile into one partition.  The
    bucket is a pure function of (source, doc_id) given the per-source
    totals, which makes it the stable unit for checkpoint/resume.

    Cost: one tiny aggregate (map-side combined, |sources| rows collected)
    broadcast back as a literal map -- no extra shuffle of the data itself.
    """
    from pyspark.sql import functions as F

    totals = df.groupBy(source_col).agg(F.sum(weight_col).alias("w")).collect()
    grand = sum(r["w"] or 0 for r in totals) or 1
    buckets: dict = {}
    offsets: dict = {}
    next_off = 0
    for r in sorted(totals, key=lambda r: str(r[source_col])):
        k = max(1, int(round(num_partitions * (r["w"] or 0) / grand)))
        buckets[r[source_col]] = k
        offsets[r[source_col]] = next_off
        next_off += k
    kmap = F.create_map(*[F.lit(x) for kv in buckets.items() for x in kv])
    omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    out = df.withColumn(
        bucket_col,
        (omap[F.col(source_col)]
         + F.pmod(F.xxhash64(F.col(id_col)), kmap[F.col(source_col)])).cast("int"),
    )
    return out, next_off


def weighted_repartition(df, num_partitions: int, weight_col: str = "n_tok",
                         source_col: str = "source", id_col: str = "doc_id"):
    """Skew-defusing repartition: weight-proportional buckets, then a range
    partition on the dense bucket id so buckets map ~1:1 onto partitions
    (hash-partitioning (source, salt) pairs would let several heavy buckets
    collide into one partition)."""
    bucketed, n_buckets = assign_weight_buckets(
        df, num_partitions, weight_col, source_col, id_col)
    return bucketed.repartitionByRange(max(num_partitions, n_buckets), "_bucket").drop("_bucket")


def range_repartition(df, num_partitions: int, source_col: str = "source",
                      id_col: str = "doc_id"):
    """Range repartition on (source, doc_id): stable chunk locality, lets
    sorted doc_id prefix-compress inside chunks."""
    return df.repartitionByRange(num_partitions, source_col, id_col)


def merged_ndv_sketch(enc_df, column: str) -> bytes:
    """Merge the per-chunk ``ndv_<column>`` HLL sketches of an encoded
    DataFrame into one dataset-level sketch, metadata-only.

    100-TB shape: the scan reads ONLY the 4 KiB sketch column;
    partition-local merges (elementwise register max, associative) fold
    each task's chunks down to ONE sketch, so the driver receives
    n_partitions blobs -- the same bounded-collect contract as the IVF
    partial reductions (simsearch.refine_ivf_centroids)."""
    from .kernels.hll import hll_merge

    ndv_col = f"ndv_{column}"
    if ndv_col not in enc_df.columns:
        raise ValueError(
            f"encoded table has no {ndv_col!r} column: encode with "
            f"ndv_columns=({column!r},)")
    _refuse_masked_metadata(enc_df, "merged_ndv_sketch/estimate_ndv")

    def merge_part(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc: bytes | None = None
        for b in batches:
            for s in b.column(0).to_pylist():
                if s is None:
                    continue
                acc = s if acc is None else hll_merge(acc, s)
        if acc is not None:
            yield pa.RecordBatch.from_pylist([{"sketch": acc}],
                                             schema=pa.schema(
                                                 [("sketch", pa.binary())]))

    parts = enc_df.select(ndv_col).mapInArrow(
        merge_part, "sketch BINARY").collect()
    return hll_merge(*(r.sketch for r in parts))  # zero args -> empty sketch


def estimate_ndv(enc_df, column: str) -> float:
    """Dataset-level distinct-count estimate (~1.6% std error at the
    default precision) from chunk metadata alone -- no payload decode."""
    from .kernels.hll import hll_estimate

    return hll_estimate(merged_ndv_sketch(enc_df, column))


def ndv_registers(enc_df, column: str):
    """The merged sketch's nonzero (bucket, register) rows as a DataFrame:
    integer-exact, so an SQL oracle can replay them value-for-value
    (kernels.hll.hll_registers_oracle_sql)."""
    from .kernels.hll import hll_registers

    reg = hll_registers(merged_ndv_sketch(enc_df, column))
    rows = [(int(b), int(r)) for b, r in enumerate(reg) if r]
    return enc_df.sparkSession.createDataFrame(
        rows, "bucket INT, register INT")


def magnitude_histogram(enc_df, column: str):
    """Dataset-level power-of-two magnitude histogram from the per-chunk
    ``hist_<column>`` metadata -- (bucket, cnt) rows for nonzero buckets.

    Pure codegen: one narrow scan of the 128-element count arrays,
    posexplode, partial-aggregating group-by sum.  Bucket semantics:
    0 = zeros, 1..63 = positive values by bit length, 64+k = negative
    values by bit length of ~v.  Exact (no sketching), so it grades
    against a plain SQL recomputation (magnitude_hist_oracle_sql)."""
    from pyspark.sql import functions as F

    hist_col = f"hist_{column}"
    if hist_col not in enc_df.columns:
        raise ValueError(
            f"encoded table has no {hist_col!r} column: encode with "
            f"hist_columns=({column!r},)")
    _refuse_masked_metadata(enc_df, "magnitude_histogram")
    return (enc_df.select(F.posexplode(hist_col).alias("bucket", "cnt"))
            .groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") > 0))


def _refuse_masked_metadata(enc_df, what: str) -> None:
    """Same staleness guard aggregate_encoded applies: per-chunk metadata
    (sketches, histograms) describes the rows AS ENCODED, so a metadata
    roll-up over a deletion-masked table would silently include deleted
    rows."""
    if "del_mask" in enc_df.columns:
        raise ValueError(
            f"{what} over a table carrying deletion vectors (del_mask "
            "column) would include deleted rows: run materialize_deletes"
            "(...) first, or compute from the decoded DataFrame")


def magnitude_hist_oracle_sql(values_sql: str, value_col: str = "v") -> str:
    """DuckDB recomputation of :func:`magnitude_histogram` from the raw
    BIGINT values: bucket = bit length via length(bin(x)) (~v for
    negatives, two's-complement safe for the INT64 minimum)."""
    return f"""
        WITH vals AS (SELECT {value_col} AS v FROM ({values_sql})),
        b AS (
          SELECT CASE
                   WHEN v = 0 THEN 0
                   WHEN v > 0 THEN length(bin(v))
                   WHEN -(v + 1) = 0 THEN 64
                   ELSE 64 + length(bin(-(v + 1)))
                 END AS bucket
          FROM vals
        )
        SELECT CAST(bucket AS INTEGER) AS bucket,
               CAST(count(*) AS BIGINT) AS cnt
        FROM b GROUP BY bucket
    """


# ---------- deletion vectors (merge-on-read deletes) ----------

def _encode_delete_mask(deleted: np.ndarray) -> bytes:
    """RLE/bit-packed hybrid encoding of a per-chunk deleted-row bitmap
    (1 = deleted), the same stream grammar chunk validity uses."""
    from .kernels.rle import rle_hybrid_encode

    return rle_hybrid_encode(deleted.astype(np.uint64), 1)


def _decode_delete_mask(buf, n_rows: int) -> np.ndarray:
    from .kernels.rle import rle_hybrid_decode

    return rle_hybrid_decode(memoryview(buf), 1, n_rows).astype(bool)


def apply_deletes(enc_df, *, equals: dict | None = None,
                  ranges: dict | None = None):
    """Merge-on-read row deletion over an ENCODED table: rows matching the
    conjunctive predicate (same ``equals``/``ranges`` shapes as
    :func:`probe_rows`) are marked deleted in a per-chunk bitmap -- the
    payload bytes are NEVER rewritten (the Iceberg/Delta deletion-vector
    shape).  Returns the encoded DataFrame with two extra columns:
    ``del_mask`` (RLE-encoded deleted bitmap, NULL = no deletes in the
    chunk) and ``n_live`` (live-row count; :func:`decode_dataframe` skips
    ``n_live = 0`` chunks before any payload byte is read and filters the
    rest through the mask).

    100-TB shape: ONE pass over the encoded table; per chunk, the typed
    ``min_/max_<col>`` stats (for range predicates) and the
    ``bloom_<col>`` SBBF (for equality predicates) short-circuit the
    chunk BEFORE decode -- a delete touching a narrow key range decodes
    only the chunks that can match, and decodes ONLY the predicate
    columns' cells of those (same cell path on both payload layouts).
    Re-applying deletes ORs into the existing mask (idempotent for the
    same predicate).
    """
    import pyarrow.compute as pc

    equals = dict(equals or {})
    ranges = dict(ranges or {})
    if not equals and not ranges:
        raise ValueError("apply_deletes needs at least one equals/ranges entry")
    for c, (lo, hi) in ranges.items():
        if lo is None and hi is None:
            raise ValueError(
                f"ranges entry {c!r} has neither bound: a (None, None) "
                "range matches nothing; give at least one of (lo, hi)")
    schema_pairs = _schema_pairs(enc_df)
    known = {n for n, _ in schema_pairs}
    unknown = sorted({*equals, *ranges} - known)
    if unknown:
        raise ValueError(
            f"predicate columns {unknown} are not in the encoded schema "
            f"{sorted(known)} (a typo here would otherwise KeyError inside "
            "the Spark task)")
    # probe hashes for the bloom short-circuit, computed ONCE driver-side.
    # datetime probes hash at the ENCODED column's timestamp unit (same
    # rule as _filter_chunks_probe): encode-side hashing uses the column's
    # own int64 ticks, so probing a ms/s/ns column at micros would yield
    # silent false "cannot match" verdicts and leave matching rows live.
    type_of = dict(schema_pairs)

    def _unit_of(c: str) -> str:
        tname = type_of.get(c)
        if isinstance(tname, str) and tname.startswith("timestamp["):
            return tname[len("timestamp["):-1].split(";")[0]
        return "us"

    eq_hashes = {c: _probe_hash(v, _unit_of(c)) for c, v in equals.items()}
    pred_cols = sorted({*equals, *ranges})
    _payload_columns(enc_df.columns, pred_cols)  # every predicate cell exists
    in_cols = list(enc_df.columns)
    has_mask = "del_mask" in in_cols
    base_cols = [c for c in in_cols if c not in ("del_mask", "n_live")]
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    out_schema = StructType(
        [f for f in enc_df.schema.fields if f.name in base_cols]
        + [StructField("del_mask", BinaryType()),
           StructField("n_live", LongType())])
    col_idx = {c: i for i, c in enumerate(in_cols)}
    bloom_cols = {c for c in equals if f"bloom_{c}" in col_idx}
    stat_cols = {c for c in (*ranges, *equals) if f"min_{c}" in col_idx}

    def mark_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            masks: list[bytes | None] = []
            lives: list[int] = []
            schemas = b.column(col_idx["schema_json"])
            for i, (n_rows, cells, _) in enumerate(_row_cells(b)):
                prev_buf = (b.column(col_idx["del_mask"])[i].as_py()
                            if has_mask else None)
                prev = (_decode_delete_mask(prev_buf, n_rows)
                        if prev_buf is not None else None)

                def untouched():
                    masks.append(prev_buf)
                    lives.append(n_rows - (int(prev.sum()) if prev is not None
                                           else 0))

                # per-chunk short-circuits BEFORE any decode
                skip = False
                for c in stat_cols:
                    mn = b.column(col_idx[f"min_{c}"])[i].as_py()
                    mx = b.column(col_idx[f"max_{c}"])[i].as_py()
                    if mn is None or mx is None:
                        continue
                    if c in ranges:
                        lo, hi = ranges[c]
                        if (lo is not None and mx < lo) or \
                                (hi is not None and mn > hi):
                            skip = True
                    if c in equals and not (mn <= equals[c] <= mx):
                        skip = True
                if not skip:
                    skip = not all(
                        _bloom_admits(b.column(col_idx[f"bloom_{c}"])[i].as_py(),
                                      eq_hashes[c], True)
                        for c in bloom_cols)
                if skip:
                    untouched()
                    continue

                # ONLY the predicate columns' cells are decoded (the rest
                # never decompress)
                rb = _decode_cells(dict(json.loads(schemas[i].as_py())),
                                   cells, n_rows, pred_cols)
                match = None
                for c, v in equals.items():
                    m = pc.fill_null(pc.equal(rb.column(c), v), False)
                    match = m if match is None else pc.and_(match, m)
                for c, (lo, hi) in ranges.items():
                    arr = rb.column(c)
                    if lo is not None:
                        m = pc.fill_null(pc.greater_equal(arr, lo), False)
                        match = m if match is None else pc.and_(match, m)
                    if hi is not None:
                        m = pc.fill_null(pc.less_equal(arr, hi), False)
                        match = m if match is None else pc.and_(match, m)
                deleted = match.to_numpy(zero_copy_only=False).astype(bool)
                if prev is not None:
                    deleted |= prev
                if not deleted.any():
                    untouched()
                    continue
                masks.append(_encode_delete_mask(deleted))
                lives.append(int(n_rows - deleted.sum()))
            arrays = [b.column(col_idx[c]) for c in base_cols]
            arrays.append(pa.array(masks, type=pa.binary()))
            arrays.append(pa.array(lives, type=pa.int64()))
            yield pa.RecordBatch.from_arrays(
                arrays, names=[*base_cols, "del_mask", "n_live"])

    return _map_in_arrow(enc_df, mark_partition, out_schema)


def materialize_deletes(marked_enc_df, **encode_kwargs):
    """Rewrite deleted rows OUT of the payloads: decode through the
    deletion bitmaps, re-encode clean chunks (no ``del_mask``/``n_live``
    columns in the result).  The compaction-time half of the
    merge-on-read lifecycle -- run it when accumulated deletes make the
    mask overhead or the dead-row decode waste worth a rewrite; until
    then :func:`compact_encoded` carries masks through untouched (it
    rewrites containers, not payloads).  ``encode_kwargs`` forward to
    :func:`encode_dataframe` (stat/bloom/ndv/hist columns, chunk sizing).
    """
    encode_kwargs.setdefault("auto_fastpath", False)
    return encode_dataframe(decode_dataframe(marked_enc_df), **encode_kwargs)

"""Integer codecs: parquet DELTA_BINARY_PACKED and fast custom FOR codecs.

``delta_binary_pack``/``delta_binary_unpack`` implement the parquet-spec
encoding (header 128/4/count/first, per-block minDelta + 4 miniblock bit
widths + 32-value LSB-first miniblocks) with the same block structure as
the reference (reference: src/delta.js:9-244).  The reference needs a
number-vs-bigint fast path because JS lacks int64; here every intermediate
is an int64/uint64 numpy array, which also sidesteps the 33-bit adjusted
delta hazard (reference: src/delta.js:88-96) -- adjusted deltas are held
in uint64 throughout.

``for_pack``/``delta_for_pack`` are the custom scale-path codecs: a single
frame-of-reference over the whole chunk (no 128-value block loop), fully
vectorized, used for monotonic offset streams and small-range token ids.
"""

from __future__ import annotations

import numpy as np

from .bitpack import bit_widths, pack_bits_lsb, unpack_bits_lsb
from .varint import (
    read_uvarint,
    unzigzag,
    unzigzag_int,
    uvarint_lengths,
    uvarint_scatter,
    write_uvarint,
    zigzag,
    zigzag_int,
)

BLOCK = 128
MINIBLOCKS = 4
MB_VALUES = BLOCK // MINIBLOCKS  # 32


def delta_binary_pack(values: np.ndarray, bits: int = 64) -> bytes:
    """DELTA_BINARY_PACKED stream of ``values`` at physical width ``bits``
    (64, or 32 for parquet INT32 columns).  Deltas, block minimums and
    adjusted deltas wrap at that width, as in parquet-mr: an INT32 column
    whose deltas span more than 32 bits (0, -2**31, 1) still packs into
    miniblocks of at most 32 bits, the widest an INT32 reader accepts."""
    sdt, udt = (np.int32, np.uint32) if bits == 32 else (np.int64, np.uint64)
    v = np.ascontiguousarray(values, dtype=sdt)
    n = len(v)
    out = bytearray()
    write_uvarint(out, BLOCK)
    write_uvarint(out, MINIBLOCKS)
    write_uvarint(out, n)
    first = int(v[0]) if n else 0
    write_uvarint(out, zigzag_int(first))
    if n <= 1:
        return bytes(out)

    with np.errstate(over="ignore"):
        deltas = v[1:] - v[:-1]  # two's-complement wraparound, as in parquet-mr
    m = len(deltas)
    nblocks = (m + BLOCK - 1) // BLOCK

    padded = np.zeros(nblocks * BLOCK, dtype=sdt)
    padded[:m] = deltas
    pb = padded.reshape(nblocks, BLOCK)
    # block min over valid deltas only (padding must not widen/narrow the frame)
    pb_for_min = padded.copy()
    pb_for_min[m:] = np.iinfo(sdt).max
    mins = pb_for_min.reshape(nblocks, BLOCK).min(axis=1)

    with np.errstate(over="ignore"):
        adjusted = (pb - mins[:, None]).view(udt).astype(np.uint64, copy=False)
    adjusted.reshape(-1)[m:] = 0  # padding packs as zeros

    mb = adjusted.reshape(nblocks, MINIBLOCKS, MB_VALUES)
    widths = bit_widths(mb.max(axis=2)).reshape(nblocks, MINIBLOCKS)
    # zero out widths of miniblocks that contain no valid deltas
    first_valid = np.arange(nblocks * MINIBLOCKS) * MB_VALUES
    widths.reshape(-1)[first_valid >= m] = 0

    # assemble every block fully vectorized (the former per-block Python
    # loop emitted one varint + slice per block -- O(nblocks) interpreter
    # work that dominated large-chunk encodes): compute each block's byte
    # extent, scatter min-delta varints / width bytes / per-width packed
    # miniblocks into one output array.  Byte-identical stream.
    flat_mb = mb.reshape(-1, MB_VALUES)
    flat_w = widths.reshape(-1)
    w8 = widths.astype(np.uint8)
    min_zz = zigzag(mins)
    nb_min = uvarint_lengths(min_zz)
    mlen = (flat_w.astype(np.int64) * MB_VALUES) // 8
    m2 = mlen.reshape(nblocks, MINIBLOCKS)
    block_len = nb_min + MINIBLOCKS + m2.sum(axis=1)
    block_off = np.zeros(nblocks, dtype=np.int64)
    np.cumsum(block_len[:-1], out=block_off[1:])
    body = np.empty(int(block_len.sum()), dtype=np.uint8)
    uvarint_scatter(min_zz, nb_min, body, block_off)
    wdst = (block_off + nb_min)[:, None] + np.arange(MINIBLOCKS)
    body[wdst.reshape(-1)] = w8.reshape(-1)
    within = np.concatenate(
        [np.zeros((nblocks, 1), dtype=np.int64),
         np.cumsum(m2, axis=1)[:, :-1]], axis=1)
    mb_dst = ((block_off + nb_min + MINIBLOCKS)[:, None] + within).reshape(-1)
    for w in np.unique(flat_w):
        w = int(w)
        if w == 0:
            continue
        idx = np.flatnonzero(flat_w == w)
        packed = np.frombuffer(pack_bits_lsb(flat_mb[idx].reshape(-1), w),
                               dtype=np.uint8)
        step = MB_VALUES * w // 8
        dst = (mb_dst[idx][:, None] + np.arange(step)).reshape(-1)
        body[dst] = packed
    out.extend(body)
    return bytes(out)


def delta_binary_unpack(buf) -> np.ndarray:
    mv = memoryview(buf)
    pos = 0
    block, pos = read_uvarint(mv, pos)
    miniblocks, pos = read_uvarint(mv, pos)
    n, pos = read_uvarint(mv, pos)
    zz_first, pos = read_uvarint(mv, pos)
    first = unzigzag_int(zz_first)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    out[0] = first
    if n == 1:
        return out

    mb_values = block // miniblocks
    m = n - 1
    nblocks = (m + block - 1) // block
    deltas = np.empty(nblocks * block, dtype=np.int64)
    di = 0
    for _ in range(nblocks):
        zz_min, pos = read_uvarint(mv, pos)
        min_delta = unzigzag_int(zz_min)
        widths = list(mv[pos : pos + miniblocks])
        pos += miniblocks
        for w in widths:
            vals = unpack_bits_lsb(mv[pos : pos + mb_values * w // 8], w, mb_values)
            pos += mb_values * w // 8
            with np.errstate(over="ignore"):
                deltas[di : di + mb_values] = vals.view(np.int64) + min_delta
            di += mb_values
    with np.errstate(over="ignore"):
        out[1:] = first + np.cumsum(deltas[:m], dtype=np.int64)
    return out


def for_pack(values: np.ndarray) -> bytes:
    """Frame-of-reference + bit-pack over the whole chunk (custom, fast path)."""
    v = np.ascontiguousarray(values, dtype=np.int64)
    n = len(v)
    out = bytearray()
    write_uvarint(out, n)
    if n == 0:
        return bytes(out)
    ref = int(v.min())
    with np.errstate(over="ignore"):
        adjusted = (v - ref).view(np.uint64)
    bw = int(bit_widths(np.array([adjusted.max()], dtype=np.uint64))[0])
    write_uvarint(out, zigzag_int(ref))
    out.append(bw)
    out.extend(pack_bits_lsb(adjusted, bw))
    return bytes(out)


def for_unpack(buf) -> np.ndarray:
    mv = memoryview(buf)
    n, pos = read_uvarint(mv, 0)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    zz_ref, pos = read_uvarint(mv, pos)
    ref = unzigzag_int(zz_ref)
    bw = mv[pos]
    pos += 1
    adjusted = unpack_bits_lsb(mv[pos:], bw, n)
    with np.errstate(over="ignore"):
        return adjusted.view(np.int64) + ref


def delta_for_pack(values: np.ndarray) -> bytes:
    """Delta then single-frame FOR over zigzag deltas (custom, fast path).

    Ideal for monotonic streams (list offsets, sorted ids): deltas are
    small and non-negative, so the packed width collapses.
    """
    v = np.ascontiguousarray(values, dtype=np.int64)
    n = len(v)
    out = bytearray()
    write_uvarint(out, n)
    if n == 0:
        return bytes(out)
    write_uvarint(out, zigzag_int(int(v[0])))
    if n == 1:
        return bytes(out)
    with np.errstate(over="ignore"):
        zz = zigzag(v[1:] - v[:-1])
    bw = int(bit_widths(np.array([zz.max()], dtype=np.uint64))[0])
    out.append(bw)
    out.extend(pack_bits_lsb(zz, bw))
    return bytes(out)


def delta_for_unpack(buf) -> np.ndarray:
    mv = memoryview(buf)
    n, pos = read_uvarint(mv, 0)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    zz_first, pos = read_uvarint(mv, pos)
    out[0] = unzigzag_int(zz_first)
    if n == 1:
        return out
    bw = mv[pos]
    pos += 1
    deltas = unzigzag(unpack_bits_lsb(mv[pos:], bw, n - 1))
    with np.errstate(over="ignore"):
        out[1:] = out[0] + np.cumsum(deltas, dtype=np.int64)
    return out

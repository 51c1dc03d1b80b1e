"""RLE / bit-packed hybrid codec (parquet spec compatible).

Same stream grammar as the reference encoder (reference:
src/encoding.js:12-106): a sequence of runs, each either

  * RLE run:        varint(count << 1), value in ceil(bw/8) LE bytes
  * bit-packed run: varint(groups << 1 | 1), groups*8 values LSB-first packed

The reference emits an RLE run for >=8 consecutive equal values and
bit-packs groups of 8 otherwise; we reproduce that decision rule but
detect runs vectorized (np.diff) instead of scanning value-by-value.
Mid-stream bit-packed spans must contain an exact multiple of 8 real
values, so spans borrow up to 7 leading values from the following RLE
run (the borrowed values equal the run value, so the stream decodes
identically); only the final span is zero-padded.
"""

from __future__ import annotations

import numpy as np

from .bitpack import pack_bits_lsb, unpack_bits_lsb
from .varint import read_uvarint, uvarint_lengths, uvarint_scatter, write_uvarint

RLE_MIN_RUN = 8  # reference: src/encoding.js:22-25


def rle_hybrid_encode(values: np.ndarray, bw: int) -> bytes:
    """Encode non-negative ints (< 2**bw) as an RLE/bit-packed hybrid stream."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    out = bytearray()
    if n == 0:
        return bytes(out)
    vbytes = (bw + 7) // 8

    def emit_bitpack(lo: int, hi: int) -> None:
        count = hi - lo
        if count == 0:
            return
        groups = (count + 7) // 8
        seg = v[lo:hi]
        if count % 8:
            seg = np.concatenate([seg, np.zeros(groups * 8 - count, np.uint64)])
        write_uvarint(out, (groups << 1) | 1)
        out.extend(pack_bits_lsb(seg, bw))

    def emit_rle(val: int, count: int) -> None:
        write_uvarint(out, count << 1)
        out.extend(int(val).to_bytes(vbytes, "little"))

    boundaries = np.flatnonzero(v[1:] != v[:-1]) + 1
    starts = np.concatenate(([0], boundaries))
    ends = np.concatenate((boundaries, [n]))
    lens = ends - starts
    long_idx = np.flatnonzero(lens >= RLE_MIN_RUN)

    if len(long_idx) > 64:
        # level streams produce one (bitpack, RLE) pair per row: the
        # per-run Python loop dominates.  Acceptance of a candidate run
        # depends on the previous ACCEPTED run's end (the borrow check),
        # but only runs of 8..14 values can ever be rejected -- longer
        # ones are decided vectorized and the short tail walks a small
        # Python loop.  Emission is then fully vectorized; the stream is
        # byte-identical to the scalar loop below.
        rs, re_, rl = starts[long_idx], ends[long_idx], lens[long_idx]
        accept = rl >= RLE_MIN_RUN + 7
        amb = np.flatnonzero(~accept)
        if len(amb):
            last_cert = np.full(len(rl), -1, dtype=np.int64)
            cert_idx = np.flatnonzero(accept)
            if len(cert_idx):
                last_cert[cert_idx] = cert_idx
                np.maximum.accumulate(last_cert, out=last_cert)
            last_amb_acc = -1
            for i in amb:
                j = max(int(last_cert[i]), last_amb_acc)
                pend_i = int(re_[j]) if j >= 0 else 0
                k_i = (-(int(rs[i]) - pend_i)) % 8
                if int(rl[i]) - k_i >= RLE_MIN_RUN:
                    accept[i] = True
                    last_amb_acc = i
        if accept.any():
            return _rle_hybrid_encode_runs(
                v, bw, vbytes, rs[accept], re_[accept], rl[accept], n)

    pend = 0
    for ri in long_idx:
        s = int(starts[ri])
        l = int(lens[ri])
        gap = s - pend
        k = (-gap) % 8  # values borrowed from the run to 8-align the span
        if l - k < RLE_MIN_RUN:
            continue  # run too short after borrowing; fold into bit-packed span
        emit_bitpack(pend, s + k)
        emit_rle(int(v[s]), l - k)
        pend = int(ends[ri])
    emit_bitpack(pend, n)
    return bytes(out)


def _rle_hybrid_encode_runs(v: np.ndarray, bw: int, vbytes: int,
                            rs: np.ndarray, re_: np.ndarray, rl: np.ndarray,
                            n: int) -> bytes:
    """Vectorized emission over the ACCEPTED runs (caller resolved the
    borrow/acceptance chain): each accepted run's pend is exactly the
    previous accepted run's end, so k recomputes here without state."""
    pend = np.concatenate(([0], re_[:-1]))
    k = (-(rs - pend)) % 8
    # piece layout per run i: [bitpack span [pend_i, rs_i + k_i)][RLE run]
    # ... then one final bitpack span [re_[-1], n).  Mid-stream spans are
    # exact multiples of 8 values by construction (the borrow), so packing
    # every span's values concatenated and slicing at byte offsets yields
    # the same bytes as packing each span alone.
    c = (rs + k) - pend                      # bitpack span value counts
    groups = c // 8
    tail_c = n - int(re_[-1])
    tail_groups = (tail_c + 7) // 8
    bp_hdr = (groups << 1) | 1
    rle_count = rl - k
    rle_hdr = rle_count << 1
    bp_hlen = uvarint_lengths(bp_hdr.astype(np.uint64))
    bp_hlen[c == 0] = 0                      # empty spans emit nothing
    rle_hlen = uvarint_lengths(rle_hdr.astype(np.uint64))
    bp_plen = groups * bw                    # bytes: 8 values * bw bits
    piece_len = bp_hlen + bp_plen + rle_hlen + vbytes
    off = np.zeros(len(rs), dtype=np.int64)
    np.cumsum(piece_len[:-1], out=off[1:])
    total = int(piece_len.sum())
    tail_hlen = 0
    if tail_c:
        tail_hdr = (tail_groups << 1) | 1
        tail_hlen = int(uvarint_lengths(
            np.array([tail_hdr], dtype=np.uint64))[0])
        total += tail_hlen + tail_groups * bw
    body = np.empty(total, dtype=np.uint8)
    nz = c > 0
    uvarint_scatter(bp_hdr[nz].astype(np.uint64), bp_hlen[nz], body, off[nz])
    if tail_c:
        uvarint_scatter(np.array([tail_hdr], dtype=np.uint64),
                        np.array([tail_hlen], dtype=np.int64), body,
                        np.array([total - tail_hlen - tail_groups * bw],
                                 dtype=np.int64))
    uvarint_scatter(rle_hdr.astype(np.uint64), rle_hlen, body,
                    off + bp_hlen + bp_plen)
    # RLE run values, little-endian vbytes each
    vals = v[rs]
    vdst = (off + bp_hlen + bp_plen + rle_hlen)[:, None] + np.arange(vbytes)
    vsrc = np.zeros((len(rs), 8), dtype=np.uint8)
    vsrc[:] = vals.astype("<u8", copy=False).view(np.uint8).reshape(len(rs), 8)
    body[vdst.reshape(-1)] = vsrc[:, :vbytes].reshape(-1)
    # bit-packed span payloads: gather all span values, pack once, slice
    total_c = int(c.sum())
    if total_c or tail_c:
        seg_starts = pend[nz]
        seg_lens = c[nz]
        if tail_c:
            seg_starts = np.concatenate([seg_starts, [int(re_[-1])]])
            seg_lens = np.concatenate([seg_lens, [tail_c]])
        reps = np.repeat(seg_starts, seg_lens)
        pos = np.arange(len(reps), dtype=np.int64)
        seg_off = np.zeros(len(seg_lens), dtype=np.int64)
        np.cumsum(seg_lens[:-1], out=seg_off[1:])
        gathered = v[reps + (pos - np.repeat(seg_off, seg_lens))]
        pad = (8 - len(gathered) % 8) % 8 if tail_c % 8 else 0
        if pad:
            gathered = np.concatenate(
                [gathered, np.zeros(pad, dtype=np.uint64)])
        packed = np.frombuffer(pack_bits_lsb(gathered, bw), dtype=np.uint8)
        # destination byte ranges per span
        dst_starts = (off + bp_hlen)[nz]
        dst_lens = bp_plen[nz]
        if tail_c:
            dst_starts = np.concatenate(
                [dst_starts, [total - tail_groups * bw]])
            dst_lens = np.concatenate([dst_lens, [tail_groups * bw]])
        dreps = np.repeat(dst_starts, dst_lens)
        dpos = np.arange(len(dreps), dtype=np.int64)
        doff = np.zeros(len(dst_lens), dtype=np.int64)
        np.cumsum(dst_lens[:-1], out=doff[1:])
        body[dreps + (dpos - np.repeat(doff, dst_lens))] = packed
    return bytes(body)


def rle_hybrid_decode(buf, bw: int, n: int) -> np.ndarray:
    """Decode n values from an RLE/bit-packed hybrid stream -> uint64 array."""
    out = np.empty(n, dtype=np.uint64)
    mv = memoryview(buf)
    vbytes = (bw + 7) // 8
    pos = 0
    i = 0
    while i < n:
        header, pos = read_uvarint(mv, pos)
        if header & 1:
            groups = header >> 1
            count = groups * 8
            nbytes = groups * bw
            vals = unpack_bits_lsb(mv[pos : pos + nbytes], bw, count)
            take = min(count, n - i)
            out[i : i + take] = vals[:take]
            i += take
            pos += nbytes
        else:
            count = header >> 1
            val = int.from_bytes(mv[pos : pos + vbytes], "little")
            pos += vbytes
            out[i : i + count] = val
            i += count
    return out

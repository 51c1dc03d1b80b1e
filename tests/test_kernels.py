"""Kernel round-trip tests, mirroring the reference's encoder unit layer
(reference: test/encoding.test.js, test/delta.test.js) and the FIXTURES.md
F3 run-structure boundary cases."""

from __future__ import annotations

import numpy as np
import pytest

from sparkcodec.kernels import (
    bit_widths,
    byte_stream_split_decode,
    byte_stream_split_encode,
    delta_binary_pack,
    delta_binary_unpack,
    delta_byte_array_decode,
    delta_byte_array_encode,
    delta_for_pack,
    delta_for_unpack,
    delta_length_decode,
    delta_length_encode,
    for_pack,
    for_unpack,
    pack_bits_lsb,
    plain_decode_binary,
    plain_decode_bool,
    plain_decode_numeric,
    plain_encode_binary,
    plain_encode_bool,
    plain_encode_numeric,
    rle_hybrid_decode,
    rle_hybrid_encode,
    unpack_bits_lsb,
    unzigzag,
    zigzag,
)
from sparkcodec.kernels.dictionary import dict_indexes_decode, dict_indexes_encode, factorize
from sparkcodec.kernels.plain import binary_buffers

RNG = np.random.default_rng(42)


# ---------- bitpack ----------

@pytest.mark.parametrize("bw", [0, 1, 2, 3, 5, 7, 8, 13, 17, 25, 31, 32, 33, 47, 63, 64])
def test_pack_unpack_roundtrip(bw):
    n = 1000
    if bw == 0:
        vals = np.zeros(n, dtype=np.uint64)
    elif bw == 64:
        vals = RNG.integers(0, 2**63, n, dtype=np.uint64) * 2 + RNG.integers(0, 2, n, dtype=np.uint64)
    else:
        vals = RNG.integers(0, 2**bw, n, dtype=np.uint64)
    buf = pack_bits_lsb(vals, bw)
    assert len(buf) == (n * bw + 7) // 8
    out = unpack_bits_lsb(buf, bw, n)
    np.testing.assert_array_equal(out, vals)


def test_pack_known_vector():
    # values 0..7 at bw=3 (parquet spec worked example): bytes 0x88 0xC6 0xFA
    buf = pack_bits_lsb(np.arange(8, dtype=np.uint64), 3)
    assert buf == bytes([0x88, 0xC6, 0xFA])


def test_bit_widths():
    got = bit_widths(np.array([0, 1, 2, 3, 4, 255, 256, 2**63], dtype=np.uint64))
    np.testing.assert_array_equal(got, [0, 1, 2, 2, 3, 8, 9, 64])


# ---------- zigzag ----------

def test_zigzag_roundtrip():
    v = np.array([0, -1, 1, -2, 2, np.iinfo(np.int64).min, np.iinfo(np.int64).max], dtype=np.int64)
    np.testing.assert_array_equal(unzigzag(zigzag(v)), v)
    np.testing.assert_array_equal(zigzag(np.array([0, -1, 1, -2, 2])), [0, 1, 2, 3, 4])


# ---------- RLE hybrid ----------

@pytest.mark.parametrize("case", [
    np.zeros(10000, dtype=np.uint64),                       # all zeros
    np.repeat(np.arange(100, dtype=np.uint64), 7),          # runs of exactly 7
    np.repeat(np.arange(100, dtype=np.uint64), 8),          # runs of exactly 8
    np.tile(np.array([0, 1], dtype=np.uint64), 5000),       # alternating
    np.arange(10001, dtype=np.uint64) % 97,                 # length not multiple of 8
    np.array([], dtype=np.uint64),                          # empty
    np.array([5], dtype=np.uint64),                         # single value
])
def test_rle_hybrid_roundtrip(case):
    bw = int(bit_widths(np.array([case.max() if len(case) else 0], dtype=np.uint64))[0])
    buf = rle_hybrid_encode(case, bw)
    out = rle_hybrid_decode(buf, bw, len(case))
    np.testing.assert_array_equal(out, case)


def test_rle_sparse_spikes():
    v = np.zeros(10000, dtype=np.uint64)
    v[[17, 4001, 4002, 9998]] = 1
    buf = rle_hybrid_encode(v, 1)
    np.testing.assert_array_equal(rle_hybrid_decode(buf, 1, len(v)), v)
    assert len(buf) < 100  # mostly RLE runs


def test_rle_run_compression():
    # 100k values, 2 distinct, long runs -> tiny output (ref 170-byte pin analog)
    v = np.repeat(np.array([0, 1], dtype=np.uint64), 50000)
    buf = rle_hybrid_encode(v, 1)
    assert len(buf) <= 12
    np.testing.assert_array_equal(rle_hybrid_decode(buf, 1, len(v)), v)


def test_rle_misaligned_long_run():
    # 3 odd values then a long run: span must borrow values to 8-align
    v = np.concatenate([np.array([9, 3, 7], dtype=np.uint64), np.full(100, 5, dtype=np.uint64)])
    buf = rle_hybrid_encode(v, 4)
    np.testing.assert_array_equal(rle_hybrid_decode(buf, 4, len(v)), v)


def test_rle_random_fuzz():
    for _ in range(20):
        n = int(RNG.integers(1, 3000))
        bw = int(RNG.integers(1, 20))
        v = RNG.integers(0, 2**bw, n, dtype=np.uint64)
        # inject runs
        for _ in range(5):
            s = int(RNG.integers(0, n))
            e = min(n, s + int(RNG.integers(1, 50)))
            v[s:e] = v[s]
        buf = rle_hybrid_encode(v, bw)
        np.testing.assert_array_equal(rle_hybrid_decode(buf, bw, n), v)


# ---------- DELTA_BINARY_PACKED ----------

@pytest.mark.parametrize("case", [
    np.array([], dtype=np.int64),
    np.array([7], dtype=np.int64),
    np.full(1000, 7, dtype=np.int64),                       # constant (zero deltas)
    np.arange(1000, dtype=np.int64) * 3,                    # constant delta
    RNG.integers(-(2**31), 2**31, 5000).astype(np.int64),   # full int32 range
    np.array([2**31 - 1, -(2**31), 2**31 - 1, 0], dtype=np.int64),  # 33-bit adjusted deltas
    RNG.integers(0, 50257, 4097).astype(np.int64),          # token-id shaped, non-multiple of 128
    np.array([np.iinfo(np.int64).min, np.iinfo(np.int64).max], dtype=np.int64),
])
def test_delta_binary_roundtrip(case):
    buf = delta_binary_pack(case)
    out = delta_binary_unpack(buf)
    np.testing.assert_array_equal(out, case)


def test_delta_binary_monotonic_is_small():
    v = np.arange(100000, dtype=np.int64)
    buf = delta_binary_pack(v)
    # all deltas 1 -> 0-bit miniblocks; floor is the 5-byte/128-value block header
    assert len(buf) < 5000


# ---------- FOR / DELTA_FOR ----------

@pytest.mark.parametrize("codec", [(for_pack, for_unpack), (delta_for_pack, delta_for_unpack)])
@pytest.mark.parametrize("case", [
    np.array([], dtype=np.int64),
    np.array([-5], dtype=np.int64),
    np.full(999, -123456, dtype=np.int64),
    np.arange(10000, dtype=np.int64) * 7 + 1000,
    RNG.integers(-(2**31), 2**31, 5000).astype(np.int64),
    RNG.integers(1000, 1063, 10000).astype(np.int64),       # width-6 FOR window
])
def test_for_roundtrip(codec, case):
    enc, dec = codec
    np.testing.assert_array_equal(dec(enc(case)), case)


def test_for_small_range_size():
    v = RNG.integers(1000, 1064, 10000).astype(np.int64)  # 64-value range -> 6 bits
    buf = for_pack(v)
    assert len(buf) <= 10000 * 6 // 8 + 16


# ---------- PLAIN ----------

def test_plain_numeric_roundtrip():
    for dtype, arr in [
        ("int32", RNG.integers(-(2**31), 2**31, 1000).astype(np.int32)),
        ("int64", RNG.integers(-(2**62), 2**62, 1000).astype(np.int64)),
        ("float32", RNG.normal(size=1000).astype(np.float32)),
        ("float64", RNG.normal(size=1000)),
    ]:
        buf = plain_encode_numeric(arr, dtype)
        np.testing.assert_array_equal(plain_decode_numeric(buf, dtype), arr)


def test_plain_bool_roundtrip():
    v = RNG.integers(0, 2, 1001).astype(bool)
    np.testing.assert_array_equal(plain_decode_bool(plain_encode_bool(v), len(v)), v)


def test_plain_binary_roundtrip():
    vals = ["", "a", "hello world", "x" * 300, "épée🎉"]
    buf = plain_encode_binary(vals)
    offsets, data = plain_decode_binary(buf, len(vals))
    out = [bytes(data[offsets[i]:offsets[i + 1]]).decode() for i in range(len(vals))]
    assert out == vals


# ---------- dictionary ----------

def test_factorize_strings_first_occurrence_order():
    idx, d = factorize(["b", "a", "b", "c", "a"], "string")
    assert d.to_pylist() == ["b", "a", "c"]
    np.testing.assert_array_equal(idx, [0, 1, 0, 2, 1])


def test_dict_indexes_roundtrip():
    idx = RNG.integers(0, 17, 5000).astype(np.int64)
    buf = dict_indexes_encode(idx, 17)
    np.testing.assert_array_equal(dict_indexes_decode(buf, len(idx)), idx)


def test_dict_single_entry():
    idx = np.zeros(100, dtype=np.int64)
    buf = dict_indexes_encode(idx, 1)
    np.testing.assert_array_equal(dict_indexes_decode(buf, 100), idx)


# ---------- byte-array codecs ----------

def _as_buffers(vals):
    return binary_buffers([v.encode() for v in vals])


@pytest.mark.parametrize("vals", [
    ["", "a", "ab", "abc"],
    ["http://example.com/a/1", "http://example.com/a/2", "http://example.com/b/9"],
    ["same", "same", "same"],
    [""] * 5,
    ["z" * 500, "z" * 500 + "tail", "different"],
])
def test_delta_byte_array_roundtrip(vals):
    offsets, data = _as_buffers(vals)
    buf = delta_byte_array_encode(offsets, data)
    off2, dat2 = delta_byte_array_decode(buf)
    out = [bytes(dat2[off2[i]:off2[i + 1]]).decode() for i in range(len(vals))]
    assert out == vals


def test_delta_length_roundtrip():
    vals = ["", "one", "two", "three" * 40]
    offsets, data = _as_buffers(vals)
    off2, dat2 = delta_length_decode(delta_length_encode(offsets, data))
    out = [bytes(dat2[off2[i]:off2[i + 1]]).decode() for i in range(len(vals))]
    assert out == vals


def test_prefix_compression_wins_on_urls():
    urls = [f"https://example.com/some/long/shared/prefix/path/{i:06d}" for i in range(1000)]
    offsets, data = _as_buffers(urls)
    dba = delta_byte_array_encode(offsets, data)
    dlb = delta_length_encode(offsets, data)
    assert len(dba) < len(dlb) * 0.5


# ---------- byte stream split ----------

def test_bss_roundtrip():
    v = RNG.normal(size=1000)
    buf = byte_stream_split_encode(v, 8)
    np.testing.assert_array_equal(byte_stream_split_decode(buf, 8, 1000, "<f8"), v)
    f = v.astype(np.float32)
    buf = byte_stream_split_encode(f, 4)
    np.testing.assert_array_equal(byte_stream_split_decode(buf, 4, 1000, "<f4"), f)


# ---------------------------------------------------------------- PFOR

class TestPfor:
    CASES = [
        np.array([], dtype=np.int64),
        np.array([5], dtype=np.int64),
        np.array([0, 0, 0], dtype=np.int64),
        np.array([7, -3, 2**40, 0, -(2**40)], dtype=np.int64),
        np.array([np.iinfo(np.int64).min, np.iinfo(np.int64).max, 0, -1],
                 dtype=np.int64),
    ]

    def test_roundtrip_edge_cases(self):
        from sparkcodec.kernels.pfor import (
            delta_pfor_pack, delta_pfor_unpack, pfor_pack, pfor_unpack)

        for v in self.CASES:
            assert np.array_equal(pfor_unpack(pfor_pack(v)), v)
            assert np.array_equal(delta_pfor_unpack(delta_pfor_pack(v)), v)

    def test_roundtrip_fuzz(self):
        from sparkcodec.kernels.pfor import (
            delta_pfor_pack, delta_pfor_unpack, pfor_pack, pfor_unpack)

        rng = np.random.default_rng(11)
        for _ in range(20):
            n = int(rng.integers(1, 5000))
            base = rng.integers(-1000, 1000, n)
            out = np.where(rng.random(n) < 0.01,
                           rng.integers(-2**50, 2**50, n), base).astype(np.int64)
            assert np.array_equal(pfor_unpack(pfor_pack(out)), out)
            assert np.array_equal(delta_pfor_unpack(delta_pfor_pack(out)), out)

    def test_outliers_beat_plain_for(self):
        # 0.5% outliers at 2**40: FOR packs EVERY value at 41 bits, PFOR
        # patches only the outliers -- must be at least 3x smaller
        from sparkcodec.kernels.delta import for_pack
        from sparkcodec.kernels.pfor import pfor_pack

        rng = np.random.default_rng(3)
        n = 100_000
        v = np.where(rng.random(n) < 0.005, 2**40,
                     rng.integers(0, 1000, n)).astype(np.int64)
        assert len(pfor_pack(v)) * 3 < len(for_pack(v))

    def test_uniform_matches_for_size(self):
        # no useful exceptions -> base width == max width, payload == FOR's
        # (within the few header bytes); codec-id tie-break keeps FOR picked
        from sparkcodec.kernels.delta import for_pack
        from sparkcodec.kernels.pfor import pfor_pack

        rng = np.random.default_rng(4)
        v = rng.integers(0, 2**20, 50_000).astype(np.int64)
        assert abs(len(pfor_pack(v)) - len(for_pack(v))) <= 8

    def test_delta_pfor_near_monotonic_with_jumps(self):
        # typical step 1-3 (2-bit zigzag deltas), rare 10**12 jumps: the
        # jump must not widen the whole stream
        from sparkcodec.kernels.delta import delta_for_pack
        from sparkcodec.kernels.pfor import delta_pfor_pack, delta_pfor_unpack

        rng = np.random.default_rng(5)
        n = 50_000
        v = (np.cumsum(rng.integers(1, 4, n))
             + np.cumsum(np.where(rng.random(n) < 0.001, 10**12, 0))).astype(np.int64)
        packed = delta_pfor_pack(v)
        assert np.array_equal(delta_pfor_unpack(packed), v)
        assert len(packed) * 5 < len(delta_for_pack(v))

    def test_corrupt_exception_position_rejected(self):
        import pytest

        from sparkcodec.kernels.pfor import pfor_pack, pfor_unpack

        v = np.array([0, 0, 0, 0, 2**40], dtype=np.int64)
        buf = bytearray(pfor_pack(v))
        # header: uvarint n(=5) | zigzag ref(=0) | u8 b | uvarint n_exc(=1)
        # | u8 pos_bw | u8 high_bw | packed positions ...
        assert buf[3] == 1  # one exception
        buf[6] = 0xFF  # exception position -> 255 >= n
        with pytest.raises(ValueError, match="corrupt PFOR"):
            pfor_unpack(bytes(buf))

    def test_chunk_auto_selects_pfor_on_skew(self):
        from sparkcodec.chunk import decode_array, encode_array

        rng = np.random.default_rng(7)
        n = 50_000
        v = np.where(rng.random(n) < 0.005, 2**40,
                     rng.integers(0, 1000, n)).astype(np.int64)
        buf, meta = encode_array(v)
        assert meta["codec"] == "PFOR"
        assert np.array_equal(np.asarray(decode_array(buf)), v)

    def test_chunk_forced_codecs_preserve_nulls(self):
        import pyarrow as pa

        from sparkcodec import selector as S
        from sparkcodec.chunk import decode_array, encode_array

        arr = pa.array([1, None, 5, 2**40, None, 7], type=pa.int64())
        for codec in (S.PFOR, S.DELTA_PFOR):
            buf, meta = encode_array(arr, codec=codec)
            assert meta["codec"] in ("PFOR", "DELTA_PFOR")
            assert decode_array(buf).to_pylist() == arr.to_pylist()

    def test_selector_prefers_for_on_ties(self):
        # dense uniform small-range ints: PFOR's exact probe equals FOR's
        # cost, and the lower codec id must win (no churn on old data)
        from sparkcodec import selector as S

        rng = np.random.default_rng(9)
        v = rng.integers(0, 250, 5000).astype(np.int64)
        st = S.sample_numeric(v)
        costs = S.estimate_costs_numeric(st, "i", n_total=len(v))
        assert costs[S.PFOR] >= costs[S.FOR] - 1e-9
        picked = S.pick({c: costs[c] for c in (S.FOR, S.PFOR)})
        assert picked == S.FOR


# ---------------------------------------------------------------- ALP

class TestAlp:
    def test_decimal_roundtrip_and_ratio(self):
        from sparkcodec.kernels.alp import alp_decode, alp_encode

        rng = np.random.default_rng(1)
        prices = np.round(rng.uniform(0, 1000, 100_000), 2)
        buf = alp_encode(prices)
        assert buf[0] == 0  # decimal mode
        out = alp_decode(buf)
        assert np.array_equal(out.view(np.uint64), prices.view(np.uint64))
        assert len(buf) < 0.3 * prices.nbytes  # ~17 bits/value

    def test_decimal_exceptions_patch_bitwise(self):
        from sparkcodec.kernels.alp import alp_decode, alp_encode

        rng = np.random.default_rng(2)
        v = np.round(rng.uniform(0, 100, 20_000), 2)
        idx = rng.choice(20_000, 60, replace=False)
        v[idx[:20]] = np.nan
        v[idx[20:40]] = np.inf
        v[idx[40:]] = np.pi
        buf = alp_encode(v)
        assert buf[0] == 0  # still decimal; exceptions side-listed
        out = alp_decode(buf)
        assert np.array_equal(out.view(np.uint64), v.view(np.uint64))
        # exceptions must not widen the int frame: still small
        assert len(buf) < 0.35 * v.nbytes

    def test_rd_mode_true_reals(self):
        from sparkcodec.kernels.alp import alp_decode, alp_encode

        rng = np.random.default_rng(3)
        for dtype in (np.float64, np.float32):
            v = rng.normal(size=50_000).astype(dtype)
            buf = alp_encode(v)
            assert buf[0] == 1  # RD mode
            out = alp_decode(buf)
            bd = np.uint64 if dtype == np.float64 else np.uint32
            assert out.dtype == v.dtype
            assert np.array_equal(out.view(bd), v.view(bd))
            # left-bits dictionary must save vs raw
            assert len(buf) < 0.95 * v.nbytes

    def test_edge_cases(self):
        from sparkcodec.kernels.alp import alp_decode, alp_encode

        cases = [
            np.array([], dtype=np.float64),
            np.array([0.0], dtype=np.float64),
            np.array([-0.0, 0.0, np.nan, np.inf, -np.inf], dtype=np.float64),
            np.full(5_000, 3.14159),
            np.array([1e308, -1e308, 5e-324, -5e-324], dtype=np.float64),
            np.array([], dtype=np.float32),
            np.array([np.float32("nan"), np.float32("-0.0")], dtype=np.float32),
        ]
        for v in cases:
            out = alp_decode(alp_encode(v))
            bd = np.uint64 if v.dtype.itemsize == 8 else np.uint32
            assert out.dtype == v.dtype
            assert np.array_equal(out.view(bd), v.view(bd))

    def test_fuzz_roundtrip(self):
        from sparkcodec.kernels.alp import alp_decode, alp_encode

        rng = np.random.default_rng(4)
        for trial in range(15):
            n = int(rng.integers(1, 3000))
            mode = trial % 3
            if mode == 0:
                v = np.round(rng.uniform(-1e6, 1e6, n), int(rng.integers(0, 5)))
            elif mode == 1:
                v = rng.normal(size=n) * 10.0 ** rng.integers(-200, 200)
            else:
                v = rng.normal(size=n).astype(np.float32)
            bd = np.uint64 if v.dtype.itemsize == 8 else np.uint32
            out = alp_decode(alp_encode(v))
            assert np.array_equal(out.view(bd), v.view(bd)), (trial, v.dtype)

    def test_size_scored_param_choice(self):
        # the (e, f) search must weigh encoded SIZE, not hit ratio alone: a
        # few non-decimal values must not push the search to a wide scale
        from sparkcodec.kernels.alp import choose_decimal_params

        rng = np.random.default_rng(5)
        v = np.round(rng.uniform(0, 1000, 2000), 2)
        v[::401] = np.pi  # sprinkle non-decimals
        e, f, ratio, bits = choose_decimal_params(v)
        assert ratio > 0.95
        assert bits < 24  # ~17-bit ints + exception cost, NOT 50-bit scale

    def test_rejects_non_float(self):
        import pytest

        from sparkcodec.kernels.alp import alp_encode

        with pytest.raises(ValueError, match="float32/float64"):
            alp_encode(np.arange(10, dtype=np.int64))

    def test_chunk_auto_selects_alp(self):
        from sparkcodec.chunk import decode_array, encode_array

        rng = np.random.default_rng(6)
        prices = np.round(rng.uniform(0, 1000, 50_000), 2)
        buf, meta = encode_array(prices)
        assert meta["codec"] == "ALP"
        out = np.asarray(decode_array(buf))
        assert np.array_equal(out.view(np.uint64), prices.view(np.uint64))

    def test_chunk_forced_alp_preserves_nulls(self):
        import pyarrow as pa

        from sparkcodec import selector as S
        from sparkcodec.chunk import decode_array, encode_array

        arr = pa.array([1.25, None, 3.5, None, 1e308], type=pa.float64())
        buf, meta = encode_array(arr, codec=S.ALP)
        assert meta["codec"] == "ALP"
        assert decode_array(buf).to_pylist() == arr.to_pylist()

    def test_corrupt_mode_rejected(self):
        import pytest

        from sparkcodec.kernels.alp import alp_decode, alp_encode

        buf = bytearray(alp_encode(np.array([1.5, 2.5], dtype=np.float64)))
        buf[0] = 7
        with pytest.raises(ValueError, match="mode"):
            alp_decode(bytes(buf))


# ---------------------------------------------------------------- HLL

class TestHll:
    def test_sketch_merge_estimate(self):
        from sparkcodec.kernels.bloom import xxhash64_int64
        from sparkcodec.kernels.hll import hll_estimate, hll_merge, hll_sketch

        rng = np.random.default_rng(1)
        a = rng.integers(0, 10**6, 50_000)
        b = rng.integers(5 * 10**5, 15 * 10**5, 50_000)
        sa = hll_sketch(xxhash64_int64(a))
        sb = hll_sketch(xxhash64_int64(b))
        # commutative + idempotent merge
        assert hll_merge(sa, sb) == hll_merge(sb, sa)
        assert hll_merge(sa, sa) == sa
        true = len(np.union1d(a, b))
        est = hll_estimate(hll_merge(sa, sb))
        assert abs(est - true) / true < 0.05

    def test_estimate_accuracy_ladder(self):
        from sparkcodec.kernels.bloom import xxhash64_int64
        from sparkcodec.kernels.hll import hll_estimate, hll_sketch

        for n in (0, 1, 100, 5_000, 200_000):
            u = np.arange(n, dtype=np.int64) * 2654435761
            est = hll_estimate(hll_sketch(xxhash64_int64(u)))
            if n == 0:
                assert est == 0.0
            else:
                assert abs(est - n) / max(n, 1) < 0.05, (n, est)

    def test_order_and_partition_independence(self):
        # the merged registers must not depend on value order or on how
        # the values were split across sketches (what makes the exact SQL
        # oracle possible)
        from sparkcodec.kernels.bloom import xxhash64_int64
        from sparkcodec.kernels.hll import hll_merge, hll_sketch

        rng = np.random.default_rng(2)
        v = rng.integers(-10**9, 10**9, 30_000)
        whole = hll_sketch(xxhash64_int64(v))
        shuffled = hll_sketch(xxhash64_int64(rng.permutation(v)))
        parts = hll_merge(*[hll_sketch(xxhash64_int64(c))
                            for c in np.array_split(v, 7)])
        assert whole == shuffled == parts

    def test_corrupt_sketch_rejected(self):
        import pytest

        from sparkcodec.kernels.hll import hll_merge, hll_registers, hll_sketch

        sk = hll_sketch(np.array([1, 2, 3], dtype=np.uint64))
        with pytest.raises(ValueError, match="corrupt"):
            hll_registers(sk[:-10])
        other = bytes([9]) + bytes(1 << 9)
        with pytest.raises(ValueError, match="precision"):
            hll_merge(sk, other)

    def test_sql_replay_matches_python(self):
        import duckdb

        from sparkcodec.kernels.bloom import xxhash64_int64
        from sparkcodec.kernels.hll import (
            hll_registers, hll_registers_oracle_sql, hll_sketch,
            xxhash64_int64_sql)

        rng = np.random.default_rng(3)
        vals = np.concatenate([
            rng.integers(-2**63, 2**63, 300),
            np.array([0, 1, -1, 2**63 - 1, -2**63, 255, -256, 2**32, -2**32]),
        ]).astype(np.int64)
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE t AS SELECT * FROM (SELECT unnest(?) AS v)",
            [vals.tolist()])
        expected = {int(v): int(h) for v, h in zip(vals, xxhash64_int64(vals))}
        rows = con.execute(xxhash64_int64_sql("SELECT v FROM t")).fetchall()
        assert all(expected[int(v)] == int(h) for v, h in rows)
        reg = hll_registers(hll_sketch(xxhash64_int64(np.unique(vals))))
        py_regs = {int(b): int(r) for b, r in enumerate(reg) if r}
        sql_regs = dict(con.execute(
            hll_registers_oracle_sql("SELECT v FROM t")).fetchall())
        assert py_regs == {int(b): int(r) for b, r in sql_regs.items()}

"""FSST kernel: exact round-trips, escape handling (0xFF bytes), and
profitability on repetitive text."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from sparkcodec.kernels.fsst import (
    SymbolTable,
    fsst_decode,
    fsst_encode,
    fsst_sample_gain,
    train,
)
from sparkcodec.kernels.plain import binary_buffers

RNG = np.random.default_rng(42)


def rt(vals: list[bytes]):
    offsets, data = binary_buffers(vals)
    buf = fsst_encode(offsets, data)
    off2, dat2 = fsst_decode(buf)
    out = [bytes(dat2[off2[i]:off2[i + 1]]) for i in range(len(vals))]
    assert out == vals, (out[:5], vals[:5])
    return buf


@pytest.mark.parametrize("vals", [
    [b"hello world", b"hello there", b"world hello"],
    [b""],
    [b"", b"", b""],
    [b"a"],
    [b"\xff", b"\xff\xff", b"ab\xff\xffcd"],           # escape byte is data
    [bytes(range(256))],                               # every byte value
    [b"http://example.com/" + str(i).encode() for i in range(500)],
    [b"x" * 1000, b"y" * 1000],
])
def test_fsst_roundtrip(vals):
    rt(vals)


def test_fsst_compresses_repetitive_text():
    words = [b"the", b"query", b"spark", b"table", b"join", b"filter"]
    vals = [b" ".join(words[int(x) % 6] for x in RNG.integers(0, 6, 12)) for _ in range(2000)]
    buf = rt(vals)
    orig = sum(len(v) for v in vals)
    assert len(buf) < orig * 0.6, (len(buf), orig)


def test_fsst_random_bytes_no_blowup():
    vals = [RNG.integers(0, 256, 40).astype("u1").tobytes() for _ in range(500)]
    buf = rt(vals)
    orig = sum(len(v) for v in vals)
    # worst case bounded: symbols cover single bytes, escapes only for rare ones
    assert len(buf) < orig * 1.6


def test_fsst_fuzz_with_ff_runs():
    for trial in range(10):
        vals = []
        for _ in range(100):
            n = int(RNG.integers(0, 30))
            b = RNG.choice([0xFF, 0x41, 0x42, 0x00], size=n, p=[0.4, 0.3, 0.2, 0.1])
            vals.append(b.astype("u1").tobytes())
        rt(vals)


def test_fsst_trained_symbols_bounded():
    vals = [b"abcabcabc" * 10] * 100
    offsets, data = binary_buffers(vals)
    table = train(offsets, data)
    assert len(table.symbols) <= 255
    assert all(1 <= len(s) <= 8 for s in table.symbols)
    # multi-byte symbols must emerge from repetitive data
    assert any(len(s) > 1 for s in table.symbols)


def test_fsst_sample_gain_positive_on_text():
    vals = [b"generate spark table row filter key" for _ in range(200)]
    offsets, data = binary_buffers(vals)
    assert fsst_sample_gain(offsets, data) > 0.3


def test_symbol_table_serialization():
    t = SymbolTable([b"ab", b"c", b"defghijk"])
    buf = t.serialize()
    t2, pos = SymbolTable.deserialize(memoryview(buf), 0)
    assert t2.symbols == t.symbols and pos == len(buf)


_SALAD = np.array(
    "spark column vector batch scan sort hash join filter value table part "
    "line order customer query agg group stream fast slow small key index "
    "page chunk codec encode decode bloom range token".split())


def _word_salad(seed: int, n_rows: int = 2000) -> pa.Array:
    """Zipf word salad over 32 words: FSST trains >= 128 symbols on it."""
    r = np.random.default_rng(seed)
    n_words = r.integers(10, 120, size=n_rows)
    words = _SALAD[r.zipf(1.3, size=int(n_words.sum())) % len(_SALAD)]
    ends = np.cumsum(n_words)
    return pa.array([" ".join(words[e - k:e]) for e, k in zip(ends, n_words)])


@pytest.mark.parametrize("seed", [2, 3, 4, 5])
def test_fsst_cell_over_arrow_buffer_roundtrips(seed):
    """Payload cells are memoryviews over Arrow buffers; a symbol count
    >= 128 must not read as a negative signed byte."""
    from sparkcodec.engine import (
        _binary_cells, _decode_any_column, _encode_any_column,
    )

    text = _word_salad(seed)
    buf, meta = _encode_any_column(text, compress=False)
    assert meta["codec"] == "FSST"
    cell = _binary_cells(pa.array([buf], pa.binary()))[0]
    assert _decode_any_column(cell, pa.string()).equals(text)


def test_decode_to_parquet_uncompressed_fsst_text(spark, tmp_path):
    import pyarrow.parquet as pq

    from sparkcodec.engine import decode_to_parquet, encode_to_parquet

    text = _word_salad(2)
    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.table({"doc_id": np.arange(len(text)), "text": text}), src)
    encode_to_parquet(spark, src, str(tmp_path / "enc"), compress=False).collect()
    decode_to_parquet(spark, str(tmp_path / "enc"), str(tmp_path / "dec")).collect()
    back = pq.read_table(str(tmp_path / "dec")).sort_by("doc_id")
    assert back.column("text").to_pylist() == text.to_pylist()

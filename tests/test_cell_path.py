"""One cell path for both payload layouts.

Every encode produces per-column cells; the single-blob layout stores them
behind one header in ``payload``, the per-column layout stores each as its
own ``payload_<col>`` column.  Every reader maps an encoded row to
``{column: cell}`` and decodes through the same per-row step, so the two
layouts must answer every read identically -- and the blob bytes must stay
exactly what they were before the readers were unified.
"""
from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pytest

from sparkcodec.engine import (
    GROUP_MAGIC,
    _encode_batch_stream,
    _encode_group_columns,
    _encode_plan,
    _group_blob,
    _group_sections,
    _split_layout,
    apply_deletes,
    decode_chunk_group,
    decode_dataframe,
    decode_to_parquet,
    encode_chunk_group,
    encode_dataframe,
    filter_chunks_may_contain,
    group_may_contain,
)
from sparkcodec.kernels.varint import write_uvarint

# sha256 of encode_chunk_group(_fixed_table(), True,
# bloom_columns=("doc_id", "n_tok")) at GROUP_VERSION 2: persisted tables
# hold these bytes, so a change here needs a version bump, not a re-pin
FIXED_BLOB_SHA256 = "2f9113c00edf9017b21d9e307f48a65f09e5103f359b1e9fa368b2bd1c6ff396"


def _fixed_table(n: int = 3000) -> pa.Table:
    i = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array([f"doc-{k:06d}" for k in range(n)]),
        "tokens": pa.array([[int((k * 7919 + j * 31) % 50000)
                             for j in range(k % 23)] for k in range(n)],
                           pa.list_(pa.int32())),
        "n_tok": pa.array((i % 23).astype(np.int32)),
        "score": pa.array(np.round(np.sin(i) * 1000, 2)),
        "source": pa.array([["web", "books", "code"][k % 3] if k % 11 else None
                            for k in range(n)]),
    })


# ---------- byte pins (no Spark) ----------

def test_fixed_blob_bytes_are_pinned():
    blob, _, pairs, n_tokens = encode_chunk_group(
        _fixed_table(), True, bloom_columns=("doc_id", "n_tok"))
    assert hashlib.sha256(blob).hexdigest() == FIXED_BLOB_SHA256
    assert len(blob) == 19954 and n_tokens == 32935
    back = decode_chunk_group(blob, pairs)
    assert back.to_pydict() == _fixed_table().to_pydict()


def test_blob_cells_equal_the_per_column_cells_of_the_same_window():
    t = _fixed_table()

    def encoded_row(split):
        _, out_schema = _encode_plan(t.column_names, t.schema,
                                     split_payload=split,
                                     bloom_columns=("doc_id",))
        rows = list(_encode_batch_stream(
            iter(t.to_batches()), 0, out_schema, 1 << 20, 1 << 30, True))
        assert len(rows) == 1
        return rows[0]

    blob_row = encoded_row(False)
    split_row = encoded_row(True)
    blob = blob_row.column(blob_row.schema.get_field_index("payload"))[0].as_py()
    n_rows, cells, blooms = _group_sections(blob)
    assert n_rows == len(t) and list(cells) == t.column_names
    for c in t.column_names:
        got = split_row.column(split_row.schema.get_field_index(f"payload_{c}"))
        assert bytes(cells[c]) == got[0].as_py(), c
    assert list(blooms) == ["doc_id"]
    bloom_col = split_row.column(split_row.schema.get_field_index("bloom_doc_id"))
    assert bytes(blooms["doc_id"]) == bloom_col[0].as_py()
    # the stream's blob is encode_chunk_group's blob of the same window
    assert blob == encode_chunk_group(t, True, bloom_columns=("doc_id",))[0]
    assert blob_row.column(blob_row.schema.get_field_index("bytes_out"))[0].as_py() \
        == len(blob)


# ---------- the hardened header walk (no Spark) ----------

def _small_blob():
    t = pa.table({"a": pa.array([1, 2, 3, None], pa.int64()),
                  "s": pa.array(["x", "yy", None, "zzz"])})
    blob, _, pairs, _ = encode_chunk_group(t, True, bloom_columns=("a",))
    return t, blob, pairs


def test_header_walk_rejects_unknown_versions():
    t, blob, pairs = _small_blob()
    for v in (0, 3, 9, 255):
        bad = blob[:4] + bytes([v]) + blob[5:]
        with pytest.raises(ValueError, match="version"):
            decode_chunk_group(bad, pairs)
        with pytest.raises(ValueError, match="version"):
            group_may_contain(bad, "a", 1)
    assert decode_chunk_group(blob, pairs).to_pydict() == t.to_pydict()


def test_header_walk_rejects_every_truncation():
    """A cut at any byte -- in particular at every section boundary --
    raises ValueError, like a bad magic, instead of a codec error or a
    silently shorter chunk."""
    _, blob, pairs = _small_blob()
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            decode_chunk_group(blob[:cut], pairs)
        with pytest.raises(ValueError):
            group_may_contain(blob[:cut], "a", 1)


def test_header_walk_rejects_trailing_bytes_and_row_count_mismatch():
    t, blob, pairs = _small_blob()
    with pytest.raises(ValueError, match="trail"):
        decode_chunk_group(blob + b"\x00", pairs)
    cols, _, pairs, _ = _encode_group_columns(t, True)
    with pytest.raises(ValueError, match="decodes to 4 rows"):
        decode_chunk_group(_group_blob(len(t) + 1, cols), pairs)


def test_version_1_blobs_still_decode():
    """Version 1 blobs (no bloom sections) keep decoding."""
    t, _, _ = _small_blob()
    cols, _, pairs, _ = _encode_group_columns(t, True)
    out = bytearray(GROUP_MAGIC)
    out.append(1)
    write_uvarint(out, len(t))
    write_uvarint(out, len(cols))
    for name, cell, _ in cols:
        for section in (name.encode(), cell):
            write_uvarint(out, len(section))
            out.extend(section)
    assert decode_chunk_group(bytes(out), pairs).to_pydict() == t.to_pydict()
    assert group_may_contain(bytes(out), "a", 12345)


# ---------- both layouts through every reader (Spark) ----------

@pytest.fixture(scope="module")
def src(spark):
    return spark.range(1000).selectExpr(
        "id AS k",
        "concat('s', CAST(id % 37 AS STRING)) AS s",
        "sequence(0, CAST(id % 5 AS INT)) AS tokens").cache()


def _rows(df, cols=("k", "s", "tokens")):
    return sorted(tuple(tuple(v) if isinstance(v, list) else v
                        for v in (r[c] for c in cols))
                  for r in df.collect())


def _encode_dir(src, path, split):
    encode_dataframe(src.orderBy("k").coalesce(2), chunk_rows=100,
                     auto_fastpath=False, split_payload=split,
                     bloom_columns=("k",)).write.parquet(path)
    return path


@pytest.mark.parametrize("split", [False, True])
def test_every_reader_agrees_on_both_layouts(spark, src, tmp_path, split):
    enc_dir = _encode_dir(src, str(tmp_path / "enc"), split)
    enc = spark.read.parquet(enc_dir)
    assert _split_layout(enc.columns) == split
    exp = _rows(src)

    assert _rows(decode_dataframe(enc)) == exp
    proj = decode_dataframe(enc, columns=["s", "k"])
    assert proj.columns == ["k", "s"]
    assert _rows(proj, ("k", "s")) == _rows(src, ("k", "s"))

    out = str(tmp_path / "dec")
    decode_to_parquet(spark, enc_dir, out).collect()
    assert _rows(spark.read.parquet(out)) == exp

    marked = apply_deletes(enc, equals={"s": "s3"})
    live = _rows(src.filter("s != 's3'"))
    assert _rows(decode_dataframe(marked)) == live
    marked_dir = str(tmp_path / "marked")
    marked.write.parquet(marked_dir)
    out2 = str(tmp_path / "dec_marked")
    decode_to_parquet(spark, marked_dir, out2).collect()
    assert _rows(spark.read.parquet(out2)) == live

    # without a bloom_<col> column the probe falls back to the blob's
    # embedded bloom sections; per-column cells embed none, so every
    # chunk is kept -- either way the needle's chunk survives
    no_bloom = enc.drop("bloom_k")
    kept = filter_chunks_may_contain(no_bloom, "k", 7)
    n_chunks = enc.count()
    if split:
        assert kept.count() == n_chunks
    else:
        assert 1 <= kept.count() < n_chunks
    assert decode_dataframe(kept).filter("k = 7").count() == 1


@pytest.mark.parametrize("split", [False, True])
def test_decode_to_parquet_honors_delete_masks(spark, src, tmp_path, split):
    """decode_to_parquet drops masked rows and skips n_live = 0 chunks,
    the same as decode_dataframe."""
    enc_dir = _encode_dir(src, str(tmp_path / "enc"), split)
    marked = apply_deletes(spark.read.parquet(enc_dir),
                           ranges={"k": (500, None)})
    assert marked.filter("n_live = 0").count() > 0  # whole chunks deleted
    marked_dir = str(tmp_path / "marked")
    marked.write.parquet(marked_dir)
    assert decode_dataframe(spark.read.parquet(marked_dir)).count() == 500

    out = str(tmp_path / "dec")
    manifest = decode_to_parquet(spark, marked_dir, out).collect()
    assert sum(r["n_rows"] for r in manifest) == 500
    back = spark.read.parquet(out)
    assert _rows(back) == _rows(src.filter("k < 500"))
    out2 = str(tmp_path / "dec_proj")
    decode_to_parquet(spark, marked_dir, out2, columns=["k"]).collect()
    assert sorted(r.k for r in spark.read.parquet(out2).collect()) == \
        list(range(500))

"""Per-column payload layout (``split_payload=True``): each source column's
encoded bytes land in their own ``payload_<col>`` BINARY column, so decoding
a projection prunes unselected columns at the parquet reader of the encoded
table (ReadSchema-level IO pruning) -- the "encoded column chunks written
back as binary columns" layout of the north rule.

Reference analog: one parquet column chunk per column per row group
(reference: src/parquet-writer.js:74-125); the single-blob layout is the
row-group-as-one-cell shape, this is the column-chunk-as-one-cell shape.
"""
from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from sparkcodec.engine import (
    apply_deletes,
    decode_dataframe,
    decode_to_parquet,
    encode_dataframe,
    encode_parquet_dataset,
    filter_chunks_may_contain,
    lookup_rows,
    range_repartition,
    range_scan_rows,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def toks(spark):
    from sparkcodec.tokens import tokens_table

    return tokens_table(spark, SF_DIR).cache()


def _checksum(df, cols):
    expr = ", ".join(cols)
    return df.agg(F.expr(f"bit_xor(xxhash64({expr}))")).collect()[0][0]


def test_split_roundtrip_bridge_path(spark, toks):
    enc = encode_dataframe(range_repartition(toks, 4), chunk_rows=128,
                           auto_fastpath=False, split_payload=True)
    assert "payload" not in enc.columns
    for c in ("doc_id", "tokens", "n_tok", "source"):
        assert f"payload_{c}" in enc.columns
    dec = decode_dataframe(enc)
    cols = ["doc_id", "tokens", "n_tok", "source"]
    assert _checksum(dec, cols) == _checksum(toks, cols)
    assert dec.count() == toks.count()


def test_split_roundtrip_scan_path_with_blooms_and_stats(spark, toks, tmp_path):
    src = str(tmp_path / "src.parquet")
    toks.write.parquet(src)
    enc = encode_parquet_dataset(spark, src, split_payload=True,
                                 chunk_rows=128,
                                 bloom_columns=("doc_id",),
                                 stat_columns=("doc_id",))
    assert {"bloom_doc_id", "min_doc_id", "max_doc_id"} <= set(enc.columns)
    dec = decode_dataframe(enc)
    cols = ["doc_id", "tokens", "n_tok", "source"]
    assert _checksum(dec, cols) == _checksum(toks, cols)


def test_split_pruned_decode_prunes_parquet_readschema(spark, toks, tmp_path):
    """The point of the layout: a 2-column decode over the persisted
    encoded table must not read the tokens payload from disk at all."""
    enc_dir = str(tmp_path / "enc")
    encode_dataframe(range_repartition(toks, 4), chunk_rows=128,
                     auto_fastpath=False,
                     split_payload=True).write.parquet(enc_dir)
    enc = spark.read.parquet(enc_dir)
    pruned = decode_dataframe(enc, columns=["doc_id", "n_tok"])
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted")
    scans = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert scans and "payload_tokens" not in scans[0], plan
    assert "payload_doc_id" in scans[0] and "payload_n_tok" in scans[0]
    # values exact
    got = dict(pruned.collect())
    exp = dict(toks.select("doc_id", "n_tok").collect())
    assert got == exp


def test_split_mixed_and_nested_types(spark):
    df = spark.range(200).selectExpr(
        "CAST(id AS INT) AS i32",
        "id AS i64",
        "CAST(id AS DOUBLE) / 7 AS f64",
        "CAST(id % 2 = 0 AS BOOLEAN) AS flag",
        "concat('s', CAST(id % 17 AS STRING)) AS s",
        "CAST(concat(CAST(id AS STRING), '.25') AS DECIMAL(12,2)) AS dec",
        "date_add(DATE'2020-01-01', CAST(id % 300 AS INT)) AS d",
        "IF(id % 5 = 0, NULL, named_struct('a', id, 'b', "
        "concat('x', CAST(id AS STRING)))) AS st",
        "map(concat('k', CAST(id % 3 AS STRING)), id) AS m",
        "IF(id % 7 = 0, NULL, sequence(0, CAST(id % 9 AS INT))) AS arr",
    )
    enc = encode_dataframe(df.repartition(3), chunk_rows=64,
                           auto_fastpath=False, split_payload=True)
    dec = decode_dataframe(enc)
    got = sorted(dec.collect(), key=lambda r: r["i64"])
    exp = sorted(df.collect(), key=lambda r: r["i64"])
    assert got == exp


def test_split_bloom_lookup_and_no_bloom_fallback(spark, toks):
    enc = encode_dataframe(range_repartition(toks, 4), chunk_rows=64,
                           auto_fastpath=False, split_payload=True,
                           bloom_columns=("doc_id",))
    target = toks.orderBy("doc_id").first()["doc_id"]
    got = lookup_rows(enc, "doc_id", target).collect()
    assert len(got) == 1 and got[0]["doc_id"] == target
    # without a bloom column there is no group blob to parse: the probe
    # must pass every chunk through, and the lookup still answers exactly
    enc_nb = encode_dataframe(range_repartition(toks, 4), chunk_rows=64,
                              auto_fastpath=False, split_payload=True)
    assert filter_chunks_may_contain(enc_nb, "doc_id", target).count() == \
        enc_nb.count()
    got2 = lookup_rows(enc_nb, "doc_id", target).collect()
    assert len(got2) == 1 and got2[0]["doc_id"] == target


def test_split_range_scan_typed_stats(spark, tmp_path):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_returnflag")
    enc = encode_dataframe(
        li.repartitionByRange(4, "l_orderkey")
        .sortWithinPartitions("l_orderkey"),
        chunk_rows=512, auto_fastpath=False, split_payload=True,
        stat_columns=("l_orderkey",))
    got = sorted(tuple(r) for r in
                 range_scan_rows(enc, "l_orderkey", 100, 140, "long").collect())
    exp = sorted(tuple(r) for r in li.filter(
        (F.col("l_orderkey") >= 100) & (F.col("l_orderkey") <= 140)).collect())
    assert got == exp and len(got) > 0


def test_split_decode_to_parquet(spark, toks, tmp_path):
    enc_dir = str(tmp_path / "enc")
    encode_dataframe(range_repartition(toks, 4), chunk_rows=128,
                     auto_fastpath=False,
                     split_payload=True).write.parquet(enc_dir)
    out = str(tmp_path / "dec")
    manifest = decode_to_parquet(spark, enc_dir, out).collect()
    assert sum(r["n_rows"] for r in manifest) == toks.count()
    back = spark.read.parquet(out)
    cols = ["doc_id", "tokens", "n_tok", "source"]
    assert _checksum(back, cols) == _checksum(toks, cols)
    # column-subset decode reads only those payload columns
    out2 = str(tmp_path / "dec2")
    decode_to_parquet(spark, enc_dir, out2, columns=["doc_id", "n_tok"]).collect()
    back2 = spark.read.parquet(out2)
    assert back2.columns == ["doc_id", "n_tok"]
    assert dict(back2.collect()) == dict(toks.select("doc_id", "n_tok").collect())


def test_split_unknown_column_raises(spark, toks):
    for split in (False, True):
        enc = encode_dataframe(range_repartition(toks, 2), chunk_rows=128,
                               auto_fastpath=False, split_payload=split)
        with pytest.raises(ValueError, match="unknown columns"):
            decode_dataframe(enc, columns=["nope"])


def test_split_empty_input(spark, toks):
    for split in (False, True):
        enc = encode_dataframe(toks.filter(F.lit(False)).repartition(2),
                               auto_fastpath=False, split_payload=split)
        assert enc.count() == 0


def test_encode_to_parquet_task_side_sink(spark, toks, tmp_path):
    """encode_to_parquet: pyarrow writes the encoded table inside each
    Python task (nothing crosses the JVM bridge); the manifest sums must
    match the data, and decode must be exact -- both payload layouts."""
    from sparkcodec.engine import encode_to_parquet

    src = str(tmp_path / "src.parquet")
    toks.write.parquet(src)
    cols = ["doc_id", "tokens", "n_tok", "source"]
    for split in (False, True):
        out = str(tmp_path / f"enc_{split}")
        manifest = encode_to_parquet(spark, src, out, chunk_rows=128,
                                     split_payload=split,
                                     bloom_columns=("doc_id",),
                                     stat_columns=("doc_id",)).collect()
        assert sum(r["n_rows"] for r in manifest) == toks.count()
        enc = spark.read.parquet(out)
        assert sum(r["n_chunks"] for r in manifest) == enc.count()
        assert ("payload" in enc.columns) == (not split)
        agg = enc.selectExpr("sum(bytes_out) bo", "sum(n_tokens) nt").first()
        assert agg["bo"] == sum(r["bytes_out"] for r in manifest)
        assert agg["nt"] == sum(r["n_tokens"] for r in manifest)
        dec = decode_dataframe(enc)
        assert _checksum(dec, cols) == _checksum(toks, cols)
    # empty input -> empty manifest, no files
    empty_src = str(tmp_path / "empty.parquet")
    toks.filter(F.lit(False)).write.parquet(empty_src)
    m = encode_to_parquet(spark, empty_src, str(tmp_path / "enc_empty")).collect()
    assert m == []


def test_split_decode_to_parquet_unknown_column_raises(spark, toks, tmp_path):
    for split in (False, True):
        enc_dir = str(tmp_path / f"enc_{split}")
        encode_dataframe(range_repartition(toks, 2), chunk_rows=128,
                         auto_fastpath=False,
                         split_payload=split).write.parquet(enc_dir)
        with pytest.raises(ValueError, match="unknown columns"):
            decode_to_parquet(spark, enc_dir, str(tmp_path / "out"),
                              columns=["doc_ids"])


def test_task_side_sinks_use_deterministic_names(spark, toks, tmp_path):
    """Retried/speculative attempts must REPLACE, not duplicate: final
    file names are a pure function of the partition id, so running the
    same sink twice into one directory yields the same file set."""
    import os

    from sparkcodec.engine import encode_to_parquet

    src = str(tmp_path / "src.parquet")
    toks.write.parquet(src)
    out = str(tmp_path / "enc")
    encode_to_parquet(spark, src, out, chunk_rows=128).collect()
    first = sorted(os.listdir(out))
    encode_to_parquet(spark, src, out, chunk_rows=128).collect()
    assert sorted(os.listdir(out)) == first
    assert not [f for f in first if f.endswith(".tmp")]
    enc = spark.read.parquet(out)
    assert decode_dataframe(enc).count() == toks.count()


def test_sink_rerun_sweeps_stale_parts(spark, toks, tmp_path):
    """A rerun into the same out_dir with FEWER splits (changed
    parallelism) must not leave higher-pid part files from the previous
    run: spark.read.parquet(out_dir) would silently mix chunks of two
    runs.  Both sinks pre-clean driver-side."""
    import os

    from sparkcodec.engine import encode_to_parquet

    import pyarrow.parquet as pq

    # one file, many row groups: split planning then actually follows
    # n_splits (splits never merge row groups across files)
    src = str(tmp_path / "src.parquet")
    pq.write_table(pa.Table.from_pandas(toks.toPandas()), src,
                   row_group_size=64)
    out = str(tmp_path / "enc")
    encode_to_parquet(spark, src, out, chunk_rows=64, n_splits=8).collect()
    wide = sorted(os.listdir(out))
    encode_to_parquet(spark, src, out, chunk_rows=64, n_splits=2).collect()
    narrow = sorted(os.listdir(out))
    assert len(narrow) < len(wide)
    assert decode_dataframe(spark.read.parquet(out)).count() == toks.count()

    dec_out = str(tmp_path / "dec")
    decode_to_parquet(spark, out, dec_out, n_splits=8,
                      target_file_bytes=1 << 12).collect()
    wide_dec = sorted(os.listdir(dec_out))
    decode_to_parquet(spark, out, dec_out, n_splits=2).collect()
    narrow_dec = sorted(os.listdir(dec_out))
    assert len(narrow_dec) < len(wide_dec)
    assert spark.read.parquet(dec_out).count() == toks.count()


def test_sink_rerun_with_empty_input_removes_previous_output(spark, toks, tmp_path):
    """A pid whose task yields no rows (here: every pid, empty input) must
    not leave the previous run's file for that pid in place."""
    import os

    from pyspark.sql import functions as F

    from sparkcodec.engine import encode_to_parquet

    src = str(tmp_path / "src.parquet")
    empty_src = str(tmp_path / "empty.parquet")
    toks.write.parquet(src)
    toks.filter(F.lit(False)).write.parquet(empty_src)
    out = str(tmp_path / "enc")
    encode_to_parquet(spark, src, out, chunk_rows=128).collect()
    assert any(f.endswith(".parquet") for f in os.listdir(out))
    m = encode_to_parquet(spark, empty_src, out).collect()
    assert m == []
    assert not [f for f in os.listdir(out) if f.endswith(".parquet")]


def test_split_payload_backtick_column_raises(spark):
    """A source column containing a backtick cannot be quoted into the
    payload_<col> DDL: reject it with the same clear error bloom/stat
    names get (dots are fine -- quoted whole)."""
    df = spark.range(10).selectExpr("id AS `a``b`", "id AS plain")
    with pytest.raises(ValueError, match="contains '`'"):
        encode_dataframe(df.repartition(2), chunk_rows=8,
                         auto_fastpath=False, split_payload=True)


def test_dotted_column_names_all_paths(spark, tmp_path):
    """Spark's mapInArrow re-selects input columns by UNQUOTED name, so a
    top-level name with '.' breaks analysis unless the engine aliases
    positionally around the bridge.  Both layouts, bridge + scan paths,
    full and pruned decode, deletes and probes must be exact."""
    df = spark.range(50).selectExpr("CAST(id AS INT) AS `a.b`", "id AS plain")
    src = str(tmp_path / "src")
    df.write.parquet(src)
    exp = sorted((r["a.b"], r["plain"]) for r in df.collect())
    for split in (False, True):
        enc = encode_dataframe(df.repartition(2), chunk_rows=16,
                               auto_fastpath=False, split_payload=split)
        got = sorted((r["a.b"], r["plain"]) for r in
                     decode_dataframe(enc).collect())
        assert got == exp, f"bridge split={split}"
        enc2 = encode_parquet_dataset(spark, src, split_payload=split)
        got2 = sorted((r["a.b"], r["plain"]) for r in
                      decode_dataframe(enc2).collect())
        assert got2 == exp, f"scan split={split}"
        pr = decode_dataframe(enc2, columns=["a.b"])
        assert pr.columns == ["a.b"] and pr.count() == 50
        # deletes and the bloom probe fallback cross mapInArrow too
        marked = apply_deletes(enc2, equals={"a.b": 3})
        assert decode_dataframe(marked).count() == 49, f"deletes split={split}"
        assert filter_chunks_may_contain(enc2, "a.b", 3).count() == \
            enc2.count(), f"probe split={split}"
    # bloom/stat columns reject unsafe names with a clear message
    with pytest.raises(ValueError, match="contains"):
        encode_dataframe(df.repartition(2), auto_fastpath=False,
                         bloom_columns=("a.b",))

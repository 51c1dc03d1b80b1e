"""The encoded table's layout, pinned.

Every encode entry point -- the bridge path of ``encode_dataframe``, its
reroute to the scan side, ``encode_parquet_dataset`` and the container
files ``encode_to_parquet`` writes -- must hand Spark (or the container)
exactly these schemas, and a fixed input must encode to exactly these
bytes on both payload layouts.  Persisted encoded tables and every reader
depend on both, so a change here is a format change, not a re-pin.
"""
from __future__ import annotations

import datetime
import decimal
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sparkcodec.engine import (
    encode_dataframe,
    encode_parquet_dataset,
    encode_to_parquet,
)

BASE = ("part_id:int,bucket:int,chunk_seq:int,chunk_id:bigint,"
        "n_rows:bigint,n_tokens:bigint,bytes_in:bigint,bytes_out:bigint,"
        "encode_ms:double,schema_json:string,meta_json:string")
AUX = ("bloom_s:binary,bloom_toks:binary,ndv_s:binary,hist_toks:array<bigint>,"
       "min_k:int,max_k:int,min_ts:timestamp,max_ts:timestamp,"
       "min_d:date,max_d:date,min_dec:decimal(10,2),max_dec:decimal(10,2)")
BLOB = "payload:binary"
SPLIT = ("payload_k:binary,payload_tiny:binary,payload_ts:binary,"
         "payload_d:binary,payload_dec:binary,payload_f:binary,"
         "payload_s:binary,payload_toks:binary")

AUX_KW = dict(bloom_columns=("s", "toks"), ndv_columns=("s",),
              hist_columns=("toks",), stat_columns=("k", "ts", "d", "dec"),
              agg_columns=("k", "f"))

# tinyint stats are pinned on the scan side, typed from the dataset's int8
BRIDGE = {
    False: f"struct<{BASE},{BLOB},{AUX},cnt_k:bigint,sum_k:bigint,"
           "cnt_f:bigint,sum_f:double>",
    True: f"struct<{BASE},{SPLIT},{AUX},cnt_k:bigint,sum_k:bigint,"
          "cnt_f:bigint,sum_f:double>",
}
SCAN_AUX = AUX.replace("min_ts:timestamp,max_ts:timestamp,",
                       "min_ts:timestamp,max_ts:timestamp,"
                       "min_tiny:tinyint,max_tiny:tinyint,")
SCAN = {
    False: f"struct<{BASE},{BLOB},{SCAN_AUX},cnt_k:bigint,sum_k:bigint,"
           "cnt_tiny:bigint,sum_tiny:bigint,cnt_f:bigint,sum_f:double,"
           "source_file:string>",
    True: f"struct<{BASE},{SPLIT},{SCAN_AUX},cnt_k:bigint,sum_k:bigint,"
          "cnt_tiny:bigint,sum_tiny:bigint,cnt_f:bigint,sum_f:double,"
          "source_file:string>",
}
SCAN_KW = dict(AUX_KW, stat_columns=("k", "ts", "tiny", "d", "dec"),
               agg_columns=("k", "tiny", "f"))

_CONTAINER_BASE = [
    ("part_id", "int32"), ("bucket", "int32"), ("chunk_seq", "int32"),
    ("chunk_id", "int64"), ("n_rows", "int64"), ("n_tokens", "int64"),
    ("bytes_in", "int64"), ("bytes_out", "int64"), ("encode_ms", "double"),
    ("schema_json", "string"), ("meta_json", "string")]
_CONTAINER_AUX = [
    ("bloom_s", "binary"), ("min_k", "int32"), ("max_k", "int32"),
    ("min_ts", "timestamp[us]"), ("max_ts", "timestamp[us]"),
    ("min_dec", "decimal128(10, 2)"), ("max_dec", "decimal128(10, 2)")]
CONTAINER = {
    False: _CONTAINER_BASE + [("payload", "binary")] + _CONTAINER_AUX,
    True: _CONTAINER_BASE
    + [(f"payload_{c}", "binary")
       for c in ("k", "tiny", "ts", "d", "dec", "f", "s", "toks")]
    + _CONTAINER_AUX,
}

# sha256 over the chunk rows of the fixed input (sorted by chunk_id), every
# column but the timing one: cells, blooms, sketches, stats, meta_json
SCAN_SHA256 = {
    False: "884633940627e2c38b3d579f1fecdc9514b62e7583d436a10bcf76a84c7e327a",
    True: "305958e7dda2ce49ca19413117b0df1ebe972d30eb9daac23c82c33b3160df03",
}
CONTAINER_SHA256 = {
    False: "7d97a10c7210e9aa27acf6d6eb09e43554b803155fee4b7e89598e76c639099c",
    True: "48986c15743f288d4bfd2b6d4b0a39f374ef77e5123c7e9a431a93a347203d98",
}


def _fixed_table(n: int = 3000) -> pa.Table:
    i = np.arange(n, dtype=np.int64)
    t0 = datetime.datetime(2021, 3, 4, 5, 6, 7)
    return pa.table({
        "k": pa.array((i * 7 % 1000).astype(np.int32)),
        "tiny": pa.array((i % 100 - 50).astype(np.int8)),
        "ts": pa.array([t0 + datetime.timedelta(seconds=int(x) * 97)
                        for x in i], pa.timestamp("us")),
        "d": pa.array([datetime.date(2020, 1, 1)
                       + datetime.timedelta(days=int(x) % 900) for x in i],
                      pa.date32()),
        "dec": pa.array([decimal.Decimal(int(x) * 37 % 100000) / 100
                         for x in i], pa.decimal128(10, 2)),
        "f": pa.array(np.round(np.cos(i) * 100, 3)),
        "s": pa.array([f"doc-{x:05d}" if x % 13 else None for x in i]),
        "toks": pa.array([[int((x * 7919 + j * 31) % 50000)
                           for j in range(x % 17)] for x in i],
                         pa.list_(pa.int32())),
    })


@pytest.fixture(scope="module")
def src(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plan") / "fixed.parquet")
    pq.write_table(_fixed_table(), path, row_group_size=1000)
    return path


def _bridge_df(spark):
    return spark.range(0, 600, 1, 2).selectExpr(
        "CAST(id * 7 % 1000 AS INT) AS k",
        "CAST(id % 100 - 50 AS TINYINT) AS tiny",
        "timestamp_micros(1600000000000000 + id * 97000000) AS ts",
        "date_add(DATE'2020-01-01', CAST(id % 900 AS INT)) AS d",
        "CAST(id * 37 % 100000 / 100 AS DECIMAL(10,2)) AS dec",
        "round(cos(id) * 100, 3) AS f",
        "format_string('doc-%05d', id) AS s",
        "transform(sequence(0, CAST(id % 17 AS INT)), j -> "
        "CAST((id * 7919 + j * 31) % 50000 AS INT)) AS toks")


def _all_nullable(schema) -> bool:
    from pyspark.sql.types import ArrayType

    return all(f.nullable and (not isinstance(f.dataType, ArrayType)
                               or f.dataType.containsNull) for f in schema)


def _rows_sha256(tbl: pa.Table) -> str:
    tbl = tbl.drop_columns(["encode_ms"]).sort_by("chunk_id")
    h = hashlib.sha256()
    for row in tbl.to_pylist():
        h.update(repr(sorted(row.items())).encode())
    return h.hexdigest()


@pytest.mark.parametrize("split", [False, True])
def test_bridge_encode_schema_is_pinned(spark, split):
    enc = encode_dataframe(_bridge_df(spark), chunk_rows=128,
                           auto_fastpath=False, split_payload=split, **AUX_KW)
    assert enc.schema.simpleString() == BRIDGE[split]
    assert _all_nullable(enc.schema)
    # the typed aux values cross the bridge intact
    got = enc.selectExpr("min(min_ts)", "max(max_ts)", "min(min_dec)",
                         "sum(cnt_k)", "sum(sum_k)", "count(*) > 2").first()
    src = _bridge_df(spark).selectExpr("min(ts)", "max(ts)", "min(dec)",
                                       "count(k)", "sum(k)", "true").first()
    assert tuple(got) == tuple(src)


@pytest.mark.parametrize("split", [False, True])
def test_rerouted_encode_schema_is_pinned(spark, src, split):
    enc = encode_dataframe(spark.read.parquet(src), chunk_rows=700,
                           split_payload=split, **SCAN_KW)
    # the reroute runs the scan-side encode: no source_file column
    want = SCAN[split].replace(",source_file:string", "")
    assert enc.schema.simpleString() == want
    assert _all_nullable(enc.schema)


@pytest.mark.parametrize("split", [False, True])
def test_scan_encode_schema_and_bytes_are_pinned(spark, src, split):
    enc = encode_parquet_dataset(spark, src, chunk_rows=700, n_splits=3,
                                 split_payload=split, include_source_file=True,
                                 **SCAN_KW)
    assert enc.schema.simpleString() == SCAN[split]
    assert _all_nullable(enc.schema)
    tbl = enc.drop("source_file").toArrow()
    assert tbl.num_rows == 6
    assert _rows_sha256(tbl) == SCAN_SHA256[split]


@pytest.mark.parametrize("split", [False, True])
def test_container_schema_and_bytes_are_pinned(spark, src, tmp_path, split):
    out = str(tmp_path / "enc")
    manifest = encode_to_parquet(spark, src, out, chunk_rows=700, n_splits=3,
                                 split_payload=split, bloom_columns=("s",),
                                 stat_columns=("k", "ts", "dec")).collect()
    assert sorted(os.listdir(out)) == [f"part-{i:05d}.parquet" for i in range(3)]
    assert sum(r["n_rows"] for r in manifest) == 3000
    schema = pq.read_schema(os.path.join(out, "part-00000.parquet"))
    assert [(f.name, str(f.type)) for f in schema] == CONTAINER[split]
    assert all(f.nullable for f in schema)
    assert _rows_sha256(pq.read_table(out)) == CONTAINER_SHA256[split]

"""Structured Streaming encode sink: micro-batch encode, exactly-once via
checkpoint, decode equality."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkcodec.engine import decode_dataframe
from sparkcodec.streaming import encode_stream, read_stream_encoded
from sparkcodec.tokens import tokens_table
from tests.conftest import SF_DIR


def test_streaming_encode_sink(spark, tmp_path):
    # stage a file source the stream will pick up
    src_dir = str(tmp_path / "src")
    toks = tokens_table(spark, SF_DIR)
    toks.write.parquet(src_dir)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(toks.schema).parquet(src_dir)
    q = encode_stream(stream, out, ckpt)
    q.awaitTermination(120)

    enc = read_stream_encoded(spark, out)
    dec = decode_dataframe(enc.drop("batch_id"))
    a = sorted((r["doc_id"], tuple(r["tokens"])) for r in dec.collect())
    b = sorted((r["doc_id"], tuple(r["tokens"])) for r in toks.collect())
    assert a == b

    man = spark.read.parquet(f"{out}/manifest").collect()
    assert len(man) >= 1
    assert sum(r["n_rows"] for r in man) == toks.count()

    # restart with the same checkpoint: no new data -> no duplicate batches
    q2 = encode_stream(spark.readStream.schema(toks.schema).parquet(src_dir), out, ckpt)
    q2.awaitTermination(120)
    dec2 = decode_dataframe(read_stream_encoded(spark, out).drop("batch_id"))
    assert dec2.count() == toks.count()


def test_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: delivering the SAME micro-batch twice
    must not duplicate chunk or manifest rows (ADVICE r1)."""
    from sparkcodec.streaming import write_batch

    toks = tokens_table(spark, SF_DIR)
    out = str(tmp_path / "out")
    write_batch(toks, 0, out)
    first = read_stream_encoded(spark, out).count()
    write_batch(toks, 0, out)  # replay of batch 0
    assert read_stream_encoded(spark, out).count() == first
    man = spark.read.parquet(f"{out}/manifest")
    assert man.filter(F.col("batch_id") == 0).count() == 1
    # a NEW batch still appends alongside
    write_batch(toks.limit(10), 1, out)
    dec = decode_dataframe(
        read_stream_encoded(spark, out).filter(F.col("batch_id") == 0).drop("batch_id"))
    assert dec.count() == toks.count()


def test_running_source_stats_stateful(spark, tmp_path):
    """applyInPandasWithState keeps per-source cumulative counters across
    micro-batches: with maxFilesPerTrigger=1 each staged file is its own
    batch, and the LAST emitted row per source equals the global totals."""
    from sparkcodec.streaming import running_source_stats

    toks = tokens_table(spark, SF_DIR)
    src_dir = str(tmp_path / "src")
    half1, half2 = toks.randomSplit([0.5, 0.5], seed=7)
    half1.coalesce(1).write.mode("append").parquet(src_dir)
    half2.coalesce(1).write.mode("append").parquet(src_dir)

    stream = (spark.readStream.schema(toks.schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    q = (running_source_stats(stream)
         .writeStream.format("memory").queryName("src_stats")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    rows = spark.sql("SELECT * FROM src_stats").collect()
    assert len(rows) > 0
    # counters are monotone, so the max update per source is the final
    # cumulative total (memory-sink row order is not guaranteed)
    final = {}
    for r in rows:
        cur = final.get(r["source"], (0, 0))
        final[r["source"]] = max(cur, (r["n_docs"], r["n_tokens"]))
    exp = {r["source"]: (r["n"], r["t"]) for r in
           toks.groupBy("source").agg(
               F.count(F.lit(1)).alias("n"), F.sum("n_tok").alias("t")).collect()}
    assert final == exp


def test_empty_first_batch_does_not_kill_sink(spark, tmp_path):
    """foreachBatch can deliver an empty batch (source hiccup / recovery):
    the sink must skip it instead of writing a schema-less directory that
    breaks the manifest read-back (ADVICE r2)."""
    from sparkcodec.streaming import write_batch

    import pyspark.sql.functions as F
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", F.expr("transform(split(text, ' '), w -> length(w))").alias("tokens"),
                F.expr("size(split(text, ' '))").alias("n_tok"), "source").limit(20)
    out = str(tmp_path / "out")
    empty = base.limit(0)
    write_batch(empty, 0, out)  # must not raise, must not write chunks
    import os
    assert not os.path.exists(f"{out}/chunks") or not [
        f for f in os.listdir(f"{out}/chunks") if not f.startswith("_")]
    # a later real batch works normally
    write_batch(base, 1, out)
    enc = spark.read.parquet(f"{out}/chunks")
    assert enc.count() > 0


def test_windowed_token_stats_with_watermark(spark, tmp_path):
    """Event-time windows + watermark: streaming (availableNow) results
    equal the same aggregation run in batch, and the plan carries the
    watermark/stateful window operators."""
    import pyspark.sql.functions as F

    from sparkcodec.streaming import windowed_token_stats

    src_dir = str(tmp_path / "src")
    base = spark.range(200).select(
        F.expr("CAST(timestamp_micros(1700000000000000 + id * 20000000) AS TIMESTAMP)")
        .alias("event_time"),
        F.expr("concat('s', CAST(id % 3 AS STRING))").alias("source"),
        (F.col("id") % 17 + 1).cast("int").alias("n_tok"),
    )
    base.write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(base.schema).parquet(src_dir)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (windowed_token_stats(stream)
         .writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .format("parquet").option("path", out_dir).start())
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    batch = (base.groupBy(F.window("event_time", "1 minute").alias("win"), "source")
             .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
             .select(F.col("win.start").alias("win_start"), "source",
                     "n_docs", "n_tokens"))
    a = sorted(tuple(r) for r in got.select("win_start", "source", "n_docs",
                                            "n_tokens").collect())
    b = sorted(tuple(r) for r in batch.collect())
    # append mode withholds windows newer than the watermark; everything
    # emitted must match batch, and most windows must have closed
    assert set(a) <= set(b)
    # watermark 2 min can hold back up to 3 one-minute windows x 3 sources
    assert len(a) >= len(b) - 9
    assert len(a) > 0


def test_streaming_encode_sink_split_payload(spark, tmp_path):
    """The streaming sink supports the per-column payload layout: encoded
    micro-batches carry payload_<col> columns and decode exactly."""
    src_dir = str(tmp_path / "src")
    toks = tokens_table(spark, SF_DIR)
    toks.write.parquet(src_dir)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(toks.schema).parquet(src_dir)
    q = encode_stream(stream, out, ckpt, split_payload=True)
    q.awaitTermination(120)
    enc = read_stream_encoded(spark, out)
    assert "payload" not in enc.columns and "payload_tokens" in enc.columns
    dec = decode_dataframe(enc.drop("batch_id"))
    a = sorted((r["doc_id"], tuple(r["tokens"])) for r in dec.collect())
    b = sorted((r["doc_id"], tuple(r["tokens"])) for r in toks.collect())
    assert a == b


def test_dedup_stream_drops_in_horizon_duplicates(spark, tmp_path):
    """Streaming exact dedup: duplicates within the watermark horizon are
    dropped (one survivor per distinct text), state keys are digests, and
    the surviving set matches batch exact-dedup on the same data."""
    import pyspark.sql.functions as F

    from sparkcodec.streaming import dedup_stream

    src_dir = str(tmp_path / "src")
    base = spark.range(100).select(
        F.expr("CAST(timestamp_micros(1700000000000000 + id * 1000000) AS TIMESTAMP)")
        .alias("event_time"),
        F.col("id").alias("doc_id"),
        # 25 distinct texts, each delivered 4x within seconds
        F.expr("concat('text body ', CAST(id % 25 AS STRING))").alias("text"),
    )
    base.write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(base.schema).parquet(src_dir)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (dedup_stream(stream)
         .writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .format("parquet").option("path", out_dir).start())
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    texts = [r["text"] for r in got.select("text").collect()]
    assert sorted(set(texts)) == sorted(
        f"text body {i}" for i in range(25))
    assert len(texts) == 25  # exactly one survivor per distinct text
    # digest is internal state, not output
    assert "__sparkcodec_dedup_h" not in got.columns


def test_run_windowed_ingest_stats_closes_all_windows(spark, tmp_path):
    """The driver-gradeable streaming runner: the sentinel file closes
    EVERY real window under availableNow, so the streaming result equals
    batch epoch-bucketing exactly (not merely a subset)."""
    base = spark.range(300).select(
        F.expr("CAST(timestamp_micros(1700000000000000 + id * 30000000) AS TIMESTAMP)")
        .alias("event_time"),
        F.expr("concat('s', CAST(id % 3 AS STRING))").alias("source"),
        (F.col("id") % 17 + 1).cast("int").alias("n_tok"),
    )
    from sparkcodec.streaming import run_windowed_ingest_stats

    got = run_windowed_ingest_stats(
        spark, base, window="1 minute", watermark="2 minutes",
        tmp_dir=str(tmp_path))
    batch = (base.groupBy(F.window("event_time", "1 minute").alias("win"), "source")
             .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
             .select(F.unix_micros("win.start").alias("win_start_us"),
                     "source", "n_docs", "n_tokens"))
    a = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in batch.collect())
    assert a == b and len(a) > 0


def test_run_dedup_stream_drops_redelivered_corpus(spark, tmp_path):
    """At-least-once redelivery: the corpus staged twice yields exactly
    one survivor per distinct text, and the surviving content set equals
    DISTINCT text."""
    base = spark.range(60).select(
        F.expr("CAST(timestamp_micros(1700000000000000 + id * 1000000) AS TIMESTAMP)")
        .alias("event_time"),
        F.col("id").alias("doc_id"),
        F.expr("concat('text body ', CAST(id % 20 AS STRING))").alias("text"),
    )
    from sparkcodec.streaming import run_dedup_stream

    surv = run_dedup_stream(spark, base, tmp_dir=str(tmp_path))
    texts = sorted(r["text"] for r in surv.collect())
    assert texts == sorted(f"text body {i}" for i in range(20))


def test_run_source_totals_matches_batch(spark, tmp_path):
    """The driver-gradeable stateful-counter runner: two staged files =
    two micro-batches, state carries across them, and the final totals
    equal batch group-by."""
    base = spark.range(90).select(
        F.expr("concat('s', CAST(id % 3 AS STRING))").alias("source"),
        (F.col("id") % 13 + 1).cast("int").alias("n_tok"),
        F.col("id"))
    from sparkcodec.streaming import run_source_totals

    got = run_source_totals(spark, base.select("source", "n_tok", "id"),
                            split_expr="id % 2 = 0",
                            tmp_dir=str(tmp_path))
    a = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in
               base.groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("n_tok").alias("n_tokens")).collect())
    assert a == b and len(a) == 3


def test_pin_after_corpus_tolerates_no_corpus_file(tmp_path):
    """A corpus write that left no parquet file has nothing to order the
    sentinel against; with corpus files the sentinel is pinned after them."""
    import os
    import time

    from sparkcodec.streaming import _pin_after_corpus

    sentinel = tmp_path / "part-s.parquet"
    sentinel.write_bytes(b"s")
    _pin_after_corpus(str(tmp_path), set())
    corpus = tmp_path / "part-c.parquet"
    corpus.write_bytes(b"c")
    later = time.time() + 1000
    os.utime(corpus, (later, later))
    _pin_after_corpus(str(tmp_path), {corpus.name})
    assert os.path.getmtime(sentinel) > os.path.getmtime(corpus)

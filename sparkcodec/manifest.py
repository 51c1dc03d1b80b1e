"""Checkpoint-resumable encode job with per-partition lineage manifests.

North-rule requirement: the job is resumable from checkpoint with
per-partition lineage (input snapshot id, codec chosen, bytes in/out,
encode throughput).  The reference has no distributed concerns at all
(single-threaded JS, SURVEY.md §3); this module is Spark-native design.

Layout under ``output_dir``:

    chunks/bucket=N/part-*.parquet   encoded chunk-group rows (dynamic
                                     partition overwrite -> idempotent)
    manifest/part-*.parquet          one row per COMPLETED bucket

Protocol per run:
  1. assign deterministic weight-proportional buckets (pure function of
     (source, doc_id) given per-source totals -- identical on resume);
  2. broadcast anti-join against the manifest to drop completed buckets;
  3. range-partition pending rows by bucket, sort within partitions, encode
     with chunk/bucket alignment, write chunks partitioned by bucket;
  4. append manifest rows aggregated from the chunks just written.

A crash between (3) and (4) leaves orphan chunk files; the rerun
re-encodes those buckets and dynamic partition overwrite replaces them,
so the invariant is: a bucket listed in the manifest is complete and
final; a bucket not listed may have garbage that the next run replaces.
"""

from __future__ import annotations

import time

from .engine import _split_layout, assign_weight_buckets, encode_dataframe

MANIFEST_DDL = (
    "bucket INT, job_id STRING, input_snapshot STRING, n_chunks LONG, "
    "n_rows LONG, n_tokens LONG, bytes_in LONG, bytes_out LONG, "
    "encode_sec DOUBLE, tokens_per_sec DOUBLE, codecs STRING, "
    "completed_at DOUBLE"
)


def _chunks_dir(output_dir: str) -> str:
    return f"{output_dir.rstrip('/')}/chunks"


def _check_resume_layout(spark, output_dir: str, split_payload: bool) -> None:
    """A resumed job must keep the payload layout of the partial output:
    mixing single-blob and payload_<col> partitions in one chunks dir
    makes the union schema read one layout's rows as NULL."""
    try:
        existing = spark.read.parquet(_chunks_dir(output_dir)).columns
    except Exception:
        return  # first run: nothing written yet
    existing_split = _split_layout(existing)
    if existing_split != split_payload:
        raise ValueError(
            f"resume layout mismatch: {_chunks_dir(output_dir)} holds "
            f"{'per-column payload_<col>' if existing_split else 'single-blob payload'} "
            f"chunks but this run requested split_payload={split_payload}; "
            "rerun with the original setting or use a fresh output_dir")


def _manifest_dir(output_dir: str) -> str:
    return f"{output_dir.rstrip('/')}/manifest"


def read_manifest(spark, output_dir: str):
    """Completed-bucket manifest, or an empty frame if none exists yet."""
    try:
        return spark.read.parquet(_manifest_dir(output_dir))
    except Exception:
        return spark.createDataFrame([], MANIFEST_DDL)


def read_encoded(spark, output_dir: str):
    """All committed chunk rows (only buckets present in the manifest)."""
    from pyspark.sql import functions as F

    chunks = spark.read.parquet(_chunks_dir(output_dir))
    done = read_manifest(spark, output_dir).select("bucket")
    return chunks.join(F.broadcast(done), "bucket", "left_semi")


FILES_MANIFEST_DDL = (
    "source_file STRING, job_id STRING, input_snapshot STRING, n_chunks LONG, "
    "n_rows LONG, n_tokens LONG, bytes_in LONG, bytes_out LONG, "
    "encode_sec DOUBLE, tokens_per_sec DOUBLE, codecs STRING, "
    "completed_at DOUBLE"
)


def run_encode_files_job(spark, input_path: str, output_dir: str, *,
                         job_id: str = "encode-files", input_snapshot: str = "",
                         chunk_rows: int | None = None,
                         token_budget: int | None = None,
                         bloom_columns: tuple[str, ...] = (),
                         n_splits: int | None = None,
                         split_payload: bool = False) -> dict:
    """Shuffle-FREE resumable encode over an existing parquet dataset:
    the resume unit is the input FILE, chunks are produced by the
    scan-side fast path (pyarrow reads each split inside its Python task,
    nothing crosses the JVM Arrow bridge), and idempotency comes from
    dynamic partition overwrite keyed by a hash of the source file.  Use
    this when the input is already laid out (no skew re-bucketing needed);
    `run_encode_job` is the shuffling variant with weight-proportional
    buckets.

    Invariant (same as the bucket job): a file listed in the manifest is
    complete and final; a file not listed may have orphan chunk partitions
    that the next run overwrites.
    """
    import pyarrow.dataset as ds
    from pyspark.sql import functions as F

    from .engine import DEFAULT_CHUNK_ROWS, DEFAULT_TOKEN_BUDGET, encode_parquet_dataset

    all_files = sorted(ds.dataset(input_path, format="parquet").files)
    try:
        done = {r["source_file"] for r in
                spark.read.parquet(_manifest_dir(output_dir))
                .select("source_file").distinct().collect()}
    except Exception:
        done = set()
    pending = [f for f in all_files if f not in done]
    summary = {"job_id": job_id, "files_total": len(all_files),
               "files_done": len(done), "files_encoded": len(pending)}
    if not pending:
        return summary
    _check_resume_layout(spark, output_dir, split_payload)

    t0 = time.time()
    enc = encode_parquet_dataset(
        spark, pending,
        chunk_rows=chunk_rows or DEFAULT_CHUNK_ROWS,
        token_budget=token_budget or DEFAULT_TOKEN_BUDGET,
        bloom_columns=bloom_columns,
        n_splits=n_splits,
        include_source_file=True,
        split_payload=split_payload,
    ).withColumn("file_key", F.xxhash64("source_file"))
    (
        enc.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("file_key")
        .parquet(_chunks_dir(output_dir))
    )
    chunks = spark.read.parquet(_chunks_dir(output_dir))
    new_chunks = chunks.filter(F.col("source_file").isin(pending))
    rows = (
        new_chunks.groupBy("source_file")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("bytes_out").alias("bytes_out"),
            (F.sum("encode_ms") / 1000.0).alias("encode_sec"),
            F.concat_ws(",", F.sort_array(F.collect_set(
                F.get_json_object("meta_json", "$.tokens.codec")))).alias("codecs"),
        )
        .withColumn("job_id", F.lit(job_id))
        .withColumn("input_snapshot", F.lit(input_snapshot))
        .withColumn("tokens_per_sec",
                    F.col("n_tokens") / F.greatest(F.col("encode_sec"), F.lit(1e-9)))
        .withColumn("completed_at", F.lit(time.time()))
        .select([c.strip().split(" ")[0] for c in FILES_MANIFEST_DDL.split(",")])
    )
    rows.write.mode("append").parquet(_manifest_dir(output_dir))
    summary["wall_sec"] = time.time() - t0
    return summary


def read_encoded_files(spark, output_dir: str):
    """Committed chunk rows of the files job (manifest-listed files only)."""
    from pyspark.sql import functions as F

    chunks = spark.read.parquet(_chunks_dir(output_dir))
    done = spark.read.parquet(_manifest_dir(output_dir)).select("source_file")
    return chunks.join(F.broadcast(done), "source_file", "left_semi")


def run_encode_job(spark, df, output_dir: str, *, num_partitions: int = 64,
                   job_id: str = "encode", input_snapshot: str = "",
                   weight_col: str = "n_tok", source_col: str = "source",
                   id_col: str = "doc_id", chunk_rows: int | None = None,
                   token_budget: int | None = None,
                   bloom_columns: tuple[str, ...] = (),
                   split_payload: bool = False) -> dict:
    """Run (or resume) the encode job.  Returns a summary dict."""
    from pyspark.sql import functions as F

    from .engine import DEFAULT_CHUNK_ROWS, DEFAULT_TOKEN_BUDGET

    bucketed, n_buckets = assign_weight_buckets(
        df, num_partitions, weight_col, source_col, id_col)

    manifest = read_manifest(spark, output_dir)
    done = manifest.select("bucket").distinct()
    n_done = done.count()
    pending = bucketed.join(F.broadcast(done), bucketed["_bucket"] == done["bucket"],
                            "left_anti")

    summary = {"job_id": job_id, "buckets_total": n_buckets, "buckets_done": n_done}
    if pending.isEmpty():
        summary["buckets_encoded"] = 0
        return summary
    _check_resume_layout(spark, output_dir, split_payload)

    t0 = time.time()
    part = (
        pending.repartitionByRange(max(num_partitions, n_buckets), "_bucket")
        .sortWithinPartitions("_bucket")
    )
    enc = encode_dataframe(
        part,
        chunk_rows=chunk_rows or DEFAULT_CHUNK_ROWS,
        token_budget=token_budget or DEFAULT_TOKEN_BUDGET,
        partition_col="_bucket",
        bloom_columns=bloom_columns,
        split_payload=split_payload,
    )
    (
        enc.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(_chunks_dir(output_dir))
    )

    # manifest rows from the chunks just written (column-pruned scan: the
    # payload column is never read)
    chunks = spark.read.parquet(_chunks_dir(output_dir))
    new_chunks = chunks.join(F.broadcast(done), "bucket", "left_anti")
    rows = (
        new_chunks.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("bytes_out").alias("bytes_out"),
            (F.sum("encode_ms") / 1000.0).alias("encode_sec"),
            F.concat_ws(",", F.sort_array(F.collect_set(
                F.get_json_object("meta_json", "$.tokens.codec")))).alias("codecs"),
        )
        .withColumn("job_id", F.lit(job_id))
        .withColumn("input_snapshot", F.lit(input_snapshot))
        .withColumn("tokens_per_sec",
                    F.col("n_tokens") / F.greatest(F.col("encode_sec"), F.lit(1e-9)))
        .withColumn("completed_at", F.lit(time.time()))
        .select([c.strip().split(" ")[0] for c in MANIFEST_DDL.split(",")])
    )
    rows.write.mode("append").parquet(_manifest_dir(output_dir))

    summary["buckets_encoded"] = n_buckets - n_done
    summary["wall_sec"] = time.time() - t0
    return summary

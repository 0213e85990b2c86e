"""Sinks: chunked parquet writer, CSV export, output validation
(SURVEY.md §2.1 S8-S10).

The reference's ParquetLoader estimates bytes/row from a 1000-row sample and
splits output into ``_chunk_NNN_of_MMM`` files of >=500k rows / <=2 GB
(loaders/parquet_loader.py:18-136). Spark-first restatement: let the writer
split by ``maxRecordsPerFile`` — no driver-side sampling loop, no per-chunk
slicing; every executor writes its partitions independently, which is the
behavior that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DEFAULT_MAX_FILE_BYTES = 2 * 1024**3  # reference: max_file_size_gb = 2.0
DEFAULT_MIN_ROWS_PER_CHUNK = 500_000  # reference: min_rows_per_chunk


def write_chunked_parquet(
    df: DataFrame,
    path: str,
    max_file_bytes: int = DEFAULT_MAX_FILE_BYTES,
    sample_rows: int = 1000,
    mode: str = "overwrite",
) -> None:
    """S8: snappy parquet sink with size-bounded files.

    Like the reference (parquet_loader.py:64-89) we estimate bytes/row from a
    small sample, but only to derive ``maxRecordsPerFile``; the split itself
    is done by Spark's writer per-task, not by slicing a materialized frame.
    """
    sample = df.limit(sample_rows).toPandas()
    if len(sample):
        est_bytes_per_row = max(1, int(sample.memory_usage(deep=True).sum() / len(sample)))
    else:
        est_bytes_per_row = 100
    max_records = max(1, max_file_bytes // est_bytes_per_row)
    (
        df.write.mode(mode)
        .option("compression", "snappy")
        .option("maxRecordsPerFile", max_records)
        .parquet(path)
    )


def export_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S10: CSV export — header row, ISO-8601 timestamps, minimal quoting,
    matching web/src/util/export.ts:10-71 (comma-quoting + ISO dates)."""
    (
        df.write.mode(mode)
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
        .option("quoteAll", False)
        .csv(path)
    )


def validate_output(spark: SparkSession, path: str, expected_columns: list[str] | None = None) -> bool:
    """S9: post-write validation — the output must be readable parquet
    with the expected columns (parquet_loader.py:138-174,
    utils/validators.py:58-119). Raises on failure; returns True so it
    can stand in an ``assert``. Reading the schema already fails on a
    path holding no parquet, so no row is read and no Spark job runs."""
    df = spark.read.parquet(path)
    if expected_columns:
        missing = set(expected_columns) - set(df.columns)
        if missing:
            raise ValueError(f"output at {path} missing expected columns: {sorted(missing)}")
    return True


def export_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
    compression: str | None = None,
) -> None:
    """JSONL sink for curated corpora — the hand-off format downstream
    tokenizer/training jobs consume. ``max_records_per_file`` bounds
    shard size for downstream loaders that stream shards whole;
    ``compression`` ("gzip"/"zstd"/...) trades CPU for the 3-5×
    text-compression win that dominates storage cost at corpus scale."""
    writer = df.write.mode(mode)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if compression is not None:
        writer = writer.option("compression", compression)
    writer.json(path)

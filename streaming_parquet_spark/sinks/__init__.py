"""Sinks for CSV, Parquet, JSONL, ORC and raw text — one format table
(``writers.SINK_FORMATS``) behind the batch writers, the partitioned
writer and the stream sink — with compression, rolling, and single-file
modes."""

from streaming_parquet_spark.sinks.writers import (
    write_csv,
    write_parquet,
    SinkResult,
)

__all__ = ["write_csv", "write_parquet", "SinkResult"]

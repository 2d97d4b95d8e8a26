"""Structured Streaming path: resumable file-source -> Parquet-sink runs
(the project north star: 'Structured Streaming + Parquet sink'), plus
streaming operators (watermarked windows, session windows, streaming
dedup) and the exactly-once producer loops (streaming.ingest,
streaming.shards). Every stream opens its parquet file source through
``stream.parquet_file_stream`` and starts its query through
``stream.run_stream``."""

from streaming_parquet_spark.streaming.ingest import (
    IngestResult,
    dedup_ingest_stream,
    semantic_ingest_stream,
)
from streaming_parquet_spark.streaming.shards import (
    ShardIngestResult,
    shard_ingest_stream,
)
from streaming_parquet_spark.streaming.stream import StreamEngine, StreamResult

__all__ = [
    "StreamEngine",
    "StreamResult",
    "IngestResult",
    "dedup_ingest_stream",
    "semantic_ingest_stream",
    "ShardIngestResult",
    "shard_ingest_stream",
]

"""Input discovery (files, directories, globs, stdin) and the readers
of its formats: CSV, Parquet, JSONL, ORC and raw text, batch or stream
(``readers.read_input``)."""

from streaming_parquet_spark.sources.discover import (
    InputFile,
    InputFormat,
    DiscoveryConfig,
    discover_inputs,
)

__all__ = ["InputFile", "InputFormat", "DiscoveryConfig", "discover_inputs"]

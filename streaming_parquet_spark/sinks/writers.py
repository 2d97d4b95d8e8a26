"""Sinks: CSV and Parquet writers.

Reimplements the reference's writer contracts
(CSV: /root/reference/src/writer_csv.rs:38-127 — configurable
delimiter/quote, null -> na_string, header written once, truncating
create; Parquet: /root/reference/src/writer_parquet.rs:42-101 —
statistics on, compression none/snappy/gzip/zstd(level), 128 MB
row-group target) plus the declared-but-unwired rolling outputs
(--roll-by-bytes/--roll-by-rows, src/cli.rs:70-77).

Single-file mode reproduces the CLI ergonomics (one output file with one
header) via ``coalesce(1)`` + part-file rename — a real semantic choice
that serializes the final write, exactly like the reference's
single-writer task (src/pipeline.rs:156-193). Rolling mode is the
scale path: parallel writers, ``maxRecordsPerFile`` for row rolling,
estimated rows-per-file for byte rolling.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class SinkResult:
    paths: list[str]
    bytes_written: int
    files_written: int
    # Which write path produced the output: "spark" (the Catalyst plan
    # through Spark's row-oriented writer) or "columnar-passthrough"
    # (whole-file Arrow transcode inside tasks; see transcode_parquet).
    via: str = "spark"


_PARQUET_CODECS = {
    "none": "none",
    "uncompressed": "none",
    "snappy": "snappy",
    "gzip": "gzip",
    "zstd": "zstd",
}


def _text_codec(out_path: str) -> str | None:
    """Spark compression codec implied by a text output's extension."""
    lower = out_path.lower()
    if lower.endswith(".gz"):
        return "gzip"
    if lower.endswith(".bz2"):
        return "bzip2"
    return None


def _finalize_single_file(tmp_dir: str, out_path: str, ext: str) -> SinkResult:
    parts = sorted(glob.glob(os.path.join(tmp_dir, f"part-*{ext}*")))
    if not parts:  # e.g. empty frame still emits a part file; guard anyway
        parts = sorted(glob.glob(os.path.join(tmp_dir, "part-*")))
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    if os.path.exists(out_path):
        os.remove(out_path)  # truncating create (writer_csv.rs:40-44)
    shutil.move(parts[0], out_path)
    shutil.rmtree(tmp_dir, ignore_errors=True)
    size = os.path.getsize(out_path)
    return SinkResult(paths=[out_path], bytes_written=size, files_written=1)


def _finalize_rolling(tmp_dir: str, out_path: str, ext: str) -> SinkResult:
    """Rename Spark part files to the reference's rolling naming scheme
    ``<stem>-%04d<ext>`` (README.md:49-50: output-0000.parquet, ...)."""
    parts = sorted(glob.glob(os.path.join(tmp_dir, f"part-*{ext}*")))
    # Compound extensions must strip wholesale or rolled names keep
    # half the suffix. Strip the codec suffix first, THEN one splitext
    # — out_path may spell a format alias (.jsonl.gz, .tsv.gz) that
    # differs from the canonical ``ext`` (.json.gz, .csv.gz).
    base = out_path
    low = out_path.lower()
    for codec_ext in (".gz", ".bz2"):
        if low.endswith(codec_ext):
            base = out_path[: -len(codec_ext)]
            break
    stem = os.path.splitext(base)[0]
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    outs, total = [], 0
    for i, part in enumerate(parts):
        dest = f"{stem}-{i:04d}{ext}"
        if os.path.exists(dest):
            os.remove(dest)
        shutil.move(part, dest)
        total += os.path.getsize(dest)
        outs.append(dest)
    shutil.rmtree(tmp_dir, ignore_errors=True)
    return SinkResult(paths=outs, bytes_written=total, files_written=len(outs))


def _tmp_out_dir(out_path: str) -> str:
    parent = os.path.dirname(os.path.abspath(out_path)) or "."
    return tempfile.mkdtemp(prefix=".maw_out_", dir=parent)


def write_csv(
    df: DataFrame,
    out_path: str,
    delimiter: str = ",",
    quote: str = '"',
    na_string: str = "",
    header: bool = True,
    single_file: bool = True,
    max_records_per_file: int | None = None,
) -> SinkResult:
    """CSV sink (writer_csv.rs:38-127 semantics). An ``out_path``
    ending in ``.gz``/``.bz2`` compresses with that codec (extension:
    the reference writes plaintext only)."""
    writer = (
        df.coalesce(1) if single_file and max_records_per_file is None else df
    ).write.mode("overwrite")
    writer = (
        writer.option("sep", delimiter)
        .option("quote", quote)
        .option("nullValue", na_string)
        .option("header", str(header).lower())
    )
    codec = _text_codec(out_path)
    if codec:
        writer = writer.option("compression", codec)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    tmp = _tmp_out_dir(out_path)
    writer.csv(tmp)
    ext = ".csv" + {"gzip": ".gz", "bzip2": ".bz2"}.get(codec, "")
    if single_file and max_records_per_file is None:
        return _finalize_single_file(tmp, out_path, ext)
    return _finalize_rolling(tmp, out_path, ext)


def write_partitioned(
    df: DataFrame,
    out_dir: str,
    partition_by: list[str],
    out_format: str = "parquet",
    compression: str = "snappy",
    delimiter: str = ",",
    header: bool = True,
    max_records_per_file: int | None = None,
) -> SinkResult:
    """Hive-style partitioned directory write — the 100 TB extension of
    the flat sinks: downstream scans prune partitions on the partition
    columns for free, and writers parallelize per partition. (The
    reference has no partitioned output; this is an extension in the
    spirit of --roll-by-*, SURVEY §2.8.)"""
    # Engine out-formats don't map 1:1 onto DataFrameWriter method
    # names (jsonl -> .json); dispatch explicitly so an unknown format
    # is a ValueError here, not an AttributeError mid-write.
    methods = {"parquet": "parquet", "csv": "csv", "jsonl": "json",
               "orc": "orc", "text": "text"}
    method = methods.get(out_format)
    if method is None:
        raise ValueError(f"unsupported partitioned out format: {out_format}")
    if out_format == "text":
        # one data column besides the partition keys (Spark's text
        # sink contract), with the write_text newline guard
        rest = [c for c in df.columns if c not in partition_by]
        if len(rest) != 1:
            raise ValueError(
                "partitioned text output requires exactly one column"
                f" besides the partition keys, got {rest}"
            )
        df = df.select(*partition_by, _text_value_expr(df, rest[0]))
    writer = df.write.mode("overwrite").partitionBy(*partition_by)
    if out_format == "parquet":
        codec = _PARQUET_CODECS.get(compression.lower())
        if codec is None:
            raise ValueError(f"unsupported compression: {compression}")
        writer = writer.option("compression", codec)
    elif out_format == "csv":
        writer = (
            writer.option("sep", delimiter)
            .option("header", str(header).lower())
        )
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    getattr(writer, method)(out_dir)
    total, count = 0, 0
    for root, _dirs, files in os.walk(out_dir):
        for f in files:
            if f.startswith(("part-", "part.")) or f.endswith(
                (".parquet", ".csv")
            ):
                total += os.path.getsize(os.path.join(root, f))
                count += 1
    return SinkResult(paths=[out_dir], bytes_written=total, files_written=count)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    buckets: int = 32,
    sort_by: list[str] | None = None,
    compression: str = "snappy",
) -> SinkResult:
    """Bucketed managed table (parquet): the co-located-join primitive.

    Two tables bucketed on the same key with the same bucket count join
    with ZERO exchanges — each task reads bucket i of both sides. At
    100 TB this is the difference between re-shuffling the fact table on
    every join and shuffling it once at ingest. ``sort_by`` additionally
    pre-sorts within buckets so sort-merge joins skip the sort.

    Requires a session with a warehouse (any default local session has
    one); bucket metadata lives in the catalog, so readers must load via
    ``spark.table(table)``.
    """
    codec = _PARQUET_CODECS.get(compression.lower())
    if codec is None:
        raise ValueError(f"unsupported compression: {compression}")
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("compression", codec)
        .bucketBy(buckets, *bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)
    spark = df.sparkSession
    loc = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").filter(
        "col_name = 'Location'"
    ).collect()
    total = count = 0
    if loc:
        path = loc[0]["data_type"].replace("file:", "")
        for root, _dirs, files in os.walk(path):
            for f in files:
                if not f.startswith(("_", ".")):
                    total += os.path.getsize(os.path.join(root, f))
                    count += 1
    return SinkResult(paths=[table], bytes_written=total, files_written=count)


def write_parquet(
    df: DataFrame,
    out_path: str,
    compression: str = "none",
    zstd_level: int = 3,
    single_file: bool = True,
    max_records_per_file: int | None = None,
    row_group_mb: int = 128,
) -> SinkResult:
    """Parquet sink (writer_parquet.rs:42-101 semantics): stats on by
    default in Spark's writer, V2-capable, codec map cli.rs:158-164,
    128 MB row-group target via ``parquet.block.size``."""
    codec = _PARQUET_CODECS.get(compression.lower())
    if codec is None:
        raise ValueError(f"unsupported compression: {compression}")
    writer = (
        df.coalesce(1) if single_file and max_records_per_file is None else df
    ).write.mode("overwrite")
    writer = (
        writer.option("compression", codec)
        .option("parquet.block.size", row_group_mb * 1024 * 1024)
    )
    if codec == "zstd":
        # Honored by parquet-mr when zstd is selected.
        writer = writer.option("parquet.compression.codec.zstd.level", zstd_level)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    tmp = _tmp_out_dir(out_path)
    writer.parquet(tmp)
    if single_file and max_records_per_file is None:
        return _finalize_single_file(tmp, out_path, ".parquet")
    return _finalize_rolling(tmp, out_path, ".parquet")


# Spark codec name (values of _PARQUET_CODECS) -> pyarrow codec name.
_ARROW_CODECS = {"none": "NONE", "snappy": "SNAPPY", "gzip": "GZIP",
                 "zstd": "ZSTD"}


def _transcode_bin(
    bin_index: int,
    paths: list[str],
    tmp_dir: str,
    codec: str,
    zstd_level: int,
    columns: list[str],
    out_schema,
    max_records: int | None,
) -> tuple[int, int, int]:
    """Executor-side body of the columnar passthrough: transcode one
    bin of parquet files row-group-at-a-time through pyarrow's C++
    encoder. Never materializes more than one decoded row group;
    preserves the input's row grouping (the reference's pq->pq is the
    same arrow-level copy, writer_parquet.rs:42-101). ``out_schema`` is
    the ONE canonical Arrow schema the driver computed from every input
    footer (Engine._passthrough_arrow_schema) — bins must not derive
    their own from whichever file lands first, or parts of one output
    directory could disagree physically (ADVICE r13). Returns
    (files_written, rows, bytes)."""
    import pyarrow.parquet as pq

    arrow_codec = _ARROW_CODECS[codec]
    level = zstd_level if arrow_codec == "ZSTD" else None

    writer: pq.ParquetWriter | None = None
    seq = rows_in_file = files = total_rows = total_bytes = 0
    open_path: str | None = None

    def _open() -> None:
        nonlocal writer, seq, rows_in_file, open_path
        open_path = os.path.join(
            tmp_dir, f"part-{bin_index:05d}-{seq:04d}.parquet"
        )
        writer = pq.ParquetWriter(
            open_path, out_schema, compression=arrow_codec,
            compression_level=level,
        )
        seq += 1
        rows_in_file = 0

    def _close() -> None:
        nonlocal writer, files, total_bytes
        if writer is not None:
            writer.close()
            writer = None
            files += 1
            total_bytes += os.path.getsize(open_path)

    for path in paths:
        pf = pq.ParquetFile(path)
        for rg in range(pf.metadata.num_row_groups):
            tbl = pf.read_row_group(rg, columns=columns)
            tbl = tbl.select(columns).cast(out_schema)
            total_rows += tbl.num_rows
            offset = 0
            while offset < tbl.num_rows:
                if writer is None:
                    _open()
                take = tbl.num_rows - offset
                if max_records:
                    room = max_records - rows_in_file
                    if room <= 0:
                        _close()
                        _open()
                        room = max_records
                    take = min(take, room)
                chunk = tbl.slice(offset, take)
                writer.write_table(chunk, row_group_size=chunk.num_rows)
                rows_in_file += take
                offset += take
            # Row-group sizing: the transcode emits one output group
            # per input group, so output groups inherit the input
            # writer's own block-size bound (the reference's 128 MB
            # target, writer_parquet.rs:35) — a same-codec copy keeps
            # the source grouping the way its arrow2 path does; there
            # is deliberately no row_group_mb knob here.
    _close()
    return files, total_rows, total_bytes


def transcode_parquet(
    spark,
    files: list[tuple[str, int]],
    out_path: str,
    columns: list[str],
    arrow_schema,
    compression: str = "none",
    zstd_level: int = 3,
    max_records_per_file: int | None = None,
    single_file: bool = False,
) -> SinkResult:
    """Columnar passthrough parquet sink: distribute whole input files
    to tasks (LPT-packed by size) and transcode each with pyarrow —
    decode column chunks, re-encode with the target codec — without
    row-pivoting 10^7s of rows through Spark's row-oriented writer.

    ``single_file`` (the CLI's DEFAULT ergonomics) streams every input
    through ONE task into one output file named exactly ``out_path``
    — the same serialized single-writer semantics the Spark path's
    ``coalesce(1)`` has, minus the row pivot (~5x on the bench VM:
    the coalesced plan decodes AND re-encodes in one JVM thread).

    Why this exists: profiled on the conversion bench, Spark's
    InternalRow parquet write path runs ~5x slower per core than the
    Arrow C++ encoder (measured ~7 vs ~34 MB/s/core on the bench VM),
    and pq->pq with an identical schema is a pure transcode — the same
    operation the reference performs natively (arrow2 read -> write,
    writer_parquet.rs:42-101). The engine gates this path strictly
    (Engine._passthrough_columns): any rename, cast, widening, filter,
    content-verify, or non-parquet side falls back to the Catalyst
    plan.

    Scale shape: the unit of work is a FILE, tasks carry only path
    strings (the data plane never crosses the driver or Python/JVM
    row boundary — pyarrow reads and writes inside the task), and bin
    count tracks cluster parallelism, so a million-file corpus is
    ~4x-cores bins of path lists. This is the documented
    mapPartitions-as-last-resort case: a vectorized file transcode is
    not expressible through Spark's row-based writer.

    Per-task fixed cost: each bin is one Python task, and a reused
    worker pays a fixed charge per task before ``_transcode_bin`` runs.
    With the default ``pyspark.worker`` that charge was 0.18-0.25 CPU-s
    (4-core host, CPython 3.11): ``importlib.invalidate_caches()`` made
    each of the worker's 16 zip importers re-read its archive's whole
    directory (``pyspark.zip``, py4j, the ``spark-core`` jar) — 87% of
    the tasks' CPU in a 16-bin transcode moving 1.3 MB. Sessions built
    by ``get_spark`` on a local master run the ``pyspark_graft_worker``
    entry point, which re-reads an archive only when it changed, so the
    charge is 0.015-0.021 CPU-s and a small transcode pays per byte
    rather than per bin."""
    sc = spark.sparkContext
    if not files:
        raise ValueError("transcode_parquet: no input files")
    # Same precedence as every sibling writer (write_parquet etc.):
    # a roll threshold overrides single-file ergonomics — finalizing
    # a rolled multi-part tmp as ONE file would silently keep only
    # the first part.
    single_file = single_file and max_records_per_file is None
    if single_file:
        # one ordered bin = one writer task = one output file
        bins: list[list[str]] = [[p for p, _s in files]]
    else:
        par = sc.defaultParallelism or 1
        n_bins = max(1, min(len(files), 4 * par))
        # LPT: largest file first onto the least-loaded bin.
        bins = [[] for _ in range(n_bins)]
        loads = [0] * n_bins
        for path, size in sorted(files, key=lambda fs: -fs[1]):
            b = loads.index(min(loads))
            bins[b].append(path)
            loads[b] += size
        bins = [b for b in bins if b]

    tmp = _tmp_out_dir(out_path)
    tasks = list(enumerate(bins))

    def _run(task: tuple[int, list[str]]) -> tuple[int, int, int]:
        return _transcode_bin(
            task[0], task[1], tmp, compression, zstd_level, columns,
            arrow_schema, max_records_per_file,
        )

    results = sc.parallelize(tasks, len(tasks)).map(_run).collect()
    if not any(r[0] for r in results):
        # Every input was empty: keep the sink contract (>=1 readable
        # output file carrying the schema) the Spark writer provides.
        import pyarrow.parquet as pq

        pq.write_table(
            arrow_schema.empty_table(),
            os.path.join(tmp, "part-00000-0000.parquet"),
            compression=_ARROW_CODECS[compression],
        )
    if single_file:
        sink = _finalize_single_file(tmp, out_path, ".parquet")
    else:
        sink = _finalize_rolling(tmp, out_path, ".parquet")
    sink.via = "columnar-passthrough"
    return sink


_ORC_CODECS = {
    "none": "none", "uncompressed": "none", "snappy": "snappy",
    "zlib": "zlib", "gzip": "zlib", "zstd": "zstd", "lz4": "lz4",
}


def write_orc(
    df: DataFrame,
    out_path: str,
    compression: str = "none",
    single_file: bool = True,
    max_records_per_file: int | None = None,
) -> SinkResult:
    """ORC sink (extension): same single-file / rolling contract as the
    Parquet sink; gzip maps to zlib (ORC's DEFLATE codec name)."""
    codec = _ORC_CODECS.get(compression.lower())
    if codec is None:
        raise ValueError(f"unsupported compression: {compression}")
    writer = (
        df.coalesce(1) if single_file and max_records_per_file is None else df
    ).write.mode("overwrite").option("compression", codec)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    tmp = _tmp_out_dir(out_path)
    writer.orc(tmp)
    if single_file and max_records_per_file is None:
        return _finalize_single_file(tmp, out_path, ".orc")
    return _finalize_rolling(tmp, out_path, ".orc")


def _text_value_expr(df: DataFrame, col: str):
    """The (value: string) expression every text sink writes: cast,
    null -> '' — and a per-row raise_error on embedded newlines,
    because a line-oriented format cannot represent them (a silent
    write would split one record into several; CSV/JSONL escape)."""
    from pyspark.sql import functions as F

    v = F.coalesce(df[col].cast("string"), F.lit(""))
    return F.when(
        v.contains("\n") | v.contains("\r"),
        F.raise_error(
            F.lit(
                "text sink cannot represent embedded newlines; "
                "write CSV or JSONL instead"
            )
        ).cast("string"),
    ).otherwise(v).alias("value")


def _text_value_column(df: DataFrame, col: str) -> DataFrame:
    return df.select(_text_value_expr(df, col))


def write_text(
    df: DataFrame,
    out_path: str,
    single_file: bool = True,
    max_records_per_file: int | None = None,
) -> SinkResult:
    """Raw-text sink (extension): one line per record. Requires exactly
    ONE column (Spark's text sink contract) — a multi-column frame has
    no defensible line rendering, so fail loudly instead of silently
    joining columns. The column is cast to string; nulls write as empty
    lines (cast preserves null -> Spark writes ''). Same single-file /
    rolling contract as the CSV sink; ``.gz``/``.bz2`` paths compress."""
    if len(df.columns) != 1:
        raise ValueError(
            f"text output requires exactly one column, got {df.columns};"
            " project with --columns or write CSV/JSONL instead"
        )
    one = _text_value_column(df, df.columns[0])
    writer = (
        one.coalesce(1) if single_file and max_records_per_file is None else one
    ).write.mode("overwrite")
    codec = _text_codec(out_path)
    if codec:
        writer = writer.option("compression", codec)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    tmp = _tmp_out_dir(out_path)
    writer.text(tmp)
    ext = ".txt" + {"gzip": ".gz", "bzip2": ".bz2"}.get(codec, "")
    if single_file and max_records_per_file is None:
        return _finalize_single_file(tmp, out_path, ext)
    return _finalize_rolling(tmp, out_path, ext)


def write_jsonl(
    df: DataFrame,
    out_path: str,
    single_file: bool = True,
    max_records_per_file: int | None = None,
) -> SinkResult:
    """JSONL sink (extension beyond the reference's CSV/Parquet writer
    pair): one JSON object per line, nulls omitted per JSON convention
    (ignoreNullFields default). Same single-file / rolling contract as
    the CSV sink; ``.gz``/``.bz2`` output paths compress."""
    writer = (
        df.coalesce(1) if single_file and max_records_per_file is None else df
    ).write.mode("overwrite")
    codec = _text_codec(out_path)
    if codec:
        writer = writer.option("compression", codec)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    tmp = _tmp_out_dir(out_path)
    writer.json(tmp)
    ext = ".json" + {"gzip": ".gz", "bzip2": ".bz2"}.get(codec, "")
    if single_file and max_records_per_file is None:
        return _finalize_single_file(tmp, out_path, ext)
    return _finalize_rolling(tmp, out_path, ext)

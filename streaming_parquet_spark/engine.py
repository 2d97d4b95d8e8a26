"""Batch engine: RunSpec -> discover -> probe -> unify -> align -> union -> sink.

The Spark-native rendering of the reference's pipeline
(/root/reference/src/pipeline.rs:24-193; lifecycle SURVEY.md §3.1):

  * discovery is driver-side metadata (same as the reference),
  * per-file schema probing feeds the widening fold (schema.rs:76-115),
  * align + UNION ALL is one declarative Catalyst plan — no shuffle:
    scans union into a single stage, filters/projections push into the
    scans, and Spark schedules one task per file split (the distributed
    generalization of the reference's N-reader/1-writer topology),
  * the sink is either single-file (CLI parity) or rolling/parallel
    (the 100 TB path).

Formats are looked up, not branched on: each input group opens through
``sources.readers.read_input`` (the configuration ``StreamEngine`` opens
its file streams with), the output goes through the ``write_<format>``
function of ``sinks.writers.SINK_FORMATS`` (the table the stream sink
takes its options from), and --verify re-reads it through
``sinks.writers.read_back``. So one RunSpec gives the same output
through either engine.

Scale notes: inputs with IDENTICAL schemas are read as one multi-path
DataFrame, so the union width is bounded by the number of *distinct
schemas*, not the number of files — with a million homogeneous parquet
files the plan is a single scan node. Parquet schema probing reads only
footers (pyarrow, no Spark job); CSV probing samples ``infer_rows`` rows
per distinct header shape.

An N-schema input is planned with the jobs and tasks one scan of the
same files would need:

  * reads reuse the footer probe: a parquet group whose probed schema is
    the one Spark's reader would infer (``_probed_read_schema``) is read
    with that schema, so no group pays a schema-inference job;
  * a union of more than one read group is coalesced to the partition
    count a single Spark file scan of all its files would get
    (``scan_partitions``) — separate scans cannot pack small files
    across the union, so without it a drifting corpus of small files
    writes one task (and one output file) per schema group.
"""

from __future__ import annotations

import contextlib
import io
import json
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql import types as T

from streaming_parquet_spark.plans.align import _effective_columns, concat_aligned
from streaming_parquet_spark.plans.typesys import _FROM_SPARK, quote_ident
from streaming_parquet_spark.plans.unify import UnifiedSchema, unify_schemas
from streaming_parquet_spark.runspec import RunSpec
from streaming_parquet_spark.sinks.writers import (
    SinkResult,
    read_back,
    spec_sink_args,
    transcode_parquet,
    write_partitioned,
    writer_for,
)
from streaming_parquet_spark.sources.discover import (
    DiscoveryConfig,
    InputFile,
    InputFormat,
    discover_inputs,
)
from streaming_parquet_spark.sources.readers import (
    SELF_DESCRIBING,
    TXT_SCHEMA,
    _read_prefix,
    infer_csv_schema_prefix,
    infer_csv_schemas_per_file,
    infer_jsonl_schema_prefix,
    python_encoding,
    read_input,
)

#: Spark types a footer probe may hand to the parquet reader as its
#: schema: the lattice's own, where the probe's Arrow mapping and
#: Spark's parquet inference agree. Outside it they can disagree (a
#: ``duration`` probes as DayTimeIntervalType but reads as LongType, an
#: all-null column probes as NullType but reads as IntegerType), and a
#: wrong read schema changes what the aligner casts.
_READ_TYPES = frozenset(_FROM_SPARK) - {T.NullType}


def _as_spark_reads(t):
    """Arrow type ``t`` with every unsigned int replaced by the type
    Spark's parquet reader gives it (uint8 -> short, uint16 -> int,
    uint32 -> long, uint64 -> decimal(20,0)), anywhere in the nesting:
    ``from_arrow_schema`` rejects unsigned types."""
    import pyarrow as pa

    def field(f):
        return f.with_type(_as_spark_reads(f.type))

    if pa.types.is_unsigned_integer(t):
        return {8: pa.int16(), 16: pa.int32(), 32: pa.int64()}.get(
            t.bit_width, pa.decimal128(20, 0)
        )
    if pa.types.is_list(t):
        return pa.list_(field(t.value_field))
    if pa.types.is_large_list(t):
        return pa.large_list(field(t.value_field))
    if pa.types.is_fixed_size_list(t):
        return pa.list_(field(t.value_field), t.list_size)
    if pa.types.is_struct(t):
        return pa.struct([field(t.field(i)) for i in range(t.num_fields)])
    if pa.types.is_map(t):
        return pa.map_(field(t.key_field), field(t.item_field))
    return t


def _spark_hostile(t) -> bool:
    """An Arrow type whose transcoded output Spark cannot read back, or
    whose footer-probe mapping disagrees with Spark's reader: ns
    timestamps (INT96 included — pyarrow renders it as timestamp[ns],
    Spark reads it as a session-tz TIMESTAMP) and unsigned ints (the
    probe reads them the way Spark does, ``_as_spark_reads``, but a
    transcode would write them unsigned), anywhere in the nesting."""
    import pyarrow as pa

    if pa.types.is_timestamp(t) and t.unit == "ns":
        return True
    if pa.types.is_unsigned_integer(t):
        return True
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return _spark_hostile(t.value_type)
    if pa.types.is_struct(t):
        return any(_spark_hostile(t.field(i).type) for i in range(t.num_fields))
    if pa.types.is_map(t):
        return _spark_hostile(t.key_type) or _spark_hostile(t.item_type)
    return False


def scan_partitions(
    sizes: list[int], max_partition_bytes: int, open_cost: int, parallelism: int
) -> int:
    """Partitions one Spark file scan over files of these sizes gets,
    every file splittable: Spark's ``FilePartition.maxSplitBytes``,
    ``split = min(maxPartitionBytes, max(openCost, Σ(size + openCost)
    / parallelism))``, then its ``getFilePartitions`` packing: files cut
    into split-sized chunks, largest first, packed greedily with each
    chunk charged ``openCost`` extra. The closed form
    ``ceil(Σ(size + openCost) / split)`` can be one too many: 12 tiny
    files on 4 cores whose total is not a multiple of 4 get 5 from it,
    4 from Spark."""
    total = sum(s + open_cost for s in sizes)
    split = min(max_partition_bytes, max(open_cost, total // parallelism))
    chunks = sorted(
        (min(split, s - off) for s in sizes for off in range(0, s, split)),
        reverse=True,
    )
    parts, current = 1, 0
    for c in chunks:
        if current and current + c > split:
            parts, current = parts + 1, 0
        current += c + open_cost
    return parts


@dataclass
class PlanInfo:
    """--plan output (src/main.rs:65-71): discovered inputs + unified
    schema + the Catalyst physical plan."""

    files: list[InputFile]
    unified: UnifiedSchema
    explain: str

    def describe(self) -> str:
        lines = [f"Plan: would process {len(self.files)} input(s)"]
        lines += [f"  {f.path} [{f.format.value}, {f.size} bytes]" for f in self.files]
        lines.append("Unified schema:")
        lines += [
            f"  {name}: {kind.value}" for name, kind in self.unified.type_mapping.items()
        ]
        lines.append(self.explain)
        return "\n".join(lines)


@dataclass
class RunResult:
    """Metrics shaped like the reference's GlobalProgress
    (src/progress.rs:6-61): files/bytes/rows totals + derived throughput."""

    rows: int
    input_files: int
    input_bytes: int
    output: SinkResult | None
    seconds: float
    verified: bool | None = None

    @property
    def mb_per_sec(self) -> float:
        if self.seconds <= 0:
            return 0.0
        return self.input_bytes / 1e6 / self.seconds


class Engine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        #: per-run parquet footer facts: path -> (arrow schema,
        #: num_rows); populated by the schema probe, consumed by the
        #: parquet read gate, the passthrough gate and row accounting
        self._arrow_probe: dict = {}

    # ---- plan construction -------------------------------------------

    def discover(self, spec: RunSpec) -> list[InputFile]:
        cfg = DiscoveryConfig(
            recursive=spec.recursive, follow_symlinks=spec.follow_symlinks
        )
        return discover_inputs(spec.inputs, cfg)

    def _probe_parquet_schema(self, path: str) -> T.StructType:
        try:  # footer-only read, no Spark job
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import from_arrow_schema

            # ONE footer read serves the whole run: the Arrow schema
            # and the exact row count are both in this footer, and the
            # passthrough gate + its row accounting would otherwise
            # re-open every file (a second and third driver sweep on a
            # million-file corpus — review r14). Cached per run;
            # probe_schemas clears it. INT96 needs no separate
            # tracking: pyarrow renders it as timestamp[ns], which the
            # gate's hostile-type walk disqualifies.
            import pyarrow as pa

            pf = pq.ParquetFile(path)
            arrow = pf.schema_arrow
            self._arrow_probe[path] = (arrow, pf.metadata.num_rows)
            # prefer_timestamp_ntz: a tz-less parquet timestamp IS the
            # unified DATETIME (TimestampNTZ — typesys maps every
            # datetime kind there), so probing it as NTZ lets the
            # passthrough gate see the no-cast copy it really is;
            # tz-adjusted columns still probe as TimestampType and take
            # the casting plan. Unification is unaffected: both types
            # fold into the same DATETIME kind.
            return from_arrow_schema(
                pa.schema([f.with_type(_as_spark_reads(f.type)) for f in arrow]),
                prefer_timestamp_ntz=True,
            )
        except Exception:
            return self.spark.read.parquet(path).schema

    def _probe_orc_schema(self, path: str) -> T.StructType:
        try:  # footer-only read, no Spark job
            import pyarrow.orc as po
            from pyspark.sql.pandas.types import from_arrow_schema

            return from_arrow_schema(po.ORCFile(path).schema)
        except Exception:
            return self.spark.read.orc(path).schema

    def _csv_header_key(self, path: str, spec: RunSpec):
        """Driver-side header sniff (first line only) to group CSV files
        before inference. With --no-headers, files group by column count.
        Decompresses .gz/.bz2 prefixes — a raw read of compressed bytes
        would give every file a unique garbage key and explode the
        one-job-per-header-group inference into one job per file."""
        import csv as _csv

        text = _read_prefix(path, 64 << 10).decode(
            python_encoding(spec.encoding), errors="replace"
        )
        first = next(
            _csv.reader(
                io.StringIO(text), delimiter=spec.delimiter,
                quotechar=spec.quote,
            ),
            [],
        )
        return tuple(first) if spec.headers else len(first)

    def probe_schemas(
        self, files: list[InputFile], spec: RunSpec
    ) -> list[T.StructType]:
        """Per-file schemas with a bounded number of Spark jobs.

        Parquet: pyarrow footer reads on a driver thread pool (no jobs).
        CSV: files grouped by sniffed header; ONE inference job per
        distinct header computes every member file's parse-probe schema
        (see infer_csv_schemas_per_file). Job count is O(distinct CSV
        headers), not O(files) — the difference between a million-file
        input working and the driver melting.
        """
        from concurrent.futures import ThreadPoolExecutor

        # per-run arrow-probe cache (see _probe_parquet_schema): keyed
        # by path, valid for exactly this probe's file set — cleared
        # here so a later run never reads a stale footer's facts
        self._arrow_probe = {}

        # Driver-side probes, zero Spark jobs, on one thread pool:
        # parquet/ORC footers; JSONL always sampled (a record stream has
        # no header to batch an exact Spark job by); CSV sampled under
        # --infer-rows (the reference default); raw text has a fixed
        # (value: Utf8) schema.
        exact_csv = not (spec.infer_rows and spec.infer_rows > 0)
        probes = {
            InputFormat.PARQUET: self._probe_parquet_schema,
            InputFormat.ORC: self._probe_orc_schema,
            InputFormat.JSONL: lambda p: infer_jsonl_schema_prefix(
                p, spec.infer_rows or 1000, encoding=spec.encoding
            ),
            InputFormat.CSV: lambda p: infer_csv_schema_prefix(p, spec),
            InputFormat.TXT: lambda p: TXT_SCHEMA,
        }
        out: list[T.StructType | None] = [None] * len(files)
        sampled = [
            i for i, f in enumerate(files)
            if not (exact_csv and f.format is InputFormat.CSV)
        ]
        if sampled:
            with ThreadPoolExecutor(max_workers=min(32, len(sampled))) as pool:
                for i, schema in zip(sampled, pool.map(
                    lambda i: probes[files[i].format](files[i].path), sampled
                )):
                    out[i] = schema
        if not exact_csv:
            return out  # type: ignore[return-value]

        # Exact full-file inference: one Spark job per distinct header.
        csv_groups: dict[object, list[int]] = {}
        for i, f in enumerate(files):
            if f.format is InputFormat.CSV:
                csv_groups.setdefault(
                    self._csv_header_key(f.path, spec), []
                ).append(i)
        for idxs in csv_groups.values():
            paths = [files[i].path for i in idxs]
            schemas = infer_csv_schemas_per_file(self.spark, paths, spec)
            for i in idxs:
                out[i] = schemas[files[i].path]
        return out  # type: ignore[return-value]

    def dataframe(
        self, spec: RunSpec, files: list[InputFile] | None = None,
        schemas: list[T.StructType] | None = None,
    ) -> tuple[DataFrame, UnifiedSchema, list[InputFile]]:
        """Build the aligned UNION ALL DataFrame for a spec (lazy).
        ``schemas``, when given, are this run's ``probe_schemas(files)``:
        parquet groups may be read with them."""
        files = files if files is not None else self.discover(spec)
        if not files:
            raise ValueError("no input files discovered")

        self._tune_split_size(files)
        if schemas is None:
            schemas = self.probe_schemas(files, spec)
        unified = unify_schemas(
            schemas, rename=spec.rename, stringify_conflicts=spec.stringify_conflicts
        )

        # Group files by (format, schema) -> one multi-path read per group.
        groups: dict[tuple, list[str]] = {}
        for f, s in zip(files, schemas):
            groups.setdefault((f.format, s.json()), []).append(f.path)

        dfs = []
        for (fmt, schema_json), paths in groups.items():
            schema = T.StructType.fromJson(json.loads(schema_json))
            if fmt in SELF_DESCRIBING:
                schema = self._probed_read_schema(paths, schema)
            dfs.append(read_input(self.spark.read, fmt, schema, spec, paths))
        df = concat_aligned(dfs, unified, include=spec.columns, exclude=spec.exclude)
        if len(dfs) > 1:
            df = df.coalesce(self._scan_partitions(files))
        return df, unified, files

    def _probed_read_schema(
        self, paths: list[str], schema: T.StructType
    ) -> T.StructType | None:
        """The probed ``schema`` of a parquet or ORC read group when it
        is the schema Spark's reader would infer for it, else None
        (infer it): every file has a parquet footer probe, no Arrow
        field is ``_spark_hostile`` once unsigned ints take the types
        Spark reads them as (``_as_spark_reads``), and every field's
        Spark type is in ``_READ_TYPES`` (uint64's decimal is not, so
        it still infers). The passthrough gate keeps the raw test: a
        transcode would write an unsigned column unsigned."""
        if any(type(fld.dataType) not in _READ_TYPES for fld in schema.fields):
            return None
        for p in paths:
            probe = self._arrow_probe.get(p)
            if probe is None or any(
                _spark_hostile(_as_spark_reads(fld.type)) for fld in probe[0]
            ):
                return None
        return schema

    def _scan_partitions(self, files: list[InputFile]) -> int:
        """``scan_partitions`` for these files under the session's
        file-scan settings."""
        jss = self.spark._jsparkSession
        conf = jss.sessionState().conf()
        min_parts = conf.filesMinPartitionNum()
        return scan_partitions(
            [f.size for f in files],
            conf.filesMaxPartitionBytes(),
            conf.filesOpenCostInBytes(),
            min_parts.get() if min_parts.isDefined() else jss.leafNodeDefaultParallelism(),
        )

    # ---- entry points (SURVEY.md §3) ---------------------------------

    def plan(self, spec: RunSpec) -> PlanInfo:
        """--plan (main.rs:65-71), upgraded to list *discovered* files and
        include the unified schema + physical plan."""
        df, unified, files = self.dataframe(spec)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return PlanInfo(files=files, unified=unified, explain=buf.getvalue())

    def dry_run(self, spec: RunSpec) -> RunResult:
        """--dry-run (main.rs:73-76): execute the full plan into a no-op
        sink — validates reads, coercions, and unions without writing."""
        t0 = time.time()
        df, _unified, files = self.dataframe(spec)
        obs = Observation()
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        observed.write.format("noop").mode("overwrite").save()
        rows = int(obs.get["rows"])
        return RunResult(
            rows=rows,
            input_files=len(files),
            input_bytes=sum(f.size for f in files),
            output=None,
            seconds=time.time() - t0,
        )

    def run(self, spec: RunSpec) -> RunResult:
        """The main CLI query: concat inputs -> sink (pipeline.rs:76-193).

        Row accounting: ``observe``'s CollectMetrics evaluates its
        aggregate per row through the interpreted expression path, which
        measured ~2x on a parquet->parquet conversion (the scan itself is
        vectorized, so the per-row metric dominates). Whenever parquet is
        on either side we read exact row counts from footers instead
        (driver-side, no job); only csv->csv — where parse cost dwarfs
        the metric — keeps the observe."""
        if not spec.out:
            raise ValueError("RunSpec.out is required for run()")
        t0 = time.time()
        files = self.discover(spec)
        if not files:
            raise ValueError("no input files discovered")
        schemas = self.probe_schemas(files, spec)

        passthrough_cols = self._passthrough_columns(spec, files, schemas)
        passthrough = (
            self._passthrough_arrow_schema(files, passthrough_cols)
            if passthrough_cols is not None
            else None
        )
        if passthrough_cols is not None and passthrough is not None:
            passthrough_schema, rows = passthrough
            max_records = self._rolling_records(spec, files)
            sink = transcode_parquet(
                self.spark,
                [(f.path, f.size) for f in files],
                spec.out,
                passthrough_cols,
                arrow_schema=passthrough_schema,
                compression=spec.compression,
                zstd_level=spec.zstd_level,
                max_records_per_file=max_records,
                # mirror write_parquet exactly: single-file ergonomics
                # apply only when no roll threshold asks for parts
                single_file=spec.single_file and max_records is None,
            )
            # Exact accounting from the INPUT footers the gate already
            # read: a transcode preserves rows by contract, and
            # count-verify must reconcile output against input —
            # counting the output's own footers on this branch would
            # verify the writer against itself (review r13); a third
            # footer sweep here would re-read every file (review r14).
            verified = None
            if spec.verify:
                verified = self._verify(spec, sink, rows)
            return RunResult(
                rows=rows,
                input_files=len(files),
                input_bytes=sum(f.size for f in files),
                output=sink,
                seconds=time.time() - t0,
                verified=verified,
            )

        df, _unified, files = self.dataframe(spec, files=files, schemas=schemas)

        max_records = self._rolling_records(spec, files)
        fmt = spec.resolve_out_format()
        all_parquet_in = all(f.format is InputFormat.PARQUET for f in files)
        obs: Observation | None = None
        observed = df
        if fmt != "parquet" and not all_parquet_in:
            obs = Observation()
            observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        # Content verify observes its (n, crc) on the SAME write pass —
        # CollectMetrics rides the writer's scan, so the written-side
        # checksum reflects exactly the rows that left the writer, at
        # zero extra jobs (ADVICE r5: checksumming the unexecuted plan
        # in _verify re-ran the whole input pipeline at verify time and
        # raced against post-write input mutation).
        content_obs: Observation | None = None
        if spec.verify and spec.verify_mode == "content":
            content_obs = Observation()
            observed = observed.observe(
                content_obs, *self._checksum_aggs(observed)
            )
        args = spec_sink_args(spec)
        if spec.partition_by:
            sink = write_partitioned(
                observed, spec.out, spec.partition_by, out_format=fmt,
                max_records_per_file=max_records, **args,
            )
        else:
            sink = writer_for(fmt)(
                observed, spec.out, single_file=spec.single_file,
                max_records_per_file=max_records, **args,
            )
        if obs is not None:
            rows = int(obs.get["rows"])
        elif fmt == "parquet":
            rows = self._parquet_rows(sink.paths)
        else:
            # csv out, all-parquet in: concat preserves row counts, so
            # input footers are exact.
            rows = self._input_rows([f.path for f in files])
        verified = None
        if spec.verify:
            wm = None
            if content_obs is not None:
                got = content_obs.get
                wm = (int(got["n"]), int(got["crc"]))
            verified = self._verify(
                spec, sink, rows, schema=observed.schema, written_metrics=wm
            )
        return RunResult(
            rows=rows,
            input_files=len(files),
            input_bytes=sum(f.size for f in files),
            output=sink,
            seconds=time.time() - t0,
            verified=verified,
        )

    # ---- helpers ------------------------------------------------------

    def _passthrough_columns(
        self,
        spec: RunSpec,
        files: list[InputFile],
        schemas: list[T.StructType],
    ) -> list[str] | None:
        """Gate for the columnar passthrough sink (transcode_parquet):
        returns the sink's column order when the run is a pure parquet
        transcode — every row leaves exactly as it arrived, so the sink
        may copy column chunks through Arrow instead of row-pivoting
        the data through Spark's writer — or None to take the Catalyst
        plan. The conditions mirror align_dataframe's no-op case: any
        rename, implied cast, null-fill, widening, or non-parquet side
        disqualifies, as do partitioned output and content verify
        (whose checksum must observe the write pass). Single-file mode
        stays eligible — the transcoder has its own one-writer path
        with the same serialized semantics as ``coalesce(1)``."""
        if spec.resolve_out_format() != "parquet":
            return None
        if spec.partition_by:
            return None
        if spec.verify and spec.verify_mode == "content":
            return None
        if spec.rename:
            return None
        if spec.compression.lower() not in ("none", "snappy", "gzip", "zstd"):
            return None  # let the Spark sink raise its codec error
        if any(f.format is not InputFormat.PARQUET for f in files):
            return None
        unified = unify_schemas(
            schemas, rename=spec.rename,
            stringify_conflicts=spec.stringify_conflicts,
        )
        cols = _effective_columns(unified, spec.columns, spec.exclude)
        if not cols:
            return None
        distinct = {s.json(): s for s in schemas}
        for schema in distinct.values():
            by_name = {fld.name: fld.dataType for fld in schema.fields}
            for name in cols:
                target = unified.type_mapping[name].to_spark_type()
                if isinstance(target, T.NullType):
                    return None  # align materializes these as string
                if by_name.get(name) != target:
                    return None  # missing column or implied cast
        return cols

    def _passthrough_arrow_schema(self, files: list[InputFile], cols: list[str]):
        """Arrow-level second half of the passthrough gate: returns
        (the ONE canonical ``pyarrow.Schema`` every transcode bin must
        write, the exact input row total from the same footers), or
        None to take the Catalyst plan.

        The Spark-type check above is necessary but not sufficient — it
        compares probe-derived StructTypes, and two hazards live below
        that level (ADVICE r13):

        * **Probe/reader divergence.** The footer probe maps parquet
          INT96 to timestamp[ns] -> TimestampNTZ, but Spark's own reader
          yields session-tz TIMESTAMP_LTZ for INT96 — so "no cast
          needed" is wrong, the Catalyst plan would produce different
          values, and worse, pyarrow re-encodes INT96 as INT64
          TIMESTAMP(NANOS), which Spark 4 refuses to read at all
          (PARQUET_TYPE_ILLEGAL). Because pyarrow renders INT96 as
          timestamp[ns], ``_spark_hostile``'s ns-unit check covers it
          and native ns timestamps at once. Same story for unsigned
          ints (Spark reads UINT64 as DECIMAL(20,0) while the probe
          folds it into LongType). Any such type, anywhere in a gated
          column's nesting, disqualifies.
        * **Per-bin schema drift.** Distinct Arrow types can collapse to
          one Spark type (string vs large_string, timestamp units), so a
          bin-local "first file wins" schema could emit an output
          directory whose parts disagree physically — and cast() between
          them can truncate. The gate therefore requires every file's
          Arrow type to be IDENTICAL per gated column and hands the one
          canonical schema to every bin; anything short of identical
          falls back to Catalyst, which unifies losslessly by
          construction.

        Zero extra I/O: the schema probe's single footer sweep already
        cached (arrow schema, num_rows) per file (``self._arrow_probe``)
        before any Spark-type mapping could fail, so a file lacks an
        entry only when pyarrow could not open it — and that
        disqualifies (the Spark plan reports the unreadable file)."""
        import pyarrow as pa

        want = set(cols)
        cached = [self._arrow_probe.get(f.path) for f in files]
        if any(c is None for c in cached):
            return None
        canonical: dict[str, pa.Field] = {}
        total_rows = 0
        for arrow, n_rows in cached:
            total_rows += int(n_rows)
            try:
                fields = {
                    name: arrow.field(name)
                    for name in arrow.names
                    if name in want
                }
            except Exception:
                return None  # duplicate field names etc.
            for name in cols:
                fld = fields.get(name)
                if fld is None or _spark_hostile(fld.type):
                    return None
                prev = canonical.get(name)
                if prev is None:
                    canonical[name] = fld.with_nullable(True)
                elif prev.type != fld.type:
                    return None  # same Spark type, different Arrow type
        return pa.schema([canonical[name] for name in cols]), total_rows

    def _input_rows(self, paths: list[str]) -> int:
        """Exact row total of input parquet files: ``num_rows`` from the
        schema probe's footer cache (``self._arrow_probe``); only the
        files it lacks are opened."""
        missing = [p for p in paths if p not in self._arrow_probe]
        return sum(
            self._arrow_probe[p][1] for p in paths if p in self._arrow_probe
        ) + self._parquet_rows(missing)

    @staticmethod
    def _parquet_rows(paths: list[str]) -> int:
        """Exact row count from parquet footers (files or directories),
        fanned over a driver thread pool — metadata reads only."""
        import os
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        file_paths: list[str] = []
        for p in paths:
            if os.path.isdir(p):
                for root, _dirs, names in os.walk(p):
                    file_paths += [
                        os.path.join(root, n)
                        for n in names
                        if n.endswith(".parquet") and not n.startswith((".", "_"))
                    ]
            else:
                file_paths.append(p)
        if not file_paths:
            return 0
        with ThreadPoolExecutor(max_workers=min(32, len(file_paths))) as pool:
            return sum(
                pool.map(lambda f: pq.ParquetFile(f).metadata.num_rows, file_paths)
            )

    def _tune_split_size(self, files: list[InputFile]) -> None:
        """Size ``spark.sql.files.maxPartitionBytes`` so the scan yields
        ~3 splits per core. The 128 MB default packs small-file corpora
        into a handful of tasks and idles the cluster (measured 2x on a
        0.7 GB / 64-file conversion); large inputs clamp back to 128 MB,
        so cluster-scale behavior is unchanged. Session-level setting —
        read at scan planning of this run's queries."""
        total = sum(f.size for f in files)
        cores = self.spark.sparkContext.defaultParallelism or 1
        # Floor at 16 MB: smaller splits fragment parquet row groups
        # (tasks than cannot split below a row group go idle) — measured
        # slower than the 128 MB default on a row-group-heavy corpus.
        target = max(16 << 20, min(128 << 20, total // (3 * cores) or (16 << 20)))
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))

    def _rolling_records(
        self, spec: RunSpec, files: list[InputFile]
    ) -> int | None:
        """Rolling thresholds (cli.rs:70-77). Rows map exactly to
        ``maxRecordsPerFile``; bytes are approximated as
        roll_by_bytes / (input_bytes / input_rows) using parquet footer
        row counts (no data scan; the schema probe's cached counts, a
        footer read only for a file it lacks) — documented
        approximation (SURVEY §7)."""
        if spec.roll_by_rows:
            return int(spec.roll_by_rows)
        if not spec.roll_by_bytes:
            return None
        total_bytes = sum(f.size for f in files) or 1
        total_rows = 0
        for f in files:
            if f.format is InputFormat.PARQUET:
                try:
                    total_rows += self._input_rows([f.path])
                    continue
                except Exception:
                    pass
            # CSV fallback: estimate ~100 bytes/row rather than scanning.
            total_rows += max(1, f.size // 100)
        bytes_per_row = max(1, total_bytes // max(1, total_rows))
        return max(1, int(spec.roll_by_bytes // bytes_per_row))

    @staticmethod
    def _checksum_aggs(df) -> tuple:
        """The (n, crc) aggregate pair over a canonical row rendering —
        every column cast to string in column-name order, nulls as a
        sentinel no real value renders, fields joined on a unit
        separator. The CRC32 sum accumulates into decimal(38,0) so it
        cannot overflow at any row count, and being commutative it is
        partitioning-independent: at 100 TB each map task folds its
        partition's CRCs and the exchange carries one decimal per
        task. CRC32 is the JVM-built-in stand-in for the reference's
        declared-but-unused crc64fast dependency (Cargo.toml:60); a
        32-bit sum still detects any single-row corruption and all but
        ~2^-32 of multi-row ones."""
        cols = [
            F.coalesce(F.col(quote_ident(c)).cast("string"), F.lit("\x00\x00NULL"))
            for c in sorted(df.columns)
        ]
        row = F.concat_ws("\x1f", *cols)
        return (
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.crc32(row).cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("crc"),
        )

    def _content_checksum(self, df) -> tuple[int, int]:
        """(rows, checksum) of a relation, one aggregation job — used
        on the READ-BACK side of content verify. The written side never
        runs this: its checksum is observed during the write pass
        itself (see run()), so verify compares what actually left the
        writer, not a re-execution of the input pipeline that would
        double the run cost and, if inputs were mutated or removed
        after the write, silently compare fresh inputs against old
        outputs."""
        n, crc = self._checksum_aggs(df)
        got = df.select(n, crc).first()
        return int(got["n"]), int(got["crc"])

    def _verify(
        self,
        spec: RunSpec,
        sink: SinkResult,
        expected_rows: int,
        schema=None,
        written_metrics: tuple[int, int] | None = None,
    ) -> bool:
        """--verify (cli.rs:118-120, declared with a crc64 dependency
        but never implemented in the reference): re-read the output and
        reconcile row counts; in ``verify_mode="content"`` additionally
        reconcile the canonical-row checksum OBSERVED during the write
        pass (``written_metrics``) against the round-tripped bytes
        (did my bytes survive?)."""
        fmt = spec.resolve_out_format()
        if spec.verify_mode == "content" and written_metrics is not None:
            back = read_back(self.spark, fmt, spec, sink.paths, schema=schema)
            return written_metrics == self._content_checksum(back)
        return read_back(self.spark, fmt, spec, sink.paths).count() == expected_rows

"""Input formats: the driver-side schema probes and the one reader
configuration both engines open their inputs through.

``read_input`` configures a ``DataFrameReader`` (the batch ``Engine``)
or a ``DataStreamReader`` (the resumable ``StreamEngine``) the same way:
Spark source name, the CSV/JSONL options of the reference's reader
surfaces (CSV: /root/reference/src/csv_in.rs:45-232; Parquet:
/root/reference/src/parquet_in.rs:13-44), the probed schema and the
extra NA sentinels. Spark handles batching, vectorized parsing and
per-file-split parallelism natively (the analog of the reference's
64k-row batched readers on blocking threads).
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from streaming_parquet_spark.sources.discover import InputFormat

if TYPE_CHECKING:
    from streaming_parquet_spark.runspec import RunSpec


# Default NA sentinels (reference src/cli.rs:41-43: "NA,null,\\N").
DEFAULT_NA_VALUES = ("NA", "null", "\\N")

#: --encoding spelling -> (Spark charset, Python codec of the driver-side
#: probes). The reference reads latin1 via WINDOWS_1252 decode with BOM
#: strip (csv_in.rs:80-84,156-168).
_ENCODINGS = {
    "utf8": ("UTF-8", "utf-8-sig"),
    "utf-8": ("UTF-8", "utf-8-sig"),
    "latin1": ("ISO-8859-1", "cp1252"),
}


def spark_encoding(encoding: str) -> str:
    return _ENCODINGS.get(encoding.lower(), (encoding,))[0]


def python_encoding(encoding: str) -> str:
    return _ENCODINGS.get(encoding.lower(), (None, encoding))[1]


#: Spark data source of each input format
_SOURCES = {
    InputFormat.CSV: "csv",
    InputFormat.PARQUET: "parquet",
    InputFormat.JSONL: "json",
    InputFormat.ORC: "orc",
    InputFormat.TXT: "text",
}

#: formats whose files carry their own schema, so a batch read may leave
#: it to Spark's inference instead of the probe
SELF_DESCRIBING = frozenset({InputFormat.PARQUET, InputFormat.ORC})


def _reader_options(fmt: InputFormat, spec: RunSpec) -> dict[str, str]:
    """Reader options of one input format under ``spec``.

    CSV (reference src/cli.rs:25-43): ragged rows pad with nulls
    (csv_in.rs:136-139, Spark's PERMISSIVE mode); Spark's ``nullValue``
    takes one sentinel, ``read_input`` maps the rest post-read. Quoted
    fields containing newlines need ``multiline`` (one task per file:
    multiLine files are not splittable). JSONL: PERMISSIVE pads missing
    keys / malformed records with nulls; Spark's line reader needs an
    explicit ``lineSep`` under any charset but UTF-8, and a field
    declared StringType reads back as its literal JSON text (the Utf8
    degrade of nested values). ``.gz``/``.bz2`` text inputs decompress
    transparently in every text source, by extension."""
    enc = spark_encoding(spec.encoding)
    if fmt is InputFormat.CSV:
        return {
            "sep": spec.delimiter,
            "quote": spec.quote,
            "header": str(spec.headers).lower(),
            "encoding": enc,
            "mode": "PERMISSIVE",
            "multiLine": str(spec.multiline).lower(),
            "nullValue": spec.na_values[0] if spec.na_values else "",
        }
    if fmt is InputFormat.JSONL:
        opts = {"mode": "PERMISSIVE", "encoding": enc}
        if enc != "UTF-8":
            opts["lineSep"] = "\n"
        return opts
    return {}


def read_input(
    reader, fmt: InputFormat, schema: T.StructType | None, spec: RunSpec,
    paths: list[str] | str,
) -> DataFrame:
    """Open ``paths`` of one input format through ``reader`` —
    ``spark.read`` (a list of paths) or ``spark.readStream`` (one
    directory or glob) — the same way for both engines.

    ``schema`` is the probed one; None leaves it to Spark's inference.
    The scan can't materialize NullType (the probe's result for a
    valueless column), so such columns read as string: every value is
    null, and the aligner casts to the unified type anyway. CSV nulls
    out the extra NA sentinels after the read, mirroring csv_in.rs:129-
    135 where sentinel checks precede parsing; ORC/JSONL carry typed
    nulls natively."""
    if schema is not None:
        reader = reader.schema(T.StructType([
            T.StructField(
                f.name,
                T.StringType() if isinstance(f.dataType, T.NullType) else f.dataType,
                f.nullable,
            )
            for f in schema.fields
        ]))
    df = reader.format(_SOURCES[fmt]).options(**_reader_options(fmt, spec)).load(paths)
    if fmt is InputFormat.CSV:
        df = _apply_na_sentinels(df, spec.na_values[1:])
    return df


def _apply_na_sentinels(df: DataFrame, extra_na: tuple[str, ...]) -> DataFrame:
    """Null out remaining NA sentinels on string columns (cli.rs:41-43)."""
    if not extra_na:
        return df
    na_list = list(extra_na)
    exprs = []
    for f_ in df.schema.fields:
        if isinstance(f_.dataType, T.StringType):
            c = F.col(f_.name)
            exprs.append(
                F.when(c.isin(na_list), F.lit(None)).otherwise(c).alias(f_.name)
            )
        else:
            exprs.append(F.col(f_.name))
    return df.select(*exprs)


def infer_csv_schemas_per_file(
    spark: SparkSession, paths: list[str], spec: RunSpec,
) -> dict[str, T.StructType]:
    """Per-file CSV schema inference in ONE Spark job for a group of
    files sharing a header.

    The naive design (one inference job per file) launches O(files)
    driver jobs — untenable at 100k files. Instead: read the whole group
    as strings, aggregate the parse-probe flags (i64 -> f64 -> bool ->
    utf8, csv_in.rs:171-232 order) grouped by ``input_file_name()``, and
    build each file's schema from its own flags. Per-file semantics are
    preserved exactly (same-header files can still widen-conflict,
    schema.rs:188-192) while the job count drops to one per distinct
    header.

    Flags aggregate over ALL rows of each file — this is the exact
    (infer_rows=0) mode; the sampled default uses driver-side prefix
    reads instead (infer_csv_schema_prefix).
    """
    # no schema: every column reads as string (inferSchema is off)
    raw = read_input(spark.read, InputFormat.CSV, None, spec, list(paths))
    names = (
        raw.columns
        if spec.headers
        else [f"col_{i + 1}" for i in range(len(raw.columns))]
    )

    # ONE aggregate per column: bit_and of a per-value capability mask
    # (1 = parses as i64, 2 = as f64, 4 = is a bool token). A value that
    # parses as i64 also parses as f64 -> mask 3. bit_and skips nulls and
    # returns NULL for an all-null column (-> NullType). This replaces a
    # 4-aggregates-per-column design whose redundant try_casts made the
    # probe ~20x slower than the plain data scan.
    checks = []
    for col in raw.columns:
        mask = (
            f"CASE WHEN `{col}` IS NULL THEN CAST(NULL AS INT)"
            f" WHEN try_cast(`{col}` AS BIGINT) IS NOT NULL THEN 3"
            f" WHEN try_cast(`{col}` AS DOUBLE) IS NOT NULL THEN 2"
            f" WHEN lower(`{col}`) IN ('true', 'false') THEN 4"
            f" ELSE 0 END"
        )
        checks.append(F.expr(f"bit_and({mask})"))
    rows = (
        raw.groupBy(F.input_file_name().alias("__file"))
        .agg(checks[0].alias("c0"), *[e.alias(f"c{i}") for i, e in enumerate(checks[1:], 1)])
        .collect()
    )

    def _schema_from_masks(masks: list[int | None]) -> T.StructType:
        fields = []
        for name, m in zip(names, masks):
            fields.append(T.StructField(name, _type_from_mask(m), True))
        return T.StructType(fields)

    by_uri = {}
    for r in rows:
        vals = [r[f"c{i}"] for i in range(len(raw.columns))]
        by_uri[_norm_file_uri(r["__file"])] = _schema_from_masks(vals)

    all_null = T.StructType([T.StructField(n, T.NullType(), True) for n in names])
    out: dict[str, T.StructType] = {}
    for p in paths:
        # Files with zero data rows never reach the aggregate: every
        # column is valueless -> Null (widening identity).
        out[p] = by_uri.get(os.path.abspath(p), all_null)
    return out


def _norm_file_uri(uri: str) -> str:
    from urllib.parse import unquote, urlparse

    if "://" in uri:
        return os.path.abspath(unquote(urlparse(uri).path))
    return os.path.abspath(uri)


def _type_from_mask(mask: int | None) -> T.DataType:
    """Capability mask -> type, in the reference's probe order
    (csv_in.rs:171-232: i64 -> f64 -> bool -> utf8). NULL mask = column
    had no values at all -> Null, the widening identity
    (schema.rs:137-142) — NOT string, which would widen-conflict with
    typed columns from sibling files."""
    if mask is None:
        return T.NullType()
    if mask & 1:
        return T.LongType()
    if mask & 2:
        return T.DoubleType()
    if mask & 4:
        return T.BooleanType()
    return T.StringType()


_I64_RE = None


def _read_prefix(path: str, max_bytes: int) -> bytes:
    """First ``max_bytes`` DECOMPRESSED bytes of a (possibly .gz/.bz2)
    text file — the driver-side probes must see plaintext for
    compressed inputs, which Spark's distributed read decompresses by
    extension anyway. Streaming decompressors only inflate the prefix
    they're asked for, so probing a huge archive stays cheap."""
    lower = path.lower()
    if lower.endswith(".gz"):
        import gzip

        with gzip.open(path, "rb") as fh:
            return fh.read(max_bytes)
    if lower.endswith(".bz2"):
        import bz2

        with bz2.open(path, "rb") as fh:
            return fh.read(max_bytes)
    with open(path, "rb") as fh:
        return fh.read(max_bytes)


def infer_csv_schema_prefix(
    path: str, spec: RunSpec, max_bytes: int = 8 << 20,
) -> T.StructType:
    """Sampled per-file CSV inference, driver-side — the reference's
    ``--infer-rows`` contract (cli.rs:66-68: sample N rows, default
    1000). Reads at most ``spec.infer_rows`` rows / ``max_bytes`` bytes
    of the file prefix with Python's csv module (quote/multiline-correct)
    and probes i64 -> f64 -> bool -> utf8 per column (csv_in.rs:171-232).

    Zero Spark jobs: schema probing over K files is driver metadata work
    (same cost class as discovery stat calls), parallelizable with a
    thread pool. For exact full-file inference set infer_rows=0, which
    routes to the one-job-per-header-group Spark path instead.
    """
    import csv as _csv
    import io
    import re

    global _I64_RE
    if _I64_RE is None:
        _I64_RE = re.compile(r"[+-]?\d+\Z")

    na = set(spec.na_values)

    blob = _read_prefix(path, max_bytes)
    text = blob.decode(python_encoding(spec.encoding), errors="replace")
    # Drop a trailing partial line unless we read the whole file.
    if len(blob) == max_bytes and "\n" in text:
        text = text[: text.rfind("\n")]

    reader = _csv.reader(
        io.StringIO(text), delimiter=spec.delimiter, quotechar=spec.quote
    )
    first = next(reader, None)
    if first is None:
        return T.StructType()
    if spec.headers:
        names = list(first)
        data_iter = reader
    else:
        names = [f"col_{i + 1}" for i in range(len(first))]

        def _chain():
            yield first
            yield from reader

        data_iter = _chain()

    ncols = len(names)
    masks: list[int | None] = [None] * ncols
    limit = spec.infer_rows if spec.infer_rows and spec.infer_rows > 0 else 10**9
    seen = 0
    i64_min, i64_max = -(2**63), 2**63 - 1
    for row in data_iter:
        if seen >= limit:
            break
        seen += 1
        for j in range(ncols):
            v = row[j] if j < len(row) else None  # ragged: pad with null
            if v is None or v == "" or v in na:
                continue
            if _I64_RE.match(v) and i64_min <= int(v) <= i64_max:
                m = 3
            else:
                try:
                    # Rust's f64 parse rejects underscores; Python's allows.
                    if "_" in v:
                        raise ValueError
                    float(v)
                    m = 2
                except ValueError:
                    m = 4 if v.lower() in ("true", "false") else 0
            masks[j] = m if masks[j] is None else masks[j] & m
    return T.StructType(
        [T.StructField(n, _type_from_mask(m), True) for n, m in zip(names, masks)]
    )


#: fixed schema of a raw-text scan — one Utf8 line per record, so the
#: column unifies with anything under the widening lattice. UTF-8 only:
#: Spark's text source has no encoding option (ingest other charsets as
#: single-column CSV with --encoding).
TXT_SCHEMA = T.StructType([T.StructField("value", T.StringType(), True)])


# ---------------------------------------------------------------------------
# JSONL (extension beyond the reference — training corpora are JSONL)
# ---------------------------------------------------------------------------


def infer_jsonl_schema_prefix(
    path: str,
    infer_rows: int = 1000,
    max_bytes: int = 8 << 20,
    encoding: str = "utf8",
) -> T.StructType:
    """Sampled per-file JSONL inference, driver-side (same cost class as
    ``infer_csv_schema_prefix``: zero Spark jobs, thread-poolable).

    Per-key probe over up to ``infer_rows`` records: bool -> Boolean,
    int -> Long, float (or int/float mix) -> Double, everything nested
    (object/array) or mixed -> String — the reference's lattice degrades
    unknown shapes to Utf8 (schema.rs:38), and Spark's JSON reader
    faithfully yields the *literal JSON text* for any value read under a
    declared StringType, so nested payloads survive round-trips intact.
    Keys keep first-seen order (unification sorts downstream); keys
    missing from some records are simply nullable."""
    import json as _json

    blob = _read_prefix(path, max_bytes)
    text = blob.decode(python_encoding(encoding), errors="replace")
    if len(blob) == max_bytes and "\n" in text:
        text = text[: text.rfind("\n")]

    # A .json file holding a JSON ARRAY or a pretty-printed document is
    # not line-delimited: line-wise PERMISSIVE parsing would silently
    # infer an empty/partial schema and read all-null rows.  Probe the
    # shape up front and fail loudly instead.
    if text.lstrip().startswith("["):
        raise ValueError(
            f"{path}: top-level JSON array, not newline-delimited JSONL; "
            "re-export one object per line (or read via a multiLine JSON "
            "reader)"
        )
    first_line = next((ln for ln in text.splitlines() if ln.strip()), "")
    if first_line:
        try:
            _json.loads(first_line)
        except ValueError:
            try:
                whole = _json.loads(text)
            except ValueError:
                pass  # malformed first record: PERMISSIVE skips it below
            else:
                if isinstance(whole, (dict, list)):
                    raise ValueError(
                        f"{path}: pretty-printed JSON document spanning "
                        "multiple lines, not JSONL; re-export one object "
                        "per line (or read via a multiLine JSON reader)"
                    )

    limit = infer_rows if infer_rows and infer_rows > 0 else 10**9
    order: list[str] = []
    # capability mask per key: 1=long, 2=double, 4=boolean; 0=string only
    masks: dict[str, int | None] = {}
    seen = 0
    for line in text.splitlines():
        if not line.strip():
            continue
        if seen >= limit:
            break
        seen += 1
        try:
            rec = _json.loads(line)
        except ValueError:
            continue  # PERMISSIVE parity: bad record doesn't kill inference
        if not isinstance(rec, dict):
            continue
        for k, v in rec.items():
            if k not in masks:
                masks[k] = None
                order.append(k)
            if v is None:
                continue
            if isinstance(v, bool):
                m = 4
            elif isinstance(v, int):
                m = 3
            elif isinstance(v, float):
                m = 2
            else:  # str, dict, list -> string (nested degrades to JSON text)
                m = 0
            masks[k] = m if masks[k] is None else masks[k] & m
    return T.StructType(
        [T.StructField(k, _type_from_mask(masks[k]), True) for k in order]
    )

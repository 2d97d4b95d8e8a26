"""Format-specific DataFrame readers mirroring the reference's reader
option surfaces (CSV: /root/reference/src/csv_in.rs:45-232; Parquet:
/root/reference/src/parquet_in.rs:13-44).

Each reader returns a lazily-planned DataFrame; Spark handles batching,
vectorized parsing, and per-file-split parallelism natively (the analog
of the reference's 64k-row batched readers on blocking threads).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T


# Default NA sentinels (reference src/cli.rs:41-43: "NA,null,\\N").
DEFAULT_NA_VALUES = ("NA", "null", "\\N")

_ENCODINGS = {"utf8": "UTF-8", "utf-8": "UTF-8", "latin1": "ISO-8859-1"}


@dataclass
class CsvOptions:
    """CSV reader options (reference src/cli.rs:25-43,66-68).

    The reference reads latin1 via WINDOWS_1252 decode with BOM strip
    (csv_in.rs:80-84,156-168) — Spark's `encoding` option covers both.
    Ragged rows are padded with nulls (csv_in.rs:136-139) — Spark
    PERMISSIVE mode default. Multiple NA sentinels are applied post-read
    (Spark's `nullValue` takes a single value).
    """

    delimiter: str = ","
    quote: str = '"'
    headers: bool = True                 # --no-headers inverts
    encoding: str = "utf8"
    na_values: tuple[str, ...] = DEFAULT_NA_VALUES
    infer_rows: int = 1000               # --infer-rows schema-inference sample
    infer_schema: bool = True
    # Quoted fields containing newlines (the reference's csv crate parses
    # them natively). Spark's default line-splittable reader breaks such
    # records; multiline=True handles them at the cost of one task per
    # file (files become non-splittable) — enable only when the data
    # needs it.
    multiline: bool = False


def read_csv(
    spark: SparkSession,
    paths: list[str] | str,
    opts: CsvOptions | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Read CSV with the reference's option semantics.

    With ``headers=False``, columns are named ``col_1..col_N``
    (csv_in.rs:68-78 synthesizes the same names). Values matching any NA
    sentinel become null before type coercion, mirroring csv_in.rs:129-135
    where sentinel checks precede parsing.
    """
    opts = opts or CsvOptions()
    if isinstance(paths, str):
        paths = [paths]

    reader = (
        spark.read.option("sep", opts.delimiter)
        .option("quote", opts.quote)
        .option("header", str(opts.headers).lower())
        .option("encoding", _ENCODINGS.get(opts.encoding.lower(), opts.encoding))
        .option("mode", "PERMISSIVE")
        .option("multiLine", str(opts.multiline).lower())
        .option("samplingRatio", "1.0")
    )
    # Spark accepts one nullValue natively; the rest are mapped post-read.
    primary_na = opts.na_values[0] if opts.na_values else ""
    reader = reader.option("nullValue", primary_na)

    if schema is not None:
        df = reader.schema(schema).csv(paths)
    elif opts.infer_schema:
        # Read as strings first so extra NA sentinels null out *before*
        # type inference (parity with csv_in.rs ordering), then re-infer.
        raw = reader.option("inferSchema", "false").csv(paths)
        raw = _apply_na_sentinels(raw, opts.na_values[1:])
        df = _infer_string_columns(raw, opts.infer_rows)
        if not opts.headers:
            df = df.toDF(*[f"col_{i + 1}" for i in range(len(df.columns))])
        return df
    else:
        df = reader.option("inferSchema", "false").csv(paths)

    if not opts.headers:
        df = df.toDF(*[f"col_{i + 1}" for i in range(len(df.columns))])
    return _apply_na_sentinels(df, opts.na_values[1:])


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


def _infer_string_columns(df: DataFrame, sample_rows: int) -> DataFrame:
    """Per-column type inference over a sample: try i64 -> f64 -> bool,
    else string — the reference's parse-probe order (csv_in.rs:171-232),
    where any unparseable value makes the whole column Utf8.

    Runs one small Spark job over ``sample_rows`` rows (the reference
    samples --infer-rows=1000 by default), then applies lattice casts to
    the full lazy plan.
    """
    sample = df.limit(sample_rows)
    checks = []
    for name in df.columns:
        c = F.col(name)
        nn = c.isNotNull()
        checks.extend(
            [
                F.max(F.when(nn & c.try_cast("long").isNull(), 1).otherwise(0)).alias(
                    f"{name}__not_i64"
                ),
                F.max(
                    F.when(nn & c.try_cast("double").isNull(), 1).otherwise(0)
                ).alias(f"{name}__not_f64"),
                F.max(
                    F.when(
                        nn & ~F.lower(c).isin("true", "false"), 1
                    ).otherwise(0)
                ).alias(f"{name}__not_bool"),
                F.max(F.when(nn, 1).otherwise(0)).alias(f"{name}__any"),
            ]
        )
    row = sample.agg(*checks).collect()[0].asDict()

    exprs = []
    for name in df.columns:
        if not row[f"{name}__any"]:
            target = None  # all-null column stays string (unknown)
        elif not row[f"{name}__not_i64"]:
            target = "long"
        elif not row[f"{name}__not_f64"]:
            target = "double"
        elif not row[f"{name}__not_bool"]:
            target = "boolean"
        else:
            target = None
        c = F.col(name)
        exprs.append(c.try_cast(target).alias(name) if target else c)
    return df.select(*exprs)


def infer_csv_schemas_per_file(
    spark: SparkSession,
    paths: list[str],
    opts: CsvOptions | None = None,
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
    opts = opts or CsvOptions()
    reader = (
        spark.read.option("sep", opts.delimiter)
        .option("quote", opts.quote)
        .option("header", str(opts.headers).lower())
        .option("encoding", _ENCODINGS.get(opts.encoding.lower(), opts.encoding))
        .option("mode", "PERMISSIVE")
        .option("multiLine", str(opts.multiline).lower())
        .option("nullValue", opts.na_values[0] if opts.na_values else "")
        .option("inferSchema", "false")
    )
    raw = reader.csv(list(paths))
    raw = _apply_na_sentinels(raw, opts.na_values[1:])
    names = (
        raw.columns
        if opts.headers
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
    path: str,
    opts: CsvOptions | None = None,
    max_bytes: int = 8 << 20,
) -> T.StructType:
    """Sampled per-file CSV inference, driver-side — the reference's
    ``--infer-rows`` contract (cli.rs:66-68: sample N rows, default
    1000). Reads at most ``opts.infer_rows`` rows / ``max_bytes`` bytes
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

    opts = opts or CsvOptions()
    enc = {"utf8": "utf-8-sig", "utf-8": "utf-8-sig", "latin1": "cp1252"}.get(
        opts.encoding.lower(), opts.encoding
    )
    na = set(opts.na_values)

    blob = _read_prefix(path, max_bytes)
    text = blob.decode(enc, errors="replace")
    # Drop a trailing partial line unless we read the whole file.
    if len(blob) == max_bytes and "\n" in text:
        text = text[: text.rfind("\n")]

    reader = _csv.reader(
        io.StringIO(text), delimiter=opts.delimiter, quotechar=opts.quote
    )
    first = next(reader, None)
    if first is None:
        return T.StructType()
    if opts.headers:
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
    limit = opts.infer_rows if opts.infer_rows and opts.infer_rows > 0 else 10**9
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


def read_parquet(
    spark: SparkSession, paths: list[str] | str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Parquet scan (parquet_in.rs:13-44): Spark's vectorized reader with
    row-group pruning and predicate pushdown for free. A ``schema``
    skips the reader's schema inference (one Spark job reading a
    footer); the caller vouches that it is the schema Spark would
    infer."""
    if isinstance(paths, str):
        paths = [paths]
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def read_orc(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """ORC scan (extension): Spark's vectorized ORC reader — stripe
    pruning and predicate pushdown, same free lunch as Parquet.

    Unlike ``DataFrameReader.parquet(*paths)``, the ``orc`` reader's
    signature is ``orc(path_or_list, mergeSchema=..., ...)`` — star-
    expanding a path list binds extra paths to keyword slots (a
    NumberFormatException deep in the JVM), so always pass the list."""
    if isinstance(paths, str):
        paths = [paths]
    return spark.read.orc(paths)


#: fixed schema of a raw-text scan — one Utf8 line per record
TXT_SCHEMA = T.StructType([T.StructField("value", T.StringType(), True)])


def read_text(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """Raw line-per-record text scan (extension): training corpora
    frequently arrive as plain ``.txt`` dumps. Fixed single-column
    schema (``value: string``) — no inference needed, and the column
    unifies with anything under the widening lattice. ``.gz``/``.bz2``
    paths decompress transparently (Spark's text source, by extension).
    UTF-8 only: the JVM text source has no encoding option; re-encode
    exotic corpora upstream or ingest them as single-column CSV with
    ``--encoding``."""
    if isinstance(paths, str):
        paths = [paths]
    return spark.read.text(paths)


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

    enc = {"utf8": "utf-8-sig", "utf-8": "utf-8-sig", "latin1": "cp1252"}.get(
        encoding.lower(), encoding
    )
    blob = _read_prefix(path, max_bytes)
    text = blob.decode(enc, errors="replace")
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


def read_jsonl(
    spark: SparkSession,
    paths: list[str] | str,
    schema: T.StructType | None = None,
    encoding: str = "utf8",
) -> DataFrame:
    """Newline-delimited JSON scan. With an explicit schema (the engine
    path), struct/array-valued fields declared StringType come back as
    their literal JSON text — the Utf8 degrade the unified lattice
    expects. PERMISSIVE mode pads missing keys / malformed records with
    nulls, mirroring the CSV ragged-row contract."""
    if isinstance(paths, str):
        paths = [paths]
    reader = (
        spark.read.option("mode", "PERMISSIVE")
        .option("encoding", _ENCODINGS.get(encoding.lower(), encoding))
    )
    if schema is not None:
        # NullType columns (key never had a value) can't be scanned.
        read_schema = T.StructType(
            [
                T.StructField(
                    f.name,
                    T.StringType()
                    if isinstance(f.dataType, T.NullType)
                    else f.dataType,
                    f.nullable,
                )
                for f in schema.fields
            ]
        )
        return reader.schema(read_schema).json(paths)
    return reader.json(paths)

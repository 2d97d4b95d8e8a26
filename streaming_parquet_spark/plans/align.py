"""Per-input alignment to a unified schema, and aligned concatenation.

Reimplements the semantics of ``BatchAligner::align_batch``
(/root/reference/src/coercion.rs:36-84): for each unified column —
apply include/exclude filters (coercion.rs:44-56), resolve renames
(coercion.rs:58-59,86-100), cast the source column to the unified type
(coercion.rs:102-204 — parse-with-null-on-failure semantics), or fill an
all-null typed column when the input lacks the field (coercion.rs:206-230).

Spark-first: alignment is a single projection, so Catalyst sees a plain
``Project`` — column pruning and scan pushdown stay intact, and the whole
align+union plan is codegen'd with zero Python in the hot path. The
projection is built as ONE list of SQL expressions applied by one
``selectExpr`` call: every Column-API call is a Py4J round trip (several
under PySpark 4.1, which also records its Python call site), so a
Column-per-column build cost ~33 gateway round trips per column, and a
wide drifting corpus paid it once per read group. The select list costs
about one per column, and parses to the same Cast and Literal nodes.
Names go through ``quote_ident``, so a dot or a backtick in a column
name stays part of the name.

``try_cast`` is used for coercions: the reference's parse-based coercion
turns unparseable values into nulls (coercion.rs:116-154), which matches
try_cast (and not Spark 4's ANSI-mode cast, which raises).
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from streaming_parquet_spark.plans.typesys import quote_ident
from streaming_parquet_spark.plans.unify import UnifiedSchema


def _effective_columns(
    unified: UnifiedSchema,
    include: Iterable[str] | None,
    exclude: Iterable[str] | None,
) -> list[str]:
    include_set = set(include) if include is not None else None
    exclude_set = set(exclude) if exclude is not None else set()
    cols = []
    for name in unified.names:
        if include_set is not None and name not in include_set:
            continue
        if name in exclude_set:
            continue
        cols.append(name)
    return cols


def align_dataframe(
    df: DataFrame,
    unified: UnifiedSchema,
    include: Iterable[str] | None = None,
    exclude: Iterable[str] | None = None,
) -> DataFrame:
    """Project ``df`` onto the unified schema: rename, cast, null-fill."""
    # unified name -> source column present in this df (rename-aware)
    source_for: dict[str, str] = {}
    for c in df.columns:
        source_for[unified.unified_name(c)] = c

    exprs: list[str] = []
    for name in _effective_columns(unified, include, exclude):
        target = unified.type_mapping[name].to_spark_type()
        if isinstance(target, T.NullType):
            # Column had no values in ANY input (unified type = Null, the
            # widening identity). Sinks can't write VOID — materialize as
            # an all-null string column (CSV renders na_string, parquet
            # a null string column).
            target = T.StringType()
        if name in source_for:
            src = source_for[name]
            if df.schema[src].dataType == target:
                expr = quote_ident(src)
            else:
                expr = f"try_cast({quote_ident(src)} AS {target.simpleString()})"
        else:
            # Missing column -> typed all-null (coercion.rs:206-230)
            expr = f"CAST(NULL AS {target.simpleString()})"
        exprs.append(f"{expr} AS {quote_ident(name)}")
    return df.selectExpr(*exprs)


def concat_aligned(
    dfs: list[DataFrame],
    unified: UnifiedSchema,
    include: Iterable[str] | None = None,
    exclude: Iterable[str] | None = None,
) -> DataFrame:
    """UNION ALL of inputs after alignment — the reference's core operator
    (src/pipeline.rs:76-100): bag semantics, no dedup, fixed output schema.

    Aligned frames share an identical schema — the same columns in the
    same order — so a positional ``union`` is exact and skips the
    by-name resolution (a re-ordering ``Project`` per branch) that
    ``unionByName`` would plan. The union is zero-shuffle: Spark unions
    the scans and keeps per-file read parallelism (one task per file
    split) — the distributed analog of the reference's
    N-readers-one-channel topology.
    """
    if not dfs:
        raise ValueError("concat_aligned requires at least one input DataFrame")
    aligned = [align_dataframe(df, unified, include, exclude) for df in dfs]
    return reduce(DataFrame.union, aligned)

"""Closed scalar type lattice and deterministic widening rules.

Reimplements the *semantics* of the reference's type system
(/root/reference/src/schema.rs:7-57 for the TypeKind <-> Arrow mapping,
/root/reference/src/schema.rs:129-193 for ``widen_types``, pinned by its
unit tests at schema.rs:199-213) over ``pyspark.sql.types``.

Rules (deterministic, commutative):
  * Null is the identity element.
  * Equal types widen to themselves.
  * Bool + any numeric        -> that numeric.
  * Integer widening          I8 < I16 < I32 < I64.
  * Integer + Float           -> Float, EXCEPT I64 + F32 -> F64 (a 64-bit
    integer does not fit in a 32-bit float mantissa; schema.rs:174).
  * F32 + F64                 -> F64.
  * Date + Datetime           -> Datetime.
  * Any other conflict        -> error, unless ``stringify_conflicts`` and
    one side is Utf8/Binary, in which case -> Utf8 (schema.rs:184-185).

Spark types outside the closed lattice (decimal, nested, map, ...) degrade
to Utf8 on ingestion, mirroring schema.rs:38 ("default to string for
unknown types").

``quote_ident`` and ``sql_string`` are the one place column names and
values become SQL text (the align and NA-sentinel select lists); a type
is spelled by Spark's own ``DataType.simpleString()``.
"""

from __future__ import annotations

import enum

from pyspark.sql import types as T


class WidenError(ValueError):
    """Two column types cannot be unified under the widening lattice."""


class TypeKind(enum.Enum):
    NULL = "null"
    BOOL = "bool"
    I8 = "i8"
    I16 = "i16"
    I32 = "i32"
    I64 = "i64"
    F32 = "f32"
    F64 = "f64"
    UTF8 = "utf8"
    DATE = "date"
    DATETIME = "datetime"
    BINARY = "binary"

    @classmethod
    def from_spark_type(cls, dt: T.DataType) -> "TypeKind":
        """Map a Spark type into the closed lattice (schema.rs:23-40).

        TimestampType and TimestampNTZType both land on DATETIME, as the
        reference folds every Arrow Timestamp(_, _) and Date64 into its
        Datetime kind (schema.rs:36-37). Unknown types degrade to UTF8.
        """
        return _FROM_SPARK.get(type(dt), cls.UTF8)

    def to_spark_type(self) -> T.DataType:
        """Lattice -> Spark type (schema.rs:42-57). NULL maps to NullType;
        DATETIME to TimestampNTZType — the reference's Datetime is
        Timestamp(ms, NO timezone) (schema.rs:36-37,49), and parquet
        fixtures carry tz-less timestamps, so NTZ is both the faithful
        mapping and the one that needs no per-row cast (a
        timestamp_ntz->timestamp try_cast is a timezone conversion that
        measurably halves scan throughput on a wide corpus)."""
        return _TO_SPARK[self]


_FROM_SPARK: dict[type, TypeKind] = {
    T.NullType: TypeKind.NULL,
    T.BooleanType: TypeKind.BOOL,
    T.ByteType: TypeKind.I8,
    T.ShortType: TypeKind.I16,
    T.IntegerType: TypeKind.I32,
    T.LongType: TypeKind.I64,
    T.FloatType: TypeKind.F32,
    T.DoubleType: TypeKind.F64,
    T.StringType: TypeKind.UTF8,
    T.VarcharType: TypeKind.UTF8,
    T.CharType: TypeKind.UTF8,
    T.DateType: TypeKind.DATE,
    T.TimestampType: TypeKind.DATETIME,
    T.TimestampNTZType: TypeKind.DATETIME,
    T.BinaryType: TypeKind.BINARY,
}

_TO_SPARK: dict[TypeKind, T.DataType] = {
    TypeKind.NULL: T.NullType(),
    TypeKind.BOOL: T.BooleanType(),
    TypeKind.I8: T.ByteType(),
    TypeKind.I16: T.ShortType(),
    TypeKind.I32: T.IntegerType(),
    TypeKind.I64: T.LongType(),
    TypeKind.F32: T.FloatType(),
    TypeKind.F64: T.DoubleType(),
    TypeKind.UTF8: T.StringType(),
    TypeKind.DATE: T.DateType(),
    TypeKind.DATETIME: T.TimestampNTZType(),
    TypeKind.BINARY: T.BinaryType(),
}


def quote_ident(name: str) -> str:
    """``name`` as one SQL identifier: backtick-quoted, inner backticks
    doubled, so a dot, space, quote or keyword in a column name never
    reads as a nested field, an alias or syntax."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """``value`` as a SQL string literal of the default parser
    (``spark.sql.parser.escapedStringLiterals`` off), which reads ``\\``
    as an escape: backslashes and single quotes are escaped, so the
    sentinel ``\\N`` round-trips."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


_INT_RANK = {TypeKind.I8: 1, TypeKind.I16: 2, TypeKind.I32: 3, TypeKind.I64: 4}
_NUMERIC = set(_INT_RANK) | {TypeKind.F32, TypeKind.F64}


def widen_types(
    left: TypeKind, right: TypeKind, stringify_conflicts: bool = False
) -> TypeKind:
    """Deterministic widening of two lattice types (schema.rs:129-193)."""
    if left is TypeKind.NULL:
        return right
    if right is TypeKind.NULL:
        return left
    if left is right:
        return left

    pair = {left, right}

    # Bool + numeric -> numeric (schema.rs:151-157)
    if TypeKind.BOOL in pair:
        other = (pair - {TypeKind.BOOL}).pop()
        if other in _NUMERIC:
            return other

    # Integer widening (schema.rs:160-165)
    if left in _INT_RANK and right in _INT_RANK:
        return left if _INT_RANK[left] >= _INT_RANK[right] else right

    # Integer + float (schema.rs:166-175): I64+F32 -> F64 special case
    if TypeKind.F64 in pair and (pair & set(_INT_RANK)):
        return TypeKind.F64
    if TypeKind.F32 in pair and (pair & set(_INT_RANK)):
        ints = pair & set(_INT_RANK)
        return TypeKind.F64 if TypeKind.I64 in ints else TypeKind.F32

    # Float widening (schema.rs:178)
    if pair == {TypeKind.F32, TypeKind.F64}:
        return TypeKind.F64

    # Date + Datetime (schema.rs:181)
    if pair == {TypeKind.DATE, TypeKind.DATETIME}:
        return TypeKind.DATETIME

    # String conflicts (schema.rs:184-185)
    if stringify_conflicts and (pair & {TypeKind.UTF8, TypeKind.BINARY}):
        return TypeKind.UTF8

    raise WidenError(
        f"Cannot unify incompatible types: {left.name} and {right.name}"
    )


def widen_spark_types(
    left: T.DataType, right: T.DataType, stringify_conflicts: bool = False
) -> T.DataType:
    """Convenience: widen two Spark types through the lattice."""
    return widen_types(
        TypeKind.from_spark_type(left),
        TypeKind.from_spark_type(right),
        stringify_conflicts,
    ).to_spark_type()

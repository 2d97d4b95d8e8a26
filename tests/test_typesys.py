"""Table-driven widening-lattice tests, mirroring the reference's
unit tests (/root/reference/src/schema.rs:199-213) plus the full rule
set (schema.rs:129-193). Pure Python — no Spark session."""

import pytest
from pyspark.sql import types as T

from streaming_parquet_spark.plans.typesys import (
    TypeKind,
    WidenError,
    quote_ident,
    sql_string,
    widen_types,
    widen_spark_types,
)

K = TypeKind


@pytest.mark.parametrize(
    "left,right,expected",
    [
        # Null identity (schema.rs:137-142)
        (K.NULL, K.I32, K.I32),
        (K.I32, K.NULL, K.I32),
        (K.NULL, K.NULL, K.NULL),
        # Same type
        (K.UTF8, K.UTF8, K.UTF8),
        (K.BINARY, K.BINARY, K.BINARY),
        # Bool + numeric (schema.rs:151-157)
        (K.BOOL, K.I8, K.I8),
        (K.BOOL, K.I32, K.I32),
        (K.I64, K.BOOL, K.I64),
        (K.BOOL, K.F32, K.F32),
        (K.F64, K.BOOL, K.F64),
        # Integer widening (schema.rs:160-165)
        (K.I8, K.I16, K.I16),
        (K.I8, K.I64, K.I64),
        (K.I16, K.I32, K.I32),
        (K.I32, K.I64, K.I64),
        (K.I64, K.I32, K.I64),
        # Int + float (schema.rs:166-175) incl. the I64+F32 -> F64 case
        (K.I8, K.F32, K.F32),
        (K.I32, K.F32, K.F32),
        (K.I64, K.F32, K.F64),
        (K.F32, K.I64, K.F64),
        (K.I64, K.F64, K.F64),
        (K.I32, K.F64, K.F64),
        # Float widening (schema.rs:178)
        (K.F32, K.F64, K.F64),
        # Date + datetime (schema.rs:181)
        (K.DATE, K.DATETIME, K.DATETIME),
        (K.DATETIME, K.DATE, K.DATETIME),
    ],
)
def test_widen(left, right, expected):
    assert widen_types(left, right) is expected
    assert widen_types(right, left) is expected  # commutative


@pytest.mark.parametrize(
    "left,right",
    [
        (K.I32, K.UTF8),
        (K.UTF8, K.F64),
        (K.DATE, K.I64),
        (K.BINARY, K.I32),
        (K.BOOL, K.UTF8),
        (K.DATE, K.UTF8),
        (K.DATETIME, K.F64),
    ],
)
def test_widen_conflict_errors(left, right):
    """Incompatible pairs error without stringify (schema.rs:188-192)."""
    with pytest.raises(WidenError):
        widen_types(left, right)


@pytest.mark.parametrize(
    "left,right,expected",
    [
        # Conflicts involving Utf8/Binary stringify (schema.rs:184-185)
        (K.I32, K.UTF8, K.UTF8),
        (K.UTF8, K.F64, K.UTF8),
        (K.BINARY, K.I32, K.UTF8),
        (K.DATE, K.UTF8, K.UTF8),
    ],
)
def test_stringify_conflicts(left, right, expected):
    assert widen_types(left, right, stringify_conflicts=True) is expected


def test_stringify_does_not_cover_non_string_conflicts():
    """stringify only applies when one side is Utf8/Binary."""
    with pytest.raises(WidenError):
        widen_types(K.DATE, K.I64, stringify_conflicts=True)


def test_spark_type_round_trip():
    for kind in TypeKind:
        assert TypeKind.from_spark_type(kind.to_spark_type()) is kind


def test_sql_text_quoting():
    assert quote_ident("x.y") == "`x.y`"
    assert quote_ident("a`b") == "`a``b`"
    assert sql_string("\\N") == "'\\\\N'"
    assert sql_string("it's") == "'it\\'s'"


def test_unknown_spark_types_degrade_to_utf8():
    """schema.rs:38: unknown types default to string."""
    assert TypeKind.from_spark_type(T.DecimalType(10, 2)) is K.UTF8
    assert TypeKind.from_spark_type(T.ArrayType(T.FloatType())) is K.UTF8
    assert TypeKind.from_spark_type(T.MapType(T.StringType(), T.LongType())) is K.UTF8


def test_widen_spark_types():
    assert widen_spark_types(T.LongType(), T.FloatType()) == T.DoubleType()
    assert widen_spark_types(T.IntegerType(), T.LongType()) == T.LongType()

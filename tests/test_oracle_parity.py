"""Local replica of the driver's DuckDB-oracle harness.

For every registered query with an oracle: run the Spark version and the
DuckDB SQL on the same sf parquet, sort columns by name and rows by
value, and compare cell-by-cell — the same shape as the driver's
row-count + schema + order-insensitive value-hash check, so failures
surface here before the round gate."""

import math
import os
import struct

import duckdb
import pytest

import streaming_parquet_spark.queries_ext  # noqa: F401  (registers extensions)
import streaming_parquet_spark.queries_tpch  # noqa: F401  (registers TPC-H family)
from streaming_parquet_spark.queries import ORACLES, QUERIES

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t)}.parquet')"
        )
    return con


def _normalize(df):
    """Sort columns by name, rows by stringified values.

    Floats are canonicalized to their IEEE-754 bit pattern
    (``struct.pack('<d', v)``) — NO rounding — because the driver's
    value hash is bit-sensitive: ``round(v, 6)`` + Python ``==``
    let the chi2 HUGEINT→float64 oracle bug (362.0 vs int64 362)
    survive two rounds undetected. Ints stay ints, so an
    int-vs-float divergence mismatches here exactly as it does in
    the driver."""
    df = df[sorted(df.columns)]
    records = []
    for row in df.itertuples(index=False):
        rec = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                rec.append(None)
            elif isinstance(v, float):
                # canonicalize -0.0 == 0.0 the way float equality does,
                # then compare the exact bit pattern
                rec.append(struct.pack("<d", v + 0.0 if v != 0 else 0.0))
            elif hasattr(v, "isoformat"):
                rec.append(v.isoformat())
            else:
                rec.append(v)
        records.append(tuple(rec))
    return sorted(records, key=repr)


def _dtypes(df):
    """Column-name → dtype KIND ('i' int, 'f' float, 'b' bool, 'M'
    datetime, 'O' object), for cross-engine compare.

    Width is deliberately ignored (Spark's row_number()/length() emit
    int32 where DuckDB emits int64/int8 — the driver's value hash is
    width-blind and all such queries are driver-green), but KIND
    divergence — int64 vs HUGEINT→float64, the r4/r5 chi2 bug — is
    exactly what the driver's hash sees as 362 vs 362.0, so it fails
    here. Nullable extension dtypes map to the same kind as their
    numpy counterparts; pandas 'string' maps to object."""
    kind_map = {"u": "i", "S": "O", "U": "O"}
    out = {}
    for c in sorted(df.columns):
        d = df[c].dtype
        k = getattr(d, "kind", None) or str(d)
        if str(d) in ("string", "object"):
            k = "O"
        elif str(d).startswith(("Int", "UInt")):
            k = "i"
        elif str(d).startswith("Float"):
            k = "f"
        elif str(d) == "boolean":
            k = "b"
        out[c] = kind_map.get(k, k)
    return out


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    odf = duck.execute(ORACLES[name]).df()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{name}: column mismatch {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    )
    assert _dtypes(sdf) == _dtypes(odf), (
        f"{name}: dtype mismatch {_dtypes(sdf)} vs {_dtypes(odf)}"
    )
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} vs {len(odf)}"
    left, right = _normalize(sdf), _normalize(odf)
    mismatches = [
        (i, l, r) for i, (l, r) in enumerate(zip(left, right)) if l != r
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


_WIDE_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_types_have_no_hugeint(name, duck):
    """No oracle's DuckDB relation types may contain HUGEINT /
    UHUGEINT / DECIMAL: DuckDB SUM(BIGINT) returns HUGEINT, which
    round-trips through pandas as float64 while Spark emits int64 —
    a hash-only driver mismatch that is invisible to rounded ==
    comparison (the r4/r5 text_chi2_terms bug). Binding the relation
    is enough; nothing executes."""
    rel = duck.sql(ORACLES[name])
    bad = [
        (col, str(typ))
        for col, typ in zip(rel.columns, rel.types)
        if any(w in str(typ).upper() for w in _WIDE_TYPES)
    ]
    assert not bad, (
        f"{name}: oracle emits wide DuckDB types {bad} — add an explicit "
        f"CAST (e.g. CAST(SUM(x) AS BIGINT)) so the pandas dtype matches "
        f"Spark's"
    )


def test_every_query_has_callable():
    for name, fn in QUERIES.items():
        assert callable(fn), name


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_rotation_failure_row_resets_to_never_checked(tmp_path):
    """A query whose NEWEST artifact row is a failure keys as
    never-checked (0): it regressed after its last green and must
    re-run before merely-stale greens."""
    import json

    import __spark_entry__ as e

    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps({
        "q_ok": {"rows_match": True, "schema_match": True,
                 "hash_match": True, "err": None},
        "q_regressed": {"rows_match": True, "schema_match": True,
                        "hash_match": True, "err": None},
    }))
    (tmp_path / "CORRECTNESS_r04.json").write_text(json.dumps({
        "q_regressed": {"rows_match": False, "schema_match": True,
                        "hash_match": False, "err": "boom"},
        "q_fresh": {"rows_match": True, "schema_match": True,
                    "hash_match": True, "err": None},
    }))
    newest = e._last_green_round(str(tmp_path))
    assert newest["q_ok"] == 3
    assert newest["q_fresh"] == 4
    assert "q_regressed" not in newest  # keys as 0 -> runs first


def test_driver_rotation_orders_stalest_first():
    """queries() ordering is computed from the CORRECTNESS_r*.json
    artifacts: never-checked (or last-failed) queries first, then
    ascending by the round of each query's newest green row — so the
    driver's ~50-row budget always refreshes the stalest rows."""
    import __spark_entry__ as e

    ordered = list(e.queries())
    assert set(ordered) == set(QUERIES)
    newest = e._last_green_round()
    rounds = [newest.get(n, 0) for n in ordered]
    assert rounds == sorted(rounds), "rotation not stalest-first"
    # a green row must be genuinely green: a failed row keys as 0
    for rows_round in newest.values():
        assert rows_round >= 1


@pytest.mark.parametrize(
    "name",
    ["events_windows",
     "stream_windowed_counts", "events_sessions", "stream_late_dedup"],
)
def test_time_oracles_are_tz_independent(name, spark, sf_dir):
    """The driver's DuckDB connection never pins TimeZone; every
    time-bucketing oracle must produce identical strings under a
    non-UTC session zone (to_timestamp/TIMESTAMPTZ rendering would
    shift by the UTC offset)."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'America/New_York'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t)}.parquet')"
        )
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    odf = con.execute(ORACLES[name]).df()
    assert _normalize(sdf) == _normalize(odf)


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.mark.parametrize("prior", [None, "false"])
def test_events_gates_leave_nanos_as_long_alone(spark, sf_dir, prior):
    """Building the gates that read the events fixture (through
    ``queries._events`` or either stream builder's reader) leaves
    ``nanosAsLong`` at its prior value when ``ts`` is not
    TIMESTAMP(NANOS), so a later parquet read in the same session does
    not depend on which gates ran before it."""
    saved = spark.conf.get(_NANOS_AS_LONG, None)
    try:
        if prior is None:
            spark.conf.unset(_NANOS_AS_LONG)
        else:
            spark.conf.set(_NANOS_AS_LONG, prior)
        for name in ("events_json_extract", "stream_ingest_counts",
                     "stream_interval_join"):
            QUERIES[name](spark, sf_dir)
            assert spark.conf.get(_NANOS_AS_LONG, None) == prior, name
    finally:
        if saved is None:
            spark.conf.unset(_NANOS_AS_LONG)
        else:
            spark.conf.set(_NANOS_AS_LONG, saved)


@pytest.mark.parametrize("unit", ["us", "ns"])
@pytest.mark.parametrize("layout", ["file", "dir"])
def test_events_reader_sets_nanos_as_long_only_for_nanos(
    spark, tmp_path, layout, unit
):
    """``_events`` reads an events file or a multi-file dataset
    directory whose ``ts`` is TIMESTAMP(MICROS) or TIMESTAMP(NANOS): the
    footer check turns ``nanosAsLong`` on for nanos only, and both read
    as the same microsecond timestamps (nanos floored)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from streaming_parquet_spark.queries import _events

    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    ts = ns if unit == "ns" else [v // 1000 for v in ns]
    tables = [
        pa.table({"event_id": [i + 1], "ts": pa.array([v], pa.timestamp(unit))})
        for i, v in enumerate(ts)
    ]
    path = tmp_path / "events.parquet"
    if layout == "file":
        pq.write_table(pa.concat_tables(tables), str(path))
    else:
        path.mkdir()
        for i, t in enumerate(tables):
            pq.write_table(t, str(path / f"part-{i:04d}.parquet"))
    saved = spark.conf.get(_NANOS_AS_LONG, None)
    try:
        spark.conf.set(_NANOS_AS_LONG, "false")
        df = _events(spark, str(tmp_path))
        assert spark.conf.get(_NANOS_AS_LONG) == str(unit == "ns").lower()
        got = df.selectExpr("unix_micros(ts)").orderBy("event_id").collect()
        assert [r[0] for r in got] == [v // 1000 for v in ns]
    finally:
        if saved is None:
            spark.conf.unset(_NANOS_AS_LONG)
        else:
            spark.conf.set(_NANOS_AS_LONG, saved)

"""How ``Engine.dataframe`` plans a schema-drifting input: parquet read
groups reuse the footer probe's schema only where Spark's reader would
infer the same one, and a union of several read groups runs with the
task count one file scan of the same files gets."""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import os

import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq
import pytest

from streaming_parquet_spark.engine import Engine, scan_partitions
from streaming_parquet_spark.runspec import RunSpec
from streaming_parquet_spark.sources.discover import (
    DiscoveryConfig,
    InputFormat,
    discover_inputs,
)
from streaming_parquet_spark.sources.readers import read_input

MB = 1 << 20
_TS = [dt.datetime(2024, 1, 1, h, 30) for h in (1, 2, 3)] + [None]

#: one-column pyarrow files: (arrow array, write options, takes the
#: inference path). Only the lattice's own types may reuse the probe.
_MATRIX = {
    "int8": (pa.array([1, -2, None, 4], pa.int8()), {}, False),
    "int32": (pa.array([1, -2, None, 4], pa.int32()), {}, False),
    "int64": (pa.array([1, -2, None, 2**40], pa.int64()), {}, False),
    "float32": (pa.array([1.5, -2.25, None, 4.0], pa.float32()), {}, False),
    "double": (pa.array([1.5, -2.25, None, 1e300]), {}, False),
    "bool": (pa.array([True, False, None, True]), {}, False),
    "string": (pa.array(["a", "bé", None, ""]), {}, False),
    "large_string": (pa.array(["a", "bé", None, ""], pa.large_string()), {}, False),
    "dictionary": (pa.array(["a", "b", None, "a"]).dictionary_encode(), {}, False),
    "binary": (pa.array([b"a", b"\x00\xff", None, b""]), {}, False),
    "decimal128": (
        pa.array([decimal.Decimal("1.25"), None, decimal.Decimal("-3.50"),
                  decimal.Decimal("0.00")], pa.decimal128(10, 2)), {}, True,
    ),
    "date32": (pa.array([dt.date(2024, 1, d) for d in (1, 2, 3)] + [None],
                        pa.date32()), {}, False),
    "timestamp_ms": (pa.array(_TS, pa.timestamp("ms")), {}, False),
    "timestamp_us_utc": (pa.array(_TS, pa.timestamp("us", tz="UTC")), {}, False),
    "timestamp_us_new_york": (
        pa.array(_TS, pa.timestamp("us", tz="America/New_York")), {}, False,
    ),
    "list": (pa.array([[1], [2, 3], None, []]), {}, True),
    "struct": (pa.array([{"a": 1}, {"a": 2}, None, {"a": None}]), {}, True),
    "map": (pa.array([[("k", 1)], [("j", 2)], None, []],
                     pa.map_(pa.string(), pa.int64())), {}, True),
    "duration": (pa.array([1, 2, None, 4], pa.duration("us")), {}, True),
    "all_null": (pa.array([None] * 4, pa.null()), {}, True),
    "timestamp_ns": (pa.array(_TS, pa.timestamp("ns")), {}, True),
    "uint64": (pa.array([1, 2, None, 2**63 + 5], pa.uint64()), {}, True),
    "int96": (pa.array(_TS, pa.timestamp("ms")),
              {"use_deprecated_int96_timestamps": True}, True),
}


@pytest.fixture
def engine(spark):
    return Engine(spark)


def _files(paths):
    return discover_inputs(paths, DiscoveryConfig())


def _collect(df):
    return sorted(map(tuple, df.collect()), key=repr)


def read_parquet(spark, paths, schema):
    """A parquet read group opened the way ``Engine.dataframe`` opens it."""
    return read_input(spark.read, InputFormat.PARQUET, schema, RunSpec(), paths)


def _assert_same(df, want):
    assert df.schema == want.schema
    assert _collect(df) == _collect(want)


def _read_schema(engine, paths):
    """The schema ``Engine.dataframe`` hands the reader for one parquet
    group (None: Spark infers it)."""
    files = _files(paths)
    spec = RunSpec(inputs=paths, out="unused.parquet")
    schema = engine.probe_schemas(files, spec)[0]
    return engine._probed_read_schema(paths, schema)


@pytest.mark.parametrize("case", sorted(_MATRIX))
def test_probed_read_schema_matches_spark_inference(engine, spark, tmp_path, case):
    arr, write_opts, infers = _MATRIX[case]
    path = str(tmp_path / f"{case}.parquet")
    field = pa.field("c", arr.type, nullable=True)
    pq.write_table(pa.table({"c": arr}, schema=pa.schema([field])), path, **write_opts)
    read_schema = _read_schema(engine, [path])
    assert (read_schema is None) == infers
    if case != "timestamp_ns":
        _assert_same(read_parquet(spark, [path], read_schema), spark.read.parquet(path))
        return
    # INT64 TIMESTAMP(NANOS): Spark 4 refuses it, or reads it as longs
    # under nanosAsLong (a session conf some gates set); the group does
    # exactly what the inferred read does either way
    key = "spark.sql.legacy.parquet.nanosAsLong"
    saved = spark.conf.get(key, "false")
    try:
        spark.conf.set(key, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, [path], read_schema).collect()
        spark.conf.set(key, "true")
        _assert_same(read_parquet(spark, [path], read_schema), spark.read.parquet(path))
    finally:
        spark.conf.set(key, saved)


def test_probed_read_schema_non_nullable_field(engine, spark, tmp_path):
    """A required parquet field probes as non-nullable; the reader makes
    every file column nullable either way."""
    path = str(tmp_path / "required.parquet")
    schema = pa.schema([pa.field("k", pa.int64(), nullable=False)])
    pq.write_table(pa.table({"k": [3, 1, 2]}, schema=schema), path)
    read_schema = _read_schema(engine, [path])
    assert read_schema is not None and not read_schema["k"].nullable
    _assert_same(read_parquet(spark, [path], read_schema), spark.read.parquet(path))


def _drift_corpus(d, n_variants=6, rows=50):
    """The benchmark's drift shape: per variant one parquet and one csv
    file, each variant with its own columns, so every file is a schema
    group of its own (the parquet and csv of a variant differ in
    format)."""
    os.makedirs(d)
    base = 0
    for v in range(n_variants):
        for fmt in ("parquet", "csv"):
            cols = {"id": pa.array(range(base, base + rows), pa.int64())}
            cols[f"n{v}"] = pa.array([float(i) / 4 for i in range(rows)])
            cols[f"m{v}_{fmt}"] = pa.array([i % 7 for i in range(rows)], pa.int64())
            tbl = pa.table(cols)
            path = os.path.join(d, f"f{v}.{fmt}")
            if fmt == "csv":
                pacsv.write_csv(tbl, path)
            else:
                pq.write_table(tbl, path)
            base += rows
    return base


def _group_jobs(spark, group, fn):
    """Run ``fn`` under its own job group; return (result, [task count
    per stage of each job])."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    return out, [
        [tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(j).stageIds]
        for j in jobs
    ]


def test_drift_run_is_one_job_with_one_scans_tasks(engine, spark, tmp_path):
    """6 parquet + 6 csv files with distinct schemas: no schema
    inference job, and the write runs the task count one scan of the 12
    files gets (4 on local[4]), not one task per schema group."""
    rows = _drift_corpus(str(tmp_path / "in"))
    out = str(tmp_path / "out" / "out.parquet")
    os.makedirs(os.path.dirname(out))
    spec = RunSpec(inputs=[str(tmp_path / "in")], out=out,
                   single_file=False, roll_by_rows=10**9)
    res, jobs = _group_jobs(spark, "scan-plan-drift", lambda: engine.run(spec))
    assert res.rows == rows
    k = engine._scan_partitions(engine.discover(spec))
    assert k == 4  # local[4]
    assert jobs == [[k]], f"jobs x stage tasks: {jobs}"
    assert res.output.files_written == k
    back = spark.read.parquet(*res.output.paths)
    assert back.count() == rows
    assert back.select("id").distinct().count() == rows


def test_drift_rows_match_the_inferred_read(engine, spark, tmp_path, monkeypatch):
    """End to end over a drift corpus holding a ``duration`` column and
    an all-null column: the output equals the run that infers every
    group's schema (the probe would read the duration as an interval,
    Spark's reader as a long)."""
    d = tmp_path / "in"
    os.makedirs(d)
    pq.write_table(pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "dur": pa.array([1000, None, 3], pa.duration("us")),
        "nul": pa.array([None] * 3, pa.null()),
        "x": pa.array([1.5, 2.5, None]),
    }), str(d / "a.parquet"))
    pq.write_table(pa.table({
        "id": pa.array([4, 5], pa.int32()),
        "nul": pa.array(["s", None]),
        "x": pa.array([7, None], pa.int64()),
        "ts": pa.array(_TS[:2], pa.timestamp("us")),
    }), str(d / "b.parquet"))
    (d / "c.csv").write_text("id,x\n6,0.25\n7,\n")

    def run(name):
        out = str(tmp_path / name / "out.parquet")
        os.makedirs(os.path.dirname(out))
        engine.run(RunSpec(inputs=[str(d)], out=out, single_file=False))
        back = spark.read.parquet(*glob.glob(str(tmp_path / name / "*.parquet")))
        return back.schema, _collect(back)

    got = run("probed")
    monkeypatch.setattr(Engine, "_probed_read_schema", lambda *a: None)
    want = run("inferred")
    assert got == want
    rows = {r[1]: r for r in got[1]}  # (dur, id, nul, ts, x)
    assert rows[1][0] == "1000" and rows[6][0] is None


def test_multi_split_csv_with_tiny_parquet_keeps_roll_contracts(
    engine, spark, tmp_path
):
    """One csv group of several splits plus 20 tiny drifted parquet
    files (a 64 KB open cost keeps the csv small): the coalesced write
    keeps the row-roll contract (no part over ``roll_by_rows``) and the
    rolling names (``<stem>-%04d``, contiguous from 0000)."""
    d = tmp_path / "in"
    os.makedirs(d)
    n = 120_000
    pacsv.write_csv(pa.table({
        "id": pa.array(range(n), pa.int64()),
        "a": pa.array([i % 1000 for i in range(n)], pa.int64()),
        "s": pa.array([f"word-{i % 97}-{i}" for i in range(n)]),
    }), str(d / "big.csv"))
    for i in range(20):
        pq.write_table(pa.table({
            "id": pa.array(range(n + 10 * i, n + 10 * i + 10), pa.int64()),
            f"c{i}": pa.array(range(10), pa.int32()),
        }), str(d / f"p{i:02d}.parquet"))
    total = n + 200
    files = _files([str(d)])
    assert len(files) == 21
    out = str(tmp_path / "out" / "part.parquet")
    os.makedirs(os.path.dirname(out))
    spec = RunSpec(inputs=[str(d)], out=out, single_file=False,
                   roll_by_rows=25_000)
    key = "spark.sql.files.openCostInBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(64 << 10))
    try:
        res, jobs = _group_jobs(spark, "scan-plan-mixed", lambda: engine.run(spec))
        assert spark.read.csv(str(d / "big.csv")).rdd.getNumPartitions() > 1
        assert jobs == [[engine._scan_partitions(files)]]
    finally:
        spark.conf.set(key, saved)
    assert res.rows == total
    names = sorted(os.path.basename(p) for p in res.output.paths)
    assert names == [f"part-{i:04d}.parquet" for i in range(len(names))]
    assert all(pq.ParquetFile(p).metadata.num_rows <= 25_000 for p in res.output.paths)
    back = spark.read.parquet(*res.output.paths)
    assert back.count() == total
    assert back.select("id").distinct().count() == total


@pytest.mark.parametrize(
    "sizes, max_bytes, want",
    [
        # one tiny file: split = openCost, one partition
        ([1000], 128 * MB, 1),
        # 12 tiny files, total not a multiple of 4: split rounds down to
        # 3 * (4 MB + ~1000), three files per partition
        ([1000 + i for i in range(12)], 16 * MB, 4),
        # three 300 MB files, 128 MB splits: 6 full chunks alone, the
        # three 44 MB tails pack two, then one
        ([300 * MB] * 3, 128 * MB, 8),
        # one 1 GB file: 8 chunks of 128 MB
        ([1024 * MB], 128 * MB, 8),
    ],
)
def test_scan_partitions_hand_computed(sizes, max_bytes, want):
    assert scan_partitions(sizes, max_bytes, 4 * MB, 4) == want


def test_scan_partitions_matches_spark_file_scan(spark, tmp_path):
    """The count Spark's own planner gives one parquet scan over the
    same files, at split settings small enough to cut and pack them."""
    paths = []
    for i, n in enumerate([5, 40, 300, 2000, 9000, 30000]):
        p = str(tmp_path / f"f{i}.parquet")
        pq.write_table(pa.table({"v": pa.array(range(n), pa.int64())}), p,
                       compression="none")
        paths.append(p)
    sizes = [os.path.getsize(p) for p in paths]
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        for max_bytes, open_cost in [(16 << 10, 4 << 10), (64 << 10, 1 << 10),
                                     (128 * MB, 4 * MB), (40 << 10, 0)]:
            spark.conf.set(keys[0], str(max_bytes))
            spark.conf.set(keys[1], str(open_cost))
            for subset in (paths, paths[:1], paths[2:], paths[::2]):
                got = spark.read.parquet(*subset).rdd.getNumPartitions()
                want = scan_partitions(
                    [sizes[paths.index(p)] for p in subset], max_bytes, open_cost,
                    spark.sparkContext.defaultParallelism,
                )
                assert got == want, (max_bytes, open_cost, len(subset))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _newest_job(spark) -> int:
    """Id of the newest job in the status store (-1: none yet), after
    draining the listener bus that feeds it."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return jobs.head().jobId() if jobs.nonEmpty() else -1


def test_unsigned_probes_launch_no_jobs(engine, spark, tmp_path):
    """Unsigned ints probe from the footer, mapped the way Spark's
    parquet reader maps them (anywhere in the nesting), so
    ``probe_schemas`` launches no Spark job for them and each probed
    schema is the one Spark infers."""
    tables = {
        "small": pa.table({"a": pa.array([1, None], pa.uint8()),
                           "b": pa.array([2, 3], pa.uint16())}),
        "wide": pa.table({"c": pa.array([2**31 + 1, None], pa.uint32()),
                          "d": pa.array([2**63 + 5, 1], pa.uint64())}),
        "nested": pa.table({
            "l": pa.array([[2**63 + 5], None], pa.list_(pa.uint64())),
            "s": pa.array([{"x": 1}, None], pa.struct([("x", pa.uint8())])),
            "m": pa.array([[("k", 7)], []], pa.map_(pa.string(), pa.uint32())),
        }),
    }
    paths = []
    for name, tbl in tables.items():
        paths.append(str(tmp_path / f"{name}.parquet"))
        pq.write_table(tbl, paths[-1])
    files = _files(paths)
    before = _newest_job(spark)
    schemas = engine.probe_schemas(files, RunSpec(inputs=paths, out="unused.parquet"))
    assert _newest_job(spark) == before
    for f, schema in zip(files, schemas):
        assert schema == spark.read.parquet(f.path).schema

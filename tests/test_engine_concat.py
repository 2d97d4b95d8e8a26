"""End-to-end engine tests mirroring the reference's e2e suite
(/root/reference/tests/integration.rs): concat two CSVs (6-40),
directory recursion (42-71), plan mode (73-86), dry run (88-101),
failure on no inputs (103-110), plus heterogeneous-schema concat per
FIXTURES.md A5 and parquet round-trips."""

import os

import pytest

from streaming_parquet_spark.engine import Engine
from streaming_parquet_spark.plans.typesys import WidenError
from streaming_parquet_spark.runspec import RunSpec


@pytest.fixture
def engine(spark):
    return Engine(spark)


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)


def test_concat_two_csvs_single_file(engine, tmp_path):
    """integration.rs:6-40: header once + all rows present."""
    _write(str(tmp_path / "in1.csv"), "a,b,c\n1,2,3\n4,5,6\n")
    _write(str(tmp_path / "in2.csv"), "a,b,c\n7,8,9\n10,11,12\n")
    out = str(tmp_path / "out.csv")
    spec = RunSpec(
        inputs=[str(tmp_path / "in1.csv"), str(tmp_path / "in2.csv")], out=out
    )
    res = engine.run(spec)
    assert res.rows == 4
    assert res.input_files == 2
    with open(out) as fh:
        lines = fh.read().strip().split("\n")
    assert lines[0] == "a,b,c"
    assert len(lines) == 5
    assert set(lines[1:]) == {"1,2,3", "4,5,6", "7,8,9", "10,11,12"}


def test_concat_directory(engine, tmp_path):
    """integration.rs:42-71: directory input, recursive discovery."""
    _write(str(tmp_path / "data" / "f1.csv"), "x,y\n1,2\n")
    _write(str(tmp_path / "data" / "sub" / "f2.csv"), "x,y\n3,4\n")
    out = str(tmp_path / "out.csv")
    res = engine.run(RunSpec(inputs=[str(tmp_path / "data")], out=out))
    assert res.rows == 2
    assert res.input_files == 2


def test_heterogeneous_schema_widening(engine, tmp_path):
    """FIXTURES.md A5: k widens i64+f64->f64, v widens bool+i64->i64,
    only_1/only_2 null-filled, columns alphabetical."""
    _write(str(tmp_path / "f1.csv"), "k,v,only_1\n1,10,aa\n2,20,bb\n")
    _write(str(tmp_path / "f2.csv"), "k,v,only_2\n1.5,true,xx\n2.5,false,yy\n")
    out = str(tmp_path / "out.parquet")
    spec = RunSpec(inputs=[str(tmp_path / "f1.csv"), str(tmp_path / "f2.csv")], out=out)
    res = engine.run(spec)
    assert res.rows == 4
    df = engine.spark.read.parquet(out)
    assert df.columns == ["k", "only_1", "only_2", "v"]
    types = dict(df.dtypes)
    assert types["k"] == "double"
    assert types["v"] == "bigint"
    rows = {tuple(r) for r in df.collect()}
    assert (1.0, "aa", None, 10) in rows
    assert (1.5, None, "xx", 1) in rows  # true -> 1 under bool->i64 widening


def test_conflict_errors_without_stringify(engine, tmp_path):
    """schema.rs:188-192: int + string conflict is an error..."""
    _write(str(tmp_path / "f1.csv"), "w\n1\n")
    _write(str(tmp_path / "f2.csv"), "w\nhello\n")
    spec = RunSpec(inputs=[str(tmp_path / "f1.csv"), str(tmp_path / "f2.csv")])
    with pytest.raises(WidenError):
        engine.dataframe(spec)


def test_conflict_stringifies_with_flag(engine, tmp_path):
    """...and becomes string with --stringify-conflicts (schema.rs:184-185)."""
    _write(str(tmp_path / "f1.csv"), "w\n1\n")
    _write(str(tmp_path / "f2.csv"), "w\nhello\n")
    out = str(tmp_path / "out.csv")
    spec = RunSpec(
        inputs=[str(tmp_path / "f1.csv"), str(tmp_path / "f2.csv")],
        out=out,
        stringify_conflicts=True,
    )
    res = engine.run(spec)
    assert res.rows == 2
    with open(out) as fh:
        body = fh.read()
    assert "hello" in body and "1" in body


def test_include_exclude_rename(engine, tmp_path):
    _write(str(tmp_path / "f.csv"), "old,b,c\n1,2,3\n")
    out = str(tmp_path / "out.csv")
    spec = RunSpec(
        inputs=[str(tmp_path / "f.csv")],
        out=out,
        rename={"old": "a"},
        exclude=["c"],
    )
    engine.run(spec)
    with open(out) as fh:
        lines = fh.read().strip().split("\n")
    assert lines[0] == "a,b"
    assert lines[1] == "1,2"


def test_plan_mode(engine, tmp_path):
    """integration.rs:73-86, upgraded: discovered files + schema + plan."""
    _write(str(tmp_path / "f.csv"), "a,b\n1,2\n")
    info = engine.plan(RunSpec(inputs=[str(tmp_path / "f.csv")]))
    text = info.describe()
    assert "would process 1 input" in text
    assert "f.csv" in text
    assert "a: i64" in text
    # scans stay in the plan; no shuffle for pure concat
    assert "Scan csv" in text or "FileScan" in text


def test_dry_run(engine, tmp_path):
    """integration.rs:88-101: validates without writing."""
    _write(str(tmp_path / "f.csv"), "a,b\n1,2\n3,4\n")
    res = engine.dry_run(RunSpec(inputs=[str(tmp_path / "f.csv")]))
    assert res.rows == 2
    assert res.output is None
    assert not os.path.exists(str(tmp_path / "out.csv"))


def test_no_inputs_fails(engine):
    """integration.rs:103-110."""
    with pytest.raises(ValueError):
        engine.run(RunSpec(inputs=[], out="/tmp/nope.csv"))


def test_missing_file_fails(engine, tmp_path):
    """basic.rs:20-30: nonexistent input -> error (no files discovered)."""
    with pytest.raises(ValueError):
        engine.run(
            RunSpec(inputs=[str(tmp_path / "missing.csv")], out=str(tmp_path / "o.csv"))
        )


def test_parquet_roundtrip_with_verify(engine, tmp_path, sf_dir):
    src = os.path.join(sf_dir, "nation.parquet")
    out = str(tmp_path / "nation_copy.parquet")
    spec = RunSpec(inputs=[src], out=out, compression="zstd", verify=True)
    res = engine.run(spec)
    assert res.rows == 25
    assert res.verified is True
    df = engine.spark.read.parquet(out)
    assert df.count() == 25
    # alphabetical reorder of unified schema
    assert df.columns == sorted(df.columns)


def test_content_verify_roundtrip_parquet_and_csv(engine, tmp_path, sf_dir):
    """verify_mode='content' reconciles the canonical-row CRC32 sum of
    the written plan against the round-tripped bytes — green for both
    a columnar and a text output, including null cells."""
    src = os.path.join(sf_dir, "orders.parquet")
    for out_name in ("orders_copy.parquet", "orders_copy.csv"):
        out = str(tmp_path / out_name)
        res = engine.run(
            RunSpec(
                inputs=[src], out=out, verify=True, verify_mode="content"
            )
        )
        assert res.verified is True, out_name


def test_content_verify_detects_corruption(engine, tmp_path):
    """Flipping one value in the landed output makes content verify
    fail where count verify stays green — the 'did my bytes survive?'
    gap the reference's stubbed crc64 flag advertised."""
    import pathlib

    src = tmp_path / "in.csv"
    src.write_text("id,name\n1,alpha\n2,beta\n3,\n")
    out = str(tmp_path / "out.csv")
    spec = RunSpec(
        inputs=[str(src)], out=out, verify=True, verify_mode="content"
    )
    res = engine.run(spec)
    assert res.verified is True
    # tamper: same row count, one byte changed
    corrupted = pathlib.Path(out).read_text().replace("beta", "betA")
    pathlib.Path(out).write_text(corrupted)
    from streaming_parquet_spark.sinks.writers import SinkResult

    sink = SinkResult(paths=[out], bytes_written=0, files_written=1)
    written = engine.spark.read.option("header", "true").csv(str(src))
    wm = engine._content_checksum(written)
    assert engine._verify(
        spec, sink, 3, schema=written.schema, written_metrics=wm
    ) is False
    count_spec = RunSpec(inputs=[str(src)], out=out, verify=True)
    assert engine._verify(count_spec, sink, 3) is True


def test_content_verify_checksums_written_side_once(engine, tmp_path,
                                                    monkeypatch):
    """The written-side checksum is OBSERVED during the write pass
    (CollectMetrics), so _content_checksum — a full aggregation job —
    runs exactly once, on the read-back side only (ADVICE r5:
    checksumming the unexecuted plan at verify time re-executed the
    whole input pipeline and raced against post-write input
    mutation)."""
    src = tmp_path / "in.csv"
    src.write_text("id,name\n1,alpha\n2,beta\n")
    out = str(tmp_path / "out.csv")
    calls = []
    orig = type(engine)._content_checksum

    def spy(self, df):
        calls.append(1)
        return orig(self, df)

    monkeypatch.setattr(type(engine), "_content_checksum", spy)
    res = engine.run(
        RunSpec(inputs=[str(src)], out=out, verify=True,
                verify_mode="content")
    )
    assert res.verified is True
    assert res.rows == 2
    assert len(calls) == 1, "written side must not re-run the pipeline"


def test_mixed_csv_parquet_concat(engine, tmp_path, sf_dir):
    """CSV + Parquet inputs unify through the lattice in one run."""
    src = os.path.join(sf_dir, "region.parquet")
    _write(str(tmp_path / "extra.csv"), "r_regionkey,r_name\n99,NEWLAND\n")
    out = str(tmp_path / "regions.csv")
    spec = RunSpec(inputs=[src, str(tmp_path / "extra.csv")], out=out)
    res = engine.run(spec)
    assert res.rows == 6
    with open(out) as fh:
        content = fh.read()
    assert "NEWLAND" in content


def test_rolling_by_rows(engine, tmp_path):
    _write(str(tmp_path / "f.csv"), "a\n" + "\n".join(str(i) for i in range(100)) + "\n")
    out = str(tmp_path / "out.csv")
    spec = RunSpec(inputs=[str(tmp_path / "f.csv")], out=out, roll_by_rows=30)
    res = engine.run(spec)
    assert res.rows == 100
    assert res.output.files_written >= 4  # 100/30 -> >=4 part files
    for p in res.output.paths:
        assert os.path.basename(p).startswith("out-")

def test_no_headers_synthetic_columns(engine, tmp_path):
    """csv_in.rs:68-78: --no-headers synthesizes col_1..col_N."""
    _write(str(tmp_path / "f.csv"), "1,aa\n2,bb\n")
    out = str(tmp_path / "out.csv")
    res = engine.run(
        RunSpec(inputs=[str(tmp_path / "f.csv")], out=out, headers=False)
    )
    assert res.rows == 2
    lines = open(out).read().strip().split("\n")
    assert lines[0] == "col_1,col_2"
    assert sorted(lines[1:]) == ["1,aa", "2,bb"]


def test_latin1_encoding(engine, tmp_path):
    """csv_in.rs:80-84,156-168: latin1 decode (via cp1252, like the
    reference's WINDOWS_1252)."""
    raw = "name,v\ncaf\xe9,1\n".encode("cp1252")
    with open(tmp_path / "f.csv", "wb") as fh:
        fh.write(raw)
    out = str(tmp_path / "out.csv")
    res = engine.run(
        RunSpec(inputs=[str(tmp_path / "f.csv")], out=out, encoding="latin1")
    )
    assert res.rows == 1
    assert "café" in open(out, encoding="utf-8").read()


def test_na_sentinels_full_list(engine, tmp_path):
    """cli.rs:41-43: all of NA, null, \\N become nulls."""
    _write(str(tmp_path / "f.csv"), "a,b,c,d\nNA,null,\\N,5\n")
    out = str(tmp_path / "out.csv")
    res = engine.run(RunSpec(inputs=[str(tmp_path / "f.csv")], out=out))
    assert res.rows == 1
    lines = open(out).read().strip().split("\n")
    assert lines[1] == ",,,5"


def test_delimiter_and_quote(engine, tmp_path):
    """cli.rs:25-31: custom delimiter and quote chars."""
    _write(str(tmp_path / "f.csv"), "a;b\n'x;y';2\n")
    out = str(tmp_path / "out.csv")
    res = engine.run(
        RunSpec(inputs=[str(tmp_path / "f.csv")], out=out, delimiter=";",
                quote="'")
    )
    assert res.rows == 1
    body = open(out).read()
    assert "x;y" in body


def test_parquet_schema_evolution_concat(engine, spark, tmp_path):
    """Heterogeneous parquet concat: int->double widening + null-fill
    across files (the mergeSchema-plus-widening case Spark alone cannot
    do — schema.rs:166-175 vs spark.read.option('mergeSchema'))."""
    spark.createDataFrame([(1, 10)], "k long, a long").write.parquet(
        str(tmp_path / "p1.parquet")
    )
    spark.createDataFrame([(2.5, "x")], "k double, b string").write.parquet(
        str(tmp_path / "p2.parquet")
    )
    out = str(tmp_path / "out.parquet")
    res = engine.run(
        RunSpec(inputs=[str(tmp_path / "p1.parquet"),
                        str(tmp_path / "p2.parquet")], out=out)
    )
    assert res.rows == 2
    back = engine.spark.read.parquet(out)
    assert dict(back.dtypes)["k"] == "double"
    # columns alphabetical: (a, b, k)
    vals = {tuple(r) for r in back.collect()}
    assert vals == {(10, None, 1.0), (None, "x", 2.5)}


def test_rolling_by_bytes_estimation(engine, tmp_path, sf_dir):
    """W3 byte rolling (cli.rs:70-77): bytes/row estimated from parquet
    footers; documented approximation (SURVEY §7)."""
    src = os.path.join(sf_dir, "lineitem.parquet")
    spec = RunSpec(inputs=[src], out=str(tmp_path / "o.parquet"),
                   roll_by_bytes=100_000, single_file=False)
    files = engine.discover(spec)
    est = engine._rolling_records(spec, files)
    import pyarrow.parquet as pq
    rows = pq.ParquetFile(src).metadata.num_rows
    size = os.path.getsize(src)
    assert est == max(1, int(100_000 // max(1, size // rows)))
    res = engine.run(spec)
    assert res.rows == rows
    assert res.output.files_written > 1  # rolled into multiple parts


def test_parquet_to_csv_opens_each_input_footer_once(
    engine, tmp_path, monkeypatch
):
    """The schema probe's footer sweep serves the whole run: the byte
    roll estimate and the csv-out row count read ``num_rows`` from its
    cache instead of re-opening every input footer."""
    import collections

    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = []
    for i in range(3):
        p = str(tmp_path / f"in{i}.parquet")
        pq.write_table(pa.table({"id": list(range(i * 10, i * 10 + 7 + i))}), p)
        paths.append(p)
    opened = collections.Counter()
    real = pq.ParquetFile

    def counting(path, *a, **kw):
        opened[os.path.abspath(str(path))] += 1
        return real(path, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    res = engine.run(
        RunSpec(inputs=paths, out=str(tmp_path / "out.csv"),
                roll_by_bytes=100, single_file=False)
    )
    assert res.rows == 7 + 8 + 9
    assert res.output.files_written > 1  # the roll estimate was used
    assert {p: opened[p] for p in paths} == {p: 1 for p in paths}


def test_multiline_quoted_records(engine, tmp_path):
    """Quoted fields containing newlines (the reference's csv crate
    parses these natively; Spark needs multiLine=true)."""
    _write(str(tmp_path / "f.csv"), 'id,note\n1,"line one\nline two"\n2,plain\n')
    out = str(tmp_path / "out.parquet")
    res = engine.run(
        RunSpec(inputs=[str(tmp_path / "f.csv")], out=out, multiline=True)
    )
    assert res.rows == 2
    back = {r["id"]: r["note"] for r in engine.spark.read.parquet(out).collect()}
    assert back[1] == "line one\nline two"
    assert back[2] == "plain"


def test_many_files_mixed_headers(engine, tmp_path):
    """Many-file scalability contract: O(distinct headers) Spark jobs,
    empty files contribute Null types, cross-header union null-fills."""
    src = tmp_path / "many"
    os.makedirs(src)
    for i in range(300):
        with open(src / f"f{i:04d}.csv", "w") as fh:
            if i % 3 == 0:
                fh.write(f"a,b\n{i},{i * 1.5}\n")
            elif i % 3 == 1:
                fh.write(f"a,c\n{i},x{i}\n")
            else:
                fh.write("a,b\n")  # header-only
    out = str(tmp_path / "out.parquet")
    res = engine.run(RunSpec(inputs=[str(src)], out=out, single_file=False,
                             roll_by_rows=10**9))
    assert res.input_files == 300
    assert res.rows == 200
    back = engine.spark.read.parquet(*res.output.paths)
    assert back.columns == ["a", "b", "c"]
    assert back.filter("b IS NOT NULL").count() == 100
    assert back.filter("c IS NOT NULL").count() == 100


def test_jsonl_concat_with_widening_and_nested_degrade(engine, tmp_path):
    """JSONL inputs unify like CSV: int widens with float -> double;
    nested objects/arrays degrade to their literal JSON text (Utf8, the
    schema.rs:38 lattice rule); keys missing per record are null."""
    _write(
        str(tmp_path / "a.jsonl"),
        '{"k": 1, "v": 2, "meta": {"x": 1}}\n{"k": 2, "v": 3}\n',
    )
    _write(
        str(tmp_path / "b.jsonl"),
        '{"k": 3, "v": 4.5, "tags": [1, 2]}\n',
    )
    out = str(tmp_path / "out.parquet")
    res = engine.run(
        RunSpec(inputs=[str(tmp_path / "a.jsonl"), str(tmp_path / "b.jsonl")],
                out=out)
    )
    assert res.rows == 3
    df = engine.spark.read.parquet(out)
    types = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)
    assert types["v"] == "double"          # long + double widen
    assert types["k"] == "bigint"
    assert types["meta"] == "string"       # nested -> JSON text
    import json as _json

    rows = {r["k"]: r for r in df.collect()}
    assert _json.loads(rows[1]["meta"]) == {"x": 1}
    assert _json.loads(rows[3]["tags"]) == [1, 2]
    assert rows[2]["meta"] is None and rows[1]["tags"] is None


def test_mixed_csv_jsonl_inputs_unify(engine, tmp_path):
    """One run over a CSV file + a JSONL file: same unified relation."""
    _write(str(tmp_path / "a.csv"), "k,v\n1,10\n2,20\n")
    _write(str(tmp_path / "b.jsonl"), '{"k": 3, "v": 30}\n')
    out = str(tmp_path / "out.csv")
    res = engine.run(
        RunSpec(inputs=[str(tmp_path / "a.csv"), str(tmp_path / "b.jsonl")],
                out=out)
    )
    assert res.rows == 3
    with open(out) as fh:
        lines = fh.read().strip().split("\n")
    assert lines[0] == "k,v"
    assert sorted(lines[1:]) == ["1,10", "2,20", "3,30"]


def test_jsonl_sink_roundtrip_with_verify(engine, tmp_path):
    """parquet -> jsonl conversion with --verify re-read reconciliation."""
    _write(str(tmp_path / "a.csv"), "k,txt\n1,hello\n2,world\n")
    mid = str(tmp_path / "mid.jsonl")
    res = engine.run(
        RunSpec(inputs=[str(tmp_path / "a.csv")], out=mid, verify=True)
    )
    assert res.rows == 2 and res.verified is True
    import json as _json

    recs = [_json.loads(l) for l in open(mid).read().strip().split("\n")]
    assert {r["k"]: r["txt"] for r in recs} == {1: "hello", 2: "world"}


def test_orc_round_trip_and_mixed_concat(spark, tmp_path):
    """ORC source + sink (extension): write a table as ORC, concat it
    with a CSV holding extra columns, land as ORC, verify contents."""
    from streaming_parquet_spark.engine import Engine
    from streaming_parquet_spark.runspec import RunSpec

    eng = Engine(spark)
    src = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, name string, v double"
    )
    orc_in = str(tmp_path / "in.orc")
    src.coalesce(1).write.mode("overwrite").orc(str(tmp_path / "orc_dir"))
    import os, shutil

    part = next(
        f for f in os.listdir(tmp_path / "orc_dir") if f.endswith(".orc")
    )
    shutil.copy(str(tmp_path / "orc_dir" / part), orc_in)

    csv_in = str(tmp_path / "extra.csv")
    with open(csv_in, "w") as fh:
        fh.write("id,name,extra\n3,c,9\n")

    out = str(tmp_path / "out.orc")
    res = eng.run(RunSpec(inputs=[orc_in, csv_in], out=out, verify=True))
    assert res.rows == 3 and res.verified
    got = spark.read.orc(out)
    assert got.count() == 3
    cols = set(got.columns)
    assert {"id", "name", "v", "extra"} <= cols
    vals = {r["id"]: r for r in got.collect()}
    assert vals[1]["v"] == 1.5 and vals[3]["extra"] == 9
    assert vals[3]["v"] is None  # null-filled by alignment


def test_orc_compressed_rolling(spark, tmp_path):
    from streaming_parquet_spark.sinks.writers import write_orc

    df = spark.range(100).selectExpr("id", "id * 2 AS x")
    res = write_orc(
        df, str(tmp_path / "roll.orc"), compression="zstd",
        single_file=False, max_records_per_file=30,
    )
    assert len(res.paths) >= 4  # 100 rows / 30 per file
    assert spark.read.orc(res.paths).count() == 100


def test_gzip_csv_inputs_concat(spark, engine, tmp_path):
    """Mixed gzip and plain CSV inputs: discovery admits .csv.gz, the
    driver-side probe decompresses the prefix, and Spark's read
    decompresses the data — one unified result."""
    import gzip

    (tmp_path / "plain.csv").write_text("id,v\n1,10\n2,20\n")
    with gzip.open(tmp_path / "zipped.csv.gz", "wt") as fh:
        fh.write("id,v\n3,30\n4,NA\n")

    out = str(tmp_path / "out.parquet")
    res = engine.run(
        RunSpec(inputs=[str(tmp_path)], out=out, out_format="parquet")
    )
    assert res.rows == 4
    got = {
        r["id"]: r["v"] for r in spark.read.parquet(out).collect()
    }
    assert got == {1: 10, 2: 20, 3: 30, 4: None}


def test_gzip_jsonl_input(spark, engine, tmp_path):
    import gzip

    with gzip.open(tmp_path / "docs.jsonl.gz", "wt") as fh:
        fh.write('{"id": 1, "s": "a"}\n{"id": 2, "s": "b"}\n')
    out = str(tmp_path / "o.csv")
    res = engine.run(RunSpec(inputs=[str(tmp_path)], out=out))
    assert res.rows == 2


def test_gzip_csv_output_roundtrip(spark, engine, tmp_path):
    """`-o out.csv.gz` compresses the single-file CSV; reading it back
    (decompressed by extension) reproduces the rows."""
    import gzip

    (tmp_path / "in.csv").write_text("id,v\n1,a\n2,b\n3,c\n")
    out = str(tmp_path / "out.csv.gz")
    res = engine.run(RunSpec(inputs=[str(tmp_path / "in.csv")], out=out))
    assert res.rows == 3
    with gzip.open(out, "rt") as fh:
        lines = fh.read().strip().splitlines()
    assert lines[0] == "id,v" and len(lines) == 4

    # rolling gz: names keep the full compound extension
    out2 = str(tmp_path / "roll.csv.gz")
    res2 = engine.run(
        RunSpec(
            inputs=[str(tmp_path / "in.csv")], out=out2, roll_by_rows=2
        )
    )
    import os

    assert res2.rows == 3
    assert all(p.endswith(".csv.gz") for p in os.listdir(tmp_path)
               if p.startswith("roll-"))


def test_parquet_gz_output_rejected():
    import pytest as _pytest

    from streaming_parquet_spark.runspec import RunSpec

    with _pytest.raises(ValueError, match="codec suffix"):
        RunSpec(inputs=["x.csv"], out="out.parquet.gz").resolve_out_format()


def test_rolling_jsonl_gz_names(spark, engine, tmp_path):
    """Rolling compressed JSONL output keeps a single coherent
    compound extension (out-0000.json.gz, no half-suffix names)."""
    import os

    (tmp_path / "in.csv").write_text("id\n" + "\n".join(map(str, range(10))))
    out = str(tmp_path / "roll.jsonl.gz")
    res = engine.run(
        RunSpec(inputs=[str(tmp_path / "in.csv")], out=out, roll_by_rows=4)
    )
    assert res.rows == 10
    rolled = sorted(
        p for p in os.listdir(tmp_path) if p.startswith("roll-")
    )
    assert rolled and all(p.endswith(".json.gz") for p in rolled), rolled
    total = sum(
        spark.read.json(str(tmp_path / p)).count() for p in rolled
    )
    assert total == 10


def test_gz_exact_inference_groups_by_header(tmp_path):
    """Compressed files sharing a header must share a header-group key
    (one inference job per group, not per file)."""
    import gzip

    from streaming_parquet_spark.engine import Engine
    from streaming_parquet_spark.runspec import RunSpec
    from streaming_parquet_spark.session import get_spark

    eng = Engine(get_spark())
    spec = RunSpec(inputs=[])
    (tmp_path / "a.csv").write_text("id,v\n1,2\n")
    with gzip.open(tmp_path / "b.csv.gz", "wt") as fh:
        fh.write("id,v\n3,4\n")
    ka = eng._csv_header_key(str(tmp_path / "a.csv"), spec)
    kb = eng._csv_header_key(str(tmp_path / "b.csv.gz"), spec)
    assert ka == kb == ("id", "v")


def test_txt_inputs_concat_with_csv(spark, engine, tmp_path):
    """Raw .txt inputs scan as (value: string) and unify with a CSV
    carrying the same column; .txt.gz decompresses by extension."""
    import gzip

    (tmp_path / "a.txt").write_text("hello world\nsecond line\n")
    with gzip.open(tmp_path / "b.txt.gz", "wt") as fh:
        fh.write("zipped line\n")
    (tmp_path / "c.csv").write_text("value,extra\ncsv line,1\n")

    out = str(tmp_path / "out.parquet")
    res = engine.run(
        RunSpec(inputs=[str(tmp_path)], out=out, out_format="parquet")
    )
    assert res.rows == 4
    rows = spark.read.parquet(out).collect()
    assert sorted(r["value"] for r in rows) == [
        "csv line", "hello world", "second line", "zipped line",
    ]
    # the CSV-only column null-fills on the txt rows
    assert sum(1 for r in rows if r["extra"] is None) == 3


def test_txt_output_roundtrip_and_multicolumn_rejected(spark, engine, tmp_path):
    """`-o out.txt` writes one line per record (single column required,
    loud error otherwise); .txt.gz output compresses; --verify
    reconciles via a text re-read."""
    import gzip

    import pytest as _pytest

    (tmp_path / "in.txt").write_text("alpha\nbeta\ngamma\n")
    out = str(tmp_path / "out.txt")
    res = engine.run(
        RunSpec(inputs=[str(tmp_path / "in.txt")], out=out, verify=True)
    )
    assert res.rows == 3 and res.verified is True
    assert open(out).read().splitlines() == ["alpha", "beta", "gamma"]

    gz = str(tmp_path / "out2.txt.gz")
    engine.run(RunSpec(inputs=[str(tmp_path / "in.txt")], out=gz))
    with gzip.open(gz, "rt") as fh:
        assert fh.read().splitlines() == ["alpha", "beta", "gamma"]

    (tmp_path / "two.csv").write_text("a,b\n1,2\n")
    with _pytest.raises(ValueError, match="exactly one column"):
        engine.run(
            RunSpec(inputs=[str(tmp_path / "two.csv")],
                    out=str(tmp_path / "bad.txt"))
        )


def test_txt_streaming_roundtrip(spark, tmp_path):
    """The streaming path reads .txt through a text file-stream and
    writes a text sink with checkpointed exactly-once semantics."""
    from streaming_parquet_spark.runspec import RunSpec
    from streaming_parquet_spark.streaming.stream import StreamEngine

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("one\ntwo\n")
    out = str(tmp_path / "out_dir")
    ckpt = str(tmp_path / "ckpt")
    eng = StreamEngine(spark)
    res = eng.run(
        RunSpec(inputs=[str(src)], out=out, out_format="text",
                state=ckpt, verify=True)
    )
    assert res.rows == 2 and res.verified is True
    got = sorted(r["value"] for r in spark.read.text(out).collect())
    assert got == ["one", "two"]
    # resume with no new files: nothing reprocessed
    res2 = eng.run(
        RunSpec(inputs=[str(src)], out=out, out_format="text",
                state=ckpt, verify=True)
    )
    assert res2.rows == 0 and res2.verified is True


def test_txt_output_rejects_embedded_newlines(spark, engine, tmp_path):
    """A value containing a newline is unrepresentable in a
    line-oriented sink — the write must fail loudly, not silently
    split one record into two lines."""
    import pytest as _pytest

    (tmp_path / "in.csv").write_text('value\n"a\nb"\n')
    with _pytest.raises(Exception, match="embedded newlines"):
        engine.run(
            RunSpec(inputs=[str(tmp_path / "in.csv")],
                    out=str(tmp_path / "o.txt"), multiline=True)
        )


def test_partitioned_txt_output(spark, engine, tmp_path):
    """--partition-by with a text sink: one line-per-record file tree,
    partition keys in the directory names."""
    import os as _os

    (tmp_path / "in.csv").write_text(
        "lang,value\nen,hello\nde,hallo\nen,world\n"
    )
    out = str(tmp_path / "part_out")
    res = engine.run(
        RunSpec(inputs=[str(tmp_path / "in.csv")], out=out,
                out_format="text", partition_by=["lang"])
    )
    assert res.rows == 3
    langs = sorted(
        d for d in _os.listdir(out) if d.startswith("lang=")
    )
    assert langs == ["lang=de", "lang=en"]
    en = spark.read.text(_os.path.join(out, "lang=en")).collect()
    assert sorted(r["value"] for r in en) == ["hello", "world"]


def test_codec_spelling_and_missing_out_dir(engine, tmp_path):
    """--compression goes through the parquet codec table on every
    parquet path, the columnar passthrough included (any spelling the
    table knows), and a sink creates a missing output directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "in.parquet")
    pq.write_table(pa.table({"id": [1, 2, 3]}), src)
    res = engine.run(RunSpec(inputs=[src], out=str(tmp_path / "new" / "o.parquet"),
                             compression="ZSTD"))
    assert res.output.via == "columnar-passthrough"
    meta = pq.ParquetFile(res.output.paths[0]).metadata
    assert meta.row_group(0).column(0).compression == "ZSTD"
    res = engine.run(RunSpec(inputs=[src], out=str(tmp_path / "other" / "o.csv")))
    assert res.rows == 3
    with open(res.output.paths[0]) as fh:
        assert fh.read().split() == ["id", "1", "2", "3"]

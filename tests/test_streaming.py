"""Streaming-path tests: resumable concat (the reference's state.rs
semantics, src/state.rs:171-211, subsumed by checkpointing), watermarked
windows, session windows, and streaming dedup."""

import os

import pytest
from pyspark.sql import functions as F

from streaming_parquet_spark.runspec import RunSpec
from streaming_parquet_spark.streaming import StreamEngine
from streaming_parquet_spark.streaming.operators import (
    session_window_agg,
    streaming_dedup,
    tumbling_window_agg,
)


@pytest.fixture
def streamer(spark):
    return StreamEngine(spark)


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)


def test_stream_concat_and_resume(streamer, spark, tmp_path):
    """Run, add a file, rerun with the same state dir: only the new file
    is processed (exactly-once resume; --state/--resume cli.rs:109-116)."""
    src = tmp_path / "src"
    _write(str(src / "a.csv"), "k,v\n1,aa\n2,bb\n")
    out = str(tmp_path / "out_parquet")
    state = str(tmp_path / "state")
    spec = RunSpec(
        inputs=[str(src)], out=out, out_format="parquet", state=state
    )

    res1 = streamer.run(spec)
    assert res1.rows == 2
    assert spark.read.parquet(out).count() == 2

    # resume with one new file — old file must not be reprocessed
    _write(str(src / "b.csv"), "k,v\n3,cc\n")
    res2 = streamer.run(spec)
    assert res2.rows == 1
    df = spark.read.parquet(out)
    assert df.count() == 3
    assert {r["k"] for r in df.collect()} == {1, 2, 3}

    # resume with nothing new -> zero rows
    res3 = streamer.run(spec)
    assert res3.rows == 0
    assert spark.read.parquet(out).count() == 3


def test_stream_mixed_schema_align(streamer, spark, tmp_path):
    """Heterogeneous schemas align in-stream through the same lattice."""
    src = tmp_path / "src"
    _write(str(src / "a.csv"), "k,only_1\n1,aa\n")
    _write(str(src / "b.csv"), "k,only_2\n2.5,xx\n")
    out = str(tmp_path / "out")
    spec = RunSpec(inputs=[str(src)], out=out, out_format="parquet",
                   state=str(tmp_path / "state"))
    res = streamer.run(spec)
    assert res.rows == 2
    df = spark.read.parquet(out)
    assert sorted(df.columns) == ["k", "only_1", "only_2"]
    assert dict(df.dtypes)["k"] == "double"


def test_streaming_tumbling_window(spark, tmp_path, sf_dir):
    """Watermarked tumbling window over a parquet-backed stream matches
    the batch rendering of the same plan."""
    events_batch = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        if False
        else None
    )
    # build a small deterministic stream source
    src = str(tmp_path / "ev")
    spark.createDataFrame(
        [(i, f"2024-01-01 00:{i:02d}:00", "a" if i % 2 else "b") for i in range(30)],
        "id long, ts_s string, k string",
    ).selectExpr("id", "cast(ts_s as timestamp) ts", "k").write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = tumbling_window_agg(stream, "ts", "10 minutes", ["k"])
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window"]["start"].minute, r["k"]): r["n"]
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    batch = tumbling_window_agg(spark.read.parquet(src), "ts", "10 minutes", ["k"])
    want = {
        (r["window"]["start"].minute, r["k"]): r["n"] for r in batch.collect()
    }
    assert got == want and len(got) == 6  # 3 windows x 2 keys


def test_streaming_dedup_within_watermark(spark, tmp_path):
    src = str(tmp_path / "dup")
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:01:00"),
         (2, "2024-01-01 00:02:00")],
        "k long, ts_s string",
    ).selectExpr("k", "cast(ts_s as timestamp) ts").write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    dedup = streaming_dedup(stream, ["k"], ts_col="ts")
    q = (
        dedup.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT k FROM dedup_out").collect()
    assert sorted(r["k"] for r in rows) == [1, 2]


def test_session_window_batch_parity(spark, sf_dir):
    """session_window in batch mode: session count matches the lag/gap
    rendering used by the events_sessionize oracle query."""
    from streaming_parquet_spark.queries import _events, events_sessionize

    ev = _events(spark, sf_dir)
    sw = session_window_agg(ev, "ts", "30 minutes", ["user_id"])
    per_user = sw.groupBy("user_id").count()
    got = {r["user_id"]: r["count"] for r in per_user.collect()}
    want = {
        r["user_id"]: r["n_sessions"]
        for r in events_sessionize(spark, sf_dir).collect()
    }
    assert got == want


def test_stream_applies_all_na_sentinels(streamer, spark, tmp_path):
    """Streaming CSV nulls out the FULL sentinel list (cli.rs:41-43),
    matching the batch reader."""
    src = tmp_path / "src"
    os.makedirs(src)
    with open(src / "a.csv", "w") as fh:
        fh.write("a,b,c,d\nNA,null,\\N,keep\n")
    out = str(tmp_path / "out")
    spec = RunSpec(inputs=[str(src)], out=out, out_format="parquet",
                   state=str(tmp_path / "ckpt"))
    res = streamer.run(spec)
    assert res.rows == 1
    row = spark.read.parquet(out).collect()[0]
    assert row["a"] is None and row["b"] is None and row["c"] is None
    assert row["d"] == "keep"


def test_stream_verify_reconciles(streamer, spark, tmp_path):
    src = tmp_path / "src"
    os.makedirs(src)
    with open(src / "a.csv", "w") as fh:
        fh.write("x\n1\n2\n3\n")
    spec = RunSpec(inputs=[str(src)], out=str(tmp_path / "out"),
                   out_format="parquet", state=str(tmp_path / "ckpt"),
                   verify=True)
    res = streamer.run(spec)
    assert res.rows == 3 and res.verified is True


def test_stateful_sessions_cross_batch_merge(spark, tmp_path):
    """A session spanning the micro-batch split must merge from the
    state store: events 10:00/10:30 (batch 1) and 11:00 (batch 2) are
    ONE session, closed and emitted by the 3-days-later event."""
    import os

    from streaming_parquet_spark.streaming.operators import stateful_sessions

    src = tmp_path / "src"
    src.mkdir()
    rows1 = [
        (1, "2024-01-01 10:00:00", 1.0),
        (1, "2024-01-01 10:30:00", 2.0),
    ]
    rows2 = [
        (1, "2024-01-01 11:00:00", 4.0),
        (1, "2024-01-04 09:00:00", 8.0),  # >24h later: closes session 1
    ]
    schema = "user_id long, ts timestamp, value double"
    for i, rows in enumerate((rows1, rows2)):
        df = spark.createDataFrame(
            rows, "user_id long, ts string, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        stage = str(tmp_path / f"stage{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = str(src / f"b{i}.parquet")
        os.replace(os.path.join(stage, part), dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = str(tmp_path / "out")
    (
        stateful_sessions(stream, gap_hours=24)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = spark.read.parquet(out).collect()
    # exactly one emitted session (the second stays open in state)
    assert len(got) == 1
    r = got[0]
    assert r["n_events"] == 3 and r["sum_cents"] == 700
    assert str(r["session_start"]).startswith("2024-01-01 10:00")
    assert str(r["session_end"]).startswith("2024-01-01 11:00")


def test_interval_join_batch_parity(spark, sf_dir):
    """Batch rendering of interval_join == plain conditional join (the
    oracle identity the gate relies on)."""
    from streaming_parquet_spark.queries import _events
    from streaming_parquet_spark.streaming.operators import interval_join

    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("ts").alias("pts")
    )
    got = interval_join(
        clicks, purch, key="user_id", left_ts="cts", right_ts="pts",
        upper="1 HOUR",
    ).count()
    expect = (
        clicks.alias("c")
        .join(
            purch.alias("p"),
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
        )
        .count()
    )
    assert got == expect and got > 0


def test_stream_orc_input_and_orc_sink(spark, tmp_path):
    """Streaming path reads ORC inputs with the orc source (not the
    csv fallback) and --verify counts an ORC sink as ORC."""
    from streaming_parquet_spark.runspec import RunSpec
    from streaming_parquet_spark.streaming.stream import StreamEngine

    src = tmp_path / "in"
    src.mkdir()
    spark.range(50).selectExpr("id", "id * 2 AS v").coalesce(1).write.orc(
        str(src / "a.orc.dir")
    )
    import glob
    import shutil

    part = glob.glob(str(src / "a.orc.dir" / "part-*.orc"))[0]
    shutil.move(part, str(src / "a.orc"))
    shutil.rmtree(str(src / "a.orc.dir"))

    out = str(tmp_path / "out_orc")
    res = StreamEngine(spark).run(
        RunSpec(
            inputs=[str(src)], out=out, out_format="orc",
            state=str(tmp_path / "ckpt"), verify=True,
        ),
    )
    assert res.rows == 50
    assert res.verified is True
    got = spark.read.orc(out)
    assert got.count() == 50
    assert {r["v"] for r in got.collect()} == {i * 2 for i in range(50)}


def test_interval_join_same_column_names(spark):
    """Both sides carrying an unrenamed 'ts' must not raise
    AMBIGUOUS_REFERENCE (batch mode exercises the same plan)."""
    import datetime as dt

    from streaming_parquet_spark.streaming.operators import interval_join

    t0 = dt.datetime(2024, 1, 1)
    l = spark.createDataFrame(
        [(1, t0)], "user_id long, ts timestamp"
    )
    r = spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=30)),
         (1, t0 + dt.timedelta(hours=2))],
        "user_id long, ts timestamp",
    )
    got = interval_join(
        l, r, key="user_id", left_ts="ts", right_ts="ts", upper="1 hour"
    ).collect()
    assert len(got) == 1  # only the +30min row is inside [ts, ts+1h]


def test_per_trigger_files_semantics():
    """--trigger-files is the LITERAL per-trigger bound; the auto size
    is concurrency * cores capped at MAX_TRIGGER_FILES (ADVICE r5: an
    uncapped product on a large cluster admits unbounded batches)."""
    from streaming_parquet_spark.runspec import RunSpec
    from streaming_parquet_spark.streaming.stream import (
        MAX_TRIGGER_FILES,
        per_trigger_files,
    )

    assert per_trigger_files(RunSpec(inputs=["x"]), cores=32) == 128
    assert per_trigger_files(
        RunSpec(inputs=["x"], concurrency=1), cores=4096
    ) == MAX_TRIGGER_FILES
    assert per_trigger_files(
        RunSpec(inputs=["x"], trigger_files=1), cores=4096
    ) == 1
    assert per_trigger_files(
        RunSpec(inputs=["x"], trigger_files=0), cores=8
    ) == 1


def test_dedup_ingest_stream_exactly_once(spark, tmp_path):
    """Continuous deduplicated ingest (streaming/ingest.py): within-
    batch dups and index near-dups are dropped, survivors land in the
    partitioned corpus table + the LSH index, a resume processes only
    new files, and a full REPLAY (fresh checkpoint over the same
    source) changes nothing — the exactly-once analysis in the module
    docstring, exercised end-to-end."""
    from streaming_parquet_spark.operators.dedup import write_lsh_index
    from streaming_parquet_spark.streaming.ingest import dedup_ingest_stream

    def doc(i, text):
        return (i, text)

    def distinct_text(i):
        words = ["alpha", "bravo", "carol", "delta", "echo", "fox",
                 "golf", "hotel", "india", "jazz", "kilo", "lima"]
        return " ".join(
            words[(i * 3 + j * (1 + i % 5)) % len(words)] + str((i + j) % 7)
            for j in range(10)
        )

    import shutil

    table = "maw_ingest_corpus"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for suffix in ("", "_lsh_sets", "_lsh_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")
        # a crashed earlier run can leave the managed LOCATION behind
        # with no catalog entry; saveAsTable then refuses the name
        shutil.rmtree(
            os.path.join(warehouse, f"{table}{suffix}"), ignore_errors=True
        )
    # seed corpus: docs 0/1 -> its index
    seed = spark.createDataFrame(
        [doc(0, distinct_text(0)), doc(1, distinct_text(1))],
        "doc_id long, text string",
    )
    write_lsh_index(seed, f"{table}_lsh", num_hashes=16, bands=8)

    src = str(tmp_path / "ingest_src")
    ckpt = str(tmp_path / "ingest_ckpt")
    # wave 1: 10 = dup of seed 0, 11/12 mutual dups (12 drops), 13 new
    wave1 = spark.createDataFrame(
        [doc(10, distinct_text(0)), doc(11, distinct_text(4)),
         doc(12, distinct_text(4)), doc(13, distinct_text(5))],
        "doc_id long, text string",
    )
    wave1.coalesce(1).write.mode("append").parquet(src)
    res1 = dedup_ingest_stream(spark, src, table, ckpt)
    assert res1.rows_in == 4 and res1.rows_kept == 2
    kept1 = {r["doc_id"] for r in spark.table(table).collect()}
    assert kept1 == {11, 13}

    # wave 2 (same checkpoint = resume, only new files): 20 re-ingests
    # wave-1 survivor 11, 21 is new
    wave2 = spark.createDataFrame(
        [doc(20, distinct_text(4)), doc(21, distinct_text(6))],
        "doc_id long, text string",
    )
    wave2.coalesce(1).write.mode("append").parquet(src)
    res2 = dedup_ingest_stream(spark, src, table, ckpt)
    assert res2.rows_in == 2 and res2.rows_kept == 1
    kept2 = {r["doc_id"] for r in spark.table(table).collect()}
    assert kept2 == {11, 13, 21}

    # FULL REPLAY: fresh checkpoint over the same source. Every doc now
    # pairs with its own indexed copy (or its survivor's) -> zero kept,
    # corpus and partition layout unchanged.
    res3 = dedup_ingest_stream(
        spark, src, table, str(tmp_path / "ingest_ckpt_fresh")
    )
    assert res3.rows_in == 6 and res3.rows_kept == 0
    assert {r["doc_id"] for r in spark.table(table).collect()} == kept2
    # nothing moved partitions: survivors still carry their batch ids
    parts = {
        (r["doc_id"], r["ingest_batch"])
        for r in spark.table(table).collect()
    }
    assert parts == {(11, 0), (13, 0), (21, 1)}
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    for suffix in ("_lsh_sets", "_lsh_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")


def test_semantic_ingest_stream_exactly_once(spark, tmp_path):
    """The embedding-side ingest loop (semantic_ingest_stream): the
    same resume + full-replay-is-a-no-op guarantees as the text loop,
    against the persisted ANN index."""
    import shutil

    from streaming_parquet_spark.operators.similarity import write_ann_index
    from streaming_parquet_spark.streaming.ingest import (
        semantic_ingest_stream,
    )

    table = "maw_ingest_vectors"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for suffix in ("", "_ann_centroids", "_ann_postings"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")
        shutil.rmtree(
            os.path.join(warehouse, f"{table}{suffix}"), ignore_errors=True
        )
    h = 0.7071067811865476
    e0, e1 = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
    e2, e3 = [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0]
    va = [0.0, 0.0, h, h]
    schema = "vec_id long, embedding array<float>"
    seed = spark.createDataFrame([(0, e0), (1, e1)], schema)
    cents = spark.createDataFrame([(0, e0), (1, e1)], schema)
    write_ann_index(seed, f"{table}_ann", centroids=cents, dims=4)

    src = str(tmp_path / "vec_src")
    ckpt = str(tmp_path / "vec_ckpt")
    # wave 1: 10 = dup of seed 0; 11/12 mutual dups (12 drops); 13 new
    wave1 = spark.createDataFrame(
        [(10, e0), (11, va), (12, va), (13, e2)], schema
    )
    wave1.coalesce(1).write.mode("append").parquet(src)
    res1 = semantic_ingest_stream(spark, src, table, ckpt, threshold=0.9)
    assert res1.rows_in == 4 and res1.rows_kept == 2
    assert {r["vec_id"] for r in spark.table(table).collect()} == {11, 13}

    # wave 2 (resume): 20 re-ingests survivor 11's vector; 21 is new
    wave2 = spark.createDataFrame([(20, va), (21, e3)], schema)
    wave2.coalesce(1).write.mode("append").parquet(src)
    res2 = semantic_ingest_stream(spark, src, table, ckpt, threshold=0.9)
    assert res2.rows_in == 2 and res2.rows_kept == 1
    kept = {
        (r["vec_id"], r["ingest_batch"])
        for r in spark.table(table).collect()
    }
    assert kept == {(11, 0), (13, 0), (21, 1)}

    # full replay under a fresh checkpoint: nothing changes
    res3 = semantic_ingest_stream(
        spark, src, table, str(tmp_path / "vec_ckpt_fresh"), threshold=0.9
    )
    assert res3.rows_in == 6 and res3.rows_kept == 0
    assert {
        (r["vec_id"], r["ingest_batch"])
        for r in spark.table(table).collect()
    } == kept
    for suffix in ("", "_ann_centroids", "_ann_postings"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")


def test_dedup_ingest_cold_start_from_empty_index(spark, tmp_path):
    """The docstring claims a cold start works: seed the LSH index from
    an EMPTY frame, ingest a first wave (within-batch dedup still
    applies), and verify the loop is self-priming."""
    import shutil

    from streaming_parquet_spark.operators.dedup import write_lsh_index
    from streaming_parquet_spark.streaming.ingest import dedup_ingest_stream

    table = "maw_ingest_cold"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for suffix in ("", "_lsh_sets", "_lsh_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")
        shutil.rmtree(
            os.path.join(warehouse, f"{table}{suffix}"), ignore_errors=True
        )
    empty = spark.createDataFrame([], "doc_id long, text string")
    write_lsh_index(empty, f"{table}_lsh", num_hashes=16, bands=8)

    src = str(tmp_path / "cold_src")
    text = "alpha bravo carol delta echo foxtrot golf hotel india jazz"
    other = "kilo lima mike nov oscar papa quebec romeo sierra tango"
    spark.createDataFrame(
        [(1, text), (2, text), (3, other)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    res = dedup_ingest_stream(
        spark, src, table, str(tmp_path / "cold_ckpt")
    )
    assert res.rows_in == 3 and res.rows_kept == 2  # 2 dups of 1 -> dropped
    assert {r["doc_id"] for r in spark.table(table).collect()} == {1, 3}
    # the index is now primed: re-ingest drops everything
    res2 = dedup_ingest_stream(
        spark, src, table, str(tmp_path / "cold_ckpt2")
    )
    assert res2.rows_kept == 0
    for suffix in ("", "_lsh_sets", "_lsh_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")


def test_ingest_fresh_replay_over_grown_source_appends(spark, tmp_path):
    """Disaster replay over a source that GAINED files since the
    original checkpoint: batch ids restart at 0, so the new docs land
    with ingest_batch=0 — the delta-append protocol must ADD them
    without touching the original batch-0 survivors (an overwrite-based
    step 3 would clobber them)."""
    import shutil

    from streaming_parquet_spark.operators.dedup import write_lsh_index
    from streaming_parquet_spark.streaming.ingest import dedup_ingest_stream

    table = "maw_ingest_grown"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for suffix in ("", "_lsh_sets", "_lsh_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")
        shutil.rmtree(
            os.path.join(warehouse, f"{table}{suffix}"), ignore_errors=True
        )
    empty = spark.createDataFrame([], "doc_id long, text string")
    write_lsh_index(empty, f"{table}_lsh", num_hashes=16, bands=8)

    t1 = "alpha bravo carol delta echo foxtrot golf hotel india jazz"
    t2 = "kilo lima mike nov oscar papa quebec romeo sierra tango"
    t3 = "uni vic whiskey xray yank zulu amber birch cedar dune"
    src = str(tmp_path / "grown_src")
    spark.createDataFrame([(1, t1), (2, t2)], "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(src)
    r1 = dedup_ingest_stream(spark, src, table, str(tmp_path / "g_ck"))
    assert r1.rows_kept == 2

    # checkpoint lost; meanwhile a new file arrived
    spark.createDataFrame([(3, t3)], "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(src)
    r2 = dedup_ingest_stream(spark, src, table, str(tmp_path / "g_ck2"))
    assert r2.rows_in == 3 and r2.rows_kept == 1  # only doc 3 is new
    got = {
        (r["doc_id"], r["ingest_batch"])
        for r in spark.table(table).collect()
    }
    # originals intact, the new doc appended into the replay's batch 0
    assert got == {(1, 0), (2, 0), (3, 0)}
    for suffix in ("", "_lsh_sets", "_lsh_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")


def test_ingest_self_heals_bands_sets_crash_window(spark, tmp_path):
    """Simulate a crash between the index's bands and sets appends
    (write_lsh_index's documented order): an id with bands rows but no
    sets row must NOT self-pair, must re-derive as a survivor, must not
    duplicate its corpus row (id anti-join), and the re-append must
    leave exactly one sets row — the self-heal in the ingest module
    docstring."""
    import shutil

    from streaming_parquet_spark.operators.dedup import (
        _minhash_bands,
        basis_expr,
        word_hashes_expr,
        write_lsh_index,
    )
    from streaming_parquet_spark.streaming.ingest import dedup_ingest_stream

    table = "maw_ingest_heal"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for suffix in ("", "_lsh_sets", "_lsh_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")
        shutil.rmtree(
            os.path.join(warehouse, f"{table}{suffix}"), ignore_errors=True
        )
    t1 = "alpha bravo carol delta echo foxtrot golf hotel india jazz"
    t2 = "kilo lima mike nov oscar papa quebec romeo sierra tango"
    seed = spark.createDataFrame([(1, t1)], "doc_id long, text string")
    write_lsh_index(seed, f"{table}_lsh", num_hashes=16, bands=8)

    src = str(tmp_path / "heal_src")
    ckpt = str(tmp_path / "heal_ck")
    wave = spark.createDataFrame([(2, t2)], "doc_id long, text string")
    wave.coalesce(1).write.mode("append").parquet(src)
    r1 = dedup_ingest_stream(spark, src, table, ckpt)
    assert r1.rows_kept == 1

    # CRASH SIMULATION for a hypothetical doc 3: corpus row written,
    # bands rows written, sets row NOT written, checkpoint not
    # committed -> the file replays under a fresh checkpoint
    t3 = "uni vic whiskey xray yank zulu amber birch cedar dune"
    doc3 = spark.createDataFrame([(3, t3)], "doc_id long, text string")
    doc3.withColumn("ingest_batch", F.lit(0)).write.insertInto(table)
    hashed = word_hashes_expr("spark", basis_expr("spark", "text", "shingle3"))
    base3 = doc3.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(F.expr(hashed)).alias("wh"),
    )
    _minhash_bands(base3, 16, 8).write.mode("append").format(
        "parquet"
    ).saveAsTable(f"{table}_lsh_bands")
    doc3.coalesce(1).write.mode("append").parquet(src)

    r2 = dedup_ingest_stream(spark, src, table, str(tmp_path / "heal_ck2"))
    # doc 3 re-derives as a survivor (no sets row -> no self-pair);
    # docs 2 (fully indexed) self-pairs and drops
    assert r2.rows_kept == 1
    corpus = [r["doc_id"] for r in spark.table(table).collect()]
    assert sorted(corpus) == [2, 3]  # no duplicate corpus row for 3
    sets_ids = [
        r["id"] for r in spark.table(f"{table}_lsh_sets").collect()
    ]
    assert sorted(sets_ids) == [1, 2, 3]  # exactly one sets row each
    # re-ingest now drops everything: the heal is complete
    r3 = dedup_ingest_stream(spark, src, table, str(tmp_path / "heal_ck3"))
    assert r3.rows_kept == 0
    for suffix in ("", "_lsh_sets", "_lsh_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")


def test_ingest_cap_suppressed_redelivery_not_duplicated(spark, tmp_path):
    """A redelivered doc whose self-pair is SUPPRESSED by the
    hot-cluster cap (the append itself pushed its cluster over the
    cap) survives the probe — the id anti-joins must still keep it out
    of BOTH the corpus (whatever partition its original row sits in)
    and the index."""
    import shutil

    from streaming_parquet_spark.operators.similarity import write_ann_index
    from streaming_parquet_spark.streaming.ingest import (
        semantic_ingest_stream,
    )

    table = "maw_ingest_capped"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for suffix in ("", "_ann_centroids", "_ann_postings"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")
        shutil.rmtree(
            os.path.join(warehouse, f"{table}{suffix}"), ignore_errors=True
        )
    e = lambda i: [1.0 if j == i else 0.0 for j in range(4)]  # noqa: E731
    schema = "vec_id long, embedding array<float>"
    # one centroid -> everything lands in cluster 0
    cents = spark.createDataFrame([(0, e(0))], schema)
    seed = spark.createDataFrame([(1, e(1)), (2, e(2))], schema)
    write_ann_index(seed, f"{table}_ann", centroids=cents, dims=4)

    src = str(tmp_path / "cap_src")
    ckpt = str(tmp_path / "cap_ckpt")
    # wave 1: id 3 is new (orthogonal to the seeds) -> appended;
    # cluster 0 population becomes 3 = the cap
    spark.createDataFrame([(3, e(3))], schema).coalesce(1) \
        .write.mode("append").parquet(src)
    r1 = semantic_ingest_stream(
        spark, src, table, ckpt, threshold=0.9, max_block_rows=3
    )
    assert r1.rows_kept == 1

    # wave 2: redeliver id 3. Combined cluster population 3+1 > cap ->
    # the cap suppresses ALL pairs incl. the self-pair, so id 3
    # survives the probe; only the id anti-joins stand between it and
    # a duplicate corpus/index row.
    spark.createDataFrame([(3, e(3))], schema).coalesce(1) \
        .write.mode("append").parquet(src)
    r2 = semantic_ingest_stream(
        spark, src, table, ckpt, threshold=0.9, max_block_rows=3
    )
    assert r2.rows_kept == 1  # survived the (suppressed) probe...
    corpus_rows = spark.table(table).filter(F.col("vec_id") == 3).count()
    postings_rows = (
        spark.table(f"{table}_ann_postings").filter(F.col("id") == 3).count()
    )
    assert corpus_rows == 1, "redelivered doc duplicated in the corpus"
    assert postings_rows == 1, "redelivered doc duplicated in the index"
    for suffix in ("", "_ann_centroids", "_ann_postings"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")


def test_compact_lsh_index_clears_crash_residue(spark, tmp_path):
    """After a simulated bands/sets crash window plus self-heal, the
    index carries duplicate bands rows; compact_lsh_index removes them
    without changing probe results, and refuses to touch an index
    whose SETS table has duplicate ids (real corruption)."""
    import shutil

    from streaming_parquet_spark.operators.dedup import (
        compact_lsh_index,
        incremental_lsh_pairs,
        write_lsh_index,
    )

    table = "maw_compact_idx"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for suffix in ("_sets", "_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")
        shutil.rmtree(
            os.path.join(warehouse, f"{table}{suffix}"), ignore_errors=True
        )
    t1 = "alpha bravo carol delta echo foxtrot golf hotel india jazz"
    t2 = "kilo lima mike nov oscar papa quebec romeo sierra tango"
    corpus = spark.createDataFrame(
        [(1, t1), (2, t2)], "doc_id long, text string"
    )
    write_lsh_index(corpus, table, num_hashes=16, bands=8)
    # crash residue: duplicate id 1's bands rows
    dup = spark.table(f"{table}_bands").filter(F.col("id") == 1)
    dup.write.mode("append").format("parquet").saveAsTable(f"{table}_bands")
    spark.catalog.refreshTable(f"{table}_bands")
    assert spark.table(f"{table}_bands").count() == 24  # 16 + 8 dup

    batch = spark.createDataFrame([(10, t1)], "doc_id long, text string")
    pairs_before = {
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in incremental_lsh_pairs(batch, table).collect()
    }
    stats = compact_lsh_index(spark, table)
    assert stats == {"bands_before": 24, "bands_after": 16, "sets_ids": 2}
    pairs_after = {
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in incremental_lsh_pairs(batch, table).collect()
    }
    assert pairs_after == pairs_before and (10, 1, 1.0) in pairs_after
    # duplicate SETS ids are corruption: compact refuses
    spark.table(f"{table}_sets").filter(F.col("id") == 1).write.mode(
        "append"
    ).format("parquet").saveAsTable(f"{table}_sets")
    spark.catalog.refreshTable(f"{table}_sets")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="corruption"):
        compact_lsh_index(spark, table)
    for suffix in ("_sets", "_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")


def test_ingest_quality_prefilter(spark, tmp_path):
    """filter_fn runs before any dedup work: rejected docs never enter
    the corpus or the index (and never suppress a later genuinely-new
    doc), transforms rewrite the ingested text, rows_filtered tallies
    rejections, and a fresh-checkpoint replay under the same filter
    changes nothing."""
    import shutil

    from streaming_parquet_spark.operators.dedup import write_lsh_index
    from streaming_parquet_spark.streaming.ingest import dedup_ingest_stream

    table = "maw_ingest_filtered"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for suffix in ("", "_lsh_sets", "_lsh_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")
        shutil.rmtree(
            os.path.join(warehouse, f"{table}{suffix}"), ignore_errors=True
        )
    write_lsh_index(
        spark.createDataFrame([], "doc_id long, text string"),
        f"{table}_lsh", num_hashes=16, bands=8,
    )

    def words(i, n):
        vocab = ["alpha", "bravo", "carol", "delta", "echo", "fox",
                 "golf", "hotel"]
        return " ".join(
            vocab[(i * 3 + j * (1 + i % 5)) % len(vocab)] + str((i + j) % 7)
            for j in range(n)
        )

    # the quality rule: >= 6 words; the transform: strip a BOILER
    # prefix token so dedup sees the cleaned text
    def filter_fn(batch):
        cleaned = batch.withColumn(
            "text", F.regexp_replace("text", r"^BOILER ", "")
        )
        return cleaned.filter(
            F.size(F.split(F.col("text"), " ")) >= 6
        )

    # 10: too short (filtered). 11: long, BOILER-prefixed. 12: same
    # text as 11 WITHOUT the prefix — a near-dup only after cleaning.
    # 13: short AND a would-be dup of 14 — must not suppress 14.
    # 14: long, genuinely new.
    rows = [
        (10, words(0, 3)),
        (11, "BOILER " + words(4, 10)),
        (12, words(4, 10)),
        (13, words(7, 3)),
        (14, words(7, 3) + " " + words(9, 7)),
    ]
    src = str(tmp_path / "filt_src")
    ckpt = str(tmp_path / "filt_ckpt")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(src)
    res = dedup_ingest_stream(spark, src, table, ckpt, filter_fn=filter_fn)
    assert res.rows_in == 5
    assert res.rows_filtered == 2          # 10 and 13
    assert res.rows_kept == 2              # 11 survives, 12 dups it, 14 new
    got = {r["doc_id"]: r["text"] for r in spark.table(table).collect()}
    assert set(got) == {11, 14}
    assert got[11] == words(4, 10)         # ingested CLEANED
    # the index holds only survivors
    idx_ids = {
        r["id"] for r in spark.table(f"{table}_lsh_sets").collect()
    }
    assert idx_ids == {11, 14}

    # fresh-checkpoint replay: same filter, nothing changes
    res2 = dedup_ingest_stream(
        spark, src, table, str(tmp_path / "filt_ckpt_fresh"),
        filter_fn=filter_fn,
    )
    assert res2.rows_filtered == 2 and res2.rows_kept == 0
    assert {r["doc_id"] for r in spark.table(table).collect()} == {11, 14}
    # the per-batch manifest composes over the REAL ingest layout:
    # XOR of batch digests + summed counts == the corpus fingerprint
    from functools import reduce

    from streaming_parquet_spark.operators.profile import (
        batch_manifest,
        corpus_fingerprint,
    )

    man = batch_manifest(spark.table(table)).collect()
    whole = corpus_fingerprint(
        spark.table(table).select("doc_id", "text")
    ).collect()[0]
    assert sum(r["n_docs"] for r in man) == whole["n_docs"]
    assert reduce(lambda a, r: a ^ r["fp_a"], man, 0) == whole["fp_a"]
    assert reduce(lambda a, r: a ^ r["fp_b"], man, 0) == whole["fp_b"]
    for suffix in ("", "_lsh_sets", "_lsh_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")


def test_ingest_filter_fn_reads_persisted_artifact(spark, tmp_path):
    """The documented composition: a persisted tokenizer artifact
    drives a token-count floor INSIDE the ingest loop's filter stage.
    filter_fn runs in foreachBatch's CLONED session, so the artifact
    table must resolve through the batch frame's own session
    (apply_*_table uses df.sparkSession) — pinned here end-to-end."""
    import shutil

    from streaming_parquet_spark.operators.dedup import write_lsh_index
    from streaming_parquet_spark.operators.tokenize import (
        apply_bpe_table,
        fit_bpe_merges,
        write_bpe_merges,
    )
    from streaming_parquet_spark.streaming.ingest import dedup_ingest_stream

    table, tok = "maw_ingest_tok", "maw_ingest_tok_merges"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for t in (table, f"{table}_lsh_sets", f"{table}_lsh_bands", tok):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    docs = spark.createDataFrame(
        [(1, "alpha bravo carol delta echo fox golf hotel"),
         (2, "alpha bravo"),
         (3, "carol delta echo fox india jazz kilo lima")],
        "doc_id long, text string",
    )
    write_bpe_merges(fit_bpe_merges(docs, n_merges=16), tok)
    write_lsh_index(
        spark.createDataFrame([], "doc_id long, text string"),
        f"{table}_lsh", num_hashes=16, bands=8,
    )

    def filter_fn(batch):
        return (
            apply_bpe_table(batch, tok)
            .filter(F.col("n_bpe_tokens") >= 6)
            .select("doc_id", "text")
        )

    src = str(tmp_path / "tok_src")
    docs.coalesce(1).write.mode("append").parquet(src)
    res = dedup_ingest_stream(
        spark, src, table, str(tmp_path / "tok_ckpt"), filter_fn=filter_fn
    )
    assert res.rows_in == 3 and res.rows_filtered == 1  # doc 2 too short
    assert {r["doc_id"] for r in spark.table(table).collect()} == {1, 3}
    for t in (table, f"{table}_lsh_sets", f"{table}_lsh_bands", tok):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ingest_monitor_table_composes_and_replays_nothing(
    spark, tmp_path, recwarn
):
    """The in-loop observability leg (monitor_table=): a two-wave
    ingest leaves exactly one monitor row per corpus-growing batch,
    the XOR of the monitor fps (plus summed counts) reproduces the
    corpus fingerprint, drift_cosine is a sane (0, 1] unigram cosine
    under monitor_drift=True, and a fresh-checkpoint replay appends
    NOTHING to corpus or monitor — the structural exactly-once the
    docstring promises.  Every relation a micro-batch stages (its own
    and its operators') is released with the batch: the streams leave
    the cached-RDD count where they found it, and warn about nothing."""
    import shutil
    from functools import reduce

    from streaming_parquet_spark.operators.dedup import write_lsh_index
    from streaming_parquet_spark.operators.profile import (
        corpus_fingerprint,
    )
    from streaming_parquet_spark.streaming.ingest import (
        dedup_ingest_stream,
    )

    table = "maw_ingest_monitored"
    mon = f"{table}_monitor"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for t in (table, f"{table}_lsh_sets", f"{table}_lsh_bands", mon):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    write_lsh_index(
        spark.createDataFrame([], "doc_id long, text string"),
        f"{table}_lsh", num_hashes=16, bands=8,
    )

    def words(i, n=10):
        vocab = ["alpha", "bravo", "carol", "delta", "echo", "fox",
                 "golf", "hotel", "india", "jazz"]
        return " ".join(
            vocab[(i * 3 + j * (1 + i % 5)) % len(vocab)] + str((i + j) % 7)
            for j in range(n)
        )

    src = str(tmp_path / "mon_src")
    ckpt = str(tmp_path / "mon_ckpt")
    spark.createDataFrame(
        [(10, words(0)), (11, words(1))], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    cached_rdds = spark.sparkContext._jsc.getPersistentRDDs
    n_cached = cached_rdds().size()
    dedup_ingest_stream(
        spark, src, table, ckpt, monitor_table=mon, monitor_drift=True
    )
    # wave 2: one dup of wave 1 (drops), one new
    spark.createDataFrame(
        [(20, words(0)), (21, words(5))], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    dedup_ingest_stream(
        spark, src, table, ckpt, monitor_table=mon, monitor_drift=True
    )
    rows = {r["ingest_batch"]: r for r in spark.table(mon).collect()}
    assert len(rows) == 2
    assert rows[0]["rows_appended"] == 2 and rows[1]["rows_appended"] == 1
    for r in rows.values():
        assert r["drift_cosine"] is not None
        assert 0.0 < r["drift_cosine"] <= 1.0
    # wave 2's lone survivor shares no terms-with-counts profile...
    # composition: XOR of monitor fps + summed counts == corpus
    # fingerprint of the table
    fp = corpus_fingerprint(spark.table(table)).first()
    assert fp["n_docs"] == sum(r["rows_appended"] for r in rows.values())
    assert fp["n_chars_total"] == sum(
        r["n_chars_total"] for r in rows.values()
    )
    assert fp["fp_a"] == reduce(
        lambda a, b: a ^ b, (r["fp_a"] for r in rows.values()), 0
    )
    assert fp["fp_b"] == reduce(
        lambda a, b: a ^ b, (r["fp_b"] for r in rows.values()), 0
    )
    # fresh-checkpoint replay: every doc dups its indexed copy ->
    # empty deltas -> monitor unchanged, corpus unchanged
    dedup_ingest_stream(
        spark, src, table, str(tmp_path / "mon_ckpt_fresh"),
        monitor_table=mon, monitor_drift=True,
    )
    assert spark.table(mon).count() == 2
    assert spark.table(table).count() == 3
    assert not [w for w in recwarn if issubclass(w.category, RuntimeWarning)]
    assert cached_rdds().size() == n_cached
    for t in (table, f"{table}_lsh_sets", f"{table}_lsh_bands", mon):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_semantic_ingest_monitor_table(spark, tmp_path):
    """The embedding twin's monitor leg: fingerprints taken over the
    stringified vector compose to the corpus fingerprint under the
    same rendering; no drift column population (term drift is a text
    signal)."""
    import shutil
    from functools import reduce

    from streaming_parquet_spark.operators.profile import (
        corpus_fingerprint,
    )
    from streaming_parquet_spark.operators.similarity import (
        write_ann_index,
    )
    from streaming_parquet_spark.streaming.ingest import (
        semantic_ingest_stream,
    )

    table = "maw_sem_monitored"
    mon = f"{table}_monitor"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for t in (table, f"{table}_ann_postings", f"{table}_ann_centroids",
              mon):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)

    def vec(seed, dims=8):
        import math

        raw = [math.sin(seed * 7.3 + d) for d in range(dims)]
        n = math.sqrt(sum(x * x for x in raw))
        return [x / n for x in raw]

    cents = spark.createDataFrame(
        [(0, vec(0)), (1, vec(40))], "vec_id long, embedding array<float>"
    )
    write_ann_index(
        spark.createDataFrame([], "vec_id long, embedding array<float>"),
        f"{table}_ann", centroids=cents, dims=8,
    )
    src = str(tmp_path / "semmon_src")
    spark.createDataFrame(
        [(10, vec(1)), (11, vec(40))],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.mode("append").parquet(src)
    semantic_ingest_stream(
        spark, src, table, str(tmp_path / "semmon_ckpt"),
        threshold=0.95, monitor_table=mon,
    )
    rows = spark.table(mon).collect()
    assert len(rows) == 1 and rows[0]["rows_appended"] == 2
    assert rows[0]["drift_cosine"] is None
    fp = corpus_fingerprint(
        spark.table(table).withColumn(
            "__fp_text", F.expr("CAST(embedding AS STRING)")
        ),
        "vec_id",
        "__fp_text",
    ).first()
    assert fp["fp_a"] == reduce(
        lambda a, b: a ^ b, (r["fp_a"] for r in rows), 0
    )
    assert fp["fp_b"] == reduce(
        lambda a, b: a ^ b, (r["fp_b"] for r in rows), 0
    )
    # the repair tools reconcile the semantic twin too, under the same
    # stringified-vector rendering the rows were logged with
    from streaming_parquet_spark.streaming.ingest import (
        backfill_monitor,
        verify_monitor,
    )

    rep = verify_monitor(
        spark, table, mon, id_col="vec_id",
        fingerprint_expr="CAST(embedding AS STRING)",
    ).collect()
    assert len(rep) == 1 and rep[0]["ok"]
    assert backfill_monitor(
        spark, table, mon, id_col="vec_id",
        fingerprint_expr="CAST(embedding AS STRING)",
    ) == 0
    # bootstrap: a monitor table that does not exist yet is CREATED by
    # the backfill (the whole-history repair)
    boot = f"{mon}_boot"
    spark.sql(f"DROP TABLE IF EXISTS {boot}")
    assert backfill_monitor(
        spark, table, boot, id_col="vec_id",
        fingerprint_expr="CAST(embedding AS STRING)",
    ) == 1
    rep2 = verify_monitor(
        spark, table, boot, id_col="vec_id",
        fingerprint_expr="CAST(embedding AS STRING)",
    ).collect()
    assert len(rep2) == 1 and rep2[0]["ok"]
    for t in (table, f"{table}_ann_postings", f"{table}_ann_centroids",
              mon, boot):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_monitor_verify_and_backfill(spark, tmp_path):
    """The monitor log is REPAIRABLE from the corpus: verify_monitor
    reconciles per batch (a deleted row shows as nulls/not-ok),
    backfill_monitor re-derives the lost row's fingerprints exactly
    (stream-time tallies and drift backfill as NULL, distinguishing a
    repaired row), composition is restored, and a second backfill
    appends nothing."""
    import shutil
    from functools import reduce

    from streaming_parquet_spark.operators.dedup import write_lsh_index
    from streaming_parquet_spark.operators.profile import (
        corpus_fingerprint,
    )
    from streaming_parquet_spark.streaming.ingest import (
        backfill_monitor,
        dedup_ingest_stream,
        verify_monitor,
    )

    table = "maw_ingest_backfill"
    mon = f"{table}_monitor"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for t in (table, f"{table}_lsh_sets", f"{table}_lsh_bands", mon):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    write_lsh_index(
        spark.createDataFrame([], "doc_id long, text string"),
        f"{table}_lsh", num_hashes=16, bands=8,
    )

    def words(i, n=10):
        vocab = ["alpha", "bravo", "carol", "delta", "echo", "fox",
                 "golf", "hotel", "india", "jazz"]
        return " ".join(
            vocab[(i * 3 + j * (1 + i % 5)) % len(vocab)] + str((i + j) % 7)
            for j in range(n)
        )

    src = str(tmp_path / "bf_src")
    ckpt = str(tmp_path / "bf_ckpt")
    spark.createDataFrame(
        [(10, words(0)), (11, words(1))], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    dedup_ingest_stream(spark, src, table, ckpt, monitor_table=mon)
    spark.createDataFrame(
        [(20, words(5)), (21, words(6))], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    dedup_ingest_stream(spark, src, table, ckpt, monitor_table=mon)

    rep = {r["ingest_batch"]: r for r in
           verify_monitor(spark, table, mon).collect()}
    assert len(rep) == 2 and all(r["ok"] for r in rep.values())

    # simulate the crash-window loss: drop batch 1's monitor row
    keep = [r for r in spark.table(mon).collect() if r["ingest_batch"] != 1]
    kept_df = spark.createDataFrame(keep, spark.table(mon).schema)
    spark.sql(f"DROP TABLE IF EXISTS {mon}")
    shutil.rmtree(os.path.join(warehouse, mon), ignore_errors=True)
    kept_df.write.format("parquet").saveAsTable(mon)

    rep2 = {r["ingest_batch"]: r for r in
            verify_monitor(spark, table, mon).collect()}
    assert rep2[0]["ok"] and not rep2[1]["ok"]
    assert rep2[1]["rows_appended_monitor"] is None
    assert rep2[1]["n_monitor_rows"] == 0

    # repair: fingerprints re-derived exactly, unknowables NULL
    assert backfill_monitor(spark, table, mon) == 1
    rep3 = {r["ingest_batch"]: r for r in
            verify_monitor(spark, table, mon).collect()}
    assert all(r["ok"] for r in rep3.values())
    row1 = spark.table(mon).filter("ingest_batch = 1").first()
    assert row1["rows_in"] is None and row1["drift_cosine"] is None
    assert row1["rows_appended"] == 2
    # composition restored
    rows = spark.table(mon).collect()
    fp = corpus_fingerprint(spark.table(table)).first()
    assert fp["fp_a"] == reduce(
        lambda a, b: a ^ b, (r["fp_a"] for r in rows), 0
    )
    # idempotent
    assert backfill_monitor(spark, table, mon) == 0
    for t in (table, f"{table}_lsh_sets", f"{table}_lsh_bands", mon):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


# ---------------------------------------------------------------- #
# shard_ingest_stream: continuous trainable-shard production        #
# ---------------------------------------------------------------- #

def _shard_vocab(spark):
    return spark.createDataFrame(
        [(i, f"p{i}") for i in range(30)], "id int, piece string"
    )


def _shard_encode(batch):
    """Deterministic stand-in encode: word lengths mod 30 as ids —
    the loop's contract cares about determinism and the pinned vocab
    fingerprint, not linguistic fidelity."""
    return batch.select(
        "doc_id",
        "split",
        F.transform(
            F.split("text", " "), lambda w: (F.length(w) % 30).cast("int")
        ).alias("ids"),
    )


def _shard_docs(spark, lo, n, split_of=lambda i: "train" if i % 3 else "val"):
    rows = [
        (
            lo + i,
            split_of(i),
            " ".join("tok%d" % ((i * 7 + j) % 13) for j in range(20)),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, split string, text string")


def test_shard_ingest_stream_end_to_end(spark, tmp_path):
    """Two waves resume under one checkpoint; read-back windows are
    BIT-EQUAL to batch-mode pack_token_windows over each wave's
    documents; the set verifies; a foreign vocabulary and a drifted
    contract both refuse."""
    from streaming_parquet_spark.operators.pipeline import (
        pack_token_windows,
        read_token_shards,
        verify_token_shards,
    )
    from streaming_parquet_spark.streaming.shards import shard_ingest_stream

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "shards")
    vocab = _shard_vocab(spark)

    docs1 = _shard_docs(spark, 0, 40)
    docs1.coalesce(1).write.mode("append").parquet(src)
    r1 = shard_ingest_stream(
        spark, src, out, ckpt, vocab, _shard_encode,
        budget=64, part_col="split", eos_id=1,
    )
    assert r1.batches == [0] and r1.rows_in == 40
    assert set(r1.shards_written) == {"wave-00000000-train", "wave-00000000-val"}

    docs2 = _shard_docs(spark, 100, 10, split_of=lambda i: "train")
    docs2.coalesce(1).write.mode("append").parquet(src)
    r2 = shard_ingest_stream(
        spark, src, out, ckpt, vocab, _shard_encode,
        budget=64, part_col="split", eos_id=1,
    )
    assert r2.batches == [1]
    assert r2.shards_written == ["wave-00000001-train"]

    # a rerun with nothing new processes zero batches
    r3 = shard_ingest_stream(
        spark, src, out, ckpt, vocab, _shard_encode,
        budget=64, part_col="split", eos_id=1,
    )
    assert r3.batches == [] and r3.windows_written == 0

    assert verify_token_shards(spark, out).filter("NOT ok").count() == 0
    shards, contract = read_token_shards(spark, out, vocab_ids=vocab)
    assert contract["budget"] == 64 and contract["eos_id"] == 1
    assert shards.count() == r1.windows_written + r2.windows_written

    # content parity: each wave's windows equal batch-mode packing of
    # that wave's documents (same order key, part, budget, eos)
    for wave, docs in ((0, docs1), (1, docs2)):
        want = pack_token_windows(
            _shard_encode(docs), "ids", budget=64,
            order_col="doc_id", part_col="split", eos_id=1,
        )
        got = shards.where(
            F.col("shard").startswith(f"wave-{wave:08d}-")
        )
        w = {
            (r["split"], r["win"]): (r["ids"], r["n_tokens"], r["doc_starts"])
            for r in want.collect()
        }
        g = {
            (r["split"], r["win"]): (r["ids"], r["n_tokens"], r["doc_starts"])
            for r in got.collect()
        }
        assert w == g

    # foreign vocabulary refuses at read AND at ingest
    other = spark.createDataFrame(
        [(i, f"q{i}") for i in range(31)], "id int, piece string"
    )
    with pytest.raises(ValueError, match="DIFFERENT vocabulary"):
        read_token_shards(spark, out, vocab_ids=other)
    docs3 = _shard_docs(spark, 200, 4)
    docs3.coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(Exception, match="DIFFERENT vocabulary"):
        shard_ingest_stream(
            spark, src, out, ckpt, other, _shard_encode,
            budget=64, part_col="split", eos_id=1,
        )
    # contract drift (budget) refuses before anything writes
    with pytest.raises(Exception, match="different contract"):
        shard_ingest_stream(
            spark, src, out, ckpt, vocab, _shard_encode,
            budget=32, part_col="split", eos_id=1,
        )


def test_shard_ingest_replay_crash_windows(spark, tmp_path):
    """The three crash windows of the publish step, driven through the
    REAL checkpoint machinery: (a) crash after sidecar commit, before
    the checkpoint commit -> the replayed wave digest-verifies its
    published shards and SKIPS; (b) crash between data and sidecar ->
    the replay REPAIRS by appending only the sidecar rows; (c) a
    fresh checkpoint that regroups files -> loud refusal, never
    silent duplication."""
    import glob
    import shutil

    import pyarrow.parquet as pq

    from streaming_parquet_spark.operators.pipeline import (
        verify_token_shards,
    )
    from streaming_parquet_spark.streaming.shards import shard_ingest_stream

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "shards")
    vocab = _shard_vocab(spark)
    kw = dict(budget=64, part_col="split", eos_id=1)

    _shard_docs(spark, 0, 30).coalesce(1).write.mode("append").parquet(src)
    shard_ingest_stream(
        spark, src, out, ckpt, vocab, _shard_encode, **kw
    )
    _shard_docs(spark, 100, 12).coalesce(1).write.mode("append").parquet(src)
    r2 = shard_ingest_stream(
        spark, src, out, ckpt, vocab, _shard_encode, **kw
    )
    assert r2.batches == [1]
    def state():
        return {
            (r["shard"], r["fp_a_observed"], r["fp_b_observed"], r["ok"])
            for r in verify_token_shards(spark, out).collect()
        }

    baseline = state()

    def uncommit(n):
        # the local checksum FS keeps a .crc sibling; a stale one makes
        # the replayed commit write FileAlreadyExists -> remove both
        os.remove(os.path.join(ckpt, "commits", str(n)))
        crc = os.path.join(ckpt, "commits", f".{n}.crc")
        if os.path.exists(crc):
            os.remove(crc)

    # (a) un-commit batch 1: the restart replays it against a fully
    # published wave -> verified skip, nothing changes
    uncommit(1)
    ra = shard_ingest_stream(
        spark, src, out, ckpt, vocab, _shard_encode, **kw
    )
    assert ra.batches == [1] and ra.batches_skipped == [1]
    assert ra.windows_written == 0 and ra.shards_written == []
    assert state() == baseline

    # (b) un-commit batch 1 AND delete its sidecar rows (the crash
    # landed between the data append and the sidecar append): the
    # replay digest-matches the orphaned data and repairs the sidecar
    uncommit(1)
    victims = [
        f
        for f in glob.glob(os.path.join(out, "_manifest", "*.parquet"))
        if "wave-00000001"
        in str(pq.read_table(f, columns=["shard"]).column("shard").to_pylist())
    ]
    assert victims, "no sidecar file carries wave 1"
    for f in victims:
        os.remove(f)
    # the torn state is visible: orphaned data reads as stray
    # (unpromised) shards -> not ok
    assert verify_token_shards(spark, out).filter("NOT ok").count() > 0
    rb = shard_ingest_stream(
        spark, src, out, ckpt, vocab, _shard_encode, **kw
    )
    assert rb.batches == [1] and rb.batches_repaired == [1]
    assert rb.shards_written == [
        "wave-00000001-train", "wave-00000001-val",
    ]
    assert state() == baseline

    # (c) a fresh checkpoint regroups both files into one wave 0:
    # overlapping keys digest-mismatch and the run refuses
    with pytest.raises(Exception, match="refusing"):
        shard_ingest_stream(
            spark, src, out, str(tmp_path / "ckpt_fresh"), vocab,
            _shard_encode, **kw,
        )
    # ... and refusal wrote nothing
    assert state() == baseline
    shutil.rmtree(str(tmp_path / "ckpt_fresh"), ignore_errors=True)


def test_shard_ingest_fim_and_bootstrap_types(spark, tmp_path):
    """FIM rides the loop (sentinels land in the windows under a
    100% rate) and a stream-created sidecar pins the scale-safe
    bigint fingerprint types."""
    from streaming_parquet_spark.operators.pipeline import (
        read_token_shards,
    )
    from streaming_parquet_spark.streaming.shards import shard_ingest_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "shards")
    vocab = _shard_vocab(spark)
    _shard_docs(spark, 0, 12).coalesce(1).write.mode("append").parquet(src)
    r = shard_ingest_stream(
        spark, src, out, str(tmp_path / "ckpt"), vocab, _shard_encode,
        budget=32, fim=dict(pre_id=2, mid_id=3, suf_id=4, rate_pct=100),
    )
    assert r.batches == [0] and r.shards_written == ["wave-00000000"]
    shards, contract = read_token_shards(spark, out, vocab_ids=vocab)
    toks = shards.select(
        F.explode(F.slice("ids", 1, F.col("n_tokens"))).alias("t")
    )
    present = {r["t"] for r in toks.distinct().collect()}
    assert {2, 3, 4} <= present  # every doc was FIM-arranged
    # the first stream position is the first doc's <fim_prefix>
    first = shards.where("win = 0").first()
    assert first["ids"][0] == 2
    side = spark.read.parquet(os.path.join(out, "_manifest"))
    t = dict(side.dtypes)
    assert t["vocab_fp_a"] == "bigint" and t["vocab_size"] == "bigint"


def test_shard_ingest_producer_identity_and_layout(spark, tmp_path):
    """The review-closed duplication holes: a fresh run into the same
    set under a CHANGED shard_prefix refuses (its replayed waves would
    otherwise republish under fresh keys — silent doubling), a changed
    part_col under the same prefix refuses at the batch-tag layout
    check, and a non-parquet file beside the source data does not
    fail the schema probe."""
    from streaming_parquet_spark.streaming.shards import shard_ingest_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "shards")
    vocab = _shard_vocab(spark)
    docs = _shard_docs(spark, 0, 18)
    docs.coalesce(1).write.mode("append").parquet(src)
    # a stray non-parquet file the glob must ignore
    with open(os.path.join(src, "README.txt"), "w") as fh:
        fh.write("not parquet")
    r = shard_ingest_stream(
        spark, src, out, str(tmp_path / "ck1"), vocab, _shard_encode,
        budget=64, part_col="split", eos_id=1,
    )
    assert r.batches == [0] and r.rows_in == 18

    # fresh checkpoint + new prefix: refused BEFORE anything writes
    before = sorted(os.listdir(out))
    with pytest.raises(Exception, match="shard_prefix"):
        shard_ingest_stream(
            spark, src, out, str(tmp_path / "ck2"), vocab,
            _shard_encode, budget=64, part_col="split", eos_id=1,
            shard_prefix="run2-",
        )
    assert sorted(os.listdir(out)) == before

    # same prefix, changed part layout: the batch tag collides with
    # differently-shaped keys -> refused
    with pytest.raises(Exception, match="layout"):
        shard_ingest_stream(
            spark, src, out, str(tmp_path / "ck3"), vocab,
            _shard_encode, budget=64, part_col=None, eos_id=1,
        )
    assert sorted(os.listdir(out)) == before


def test_shard_ingest_escaped_part_values_and_empty_dir(spark, tmp_path):
    """Partition-path escaping and aborted-commit residue, both
    review-closed: a part value with '/'':' lands in an ESCAPED
    shard directory — the crash-replay probes must still find it
    (raw-key paths would miss it and silently double the wave on
    repair) — and a pre-existing EMPTY shard directory reads as
    absent so the wave publishes into it instead of wedging."""
    import glob

    import pyarrow.parquet as pq

    from streaming_parquet_spark.operators.pipeline import (
        verify_token_shards,
    )
    from streaming_parquet_spark.streaming.shards import shard_ingest_stream

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "shards")
    vocab = _shard_vocab(spark)
    rows = [
        (i, "en/wiki:a" if i % 2 else "de=b#c",
         " ".join("tok%d" % ((i + j) % 13) for j in range(20)))
        for i in range(16)
    ]
    spark.createDataFrame(
        rows, "doc_id long, split string, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    # aborted-commit residue: an empty dir under one of the wave's
    # future ESCAPED keys must not wedge the stream
    os.makedirs(os.path.join(out, "shard=wave-00000000-de%3Db%23c"))
    kw = dict(budget=64, part_col="split", eos_id=1)
    r1 = shard_ingest_stream(
        spark, src, out, ckpt, vocab, _shard_encode, **kw
    )
    assert r1.batches == [0] and len(r1.shards_written) == 2
    assert verify_token_shards(spark, out).filter("NOT ok").count() == 0

    def state():
        return {
            (r["shard"], r["fp_a_observed"], r["fp_b_observed"], r["ok"])
            for r in verify_token_shards(spark, out).collect()
        }

    baseline = state()
    # crash-after-sidecar replay over escaped dirs: verified skip
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    ra = shard_ingest_stream(
        spark, src, out, ckpt, vocab, _shard_encode, **kw
    )
    assert ra.batches_skipped == [0] and state() == baseline
    # crash-between-data-and-sidecar over escaped dirs: repair, no
    # doubling (the raw-key probe bug would have re-appended data)
    os.remove(os.path.join(ckpt, "commits", "0"))
    if os.path.exists(crc):
        os.remove(crc)
    for f in glob.glob(os.path.join(out, "_manifest", "*.parquet")):
        if "wave-00000000" in str(
            pq.read_table(f, columns=["shard"]).column("shard").to_pylist()
        ):
            os.remove(f)
    rb = shard_ingest_stream(
        spark, src, out, ckpt, vocab, _shard_encode, **kw
    )
    assert rb.batches_repaired == [0] and state() == baseline


def test_shard_ingest_multiwave_single_run(spark, tmp_path):
    """One availableNow run with maxFilesPerTrigger=1 over three
    source files publishes three INDEPENDENT waves — distinct shard
    keys, sidecar rows per wave, whole-set verification green, and
    the union of waves equals the union of per-file batch packs."""
    from streaming_parquet_spark.operators.pipeline import (
        verify_token_shards,
    )
    from streaming_parquet_spark.streaming.shards import shard_ingest_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "shards")
    vocab = _shard_vocab(spark)
    for w in range(3):
        _shard_docs(spark, 100 * w, 8).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    r = shard_ingest_stream(
        spark, src, out, str(tmp_path / "ckpt"), vocab, _shard_encode,
        budget=64, eos_id=1, max_files_per_trigger=1,
    )
    assert r.batches == [0, 1, 2] and r.rows_in == 24
    assert sorted(r.shards_written) == [
        "wave-00000000", "wave-00000001", "wave-00000002",
    ]
    assert verify_token_shards(spark, out).filter("NOT ok").count() == 0


def test_shard_ingest_wave_probes_are_o_batch(spark, tmp_path, monkeypatch):
    """The per-trigger sidecar probes collect O(wave) rows however
    many shards the set holds (VERDICT r10 item 3): the
    already-published probe returns ONLY the wave tag's keys against
    a many-shard sidecar, the foreign-prefix probe caps its collect
    at the offender limit, and a multi-wave single run invokes the
    foreign probe exactly ONCE (the prefix cannot change mid-run) —
    not once per trigger."""
    import streaming_parquet_spark.streaming.shards as shards_mod
    from streaming_parquet_spark.streaming.shards import (
        _foreign_keys,
        _published_keys,
        shard_ingest_stream,
    )

    # unit level: probes against a 500-shard sidecar frame
    sidecar = spark.createDataFrame(
        [(f"wave-{i:08d}",) for i in range(497)]
        + [("alien-1",), ("alien-2",), ("alien-3",)],
        "shard string",
    )
    assert _published_keys(sidecar, "wave-00000007") == {"wave-00000007"}
    many = spark.createDataFrame(
        [(f"wave-{i:08d}-p{j}",) for i in range(100) for j in range(5)],
        "shard string",
    )
    assert _published_keys(many, "wave-00000042") == {
        f"wave-00000042-p{j}" for j in range(5)
    }
    # ...and never a tag that merely shares a digit prefix
    assert _published_keys(many, "wave-0000004") == set()
    assert _foreign_keys(sidecar, "wave-", limit=2) == [
        "alien-1", "alien-2",
    ]
    assert _foreign_keys(many, "wave-") == []

    # stream level: 3 waves in ONE availableNow run -> the foreign
    # probe fires once (first batch that sees an existing sidecar),
    # the published probe once per such batch
    calls = {"foreign": 0, "published": 0}
    orig_f, orig_p = shards_mod._foreign_keys, shards_mod._published_keys

    def count_f(*a, **k):
        calls["foreign"] += 1
        return orig_f(*a, **k)

    def count_p(*a, **k):
        calls["published"] += 1
        return orig_p(*a, **k)

    monkeypatch.setattr(shards_mod, "_foreign_keys", count_f)
    monkeypatch.setattr(shards_mod, "_published_keys", count_p)
    src = str(tmp_path / "src")
    for w in range(3):
        _shard_docs(spark, 100 * w, 8).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    r = shard_ingest_stream(
        spark, src, str(tmp_path / "shards"), str(tmp_path / "ckpt"),
        _shard_vocab(spark), _shard_encode,
        budget=64, eos_id=1, max_files_per_trigger=1,
    )
    assert r.batches == [0, 1, 2]
    # batch 0 bootstraps (no sidecar yet -> no probes); batches 1-2
    # probe publication each, ownership only on the first
    assert calls == {"foreign": 1, "published": 2}


# ---------------------------------------------------------------- #
# continuous (processingTime) trigger mode: the M1 service shape    #
# ---------------------------------------------------------------- #

def _await(cond, timeout_s=90):
    """Poll a condition until true or timeout — continuous triggers
    land asynchronously; the drill must not race them."""
    import time

    t0 = time.time()
    while time.time() - t0 < timeout_s:
        if cond():
            return True
        time.sleep(0.5)
    return False


def test_shard_ingest_continuous_then_available_now(spark, tmp_path):
    """The r15 trigger drill on the token producer: start continuous
    (processingTime), land a wave, land a SECOND wave into the live
    stream, stop, restart availableNow over the same checkpoint — the
    offsets compose (nothing reprocesses), and a third wave lands
    through the availableNow shape with full wave parity."""
    from streaming_parquet_spark.operators.pipeline import (
        verify_token_shards,
    )
    from streaming_parquet_spark.streaming.shards import (
        shard_ingest_stream,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "shards")
    vocab = _shard_vocab(spark)

    _shard_docs(spark, 0, 12).coalesce(1).write.mode("append").parquet(src)
    r = shard_ingest_stream(
        spark, src, out, ckpt, vocab, _shard_encode,
        budget=64, part_col="split", eos_id=1,
        trigger_interval="1 seconds",
    )
    assert r.query is not None and r.query.isActive
    try:
        # wait on windows_written (the LAST tally a trigger updates),
        # not rows_in — the counters land mid-trigger in order
        assert _await(lambda: r.windows_written > 0 and r.rows_in >= 12)
        w1 = r.windows_written
        # a second wave lands into the LIVE stream
        _shard_docs(spark, 100, 9, split_of=lambda i: "train").coalesce(
            1
        ).write.mode("append").parquet(src)
        assert _await(lambda: r.rows_in >= 21 and r.windows_written > w1)
    finally:
        r.query.stop()
    total = r.windows_written

    # restart availableNow over the same checkpoint: state composes —
    # stopping a continuous query may race the offset commit, so the
    # last batch MAY replay, but the replay is digest-verified and
    # skipped (nothing re-publishes)
    r2 = shard_ingest_stream(
        spark, src, out, ckpt, vocab, _shard_encode,
        budget=64, part_col="split", eos_id=1,
    )
    assert r2.query is None  # drain-and-stop mode has no live handle
    assert r2.windows_written == 0

    # a third wave lands through the availableNow shape
    _shard_docs(spark, 200, 6).coalesce(1).write.mode("append").parquet(src)
    r3 = shard_ingest_stream(
        spark, src, out, ckpt, vocab, _shard_encode,
        budget=64, part_col="split", eos_id=1,
    )
    assert r3.windows_written > 0
    assert verify_token_shards(spark, out).filter("NOT ok").count() == 0
    from streaming_parquet_spark.operators.pipeline import (
        read_token_shards,
    )

    shards, _c = read_token_shards(spark, out, vocab_ids=vocab)
    assert shards.count() == total + r3.windows_written


def test_dedup_ingest_continuous_then_available_now(spark, tmp_path):
    """The r15 trigger drill on the dedup loop: continuous mode dedups
    a live wave, the caller refreshes tables after stop
    (refresh_ingest_tables — continuous runs cannot refresh for it),
    and an availableNow restart over the same checkpoint lands only
    genuinely new files."""
    import shutil

    from streaming_parquet_spark.operators.dedup import write_lsh_index
    from streaming_parquet_spark.streaming.ingest import (
        dedup_ingest_stream,
        refresh_ingest_tables,
    )

    def text(i):
        words = ["alpha", "bravo", "carol", "delta", "echo", "fox"]
        return " ".join(
            words[(i * 3 + j * (1 + i % 5)) % len(words)] + str((i + j) % 7)
            for j in range(10)
        )

    table = "maw_cont_corpus"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for suffix in ("", "_lsh_sets", "_lsh_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")
        shutil.rmtree(
            os.path.join(warehouse, f"{table}{suffix}"),
            ignore_errors=True,
        )
    seed = spark.createDataFrame(
        [(0, text(0))], "doc_id long, text string"
    )
    write_lsh_index(seed, f"{table}_lsh", num_hashes=16, bands=8)

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # wave 1: one dup of the seed, two new docs
    spark.createDataFrame(
        [(10, text(0)), (11, text(2)), (12, text(3))],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    r = dedup_ingest_stream(
        spark, src, table, ckpt, trigger_interval="1 seconds"
    )
    assert r.query is not None and r.query.isActive
    try:
        assert _await(lambda: r.rows_in >= 3 and r.rows_kept >= 2)
    finally:
        r.query.stop()
    refresh_ingest_tables(
        spark, (table, f"{table}_lsh_sets", f"{table}_lsh_bands")
    )
    assert {r_["doc_id"] for r_ in spark.table(table).collect()} == {11, 12}

    # availableNow restart over the same checkpoint: stopping a
    # continuous query may race the offset commit, so the last batch
    # MAY replay — but the replay keeps nothing (exactly-once outcome)
    r2 = dedup_ingest_stream(spark, src, table, ckpt)
    assert r2.rows_kept == 0
    assert {r_["doc_id"] for r_ in spark.table(table).collect()} == {11, 12}
    # a new wave lands only its genuinely new doc (13 re-ingests 11)
    spark.createDataFrame(
        [(13, text(2)), (14, text(5))], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    r3 = dedup_ingest_stream(spark, src, table, ckpt)
    assert r3.rows_in == 2 and r3.rows_kept == 1
    assert {r_["doc_id"] for r_ in spark.table(table).collect()} == {
        11, 12, 14,
    }
    for suffix in ("", "_lsh_sets", "_lsh_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")


# Batch/stream agreement: one RunSpec through Engine.run and through
# StreamEngine.run must leave the same output. Each case names what it
# compares: the decoded rows, the first line of the written files, the
# per-column-chunk codec, or the ValueError the run raises.
_AGREEMENT_CASES = {
    # cp1252 bytes decoded as latin1 (the reference's WINDOWS_1252)
    "latin1_csv": ("in.csv", "name,v\ncaf\xe9,1\n".encode("cp1252"),
                   dict(encoding="latin1"), "out.parquet", "rows"),
    "parquet_uncompressed": ("in.csv", b"a,b\n1,x\n2,y\n",
                             dict(compression="uncompressed"),
                             "out.parquet", "codec"),
    "orc_zlib": ("in.csv", b"a,b\n1,x\n2,y\n", dict(compression="zlib"),
                 "out.orc", "codec"),
    # the csv sink writes its synthetic header even under --no-headers
    "csv_no_headers": ("in.csv", b"1,aa\n2,bb\n", dict(headers=False),
                       "out.csv", "header"),
    "unknown_codec": ("in.csv", b"a,b\n1,x\n", dict(compression="brotli"),
                      "out.parquet", "error"),
    # a quoted delimiter must be re-quoted with the spec's quote char
    "csv_quote_char": ("in.csv", b"a,b\n'x,y',1\n", dict(quote="'"),
                       "out.csv", "rows"),
    "latin1_jsonl": ("in.jsonl", '{"name": "caf\xe9"}\n'.encode("cp1252"),
                     dict(encoding="latin1"), "out.parquet", "rows"),
}


def _agreement_observe(spark, kind, out_dir, spec):
    import glob

    files = sorted(
        p for p in glob.glob(os.path.join(out_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and "_spark_metadata" not in p
        and not os.path.basename(p).startswith((".", "_"))
    )
    assert files, f"no output under {out_dir}"
    if kind == "codec":
        if files[0].endswith(".orc"):
            import pyarrow.orc as po

            return {po.ORCFile(p).compression for p in files}
        import pyarrow.parquet as pq

        return {
            pq.ParquetFile(p).metadata.row_group(g).column(c).compression
            for p in files
            for g in range(pq.ParquetFile(p).metadata.num_row_groups)
            for c in range(pq.ParquetFile(p).metadata.num_columns)
        }
    if kind == "header":
        with open(files[0], encoding="utf-8") as fh:
            return fh.readline().rstrip("\n")
    if files[0].endswith(".parquet"):
        back = spark.read.parquet(*files)
    else:
        back = (spark.read.option("header", "true").option("quote", spec.quote)
                .option("sep", spec.delimiter).csv(files))
    return sorted(tuple(r) for r in back.collect())


@pytest.mark.parametrize("case", sorted(_AGREEMENT_CASES))
def test_stream_matches_batch(streamer, spark, tmp_path, case):
    """The same RunSpec gives the same output through the batch engine
    and the resumable stream engine: both look each format up in the
    one reader table and the one sink table."""
    from streaming_parquet_spark.engine import Engine

    name, data, kwargs, out_name, kind = _AGREEMENT_CASES[case]
    src = tmp_path / "src"
    src.mkdir()
    (src / name).write_bytes(data)

    def observe(engine_run, leg):
        out_dir = tmp_path / leg
        out_dir.mkdir()
        spec = RunSpec(inputs=[str(src)], out=str(out_dir / out_name),
                       state=str(tmp_path / f"{leg}_ckpt"), **kwargs)
        try:
            engine_run(spec)
        except ValueError as exc:
            if kind == "error":
                return str(exc)
            raise
        assert kind != "error", f"{leg} run raised nothing"
        return _agreement_observe(spark, kind, str(out_dir), spec)

    batch = observe(Engine(spark).run, "batch")
    stream = observe(streamer.run, "stream")
    assert stream == batch


def test_stream_ingest_counts_reads_an_events_directory(spark, sf_dir, tmp_path):
    """The streaming gates stage every data file of the events table,
    so an ``events.parquet`` dataset directory lands the same rows as
    the single file."""
    import shutil

    import pyarrow.parquet as pq

    import streaming_parquet_spark.queries_tpch  # noqa: F401
    from streaming_parquet_spark.queries import QUERIES

    split = tmp_path / "sf"
    shutil.copytree(sf_dir, split)
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    os.remove(split / "events.parquet")
    (split / "events.parquet").mkdir()
    half = events.num_rows // 2
    pq.write_table(events.slice(0, half), split / "events.parquet" / "part-0000.parquet")
    pq.write_table(events.slice(half), split / "events.parquet" / "part-0001.parquet")

    def counts(d):
        return sorted(map(tuple, QUERIES["stream_ingest_counts"](spark, d).collect()))

    assert counts(str(split)) == counts(sf_dir)

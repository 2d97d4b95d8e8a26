"""Streaming near-duplicate-deduplicated ingest: a Structured
Streaming file source feeding the persisted LSH index
(operators.dedup.write_lsh_index) through foreachBatch — the
continuous form of the probe → survivors → append loop, with
EXACTLY-ONCE corpus contents across crash/replay.

Per micro-batch:
  0. (optional) a deterministic quality pre-filter/transform
     (``filter_fn`` — e.g. Gopher rules, the fitted quality
     classifier, C4 line cleaning) runs BEFORE any dedup work, so
     rejected documents never cost a probe and never enter the
     corpus or the index,
  1. within-batch near-dup removal (drop any doc near-duplicating a
     lower-id doc in the same batch — the semantic_dedup_drops rule),
  2. probe the persisted index (incremental_lsh_pairs semantics),
  3. DELTA-APPEND the survivors into the corpus table under
     ingest_batch=<batch_id>, anti-joined by id against that
     partition's existing rows,
  4. DELTA-APPEND the survivors to the index, anti-joined by id
     against the index's authoritative id table ({t}_sets /
     {t}_postings — the LAST table each index append writes).

Why this is exactly-once without a transactional table format: every
write is an APPEND (job-atomic under the file-output committer — a
crashed write publishes nothing) whose rows are anti-joined against
the destination's existing ids, so re-executing any step is a no-op
for rows it already published.  The stream checkpoint commits after
step 4; a crash anywhere replays the whole batch:
  * crash before step 3: clean rerun, nothing was written.
  * crash between 3 and 4: survivors re-derive; step 3's anti-join
    finds their ids already in the partition and appends nothing;
    step 4 runs.
  * crash inside step 4 (the LSH index appends bands THEN sets —
    write_lsh_index's documented order): ids caught in the window
    are in bands but not sets, generate candidates with no shingle
    set, so they do NOT self-pair — they re-derive as survivors,
    step 3 appends nothing (ids already in the partition), and the
    re-append gives them their single sets row.  The index
    self-heals; the only residue is duplicate bands rows (candidates
    are dropDuplicates'd, so pairs are unaffected).
  * crash after 4: replayed survivors either self-pair against their
    indexed copies (jaccard/sim 1.0) and drop, or — if a hot-bucket
    cap suppresses the self-pair because the append itself pushed a
    bucket over the cap — survive the probe and are then excluded by
    BOTH anti-joins.  Either way nothing is appended twice.
Id-based anti-joins, not blind partition overwrites, are what make
this robust: an overwrite-based step 3 would delete previously
committed rows whenever a replay's survivor set differed (cap drift,
or a fresh-checkpoint replay over a source that has gained files —
batch ids restart at 0 and would clobber the original partition).
With delta-appends a fresh-checkpoint replay over a grown source
simply appends the genuinely-new survivors; ``ingest_batch`` is
bookkeeping per checkpoint generation, not a content key.

At 100 TB: per-batch SHUFFLE volume scales with the batch (the index
probe broadcasts the batch's band relation), while per-batch I/O
additionally pays one column-pruned, shuffle-free scan of the index
tables AND one column-pruned id scan of the corpus table (the step-3
anti-join — the price of cross-partition idempotence) — amortize both
by sizing triggers (``max_files_per_trigger``): per-document scan
cost is (index_bytes + corpus_id_bytes) / batch_docs, so probing
bigger batches less often is strictly cheaper (see the cost-honesty
note on ``incremental_lsh_pairs``).  The corpus table is partitioned
by ingest batch, which doubles as retention/lineage bookkeeping.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from streaming_parquet_spark.operators.dedup import (
    _lsh_index_params,
    append_to_lsh_index,
    incremental_dedup,
    minhash_lsh_pairs,
)
from streaming_parquet_spark.operators.similarity import (
    _ann_index_dims,
    append_to_ann_index,
    incremental_semantic_dedup,
    ivf_assign,
    read_ann_centroids,
    similarity_pairs,
)
from streaming_parquet_spark.staging import scope, stage
from streaming_parquet_spark.streaming.stream import (
    parquet_file_stream,
    run_stream,
)


@dataclass
class IngestResult:
    """Per-run tallies: rows seen / filtered / kept per micro-batch
    id.  ``rows_filtered`` counts quality-filter rejections only;
    dedup drops are ``rows_in - rows_filtered - rows_kept``.  In
    continuous mode (``trigger_interval=``) ``query`` holds the live
    StreamingQuery — counters keep updating per trigger until the
    caller stops it."""

    batches: list[int] = field(default_factory=list)
    rows_in: int = 0
    rows_filtered: int = 0
    rows_kept: int = 0
    query: object = None


def _monitor_signals(
    delta: DataFrame,
    corpus_pre: DataFrame,
    id_col: str,
    fingerprint_expr: str,
    drift_text_col: str | None,
) -> tuple:
    """Compute a batch's observability signals — the DELTA's content
    fingerprint (``profile.corpus_fingerprint`` over
    ``fingerprint_expr``) and, when ``drift_text_col`` is given, the
    delta-vs-corpus unigram drift cosine (``text.domain_similarity``;
    one extra corpus scan per batch, the price the flag opts into).

    MUST run BEFORE the corpus append: the delta's plan anti-joins
    the corpus table, and ``insertInto`` recaches every cached plan
    referencing its target — a post-write evaluation recomputes the
    anti-join against the grown table and the delta reads back EMPTY
    (observed: fp 0 / drift NULL on every batch).  Pre-write is also
    semantically exact: the delta's fingerprint does not depend on
    the write, and ``corpus_pre UNION delta`` IS the post-append
    corpus (the anti-join makes them disjoint)."""
    from streaming_parquet_spark.operators.profile import (
        corpus_fingerprint,
    )

    fp = corpus_fingerprint(
        delta.withColumn("__fp_text", F.expr(fingerprint_expr)),
        id_col,
        "__fp_text",
    ).first()
    drift = None
    if drift_text_col is not None:
        from streaming_parquet_spark.operators.text import (
            domain_similarity,
        )

        corpus = corpus_pre.select(
            F.lit("corpus").alias("__side"), F.col(drift_text_col)
        ).unionByName(
            delta.select(
                F.lit("corpus").alias("__side"), F.col(drift_text_col)
            )
        )
        batch_side = delta.select(
            F.lit("delta").alias("__side"), F.col(drift_text_col)
        )
        got = domain_similarity(
            corpus.unionByName(batch_side),
            class_col="__side",
            text_col=drift_text_col,
            min_count=1,
        ).first()
        drift = float(got["cosine"]) if got is not None else None
    return fp, drift


def _append_monitor_row(
    bspark: SparkSession,
    monitor_table: str,
    batch_id: int,
    tallies: tuple[int, int, int, int],
    fp,
    drift: float | None,
) -> None:
    """Append one monitoring row (tallies + the precomputed signals
    from :func:`_monitor_signals`) — pure driver-local data by the
    time this runs, after the corpus and index appends committed.

    Replay idempotence is STRUCTURAL, not keyed: a replayed batch's
    delta is empty, so the caller never reaches this append — the
    monitor table is a log of deltas, and XOR of its fp columns
    composes to the corpus fingerprint in CRASH-FREE operation (every
    corpus row sits in exactly one logged delta).  The monitor is
    at-most-once where the corpus is exactly-once: a crash in the
    window between the corpus append and this append loses that one
    monitor row — never a corpus row — after which the XOR check
    honestly reports the gap (it cannot distinguish a lost row from
    corruption; treat a composition failure as "audit the lineage",
    not "the corpus is wrong").  ``ingest_batch`` is bookkeeping per
    checkpoint generation (same caveat as the corpus partition
    column): a fresh-checkpoint run over a grown source may log a
    second row under a reused batch id — composition is unaffected
    (deltas are disjoint by the id anti-join)."""
    n_in, n_filtered, n_kept, n_appended = tallies
    row = bspark.createDataFrame(
        [(
            int(batch_id), int(n_in), int(n_filtered), int(n_kept),
            int(n_appended), int(fp["n_chars_total"]),
            int(fp["fp_a"]), int(fp["fp_b"]), drift,
        )],
        _MONITOR_SCHEMA,
    )
    if not bspark.catalog.tableExists(monitor_table):
        row.write.format("parquet").saveAsTable(monitor_table)
    else:
        row.write.insertInto(monitor_table)


def _ensure_corpus_table(spark: SparkSession, df: DataFrame, table: str) -> None:
    if not spark.catalog.tableExists(table):
        (
            df.limit(0)
            .write.partitionBy("ingest_batch")
            .format("parquet")
            .saveAsTable(table)
        )


def _run_ingest(
    spark: SparkSession,
    source_dir: str,
    table: str,
    checkpoint: str,
    id_col: str,
    survivors_fn,
    indexed_ids_fn,
    append_fn,
    max_files_per_trigger: int | None,
    refresh_tables: tuple[str, ...] = (),
    prefilter_fn=None,
    monitor_table: str | None = None,
    fingerprint_expr: str | None = None,
    drift_text_col: str | None = None,
    trigger_interval: str | None = None,
) -> IngestResult:
    """The shared exactly-once micro-batch runner (module docstring):
    ``survivors_fn(batch) -> DataFrame`` performs within-batch dedup +
    the index probe (steps 1-2); ``indexed_ids_fn(session)`` returns
    the index's authoritative id relation (one ``id_col`` column — the
    LAST table the index append writes, so a crash mid-append reads
    as not-yet-appended), resolved through the MICRO-BATCH session so
    batch N sees batch N-1's appends (the caller's session caches a
    stale file listing); ``append_fn(rows)`` folds rows into the index
    (step 4).  Both corpus and index writes are id-anti-joined
    delta-APPENDS — the idempotence mechanism the module docstring's
    replay analysis rests on.

    ``monitor_table``: when set, every batch whose corpus DELTA is
    non-empty appends one observability row (tallies + delta
    fingerprint + optional drift — see :func:`_append_monitor_row`);
    replayed batches have empty deltas and log nothing, so monitor
    rows inherit the loop's exactly-once property."""
    stream = parquet_file_stream(
        spark, source_dir, f"ingest loop for {table!r}",
        max_files_per_trigger, trigger_interval,
    )
    result = IngestResult()
    if stream is None:  # cold start: nothing delivered yet
        return result

    def process(batch: DataFrame, batch_id: int) -> None:
        bspark = batch.sparkSession
        # The batch owns its stagings: the scope releases the frames
        # staged here AND every operator staging below (the pair
        # search's, the probe's) on any exit — a filter_fn/probe/count
        # failure included, which Structured Streaming re-runs on
        # every stream restart.
        with scope():
            # Stage the batch: the tally count, the within-batch pair
            # search, and the probe all consume it — without the
            # persist each would re-scan the batch's files.
            batch = stage(batch)
            n_in = batch.staged_rows
            n_filtered_batch = 0
            # 0. quality pre-filter: staged because the
            #    filtered-count tally and the dedup stages below both
            #    consume it.  A deterministic filter keeps the replay
            #    analysis intact; a non-deterministic one cannot
            #    DUPLICATE rows (the id anti-joins still hold) but
            #    makes the kept-set replay-dependent — the entry
            #    points' documented contract.
            src = batch
            if prefilter_fn is not None:
                filtered = stage(prefilter_fn(batch))
                # clamp: the filter_fn contract allows REWRITING rows,
                # and a transform that emits more rows than it received
                # (line-splitting) would otherwise tally negative
                # rejections
                n_filtered_batch = max(0, n_in - filtered.staged_rows)
                src = filtered
            survivors = survivors_fn(src).withColumn(
                "ingest_batch", F.lit(int(batch_id))
            )
            # Materialize ONCE per batch: steps 3 and 4 both consume
            # the survivor set, and the probe must not run twice
            # against an index step 4 is about to mutate.
            rows = stage(survivors)
            n = rows.staged_rows
            if n:
                # 3. corpus delta-append: only ids not in the corpus
                #    AT ALL (replay-idempotent across partitions — a
                #    cap-suppressed or redelivered doc's original row
                #    may sit under ANY ingest_batch, so scoping this
                #    to the current partition would re-append it).
                #    One column-pruned id scan of the corpus per
                #    trigger; amortize via trigger sizing like the
                #    index scans. Appends are safe against the lazy
                #    self-read — published files are immutable.
                _ensure_corpus_table(bspark, rows, table)
                existing = bspark.table(table).select(F.col(id_col))
                # stage the delta: the corpus write consumes it, and
                # the monitor path (when enabled) counts and
                # fingerprints the SAME rows the write published
                delta = stage(rows.join(existing, id_col, "left_anti"))
                n_appended = delta.staged_rows
                signals = None
                if monitor_table is not None and n_appended:
                    # BEFORE the write — see _monitor_signals on why a
                    # post-write evaluation would read the delta empty
                    signals = _monitor_signals(
                        delta, bspark.table(table), id_col,
                        fingerprint_expr or "CAST(NULL AS STRING)",
                        drift_text_col,
                    )
                if n_appended:
                    delta.write.insertInto(table)
                # 4. index delta-append: only ids the index does not
                #    already hold (guards the cap-suppressed-replay
                #    case where a survivor fails to self-pair)
                idx_delta = rows.drop("ingest_batch").join(
                    indexed_ids_fn(bspark), id_col, "left_anti"
                )
                append_fn(idx_delta)
                if signals is not None:
                    _append_monitor_row(
                        bspark, monitor_table, batch_id,
                        (n_in, n_filtered_batch, n, n_appended),
                        signals[0], signals[1],
                    )
            # tallies land LAST, after every write: in continuous mode
            # (trigger_interval=) the caller polls these counters to
            # know a trigger's work is DURABLE before stopping the
            # query — a mid-trigger tally would let it stop between
            # the count and the corpus append (r15 drill)
            result.batches.append(batch_id)
            result.rows_in += n_in
            result.rows_filtered += n_filtered_batch
            result.rows_kept += n

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
    )
    query = run_stream(writer, trigger_interval)
    if trigger_interval is not None:
        # the M1 continuous shape: the loop keeps draining new files
        # every interval until the caller stops the returned query.
        # The caller owns the post-stop table refresh below (the run
        # has not ended when we return) — refresh_ingest_tables(...)
        # packages it.
        result.query = query
        return result
    # foreachBatch runs in a CLONED SparkSession; its appends refresh
    # the clone's table-relation cache, not the caller's. Without this
    # refresh the caller's next spark.table() serves a STALE file
    # listing for any table it had read before the stream ran
    # (observed: an appended sets row present on disk but invisible).
    refresh_ingest_tables(spark, refresh_tables)
    return result


def refresh_ingest_tables(
    spark: SparkSession, tables: tuple[str, ...]
) -> None:
    """Refresh the caller-session relation cache for the tables an
    ingest loop appends to — availableNow runs do this before
    returning; a CONTINUOUS run (``trigger_interval=``) cannot (it
    returns while triggers keep firing), so its caller runs this after
    ``result.query.stop()`` and before reading the tables from the
    same session."""
    for t in tables:
        if spark.catalog.tableExists(t):
            spark.catalog.refreshTable(t)


_MONITOR_SCHEMA = (
    "ingest_batch bigint, rows_in bigint, rows_filtered bigint,"
    " rows_kept bigint, rows_appended bigint, n_chars_total bigint,"
    " fp_a bigint, fp_b bigint, drift_cosine double"
)


def _monitor_or_empty(spark: SparkSession, monitor_table: str) -> DataFrame:
    """The monitor relation, or an empty frame of its schema when the
    table does not exist yet — the log-created-after-the-corpus state
    the repair tools advertise."""
    if spark.catalog.tableExists(monitor_table):
        return spark.table(monitor_table)
    return spark.createDataFrame([], _MONITOR_SCHEMA)


def _corpus_batch_manifest(
    spark: SparkSession,
    table: str,
    id_col: str,
    text_col: str,
    fingerprint_expr: str | None,
) -> DataFrame:
    """batch_manifest over the corpus under the SAME content rendering
    the monitor rows were logged with (``fingerprint_expr`` — the
    semantic twin fingerprints ``CAST(vec AS STRING)``, not a text
    column)."""
    from streaming_parquet_spark.operators.profile import batch_manifest

    df = spark.table(table)
    col = text_col
    if fingerprint_expr is not None:
        df = df.withColumn("__fp_text", F.expr(fingerprint_expr))
        col = "__fp_text"
    return batch_manifest(df, "ingest_batch", id_col, col)


def verify_monitor(
    spark: SparkSession,
    table: str,
    monitor_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint_expr: str | None = None,
) -> DataFrame:
    """Reconcile the monitor log against the corpus it observes: one
    row per ``ingest_batch`` with the corpus partition's n_docs /
    fingerprints (``profile.batch_manifest`` — exactly re-derivable
    from the data) beside the monitor rows' summed ``rows_appended``
    and XOR'd fps, plus ``ok``.  A batch with a lost monitor row (the
    documented at-most-once crash window) shows nulls on the monitor
    side; a batch whose values disagree shows exactly where.

    ``fingerprint_expr``: the SQL expression the monitor rows'
    fingerprints were taken over — defaults to ``text_col``; the
    semantic (embedding) twin logs over the stringified vector, so
    reconcile it with ``fingerprint_expr=f"CAST({{vec_col}} AS
    STRING)"``.  A monitor table that does not exist yet reads as
    empty (every batch not-ok with nulls — the log-created-after-
    the-corpus state :func:`backfill_monitor` repairs).

    Scale: one corpus scan (map-side-combined manifest) + the
    monitor-sized aggregate — same cost as the batch audit itself."""
    man = _corpus_batch_manifest(
        spark, table, id_col, text_col, fingerprint_expr
    ).select(
        "ingest_batch",
        F.col("n_docs").alias("n_docs_corpus"),
        F.col("fp_a").alias("fp_a_corpus"),
        F.col("fp_b").alias("fp_b_corpus"),
    )
    mon = (
        _monitor_or_empty(spark, monitor_table)
        .groupBy("ingest_batch")
        .agg(
            F.sum("rows_appended").alias("rows_appended_monitor"),
            F.expr("bit_xor(fp_a)").alias("fp_a_monitor"),
            F.expr("bit_xor(fp_b)").alias("fp_b_monitor"),
            F.count(F.lit(1)).cast("bigint").alias("n_monitor_rows"),
        )
    )
    ok = (
        F.col("n_docs_corpus").isNotNull()
        & F.col("rows_appended_monitor").isNotNull()
        & (F.col("n_docs_corpus") == F.col("rows_appended_monitor"))
        & (F.col("fp_a_corpus") == F.col("fp_a_monitor"))
        & (F.col("fp_b_corpus") == F.col("fp_b_monitor"))
    )
    return man.join(mon, "ingest_batch", "full_outer").select(
        "ingest_batch",
        "n_docs_corpus", "rows_appended_monitor",
        "fp_a_corpus", "fp_a_monitor",
        "fp_b_corpus", "fp_b_monitor",
        F.coalesce("n_monitor_rows", F.lit(0).cast("bigint")).alias(
            "n_monitor_rows"
        ),
        ok.alias("ok"),
    )


def backfill_monitor(
    spark: SparkSession,
    table: str,
    monitor_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint_expr: str | None = None,
) -> int:
    """Repair the monitor log from the corpus itself: every
    ``ingest_batch`` partition with NO monitor row (the at-most-once
    crash window, or a log created after the corpus) gets one
    re-derived row — fingerprints and ``rows_appended`` come exactly
    from ``batch_manifest`` (the data carries them); the stream-time
    observations that cannot be reconstructed (rows_in /
    rows_filtered / rows_kept / drift_cosine) backfill as NULL,
    distinguishing a repaired row from a live one.  Returns the number
    of rows appended; idempotent (a second call appends 0).

    Batches that HAVE monitor rows but fail :func:`verify_monitor`
    are NOT touched — a disagreeing log entry is evidence to
    investigate, not to overwrite.  A monitor table that does not
    exist yet is CREATED (the whole-history bootstrap); the semantic
    twin needs ``fingerprint_expr`` — see :func:`verify_monitor`."""
    man = _corpus_batch_manifest(
        spark, table, id_col, text_col, fingerprint_expr
    )
    logged = _monitor_or_empty(spark, monitor_table).select(
        "ingest_batch"
    ).distinct()
    nb = F.lit(None).cast("bigint")
    missing = man.join(logged, "ingest_batch", "left_anti").select(
        "ingest_batch",
        nb.alias("rows_in"),
        nb.alias("rows_filtered"),
        nb.alias("rows_kept"),
        F.col("n_docs").alias("rows_appended"),
        "n_chars_total",
        "fp_a",
        "fp_b",
        F.lit(None).cast("double").alias("drift_cosine"),
    )
    # materialize BEFORE the write: the plan reads monitor_table (the
    # anti-join side), and writing a table from its own lazy read is
    # the self-read hazard; the row set is monitor-sized, not
    # corpus-sized
    rows = missing.collect()
    if rows:
        frame = spark.createDataFrame(rows, missing.schema)
        if not spark.catalog.tableExists(monitor_table):
            frame.write.format("parquet").saveAsTable(monitor_table)
        else:
            frame.write.insertInto(monitor_table)
    return len(rows)


def dedup_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    table: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.2,
    max_bucket_rows: int | None = None,
    max_files_per_trigger: int | None = None,
    filter_fn=None,
    monitor_table: str | None = None,
    monitor_drift: bool = False,
    trigger_interval: str | None = None,
) -> IngestResult:
    """Run the deduplicated-ingest stream over ``source_dir`` (parquet
    files) with an ``availableNow`` trigger: process everything not yet
    recorded in ``checkpoint``, then stop.  ``trigger_interval`` (a
    duration string, e.g. ``"10 seconds"``) switches to the continuous
    processingTime shape instead — the returned result carries the
    live ``query``; stop it, then
    :func:`refresh_ingest_tables` before reading the corpus/index
    tables from the same session.  Both modes share one checkpoint:
    stopping a continuous run and restarting availableNow (or vice
    versa) resumes exactly where the offsets left off.  ``table`` is the corpus
    table (created on first use, partitioned by ``ingest_batch``);
    ``{table}_lsh`` must be an existing LSH index
    (:func:`~streaming_parquet_spark.operators.dedup.write_lsh_index` —
    seed it from the initial corpus, or from an empty frame for a
    cold start).  Banding parameters come from the index's pinned
    table properties.

    ``filter_fn``: optional quality pre-filter/transform
    (``DataFrame -> DataFrame``) run on each micro-batch BEFORE any
    dedup work — the production clean -> filter -> dedup -> append
    loop in one stream (e.g. ``text.gopher_quality`` rules,
    ``text.classifier_filter`` under a fitted model, or
    ``text.c4_clean_lines``).  It may drop rows and/or rewrite the
    text (the index then stores the CLEANED text's shingles); it must
    keep ``id_col`` unique and be DETERMINISTIC — a non-deterministic
    filter cannot duplicate corpus rows (the id anti-joins hold
    regardless) but would make the kept-set replay-dependent.  The
    corpus table's schema is the POST-filter schema.  Filter
    rejections tally in ``IngestResult.rows_filtered``.

    ``monitor_table``: when set, each batch that actually grows the
    corpus appends one observability row there — tallies, the DELTA's
    content fingerprint (XOR of monitor fps composes to the corpus
    fingerprint in crash-free operation), and, under
    ``monitor_drift=True``, the delta-vs-corpus unigram drift cosine
    (one extra corpus scan per batch — the in-loop form of
    ``text.batch_drift``'s post-hoc signal).  Replays log nothing
    (their deltas are empty); a crash in the narrow window between the
    corpus append and the monitor append loses that one observability
    row (never a corpus row) — the monitor is at-most-once where the
    corpus is exactly-once, so a later composition-check failure means
    "audit the lineage", not necessarily corruption.

    Re-running with the same checkpoint is a resume (new files only);
    re-running with a FRESH checkpoint replays every file but changes
    nothing — see the module docstring's replay analysis."""
    index = f"{table}_lsh"
    params = _lsh_index_params(spark, index)  # fail fast if absent

    def survivors_fn(batch: DataFrame) -> DataFrame:
        # 1. within-batch near-dups: drop any doc that near-duplicates
        #    a lower-id doc of the same batch.
        pairs = minhash_lsh_pairs(
            batch, id_col=id_col, text_col=text_col,
            num_hashes=params["num_hashes"], bands=params["bands"],
            basis=params["basis"], jaccard_threshold=jaccard_threshold,
            max_bucket_rows=max_bucket_rows,
        )
        batch_drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
        within = batch.join(batch_drops, id_col, "left_anti")
        # 2. probe the persisted index
        return incremental_dedup(
            within, index, id_col=id_col, text_col=text_col,
            jaccard_threshold=jaccard_threshold,
            max_bucket_rows=max_bucket_rows,
        )

    def indexed_ids_fn(session: SparkSession) -> DataFrame:
        # sets is the LAST table append_to_lsh_index writes: an id
        # present here is fully indexed; an id caught in the
        # bands-then-sets crash window reads as absent and re-appends
        # (the self-heal in the module docstring)
        return session.table(f"{index}_sets").select(
            F.col("id").alias(id_col)
        )

    def append_fn(rows: DataFrame) -> None:
        append_to_lsh_index(rows, index, id_col=id_col, text_col=text_col)

    refresh = [table, f"{index}_sets", f"{index}_bands"]
    if monitor_table is not None:
        refresh.append(monitor_table)
    return _run_ingest(
        spark, source_dir, table, checkpoint, id_col, survivors_fn,
        indexed_ids_fn, append_fn, max_files_per_trigger,
        refresh_tables=tuple(refresh),
        prefilter_fn=filter_fn,
        monitor_table=monitor_table,
        fingerprint_expr=text_col,
        drift_text_col=text_col if monitor_drift else None,
        trigger_interval=trigger_interval,
    )


def semantic_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    table: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    max_block_rows: int | None = None,
    max_files_per_trigger: int | None = None,
    filter_fn=None,
    monitor_table: str | None = None,
    trigger_interval: str | None = None,
) -> IngestResult:
    """The EMBEDDING-side twin of :func:`dedup_ingest_stream`: the same
    exactly-once micro-batch loop, with the persisted ANN index
    (:func:`~streaming_parquet_spark.operators.similarity.
    write_ann_index` at ``{table}_ann``) as the dedup authority.
    Within-batch near-dups drop by the SemDeDup rule (similar to a
    lower-id vector of the same batch, blocked under the index's
    frozen coarse clusters); the index probe then drops anything
    similar to an already-ingested vector.  Replay safety is identical
    and rests on the shared runner's id anti-joins (module docstring);
    the self-pair at sim 1.0 (embeddings L2-normalized) is the fast
    path that usually drops a replayed survivor before the anti-joins
    even see it — unless a hot-cluster cap suppresses it, which the
    anti-joins cover (test_ingest_cap_suppressed_redelivery...).
    ``filter_fn``: same contract as :func:`dedup_ingest_stream`'s —
    deterministic pre-dedup filter/transform, rejections tallied in
    ``rows_filtered``.  ``monitor_table``: same contract too, with the
    delta fingerprint taken over the STRINGIFIED embedding (vectors
    have no text column; compose against the corpus by fingerprinting
    the same rendering) and no drift leg — term drift is a text
    signal.  ``trigger_interval``: same continuous-mode contract as
    :func:`dedup_ingest_stream`'s."""
    index = f"{table}_ann"
    dims = _ann_index_dims(spark, index)  # fail fast if absent
    cents = read_ann_centroids(spark, index, id_col, vec_col)

    def survivors_fn(batch: DataFrame) -> DataFrame:
        assigned = ivf_assign(batch, cents, id_col, vec_col, dims)
        pairs = similarity_pairs(
            assigned, threshold=threshold, id_col="id", vec_col="v",
            block_col="cluster", dims=dims, max_block_rows=max_block_rows,
        )
        batch_drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
        within = batch.join(batch_drops, id_col, "left_anti")
        return incremental_semantic_dedup(
            within, index, threshold=threshold, id_col=id_col,
            vec_col=vec_col, max_block_rows=max_block_rows,
        )

    def indexed_ids_fn(session: SparkSession) -> DataFrame:
        # postings is the single (and therefore last) table the ANN
        # append writes; centroids are frozen at build time
        return session.table(f"{index}_postings").select(
            F.col("id").alias(id_col)
        )

    def append_fn(rows: DataFrame) -> None:
        append_to_ann_index(rows, index, id_col=id_col, vec_col=vec_col)

    refresh = [table, f"{index}_postings", f"{index}_centroids"]
    if monitor_table is not None:
        refresh.append(monitor_table)
    return _run_ingest(
        spark, source_dir, table, checkpoint, id_col, survivors_fn,
        indexed_ids_fn, append_fn, max_files_per_trigger,
        refresh_tables=tuple(refresh),
        prefilter_fn=filter_fn,
        monitor_table=monitor_table,
        fingerprint_expr=f"CAST({vec_col} AS STRING)",
        drift_text_col=None,
        trigger_interval=trigger_interval,
    )

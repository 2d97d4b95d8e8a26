"""Continuous trainable-shard production: a Structured Streaming file
source feeding :func:`operators.pipeline.write_token_shards`'s
contract through foreachBatch — the loop that turns an ever-growing
document corpus (e.g. the table ``dedup_ingest_stream`` maintains)
into an ever-growing VERIFIED token-shard set, with EXACTLY-ONCE
shard contents across crash/replay.

Per micro-batch:
  1. ``encode_fn`` tokenizes the batch's documents into an id-array
     column (apply a PINNED artifact — ``apply_bpe_table`` /
     ``apply_unigram_table`` + ``tokens_to_ids`` — so every wave
     encodes under the same frozen vocabulary),
  2. (optional) :func:`operators.pipeline.fim_transform` re-arranges
     documents with the vocabulary-reserved sentinels,
  3. :func:`operators.pipeline.pack_token_windows` packs the batch
     into fixed-``budget`` windows (within ``part_col`` if given),
  4. the wave PUBLISHES under batch-derived shard keys
     (``<prefix><batch_id>[-<part>]``): data files first, then the
     ``_manifest`` sidecar rows carrying the pinned contract —
     the same two-step order as ``write_token_shards``.

Why this is exactly-once without a transactional format: shard keys
are a pure function of the batch id, every wave's windows re-derive
DETERMINISTICALLY from the checkpoint's logged file set (encode_fn
must be deterministic — the packer's order guard and the portable
hashes already are), and publication is guarded by the sidecar:
  * crash before the data commit: nothing published (the partitioned
    append is job-atomic under the file-output committer); the
    replayed batch publishes cleanly.
  * crash BETWEEN data and sidecar: the replay finds its keys' data
    on disk but not in the sidecar, re-derives the wave, digest-
    compares the orphaned files against the re-derived manifest
    (:func:`operators.pipeline.token_shard_manifest` — the same
    fingerprints ``verify_token_shards`` checks), and REPAIRS by
    appending only the sidecar rows.  A mismatch raises: foreign or
    torn data under our keys is corruption, never something to paper
    over.
  * crash after the sidecar, before the checkpoint commit: the
    replayed wave's keys are all in the sidecar already — the batch
    digest-VERIFIES its published shards and skips.  Replay is a
    verified no-op, not a blind one.
A fresh checkpoint over a GROWN source regroups files into different
waves; overlapping keys then digest-mismatch and the run refuses —
idempotence by refusal, the same stance as ``append_token_shards``
(keep the checkpoint; a fresh generation goes to a fresh PATH —
changing ``shard_prefix`` into the same path is itself refused,
because a replayed wave under fresh keys would silently double, and
one prefix must not be a proper prefix of another for the ownership
check to discriminate).

At 100 TB: each batch's token-level shuffle is bounded by the batch
(``pack_token_windows`` packs within the wave), the contract checks
are manifest-sized, the sidecar probes collect O(wave) rows per
trigger (the already-published check filters to the wave's own tag
inside the sidecar scan; the foreign-prefix ownership check runs
ONCE per stream run and collects only offenders), and the
skip/repair probe existence-checks and reads ONLY the wave's own
shard directories (``basePath``-scoped, O(wave) — never a full-set
partition discovery).  Padding: each (wave,
part) tail window right-pads — overhead is ≤ ``part`` count ×
``budget`` tokens per trigger, amortized by trigger sizing exactly
like the ingest loop's index-scan cost (bigger batches, fewer padded
tails).  Shards never rewrite: a training run can consume completed
shards while the producer appends new ones.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from streaming_parquet_spark.operators.pipeline import (
    _CONTRACT_COLS,
    TOKEN_SHARD_FORMAT,
    _budget_guard,
    _contract_manifest,
    _single_contract,
    _vocab_fp,
    fim_transform,
    pack_token_windows,
    token_shard_manifest,
)
from streaming_parquet_spark.sources.readers import read_parquet_or_none
from streaming_parquet_spark.staging import scope, stage
from streaming_parquet_spark.streaming.stream import (
    parquet_file_stream,
    run_stream,
)

#: Contract column names the streaming producer writes under — fixed
#: (the wave derives them), unlike write_token_shards' free choice.
_SHARD, _WIN, _IDS, _NTOK, _STARTS = (
    "shard", "win", "ids", "n_tokens", "doc_starts",
)


@dataclass
class ShardIngestResult:
    """Per-run tallies: ``batches`` every processed micro-batch id;
    ``batches_skipped`` the replays whose shards were already
    published (digest-verified, nothing written);
    ``batches_repaired`` the data-without-sidecar crash windows this
    run completed; ``shards_written`` the shard keys this run made
    durable (written + repaired)."""

    batches: list[int] = field(default_factory=list)
    batches_skipped: list[int] = field(default_factory=list)
    batches_repaired: list[int] = field(default_factory=list)
    shards_written: list[str] = field(default_factory=list)
    rows_in: int = 0
    windows_written: int = 0
    #: continuous mode (trigger_interval=): the live StreamingQuery —
    #: tallies keep updating per trigger until the caller stops it
    query: object = None


def _try_contract(bspark: SparkSession, path: str):
    """(sidecar, contract) when ``path`` has a readable ``_manifest``,
    None when the sidecar is absent (first write, or the data-no-
    sidecar crash window); every other failure propagates."""
    sidecar = read_parquet_or_none(
        bspark.read, os.path.join(path, "_manifest")
    )
    if sidecar is None:
        return None
    return sidecar, _single_contract(
        sidecar, repr(path), "shard_ingest_stream"
    )


def _disk_wave_manifest(
    bspark: SparkSession, path: str, keys: list[str]
) -> dict:
    """{shard: (n_windows, n_tokens, fp_a, fp_b)} for whichever of
    ``keys`` have data on disk — existence-probed and read per shard
    DIRECTORY (``basePath``-scoped), so the per-batch cost is O(wave),
    never a partition discovery of the whole shard set ({} when none
    of the wave's directories exist, INCLUDING dirs that exist but
    hold no parquet — an aborted commit's residue must read as
    absent so the replay self-heals by rewriting the wave).

    Directory names use Spark's OWN partition-path escaping
    (a part value like 'en/wiki' lands as shard=...en%2Fwiki): a
    raw-key probe would miss published data and a replay would
    silently double the wave.  If the escaping helper ever moves,
    the fallback is the escaping-agnostic whole-set scan + column
    filter — correct, just O(total shards) in listing."""
    jvm = bspark._jvm
    try:
        esc = (
            jvm.org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.escapePathName
        )
        dirnames = [f"{_SHARD}={esc(k)}" for k in keys]
    except Exception:
        dirnames = None
    if dirnames is None:
        # fallback: full-set scan, prune on the shard COLUMN
        scanned = read_parquet_or_none(bspark.read, path)
        if scanned is not None:
            scanned = scanned.where(F.col(_SHARD).isin(keys))
    else:
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(bspark._jsc.hadoopConfiguration())
        dirs = [
            f"{path}/{d}"
            for d in dirnames
            if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/{d}"))
        ]
        if not dirs:
            return {}
        scanned = read_parquet_or_none(
            bspark.read.option("basePath", path), *dirs
        )
    if scanned is None:
        return {}
    got = token_shard_manifest(
        scanned, _SHARD, _WIN, _IDS, _NTOK, _STARTS
    ).collect()
    return {
        r["shard"]: (r["n_windows"], r["n_tokens"], r["fp_a"], r["fp_b"])
        for r in got
    }


def _manifest_rows(manifest: DataFrame) -> dict:
    return {
        r["shard"]: (r["n_windows"], r["n_tokens"], r["fp_a"], r["fp_b"])
        for r in manifest.select(
            "shard", "n_windows", "n_tokens", "fp_a", "fp_b"
        ).collect()
    }


def _foreign_keys(
    sidecar: DataFrame, shard_prefix: str, limit: int = 5
) -> list[str]:
    """Up to ``limit`` sidecar shard keys OUTSIDE this stream's
    prefix — the producer-identity probe.  The prefix filter is
    pushed into the sidecar scan and the collect returns only the
    offenders (normally zero rows), so the per-call driver cost is
    O(1), not O(total shards); run ONCE per stream run (the prefix
    cannot change mid-run)."""
    return sorted(
        r["shard"]
        for r in sidecar.where(
            ~F.col("shard").startswith(shard_prefix)
        ).select("shard").limit(limit).collect()
    )


def _published_keys(sidecar: DataFrame, tag: str) -> set[str]:
    """The sidecar shard keys belonging to ONE wave tag
    (``tag`` itself or ``tag-<part>``) — the already-published probe.
    The tag filter is pushed into the sidecar scan and the collect
    returns only the wave's own keys, keeping per-trigger driver work
    O(wave) however many shards the set has accumulated."""
    return {
        r["shard"]
        for r in sidecar.where(
            (F.col("shard") == tag)
            | F.col("shard").startswith(tag + "-")
        ).select("shard").collect()
    }


def shard_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    shards_path: str,
    checkpoint: str,
    vocab_ids: DataFrame,
    encode_fn,
    budget: int,
    *,
    id_col: str = "doc_id",
    ids_col: str = "ids",
    part_col: str | None = None,
    pad_id: int = 0,
    eos_id: int | None = None,
    shard_prefix: str = "wave-",
    fim: dict | None = None,
    max_files_per_trigger: int | None = None,
    trigger_interval: str | None = None,
    marker_store=None,
) -> ShardIngestResult:
    """Continuously grow a verified token-shard set from a parquet
    document source (module docstring).  ``encode_fn(batch) ->
    DataFrame`` must emit ``id_col`` (unique per document — the
    packer's order key) and ``ids_col`` (the token-id array encoded
    under the FROZEN vocabulary ``vocab_ids``), plus ``part_col``
    when given (windows never cross parts; the part value joins the
    shard key).  ``fim``: optional kwargs for
    :func:`operators.pipeline.fim_transform` (e.g. ``dict(pre_id=2,
    mid_id=3, suf_id=4, rate_pct=50)``) applied between encode and
    pack — the sentinels must be ids ``vocab_ids`` reserved at
    freeze.  ``trigger_interval``: None (default) drains everything
    available and stops; a duration string (e.g. ``"10 seconds"``)
    runs the continuous processingTime shape instead — the returned
    result carries the live ``query`` (stop via
    ``result.query.stop()``) and its tallies keep updating per
    trigger.  Both modes share one checkpoint: a continuous run
    stopped and restarted availableNow (or vice versa) resumes
    exactly where the offsets left off, with the same replay-repair
    semantics per trigger.

    ``encode_fn`` MUST be deterministic (encode under a pinned
    artifact, not a freshly fitted one): replay verification digest-
    compares re-derived waves against published shards, so a
    nondeterministic encode turns a harmless replay into a loud
    refusal.  An existing shard set's contract is AUTHORITATIVE —
    budget / pad / eos / vocabulary mismatches refuse before
    anything writes.  Labels are deliberately NOT stored: recompute
    ``with_causal_labels`` at read time (one stateless array
    transform) instead of shipping a second budget-wide column."""
    from streaming_parquet_spark.operators.pipeline import (
        _refuse_retired,
    )

    # refuse a retired generation at run START (even a no-op resume:
    # a producer pointed at a retired set is misconfigured and must
    # hear it now, not on whichever future trigger first has data)
    _refuse_retired(shards_path, "shard_ingest_stream", marker_store)
    stream = parquet_file_stream(
        spark, source_dir, "shard_ingest_stream",
        max_files_per_trigger, trigger_interval,
    )
    if stream is None:  # cold start: nothing delivered yet
        return ShardIngestResult()
    if part_col in (_SHARD, _WIN, _IDS, _NTOK, _STARTS):
        raise ValueError(
            f"shard_ingest_stream: part_col={part_col!r} collides with "
            f"a window column name"
        )
    if fim is not None:
        reserved = {"out_col", "applied_col", "ids_col", "id_col"} & set(
            fim
        )
        if reserved:
            raise ValueError(
                f"shard_ingest_stream: fim keys {sorted(reserved)} are "
                f"managed by the loop (the packer reads ids_col, so a "
                f"redirected out_col would silently pack UNtransformed "
                f"ids) — pass transform parameters only"
            )
    b = int(budget)
    v = _vocab_fp(vocab_ids)
    want = {
        "format": TOKEN_SHARD_FORMAT,
        "budget": b,
        "pad_id": int(pad_id),
        "eos_id": None if eos_id is None else int(eos_id),
        "shard_col": _SHARD, "win_col": _WIN, "ids_col": _IDS,
        "n_tokens_col": _NTOK, "starts_col": _STARTS,
        "vocab_size": v["n_docs"],
        "vocab_fp_a": v["fp_a"], "vocab_fp_b": v["fp_b"],
    }
    result = ShardIngestResult()
    # once-per-run probe state: the foreign-prefix ownership check is
    # a property of the SET, not of any one wave — re-proving it every
    # trigger would be a growing O(total shards) driver scan on a
    # months-long producer
    probe_state = {"foreign_checked": False}

    def wave_windows(batch: DataFrame, batch_id: int) -> DataFrame:
        """The batch's packed windows under their wave shard keys —
        deterministic given the batch's file set (the replay-repair
        machinery and the tests both lean on re-deriving this)."""
        enc = encode_fn(batch)
        missing = {id_col, ids_col} - set(enc.columns)
        if part_col is not None and part_col not in enc.columns:
            missing.add(part_col)
        if missing:
            raise ValueError(
                f"shard_ingest_stream: encode_fn output lacks "
                f"column(s) {sorted(missing)}"
            )
        if fim is not None:
            # the applied flag (and any doc-level extra) drops at the
            # packer's own projection — nothing survives into windows
            enc = fim_transform(enc, ids_col, id_col=id_col, **fim)
        wins = pack_token_windows(
            enc, ids_col, budget=b, order_col=id_col,
            part_col=part_col, pad_id=pad_id, out_col=_IDS,
            eos_id=eos_id,
        )
        key = F.concat(F.lit(f"{shard_prefix}{int(batch_id):08d}"))
        if part_col is not None:
            key = F.concat(key, F.lit("-"), F.col(part_col).cast("string"))
        return wins.withColumn(_SHARD, key)

    def process(batch: DataFrame, batch_id: int) -> None:
        # re-probed per trigger (one local existence check): the
        # catalog can retire this generation while a long-lived
        # producer runs, and the very next wave must refuse instead
        # of growing a set the catalog already compacted past
        _refuse_retired(shards_path, "shard_ingest_stream",
                        marker_store)
        bspark = batch.sparkSession

        def done(n_rows: int) -> None:
            # tallies land LAST, on every successful exit path: a
            # continuous-mode caller polls these to know a trigger's
            # work is DURABLE before stopping the query (r15 drill) —
            # a mid-trigger tally would let it stop between the count
            # and the wave's writes
            result.batches.append(batch_id)
            result.rows_in += n_rows

        # the batch owns its stagings: released on every exit path
        with scope():
            batch = stage(batch)
            n_in = batch.staged_rows
            if n_in == 0:
                done(0)
                return
            # one wave = up to two consumers (manifest pass + data
            # write) of an encode-UDF lineage: stage once
            wins = stage(wave_windows(batch, batch_id))
            existing = _try_contract(bspark, shards_path)
            # contract literals typed from the SIDECAR when one exists
            # (same stance as append_token_shards — sidecar literal
            # types are value-dependent, and mixed-type parquet appends
            # corrupt the contract read); the bootstrap write pins the
            # scale-safe defaults
            side_t = (
                dict(existing[0].dtypes)
                if existing is not None
                else dict(_CONTRACT_TYPES)
            )
            manifest = _contract_manifest(wins, want, side_t)
            wave = _manifest_rows(manifest)
            if not wave:
                done(n_in)
                return  # every doc encoded empty: no windows, no shard
            keys = sorted(wave)
            published = set()
            if existing is not None:
                sidecar, contract = existing
                vkeys = ("vocab_size", "vocab_fp_a", "vocab_fp_b")
                if tuple(contract[k] for k in vkeys) != tuple(
                    want[k] for k in vkeys
                ):
                    raise ValueError(
                        f"shard_ingest_stream: {shards_path!r} was "
                        f"encoded under a DIFFERENT vocabulary (pinned "
                        f"{[contract[k] for k in vkeys]}, supplied "
                        f"{[want[k] for k in vkeys]}) — training on "
                        f"mixed-vocabulary shards silently scrambles "
                        f"every token"
                    )
                got = {k: contract[k] for k in want}
                if got != want:
                    drift = {
                        k: (got[k], want[k])
                        for k in want if got[k] != want[k]
                    }
                    raise ValueError(
                        f"shard_ingest_stream: {shards_path!r} pins a "
                        f"different contract (pinned, supplied): {drift} "
                        f"— refusing to mix waves across contracts"
                    )
                # A streamed set belongs to ONE producer identity: a
                # replayed batch under a CHANGED shard_prefix or
                # part_col would derive fresh keys, miss the overlap
                # check, and silently double the wave — so foreign
                # keys refuse the whole set, and any existing keys of
                # THIS batch's tag must be exactly this wave's keys.
                # Both probes push their filters into the sidecar
                # scan and collect only offenders / the wave's own
                # keys: per-trigger driver work is O(wave), never
                # O(total shards) — and the foreign-prefix check runs
                # ONCE per stream run (the prefix cannot change
                # mid-run; this run's own waves all carry it).
                if not probe_state["foreign_checked"]:
                    foreign = _foreign_keys(sidecar, shard_prefix)
                    if foreign:
                        raise ValueError(
                            f"shard_ingest_stream: {shards_path!r} holds "
                            f"shard keys {foreign} outside this "
                            f"stream's shard_prefix={shard_prefix!r} — a "
                            f"streamed shard set is owned by one producer "
                            f"identity (a changed prefix would republish "
                            f"every replayed wave as a duplicate); keep "
                            f"the prefix, or produce into a fresh path"
                        )
                    probe_state["foreign_checked"] = True
                tag = f"{shard_prefix}{int(batch_id):08d}"
                published = _published_keys(sidecar, tag)
                if published and published != set(keys):
                    raise ValueError(
                        f"shard_ingest_stream: batch {batch_id} is "
                        f"already published as {sorted(published)} but "
                        f"re-derives as {keys} — either the wave "
                        f"layout (part_col) changed between runs, or "
                        f"a crash tore the sidecar append mid-wave "
                        f"(remove the wave's sidecar rows to let the "
                        f"replay repair from data); refusing"
                    )
            on_disk = _disk_wave_manifest(bspark, shards_path, keys)
            # replayed / orphaned keys must carry EXACTLY the
            # re-derived wave: anything else is corruption or a
            # regrouped fresh-checkpoint run — refuse both
            for k in sorted(set(on_disk) | published):
                if on_disk.get(k) != wave[k]:
                    raise ValueError(
                        f"shard_ingest_stream: shard {k!r} on disk "
                        f"(digest {on_disk.get(k)}) does not match this "
                        f"wave's re-derivation ({wave[k]}) — foreign or "
                        f"torn data under a wave key, or a fresh "
                        f"checkpoint over a regrouped source; refusing"
                    )
            if published:
                # == set(keys) by the layout check above: the
                # crash-after-sidecar replay — verified above, skip
                result.batches_skipped.append(batch_id)
                done(n_in)
                return
            need_data = [k for k in keys if k not in on_disk]
            if need_data:
                if len(need_data) != len(keys):
                    # the partitioned append is job-atomic: a wave's
                    # data is all-or-none on disk
                    raise ValueError(
                        f"shard_ingest_stream: wave {batch_id} data is "
                        f"partially on disk ({sorted(on_disk)} of "
                        f"{keys}) with no sidecar — torn state; refusing"
                    )
                guard = _budget_guard(
                    wins, b, _WIN, _IDS, _NTOK, "shard_ingest_stream"
                )
                (
                    wins.withColumn(_IDS, guard)
                    .write.mode("append")
                    .partitionBy(_SHARD)
                    .parquet(shards_path)
                )
            repaired = not need_data
            # sidecar AFTER the data — the crash between the two is
            # the repair path above
            manifest.write.mode("append").parquet(
                os.path.join(shards_path, "_manifest")
            )
            if repaired:
                # tallied after the sidecar lands, like every other
                # counter: a continuous-mode poller must not see the
                # repair acknowledged while the store is still torn
                result.batches_repaired.append(batch_id)
            result.shards_written.extend(keys)
            result.windows_written += sum(
                n for (n, _t, _a, _b2) in wave.values()
            )
            done(n_in)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
    )
    query = run_stream(writer, trigger_interval)
    if trigger_interval is not None:
        result.query = query
    return result


#: (contract column, SQL type) — the bootstrap sidecar types when the
#: STREAM creates the shard set (scale-safe: fingerprints are bigint
#: even when a fixture-sized value would fit int32); a set created by
#: write_token_shards keeps its own types — waves cast to the sidecar.
_CONTRACT_TYPES = tuple(
    zip(
        _CONTRACT_COLS,
        (
            "string", "int", "int", "int", "string", "string", "string",
            "string", "string", "bigint", "bigint", "bigint",
        ),
    )
)

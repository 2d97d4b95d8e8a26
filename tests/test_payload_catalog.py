"""The payload store under the catalog's generation discipline
(VERDICT r14 item 1): publish-after-verify, retire-probed producers,
promote = compact -> prove -> publish -> retire, with the same
crash-window coverage as the token plane's test_promote_compaction_*
gates — a resolver racing the swap sees exactly one complete store at
every instant, a producer cannot append into a retired source, and a
crashed promotion never leaves a committed wrong store."""

import json
import os

import pytest
from pyspark.sql import functions as F

from streaming_parquet_spark.operators.catalog import (
    current_generation,
    current_payload_store,
    drop_generation,
    generation_path,
    is_retired,
    list_retired,
    next_generation,
    promote_payload_compaction,
    publish_payload_generation,
    retire_generation,
    sweep_generations,
)
from streaming_parquet_spark.operators.multimodal import (
    append_payload_store,
    mint_payload_refs,
    payload_ingest_stream,
    payload_set_content_fp,
    resolve_payload_refs,
    verify_payload_store,
    write_payload_store,
)

SPANS_T = (
    "win bigint, spans array<struct<start:int,end:int,"
    "modality:string,ref:string>>"
)


def _blobs(spark, lo, n):
    rows = [(bytes(f"blob-{lo + i}", "utf8"),) for i in range(n)]
    df = spark.createDataFrame(rows, "payload binary")
    return (
        mint_payload_refs(df)
        .dropDuplicates(["ref"])
        .select("ref", "payload")
    )


def _windows_over(spark, blobs, keep_every=1):
    """Packed-window stand-ins whose image spans reference every
    keep_every-th blob (hand-built spans — resolve/orphan only read
    start/end/modality/ref)."""
    refs = [r["ref"] for r in blobs.select("ref").collect()]
    kept = sorted(refs)[::keep_every]
    rows = [
        (i, [(0, 3, "text", None), (3, 7, "image", ref)])
        for i, ref in enumerate(kept)
    ]
    return spark.createDataFrame(rows, SPANS_T), set(kept)


def test_payload_catalog_swap_end_to_end(spark, tmp_path):
    """Full payload-generation lifecycle: bootstrap -> publish ->
    grow the current generation -> promote (orphans swept) with a
    PINNED resolver racing the swap -> retired source refuses
    producers while reads stay alive -> drop reclaims."""
    root = str(tmp_path / "pcat")

    with pytest.raises(ValueError, match="no committed generation"):
        current_payload_store(spark, root)

    gen1, p1 = next_generation(root)
    assert gen1 == 1 and p1 == generation_path(root, 1)
    write_payload_store(_blobs(spark, 0, 30), p1, n_shards=4)

    # data without a marker is invisible to resolvers
    with pytest.raises(ValueError, match="no committed generation"):
        current_payload_store(spark, root)

    doc = publish_payload_generation(spark, root, gen1)
    assert doc["plane"] == "payload" and doc["generation"] == 1
    assert doc["n_payloads"] == 30 and doc["n_refs"] == 30
    g, path, contract = current_payload_store(spark, root)
    assert g == 1 and path == p1 and int(contract["n_shards"]) == 4

    # the producer may still extend the CURRENT generation
    wave = append_payload_store(_blobs(spark, 100, 10), p1)
    assert sum(int(r["n_payloads"]) for r in wave.collect()) == 10

    # windows reference 20 of the 40 blobs -> promote sweeps the rest
    all_blobs = _blobs(spark, 0, 30).unionByName(_blobs(spark, 100, 10))
    windows, kept_refs = _windows_over(spark, all_blobs, keep_every=2)

    pinned_gen, pinned_path, _ = current_payload_store(spark, root)
    before = sorted(
        (r["ref"], bytes(r["payload"]))
        for r in resolve_payload_refs(
            windows, pinned_path, id_cols=("win",)
        ).collect()
    )

    new_gen, man = promote_payload_compaction(
        spark, root, windows, n_shards=2
    )
    assert new_gen == 2
    fp = payload_set_content_fp(man)
    assert fp["n_payloads"] == len(kept_refs) == 20

    # the pinned resolver keeps reading gen1's untouched data
    after_pinned = sorted(
        (r["ref"], bytes(r["payload"]))
        for r in resolve_payload_refs(
            windows, pinned_path, id_cols=("win",)
        ).collect()
    )
    assert after_pinned == before
    # a NEW resolver sees gen2 — same resolved payloads, orphans gone
    g2, p2, c2 = current_payload_store(spark, root)
    assert g2 == 2 and int(c2["n_shards"]) == 2
    after_new = sorted(
        (r["ref"], bytes(r["payload"]))
        for r in resolve_payload_refs(
            windows, p2, id_cols=("win",)
        ).collect()
    )
    assert after_new == before
    assert verify_payload_store(spark, p2).where("NOT ok").count() == 0

    # retired source refuses every producer verb, loudly and by name
    assert is_retired(p1)
    with pytest.raises(ValueError, match="RETIRED"):
        append_payload_store(_blobs(spark, 200, 3), p1)
    with pytest.raises(ValueError, match="RETIRED"):
        write_payload_store(_blobs(spark, 200, 3), p1, n_shards=4)

    # reclaim: drop gen1 after the grace window; the tombstone keeps
    # refusing producers even with the data gone
    drop_generation(root, 1)
    with pytest.raises(ValueError, match="RETIRED"):
        append_payload_store(_blobs(spark, 200, 3), p1)
    with pytest.raises(Exception):
        resolve_payload_refs(windows, p1, id_cols=("win",)).collect()


def test_payload_publish_refusals(spark, tmp_path):
    root = str(tmp_path / "pref")
    gen1, p1 = next_generation(root)

    # absent store refuses before any marker is written
    with pytest.raises(ValueError, match="manifest"):
        publish_payload_generation(spark, root, gen1)

    write_payload_store(_blobs(spark, 0, 8), p1, n_shards=2)
    publish_payload_generation(spark, root, gen1)
    # write-once
    with pytest.raises(ValueError, match="write-once"):
        publish_payload_generation(spark, root, gen1)

    # a tampered store refuses publish: new gen, flip one blob file
    gen2, p2 = next_generation(root)
    write_payload_store(_blobs(spark, 50, 8), p2, n_shards=2)
    victim = None
    for dirpath, _dirs, files in os.walk(p2):
        if "_manifest" in dirpath:
            continue
        for f in files:
            if f.endswith(".parquet"):
                victim = os.path.join(dirpath, f)
                break
        if victim:
            break
    os.unlink(victim)
    spark.catalog.refreshByPath(p2)
    with pytest.raises(ValueError, match="failing verification"):
        publish_payload_generation(spark, root, gen2)
    # nothing was committed: current is still gen1
    assert current_payload_store(spark, root)[0] == gen1

    # retired generation refuses republish (simulate an old marker-
    # less retire on the never-published gen2 path)
    from streaming_parquet_spark.operators.catalog import (
        RETIRED_MARKER,
        _store,
    )

    _store(None).put_if_absent(
        os.path.join(p2, RETIRED_MARKER), json.dumps({"g": gen2}) + "\n"
    )
    with pytest.raises(ValueError, match="RETIRED"):
        publish_payload_generation(spark, root, gen2)


def test_promote_payload_crash_windows(spark, tmp_path, monkeypatch):
    """A crash at every stage of the swap leaves the catalog sane:
    (a) compact dies -> data-only dir, old store stays current, next
    promotion allocates a FRESH number; (b) dst data tampered before
    publish's verify -> refused, nothing committed; (c) crash between
    publish and retire -> re-running retire completes the swap."""
    import streaming_parquet_spark.operators.multimodal as M

    root = str(tmp_path / "pcrash")
    gen1, p1 = next_generation(root)
    blobs = _blobs(spark, 0, 20)
    write_payload_store(blobs, p1, n_shards=3)
    publish_payload_generation(spark, root, gen1)
    windows, _kept = _windows_over(spark, blobs, keep_every=2)

    # (a) compaction crashes mid-write
    real_compact = M.compact_payload_store

    def dying_compact(*a, **kw):
        real_compact(*a, **kw)
        raise RuntimeError("simulated crash mid-compaction")

    monkeypatch.setattr(M, "compact_payload_store", dying_compact)
    with pytest.raises(RuntimeError, match="simulated crash"):
        promote_payload_compaction(spark, root, windows)
    monkeypatch.undo()
    assert current_payload_store(spark, root)[0] == gen1  # unswapped
    # the abandoned claim burns number 2; the next promotion gets 3
    new_gen, _man = promote_payload_compaction(spark, root, windows)
    assert new_gen == 3
    assert current_payload_store(spark, root)[0] == 3

    # (b) dst data corrupted between compact and publish: the sidecar
    # proof passes (fold matches) but publish's verify scan refuses,
    # and the catalog still points at the old store
    windows2 = _windows_over(spark, blobs, keep_every=4)[0]

    def tampering_compact(spark_, src, dst, win, spans_col="spans",
                          n_shards=None):
        man = real_compact(spark_, src, dst, win, spans_col,
                           n_shards=n_shards)
        for dirpath, _dirs, files in os.walk(dst):
            if "_manifest" in dirpath:
                continue
            for f in files:
                if f.endswith(".parquet"):
                    os.unlink(os.path.join(dirpath, f))
                    spark.catalog.refreshByPath(dst)
                    return man
        return man

    monkeypatch.setattr(M, "compact_payload_store", tampering_compact)
    with pytest.raises(ValueError, match="failing verification"):
        promote_payload_compaction(spark, root, windows2)
    monkeypatch.undo()
    assert current_payload_store(spark, root)[0] == 3
    assert not is_retired(generation_path(root, 3))

    # (c) crash between publish and retire: gen 5's marker landed but
    # gen 3 is not yet retired — re-run retire (idempotent), done
    import streaming_parquet_spark.operators.catalog as C

    real_retire = C.retire_generation
    monkeypatch.setattr(
        C, "retire_generation",
        lambda *a, **kw: (_ for _ in ()).throw(
            RuntimeError("simulated crash before retire")
        ),
    )
    with pytest.raises(RuntimeError, match="before retire"):
        promote_payload_compaction(spark, root, windows2)
    monkeypatch.undo()
    g_now, p_now, _ = current_payload_store(spark, root)
    assert g_now == 5 and not is_retired(generation_path(root, 3))
    real_retire(root, 3)
    assert is_retired(generation_path(root, 3))


def test_promote_payload_refuses_content_loss(spark, tmp_path,
                                              monkeypatch):
    """A compaction that loses a kept blob flips the sidecar-fold
    proof BEFORE publish: the successor stays unpublished and the
    source stays current (the committed-wrong-store window is
    closed)."""
    import streaming_parquet_spark.operators.multimodal as M

    root = str(tmp_path / "ploss")
    gen1, p1 = next_generation(root)
    blobs = _blobs(spark, 0, 16)
    write_payload_store(blobs, p1, n_shards=2)
    publish_payload_generation(spark, root, gen1)
    windows, kept = _windows_over(spark, blobs, keep_every=1)

    real_kept = M._kept_payloads
    calls = {"n": 0}

    def lossy_kept(spark_, src, win, spans_col):
        kept_df, contract = real_kept(spark_, src, win, spans_col)
        calls["n"] += 1
        if calls["n"] > 1:  # the pin sees all; the compact loses one
            kept_df = kept_df.limit(len(kept) - 1)
        return kept_df, contract

    monkeypatch.setattr(M, "_kept_payloads", lossy_kept)
    with pytest.raises(ValueError, match="does NOT carry"):
        promote_payload_compaction(spark, root, windows)
    monkeypatch.undo()
    assert current_payload_store(spark, root)[0] == gen1
    # the refused successor is unpublished and unretired — invisible
    assert current_generation(root)[0] == gen1


def test_promote_payload_refuses_empty_keep(spark, tmp_path):
    root = str(tmp_path / "pempty")
    gen1, p1 = next_generation(root)
    write_payload_store(_blobs(spark, 0, 6), p1, n_shards=2)
    publish_payload_generation(spark, root, gen1)
    foreign = _windows_over(spark, _blobs(spark, 500, 4))[0]
    with pytest.raises(ValueError, match="reference no blob"):
        promote_payload_compaction(spark, root, foreign)
    assert current_payload_store(spark, root)[0] == gen1


def test_payload_ingest_refuses_retired_store(spark, tmp_path):
    """The streaming producer hears retirement at run START — even a
    no-op resume against a retired generation is a misconfiguration."""
    root = str(tmp_path / "ping")
    gen1, p1 = next_generation(root)
    blobs = _blobs(spark, 0, 10)
    write_payload_store(blobs, p1, n_shards=2)
    publish_payload_generation(spark, root, gen1)
    windows = _windows_over(spark, blobs, keep_every=2)[0]
    promote_payload_compaction(spark, root, windows)

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    with pytest.raises(ValueError, match="RETIRED"):
        payload_ingest_stream(spark, src, p1, ck)


def test_cross_plane_refusals(spark, tmp_path):
    """A payload verb pointed at a token generation refuses by name,
    and vice versa — one catalog protocol, two planes, no silent
    cross-reads."""
    from streaming_parquet_spark.operators.catalog import (
        publish_generation,
        read_current_shards,
    )
    from streaming_parquet_spark.operators.pipeline import (
        pack_token_windows,
        write_token_shards,
    )

    # token root
    troot = str(tmp_path / "tok")
    vocab = spark.createDataFrame(
        [(i, f"p{i}") for i in range(16)], "id int, piece string"
    )
    docs = spark.createDataFrame(
        [(i, "w", [(i + j) % 9 + 2 for j in range(7)])
         for i in range(10)],
        "doc_id bigint, src string, toks array<int>",
    )
    g, p = next_generation(troot)
    write_token_shards(
        pack_token_windows(docs, "toks", 16, order_col="doc_id",
                           part_col="src"),
        p, vocab, budget=16, shard_col="src",
    )
    publish_generation(spark, troot, g, vocab_ids=vocab)
    with pytest.raises(ValueError, match="not a payload generation"):
        current_payload_store(spark, troot)
    # an unpublished token set refuses payload-publish at the format pin
    g_b, p_b = next_generation(troot)
    write_token_shards(
        pack_token_windows(docs, "toks", 16, order_col="doc_id",
                           part_col="src"),
        p_b, vocab, budget=16, shard_col="src",
    )
    with pytest.raises(ValueError, match="format"):
        publish_payload_generation(spark, troot, g_b)

    # payload root refuses the token reader at the contract pin
    proot = str(tmp_path / "pay")
    g2, p2 = next_generation(proot)
    write_payload_store(_blobs(spark, 0, 6), p2, n_shards=2)
    publish_payload_generation(spark, proot, g2)
    with pytest.raises(ValueError, match="format"):
        read_current_shards(spark, proot)


def test_payload_sweep_retention(spark, tmp_path):
    """sweep_generations is plane-agnostic: retired payload
    generations older than the grace window drop under the shared
    tombstone discipline."""
    root = str(tmp_path / "psweep")
    gen1, p1 = next_generation(root)
    blobs = _blobs(spark, 0, 12)
    write_payload_store(blobs, p1, n_shards=2)
    publish_payload_generation(spark, root, gen1)
    w1 = _windows_over(spark, blobs, keep_every=1)[0]
    g2, _ = promote_payload_compaction(spark, root, w1)
    g3, _ = promote_payload_compaction(spark, root, w1)
    assert list_retired(root) == [1, 2]
    out = sweep_generations(root, keep_last_n=2)
    assert out["dropped"] == [1] and out["kept_grace"] == [2]
    # dropped data is gone, the refusal stands
    with pytest.raises(ValueError, match="RETIRED"):
        append_payload_store(_blobs(spark, 50, 2), p1)
    # survivors still verify
    assert (
        verify_payload_store(spark, generation_path(root, g3))
        .where("NOT ok").count() == 0
    )


def test_payload_audit_classification(spark, tmp_path):
    """audit_generation dispatches on the marker's plane stamp and
    classifies payload generations exactly like token ones (r15
    review): ok=True attested, ok=None grown=True for legal
    post-publish waves (never misreported as tamper), ok=False with
    mismatches for real content loss, ok=None dropped=True after
    reclaim — and audit_catalog runs on a payload root unchanged."""
    from streaming_parquet_spark.operators.catalog import (
        audit_catalog,
        audit_generation,
    )

    root = str(tmp_path / "paudit")
    gen1, p1 = next_generation(root)
    blobs = _blobs(spark, 0, 12)
    write_payload_store(blobs, p1, n_shards=3)
    publish_payload_generation(spark, root, gen1)

    row = audit_generation(spark, root, gen1)
    assert row["plane"] == "payload"
    assert row["ok"] is True and row["fp_checked"] is True

    # legal growth: a post-publish wave -> ok=None grown, fp unchecked
    append_payload_store(_blobs(spark, 100, 4), p1)
    row = audit_generation(spark, root, gen1)
    assert row["ok"] is None and row["grown"] is True
    assert row["fp_checked"] is False
    assert row["recorded_totals"]["n_payloads"] == 12
    assert row["actual_totals"]["n_payloads"] == 16

    # real content loss IN A GROWN STORE: delete one blob file ->
    # ok=False (the verify-based scan catches loss even past the
    # publish floor — a totals-only check would call this benign
    # growth whenever fewer blobs were lost than appended)
    victim = None
    for dirpath, _dirs, files in os.walk(p1):
        if "_manifest" in dirpath:
            continue
        for f in files:
            if f.endswith(".parquet"):
                victim = os.path.join(dirpath, f)
                break
        if victim:
            break
    os.unlink(victim)
    spark.catalog.refreshByPath(p1)
    row = audit_generation(spark, root, gen1)
    assert row["ok"] is False
    assert "fail verification" in row["problem"]

    # promote a clean successor from a fresh store, then drop: the
    # reclaimed retired generation reports ok=None dropped=True
    root2 = str(tmp_path / "paudit2")
    g1, q1 = next_generation(root2)
    write_payload_store(blobs, q1, n_shards=2)
    publish_payload_generation(spark, root2, g1)
    windows, _ = _windows_over(spark, blobs, keep_every=2)
    promote_payload_compaction(spark, root2, windows)
    drop_generation(root2, g1)
    rows = audit_catalog(spark, root2)
    assert [r["generation"] for r in rows] == [1, 2]
    assert rows[0]["ok"] is None and rows[0]["dropped"] is True
    assert rows[1]["ok"] is True


def test_marker_store_retirement_probe(spark, tmp_path):
    """Producers probe retirement through the SAME marker plane the
    catalog writes (r15 review): a retirement recorded via an
    object-store backend is invisible to the default POSIX probe, so
    every producer verb takes marker_store= and refuses through it."""
    from streaming_parquet_spark.operators.catalog import (
        InMemoryObjectClient,
        ObjectMarkerStore,
        retire_generation,
    )
    from streaming_parquet_spark.operators.multimodal import (
        payload_ingest_stream,
    )
    from streaming_parquet_spark.operators.pipeline import (
        append_token_shards,
        pack_token_windows,
        write_token_shards,
    )

    mstore = ObjectMarkerStore(InMemoryObjectClient(), prefix="cat")
    root = str(tmp_path / "mcat")
    blobs = _blobs(spark, 0, 8)

    g1, p1 = next_generation(root, store=mstore)
    write_payload_store(blobs, p1, n_shards=2)
    publish_payload_generation(spark, root, g1, store=mstore)
    windows, _ = _windows_over(spark, blobs, keep_every=2)
    promote_payload_compaction(spark, root, windows, store=mstore)

    # default POSIX probe cannot see the object-store marker; the
    # injected probe refuses — producers must pass their catalog's
    # store
    append_payload_store(_blobs(spark, 50, 1), p1)  # invisible marker
    with pytest.raises(ValueError, match="RETIRED"):
        append_payload_store(
            _blobs(spark, 60, 1), p1, marker_store=mstore
        )
    with pytest.raises(ValueError, match="RETIRED"):
        write_payload_store(
            _blobs(spark, 60, 1), p1, n_shards=2, marker_store=mstore
        )
    with pytest.raises(ValueError, match="RETIRED"):
        payload_ingest_stream(
            spark, str(tmp_path / "nosrc"), p1,
            str(tmp_path / "nock"), marker_store=mstore,
        )

    # token plane: same seam on append_token_shards
    vocab = spark.createDataFrame(
        [(i, f"p{i}") for i in range(16)], "id int, piece string"
    )
    troot = str(tmp_path / "tcat")
    tg, tp = next_generation(troot, store=mstore)
    docs = spark.createDataFrame(
        [(i, "w", [(i + j) % 9 + 2 for j in range(7)])
         for i in range(8)],
        "doc_id bigint, src string, toks array<int>",
    )
    write_token_shards(
        pack_token_windows(docs, "toks", 16, order_col="doc_id",
                           part_col="src"),
        tp, vocab, budget=16, shard_col="src",
    )
    retire_marker_path = os.path.join(tp, "_retired")
    mstore.put_if_absent(retire_marker_path, "{}")
    wave = pack_token_windows(
        spark.createDataFrame(
            [(100 + i, "w2", [(i + j) % 9 + 2 for j in range(7)])
             for i in range(4)],
            "doc_id bigint, src string, toks array<int>",
        ),
        "toks", 16, order_col="doc_id", part_col="src",
    )
    with pytest.raises(ValueError, match="RETIRED"):
        append_token_shards(wave, tp, vocab, marker_store=mstore)


def test_torn_bootstrap_repair(spark, tmp_path, monkeypatch):
    """A bootstrap write that crashed between its data and sidecar
    legs no longer wedges the stream (r15 review): the replayed
    trigger digest-proves the on-disk data is ITS batch and appends
    only the missing sidecar — and foreign data under the store path
    still refuses."""
    import shutil

    import streaming_parquet_spark.operators.multimodal as M
    from streaming_parquet_spark.operators.multimodal import (
        payload_ingest_stream,
        read_payload_store,
        verify_payload_store,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(i, (b"tb-%d" % i) * 3) for i in range(9)],
        "i long, payload binary",
    ).coalesce(1).write.parquet(src)

    real_write = M.write_payload_store

    def dying_write(df, path, n_shards, ref_col="ref",
                    payload_col="payload", mode="error",
                    marker_store=None):
        # real data leg (via a scratch store), no sidecar, then crash
        scratch = str(tmp_path / "scratch")
        shutil.rmtree(scratch, ignore_errors=True)
        real_write(df, scratch, n_shards, ref_col, payload_col, mode)
        shutil.rmtree(os.path.join(scratch, "_manifest"))
        shutil.move(scratch, path)
        raise RuntimeError("simulated crash between data and sidecar")

    monkeypatch.setattr(M, "write_payload_store", dying_write)
    with pytest.raises(Exception, match="simulated crash"):
        payload_ingest_stream(spark, src, store, ckpt, n_shards=2)
    monkeypatch.undo()

    # the restart replays the trigger and REPAIRS the torn bootstrap
    r = payload_ingest_stream(spark, src, store, ckpt, n_shards=2)
    assert r.blobs_landed == 9
    assert verify_payload_store(spark, store).where("NOT ok").count() == 0
    assert read_payload_store(spark, store)[0].count() == 9

    # foreign data under the path refuses instead of papering over
    store2 = str(tmp_path / "store2")
    ck2 = str(tmp_path / "ck2")
    write_payload_store(_blobs(spark, 500, 4), store2, n_shards=2)
    shutil.rmtree(os.path.join(store2, "_manifest"))
    with pytest.raises(Exception, match="NOT this batch"):
        payload_ingest_stream(spark, src, store2, ck2, n_shards=2)


def test_promote_racing_producer_wave(spark, tmp_path, monkeypatch):
    """The promote swap's producer fences (r15 review pass 2): a wave
    landing during the compaction refuses BEFORE publish (successor
    stays unpublished, source stays current, wave safe); a wave
    landing between the publish and the retirement is RESCUED into
    the successor from the retired source — never silently destroyed
    at drop."""
    import streaming_parquet_spark.operators.catalog as C
    import streaming_parquet_spark.operators.multimodal as M
    from streaming_parquet_spark.operators.multimodal import (
        read_payload_store,
    )

    root = str(tmp_path / "prace")
    gen1, p1 = next_generation(root)
    blobs = _blobs(spark, 0, 12)
    write_payload_store(blobs, p1, n_shards=2)
    publish_payload_generation(spark, root, gen1)
    windows, _kept = _windows_over(spark, blobs, keep_every=2)

    # (a) wave lands mid-compaction -> pre-publish fence refuses
    real_compact = M.compact_payload_store

    def racing_compact(spark_, src, dst, win, spans_col="spans",
                       n_shards=None):
        man = real_compact(spark_, src, dst, win, spans_col,
                           n_shards=n_shards)
        append_payload_store(_blobs(spark, 300, 3), src)
        return man

    monkeypatch.setattr(M, "compact_payload_store", racing_compact)
    with pytest.raises(ValueError, match="wave landed"):
        promote_payload_compaction(spark, root, windows)
    monkeypatch.undo()
    assert current_payload_store(spark, root)[0] == gen1  # unswapped
    # the racing wave is safe in the still-current source
    assert read_payload_store(spark, p1)[0].count() == 15

    # (b) wave lands between publish and retire -> rescued into the
    # successor (windows reference 6 of the original 12; the rescue
    # adds the late wave's 2 blobs on top)
    real_retire = C.retire_generation
    late = _blobs(spark, 400, 2)
    late_refs = {r["ref"] for r in late.select("ref").collect()}

    def racing_retire(root_, gen_, store_=None):
        append_payload_store(late, generation_path(root_, gen_))
        return real_retire(root_, gen_, store_)

    monkeypatch.setattr(C, "retire_generation", racing_retire)
    new_gen, _man = promote_payload_compaction(spark, root, windows)
    monkeypatch.undo()
    _g, p_new, _c = current_payload_store(spark, root)
    store_df = read_payload_store(spark, p_new)[0]
    got_refs = {r["ref"] for r in store_df.select("ref").collect()}
    assert late_refs <= got_refs  # rescued
    assert store_df.count() == 6 + 2
    assert verify_payload_store(spark, p_new).where("NOT ok").count() == 0
    # the rescue grew the successor past its marker floor — the audit
    # classifies that as legal growth, not tamper
    from streaming_parquet_spark.operators.catalog import (
        audit_generation,
    )

    row = audit_generation(spark, root, new_gen)
    assert row["ok"] is None and row["grown"] is True


def test_payload_ingest_bootstrap_refusals_at_call_time(spark,
                                                        tmp_path):
    """Bootstrap misconfiguration refuses when the function is CALLED
    (r15 review pass 2) — deferring it into the first trigger made it
    a silent no-op on a drained checkpoint and an async query death
    in continuous mode."""
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ck")
    spark.createDataFrame(
        [(1, b"x" * 8)], "i long, payload binary"
    ).coalesce(1).write.parquet(src)

    # absent store + no n_shards: loud at call time, even though the
    # checkpoint (fresh here) would have produced a trigger
    with pytest.raises(ValueError, match="pass n_shards"):
        payload_ingest_stream(spark, src, store, ckpt)

    r = payload_ingest_stream(spark, src, store, ckpt, n_shards=2)
    assert r.blobs_landed == 1
    # drained checkpoint + disagreeing n_shards: still loud at call
    # time (no trigger will fire)
    with pytest.raises(ValueError, match="authoritative"):
        payload_ingest_stream(spark, src, store, ckpt, n_shards=7)

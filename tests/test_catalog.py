"""Versioned shard-set catalog (operators/catalog.py): the atomic
generation-swap layer above compact_token_shards.  The contract under
test: a reader racing a promotion sees exactly ONE complete generation
at every instant, publish never promotes an unverified set, retire
refuses producer appends while keeping reads alive, and drop is
double-guarded."""

import json
import os

import pytest
from pyspark.sql import functions as F

from streaming_parquet_spark.operators.catalog import (
    current_generation,
    drop_generation,
    generation_path,
    is_retired,
    next_generation,
    promote_compaction,
    publish_generation,
    read_current_shards,
    retire_generation,
)
from streaming_parquet_spark.operators.pipeline import (
    append_token_shards,
    pack_token_windows,
    read_token_shards,
    verify_token_shards,
    write_token_shards,
)


def _vocab(spark):
    return spark.createDataFrame(
        [(i, f"p{i}") for i in range(16)], "id int, piece string"
    )


def _wave(spark, lo, n, key):
    docs = spark.createDataFrame(
        [(lo + i, key, [(lo + i + j) % 9 + 2 for j in range(7)])
         for i in range(n)],
        "doc_id bigint, src string, toks array<int>",
    )
    return pack_token_windows(
        docs, "toks", 16, order_col="doc_id", part_col="src",
    )


def _payloads(df):
    return sorted(
        (tuple(r["ids"]), r["n_tokens"], tuple(r["doc_starts"]))
        for r in df.collect()
    )


def test_catalog_swap_end_to_end(spark, tmp_path):
    """The full generation lifecycle, with a simulated reader at
    every stage of the swap: allocate -> write -> publish -> promote
    (compact/verify/publish/retire) -> grace reads -> drop."""
    root = str(tmp_path / "cat")
    vocab = _vocab(spark)

    # no committed generation yet -> readers refuse loudly
    with pytest.raises(ValueError, match="no committed generation"):
        current_generation(root)

    gen1, p1 = next_generation(root)
    assert gen1 == 1 and p1 == generation_path(root, 1)
    write_token_shards(
        _wave(spark, 0, 10, "w0"), p1, vocab, budget=16, shard_col="src"
    )
    append_token_shards(_wave(spark, 100, 10, "w1"), p1, vocab)

    # DATA without a marker is invisible: a reader mid-bootstrap still
    # sees no generation
    with pytest.raises(ValueError, match="no committed generation"):
        current_generation(root)

    doc = publish_generation(spark, root, gen1, vocab_ids=vocab)
    assert doc["generation"] == 1 and doc["n_shards"] == 2
    assert doc["n_windows"] > 0 and doc["budget"] == 16
    got, contract, g = read_current_shards(spark, root, vocab_ids=vocab)
    assert g == 1
    before = _payloads(got)

    # the producer may still extend the CURRENT generation
    append_token_shards(_wave(spark, 200, 6, "w2"), p1, vocab)
    before = _payloads(read_current_shards(spark, root)[0])

    # ---- the swap.  A reader that resolved gen1 BEFORE promotion
    # keeps reading gen1's untouched data afterwards; a reader
    # resolving after sees gen2; at no instant is a half-written set
    # resolvable (publish happens only after verify, and the marker is
    # a single atomic file).
    pinned_gen, pinned_path = current_generation(root)
    new_gen, man = promote_compaction(
        spark, root, n_shards=2, vocab_ids=vocab
    )
    assert new_gen == 2
    assert current_generation(root)[0] == 2
    # new generation: same content, compacted shape, verified
    after, _, g2 = read_current_shards(spark, root, vocab_ids=vocab)
    assert g2 == 2 and _payloads(after) == before
    assert man.select("shard").distinct().count() <= 2
    # the pinned (old) reader still works through the grace window
    assert _payloads(read_token_shards(spark, pinned_path)[0]) == before
    assert is_retired(pinned_path)

    # producers refuse the retired generation — batch append AND the
    # streaming producer's per-trigger probe
    with pytest.raises(ValueError, match="RETIRED"):
        append_token_shards(_wave(spark, 300, 4, "w9"), p1, vocab)
    from streaming_parquet_spark.streaming.shards import (
        shard_ingest_stream,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src)

    def encode(batch):
        return batch.select(
            "doc_id",
            F.expr("transform(split(text, ' '), w -> crc32(w))").alias(
                "ids"
            ),
        )

    with pytest.raises(Exception, match="RETIRED"):
        shard_ingest_stream(
            spark, src, p1, str(tmp_path / "ck"), vocab, encode,
            budget=16,
        )

    # drop guards: current refuses, unretired refuses, retired drops
    with pytest.raises(ValueError, match="current generation"):
        drop_generation(root, 2)
    with pytest.raises(ValueError, match="current generation"):
        retire_generation(root, 2)
    drop_generation(root, 1)
    with pytest.raises(ValueError, match="no _manifest sidecar"):
        read_token_shards(spark, p1)
    # the retire marker survives the drop: a lost producer replaying
    # into the emptied path still refuses
    assert is_retired(p1)
    with pytest.raises(ValueError, match="RETIRED"):
        append_token_shards(_wave(spark, 300, 4, "w9"), p1, vocab)
    # and gen2 is untouched
    assert _payloads(read_current_shards(spark, root)[0]) == before


def test_publish_refusals_and_crash_windows(spark, tmp_path):
    """publish: unverified/tampered sets, double publish, foreign
    vocabulary, retired republish, unpublished retire — all refuse;
    an abandoned (crash mid-promotion) data-only generation stays
    invisible and its number is never reused."""
    import glob

    root = str(tmp_path / "cat")
    vocab = _vocab(spark)
    gen1, p1 = next_generation(root)
    write_token_shards(
        _wave(spark, 0, 8, "w0"), p1, vocab, budget=16, shard_col="src"
    )

    # foreign vocabulary refuses before any marker lands
    other = spark.createDataFrame([(0, "zz")], "id int, piece string")
    with pytest.raises(ValueError, match="DIFFERENT vocabulary"):
        publish_generation(spark, root, gen1, vocab_ids=other)

    # tamper a data file -> verify inside publish refuses
    victim = sorted(
        glob.glob(os.path.join(p1, "src=w0", "*.parquet"))
    )[0]
    blob = open(victim, "rb").read()
    stash = str(tmp_path / "stash.parquet")  # OUTSIDE the shard dir
    os.rename(victim, stash)
    try:
        # drop the shard's data entirely: observed side vanishes
        with pytest.raises(ValueError, match="failing verification"):
            publish_generation(spark, root, gen1)
    finally:
        os.rename(stash, victim)
    assert open(victim, "rb").read() == blob

    publish_generation(spark, root, gen1, vocab_ids=vocab)
    with pytest.raises(ValueError, match="write-once"):
        publish_generation(spark, root, gen1)
    with pytest.raises(ValueError, match="never published"):
        retire_generation(root, 2)
    with pytest.raises(ValueError, match="current generation"):
        drop_generation(root, 1)

    # crash mid-promotion: a data-only gen-2 directory (compacted but
    # never published).  Readers still resolve gen 1; the number 2 is
    # burned — the next allocation takes 3.
    from streaming_parquet_spark.operators.pipeline import (
        compact_token_shards,
    )

    g2, p2 = next_generation(root)
    assert g2 == 2
    compact_token_shards(spark, p1, p2, n_shards=1)
    assert current_generation(root) == (1, p1)
    assert next_generation(root)[0] == 3
    # finishing the interrupted promotion by hand also works
    publish_generation(spark, root, 2, vocab_ids=vocab)
    # committed-but-unretired generations refuse drop (readers may
    # still be pinned and no retire marker warned producers off)
    with pytest.raises(ValueError, match="not retired"):
        drop_generation(root, 1)
    retire_generation(root, 1)
    assert current_generation(root)[0] == 2
    # retire is idempotent
    retire_generation(root, 1)
    # marker content is the sidecar's totals
    marker = json.load(
        open(os.path.join(root, "_catalog", "commit-00000002.json"))
    )
    assert marker["generation"] == 2 and marker["n_shards"] == 1
    assert marker["n_windows"] == read_token_shards(spark, p2)[0].count()
    assert verify_token_shards(spark, p2).filter("NOT ok").count() == 0


def test_next_generation_reserves_exclusively(spark, tmp_path):
    """Two racing promoters must get DISTINCT generation numbers:
    allocation itself is the exclusive step (claim marker), not the
    publish marker — otherwise both compact into the same directory
    and the winner publishes mixed data."""
    root = str(tmp_path / "root")
    g_a, p_a = next_generation(root)
    g_b, p_b = next_generation(root)  # nothing written into p_a yet
    assert g_a != g_b and p_a != p_b
    # claims survive abandonment: numbers are never reused
    g_c, _ = next_generation(root)
    assert g_c == max(g_a, g_b) + 1
    # claim markers are invisible to the committed view
    with pytest.raises(ValueError, match="no committed"):
        current_generation(root)


def test_content_fingerprint_proves_compaction(spark, tmp_path, monkeypatch):
    """The identity-free content fingerprint (shard_set_content_fp)
    is invariant under compaction's renumbering, closes the XOR
    even-cancellation hole via content ranks, rides the commit
    marker, and makes promote_compaction REFUSE (before publishing)
    a compaction that lost a window."""
    import streaming_parquet_spark.operators.pipeline as P
    from streaming_parquet_spark.operators.pipeline import (
        compact_token_shards,
        pack_token_windows,
        read_token_shards,
        shard_set_content_fp,
        write_token_shards,
    )

    vocab = spark.createDataFrame(
        [(i, f"p{i}") for i in range(16)], "id int, piece string"
    )
    root = str(tmp_path / "root")
    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", [(i + j) % 9 + 2 for j in range(5)])
         for i in range(24)],
        "doc_id bigint, src string, toks array<int>",
    )
    gen1, p1 = next_generation(root)
    write_token_shards(
        pack_token_windows(
            docs, "toks", 16, order_col="doc_id", part_col="src"
        ),
        p1, vocab, budget=16, shard_col="src",
    )

    # invariance: src and its compaction fingerprint equal
    fp1 = shard_set_content_fp(spark, p1)
    plain = str(tmp_path / "plain_compact")
    compact_token_shards(spark, p1, plain, n_shards=2)
    assert shard_set_content_fp(spark, plain) == fp1

    # duplicate payloads must NOT cancel: [P, P, Q] vs [Q] — a plain
    # XOR of payload digests would be equal; the content rank breaks it
    schema = (
        "shard string, win bigint, ids array<bigint>, "
        "n_tokens bigint, doc_starts array<bigint>"
    )
    P_ids, Q_ids = [2, 3, 4, 0], [5, 6, 0, 0]
    x = spark.createDataFrame(
        [("s", 0, P_ids, 3, [0]), ("s", 1, P_ids, 3, [0]),
         ("s", 2, Q_ids, 2, [0])], schema,
    )
    y = spark.createDataFrame([("t", 0, Q_ids, 2, [0])], schema)
    px, py = str(tmp_path / "x"), str(tmp_path / "y")
    write_token_shards(x, px, vocab, budget=4)
    write_token_shards(y, py, vocab, budget=4)
    fx, fy = (shard_set_content_fp(spark, p) for p in (px, py))
    assert (fx["fp_a"], fx["fp_b"]) != (fy["fp_a"], fy["fp_b"])

    # publish records the fingerprint; promote proves preservation
    publish_generation(spark, root, gen1, vocab_ids=vocab)
    marker = json.load(
        open(os.path.join(root, "_catalog", f"commit-{gen1:08d}.json"))
    )
    assert marker["content_fp_a"] == fp1["fp_a"]
    assert marker["content_fp_b"] == fp1["fp_b"]
    gen2, _m = promote_compaction(spark, root, n_shards=2,
                                  vocab_ids=vocab)
    m2 = json.load(
        open(os.path.join(root, "_catalog", f"commit-{gen2:08d}.json"))
    )
    assert (m2["content_fp_a"], m2["content_fp_b"]) == (
        fp1["fp_a"], fp1["fp_b"],
    )

    # a content-corrupting compaction refuses BEFORE publish: build a
    # tampered source missing one window, route compact through it
    cur_gen, cur_path = current_generation(root)
    wins, _c = read_token_shards(spark, cur_path)
    sc, wc = _c["shard_col"], _c["win_col"]
    first = wins.orderBy(sc, wc).first()
    tampered = str(tmp_path / "tampered")
    write_token_shards(
        wins.where(
            ~((wins[sc] == first[sc]) & (wins[wc] == first[wc]))
        ),
        tampered, vocab, budget=16, shard_col=sc,
    )
    real_compact = P.compact_token_shards

    def lossy_compact(spark_, src_, dst_, **kw):
        return real_compact(spark_, tampered, dst_, **kw)

    monkeypatch.setattr(P, "compact_token_shards", lossy_compact)
    with pytest.raises(ValueError, match="does NOT carry"):
        promote_compaction(spark, root, n_shards=1, vocab_ids=vocab)
    monkeypatch.setattr(P, "compact_token_shards", real_compact)
    # nothing published, nothing retired: the catalog still serves gen2
    assert current_generation(root)[0] == cur_gen


def test_publish_rejects_foreign_content_fp(spark, tmp_path):
    """A caller-supplied content_fp lands in a WRITE-ONCE marker, so a
    fingerprint minted over a different set would make the audit trail
    lie forever (r11 advisory).  publish cross-checks the fp's
    window/token totals against the sidecar before writing the marker;
    a matching fp (the promote_compaction path) still publishes."""
    from streaming_parquet_spark.operators.pipeline import (
        shard_set_content_fp,
    )

    root = str(tmp_path / "cat")
    vocab = _vocab(spark)
    gen1, p1 = next_generation(root)
    write_token_shards(
        _wave(spark, 0, 8, "w0"), p1, vocab, budget=16, shard_col="src"
    )
    true_fp = shard_set_content_fp(spark, p1)

    # a fingerprint of a DIFFERENT (smaller) set refuses loudly and
    # leaves no marker behind
    foreign = dict(true_fp)
    foreign["n_windows"] = true_fp["n_windows"] + 1
    with pytest.raises(ValueError, match="different set"):
        publish_generation(spark, root, gen1, content_fp=foreign)
    assert not os.path.exists(
        os.path.join(root, "_catalog", f"commit-{gen1:08d}.json")
    )
    with pytest.raises(ValueError, match="no committed"):
        current_generation(root)

    # the honest fp (computed over this very path) publishes and is
    # recorded verbatim
    doc = publish_generation(spark, root, gen1, content_fp=true_fp)
    assert doc["content_fp_a"] == true_fp["fp_a"]
    assert current_generation(root)[0] == gen1


class _MemMarkerStore:
    """In-memory MarkerStore: the object-store stand-in the seam gate
    injects — put-if-absent over a dict, no filesystem, no
    directories.  If the protocol works here AND on POSIX, it uses
    only the three documented primitives."""

    def __init__(self):
        self.blobs: dict[str, str] = {}

    def _k(self, path):
        return os.path.normpath(path)

    def put_if_absent(self, path, text):
        k = self._k(path)
        if k in self.blobs:
            return False
        self.blobs[k] = text
        return True

    def exists(self, path):
        return self._k(path) in self.blobs

    def list(self, prefix):
        p = self._k(prefix) + os.sep
        return sorted(
            {k[len(p):].split(os.sep)[0]
             for k in self.blobs if k.startswith(p)}
        )

    def read(self, path):
        return self.blobs[self._k(path)]


@pytest.mark.parametrize("backend", ["mem", "object", "posix"])
def test_catalog_protocol_through_injected_store(
    spark, tmp_path, monkeypatch, backend
):
    """The swap protocol must run unchanged through EVERY MarkerStore
    backend — the parameterized contract suite (VERDICT r12 item 3):
    the raw-dict stand-in, the real ObjectMarkerStore over the
    compliant conditional-PUT fake client, and POSIX itself.
    DEFAULT_STORE is swapped for the whole process, so even the
    producers' retire probes follow — and on non-POSIX backends NO
    marker may touch the filesystem. Porting to a new store is
    adding one parametrize entry and running this test."""
    import glob

    import streaming_parquet_spark.operators.catalog as C
    from streaming_parquet_spark.operators.catalog import (
        list_retired,
        sweep_generations,
    )

    if backend == "mem":
        mem = _MemMarkerStore()
        marker_blobs = mem.blobs
    elif backend == "object":
        client = C.InMemoryObjectClient()
        mem = C.ObjectMarkerStore(client, prefix="contract-test")
        marker_blobs = client.blobs
    else:
        mem = C.PosixMarkerStore()
        marker_blobs = None
    monkeypatch.setattr(C, "DEFAULT_STORE", mem)

    root = str(tmp_path / "cat")
    vocab = _vocab(spark)

    # allocation races resolve through put_if_absent exclusivity
    g1, p1 = next_generation(root)
    g2, p2 = next_generation(root)
    assert (g1, g2) == (1, 2) and p1 != p2
    with pytest.raises(ValueError, match="no committed"):
        current_generation(root)

    write_token_shards(
        _wave(spark, 0, 10, "w0"), p1, vocab, budget=16, shard_col="src"
    )
    publish_generation(spark, root, g1, vocab_ids=vocab)
    with pytest.raises(ValueError, match="write-once"):
        publish_generation(spark, root, g1)
    assert current_generation(root)[0] == g1
    before = _payloads(read_current_shards(spark, root)[0])

    # the full swap through the seam; gen 2's claim was burned above,
    # so promotion lands on gen 3
    g3, _man = promote_compaction(spark, root, n_shards=1,
                                  vocab_ids=vocab)
    assert g3 == 3 and current_generation(root)[0] == g3
    assert _payloads(read_current_shards(spark, root)[0]) == before
    assert is_retired(p1) and list_retired(root) == [g1]

    # producers' probes follow the injected backend
    with pytest.raises(ValueError, match="RETIRED"):
        append_token_shards(_wave(spark, 300, 4, "w9"), p1, vocab)

    # retention through the seam: grace keeps gen1, then a narrower
    # sweep drops it (data plane deleted, marker plane intact)
    assert sweep_generations(root, keep_last_n=2)["kept_grace"] == [g1]
    assert _payloads(read_token_shards(spark, p1)[0]) == before
    swept = sweep_generations(root, keep_last_n=1)
    assert swept["dropped"] == [g1]
    with pytest.raises(ValueError, match="no _manifest sidecar"):
        read_token_shards(spark, p1)
    assert is_retired(p1)  # the marker outlives the drop

    # the audit verbs read markers through the same seam: dropped gen1
    # reports ok=None, the live current generation audits clean
    from streaming_parquet_spark.operators.catalog import audit_catalog

    audit = {a["generation"]: a for a in audit_catalog(spark, root)}
    assert audit[g1]["dropped"] and audit[g1]["ok"] is None
    assert audit[g3]["ok"] and audit[g3]["fp_checked"]

    # data parquet is on disk on every backend
    assert glob.glob(os.path.join(root, "gen-*", "_manifest", "*"))
    if backend == "posix":
        # POSIX is the in-tree layout: markers ARE files
        assert os.path.isdir(os.path.join(root, "_catalog"))
    else:
        # NOTHING on the marker plane hit the filesystem: no _catalog
        # directory, no _retired file — markers live in the store
        assert not os.path.exists(os.path.join(root, "_catalog"))
        assert not glob.glob(os.path.join(root, "**", "_retired"),
                             recursive=True)
        assert any(k.endswith(".json") for k in marker_blobs)


def test_object_client_conditional_put_is_atomic_and_exclusive():
    """The in-memory object client the contract suite injects must
    itself honor conditional-PUT semantics under a race: 16 threads
    hammering one key get exactly one True (the same bar the POSIX
    backend's hardlink primitive is held to)."""
    from concurrent.futures import ThreadPoolExecutor

    import streaming_parquet_spark.operators.catalog as C

    client = C.InMemoryObjectClient()
    with ThreadPoolExecutor(max_workers=16) as pool:
        wins = list(
            pool.map(
                lambda i: client.put_if_absent("k/marker", f"w{i}"),
                range(16),
            )
        )
    assert sum(wins) == 1
    assert client.get("k/marker") == f"w{wins.index(True)}"


def test_s3_object_client_adapts_boto_shape():
    """S3ObjectClient drives a boto3-SHAPED stub (this repo never
    imports boto3): conditional PUT maps IfNoneMatch to win/lose,
    head/list/get map through, and ObjectMarkerStore's directory
    emulation yields child names from the flat keys."""
    import io

    import streaming_parquet_spark.operators.catalog as C

    class _Err(Exception):
        def __init__(self, code):
            self.response = {"Error": {"Code": code}}

    class _StubBoto:
        def __init__(self):
            self.objects = {}

        def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
            assert IfNoneMatch == "*"
            if Key in self.objects:
                raise _Err("PreconditionFailed")
            self.objects[Key] = Body

        def head_object(self, Bucket, Key):
            if Key not in self.objects:
                raise _Err("404")

        def get_paginator(self, name):
            stub = self

            class _P:
                def paginate(self, Bucket, Prefix):
                    yield {
                        "Contents": [
                            {"Key": k}
                            for k in stub.objects
                            if k.startswith(Prefix)
                        ]
                    }

            return _P()

        def get_object(self, Bucket, Key):
            return {"Body": io.BytesIO(self.objects[Key])}

    store = C.ObjectMarkerStore(
        C.S3ObjectClient(_StubBoto(), "bkt"), prefix="cat"
    )
    assert store.put_if_absent("/data/root/_catalog/commit-1.json", "{}")
    assert not store.put_if_absent(
        "/data/root/_catalog/commit-1.json", "loser"
    )
    assert store.exists("/data/root/_catalog/commit-1.json")
    assert not store.exists("/data/root/_catalog/other.json")
    assert store.put_if_absent("/data/root/gen-00000001/_retired", "")
    assert store.list("/data/root") == ["_catalog", "gen-00000001"]
    assert store.list("/data/root/nothing") == []
    assert store.read("/data/root/_catalog/commit-1.json") == "{}"


def test_sweep_delete_prefix_hook(spark, tmp_path, monkeypatch):
    """Retention is one call on every backend: sweep_generations
    passes an injected data-plane delete through to drop_generation,
    which then performs NO direct filesystem deletion of its own —
    the hook owns reclaim (the object-store bulk-delete shape)."""
    import shutil

    import streaming_parquet_spark.operators.catalog as C
    from streaming_parquet_spark.operators.catalog import (
        sweep_generations,
    )

    mem = _MemMarkerStore()
    monkeypatch.setattr(C, "DEFAULT_STORE", mem)
    root = str(tmp_path / "cat")
    vocab = _vocab(spark)
    g1, p1 = next_generation(root)
    write_token_shards(
        _wave(spark, 0, 8, "w0"), p1, vocab, budget=16, shard_col="src"
    )
    publish_generation(spark, root, g1, vocab_ids=vocab)
    promote_compaction(spark, root, n_shards=1, vocab_ids=vocab)

    deleted = []

    def hook(path):
        deleted.append(path)
        shutil.rmtree(path, ignore_errors=True)

    # dry_run plans without calling the hook
    plan = sweep_generations(root, keep_last_n=1, dry_run=True,
                             delete_prefix=hook)
    assert plan["dropped"] == [g1] and deleted == []
    swept = sweep_generations(root, keep_last_n=1, delete_prefix=hook)
    assert swept["dropped"] == [g1]
    assert deleted == [p1]
    assert not os.path.exists(p1)
    # marker plane intact: still retired, still committed
    assert is_retired(p1)
    aud = {a["generation"]: a
           for a in C.audit_catalog(spark, root)}
    assert aud[g1]["dropped"] and aud[g1]["ok"] is None


def test_delete_prefix_reasserts_retire_marker(spark, tmp_path, monkeypatch):
    """A bulk delete_prefix hook that nukes the whole generation
    prefix (the object-store shape, where markers may share the data
    bucket) must not re-open the generation to producer replays:
    drop_generation re-asserts the retire marker through the store
    after the hook (review r13)."""
    import shutil

    import streaming_parquet_spark.operators.catalog as C

    mem = _MemMarkerStore()
    monkeypatch.setattr(C, "DEFAULT_STORE", mem)
    root = str(tmp_path / "cat")
    vocab = _vocab(spark)
    g1, p1 = next_generation(root)
    write_token_shards(
        _wave(spark, 0, 6, "w0"), p1, vocab, budget=16, shard_col="src"
    )
    publish_generation(spark, root, g1, vocab_ids=vocab)
    promote_compaction(spark, root, n_shards=1, vocab_ids=vocab)

    def nuke_everything(path):
        # simulate a prefix bulk delete that removes the marker too
        shutil.rmtree(path, ignore_errors=True)
        mem.blobs.pop(mem._k(os.path.join(path, "_retired")), None)

    drop_generation(root, g1, delete_prefix=nuke_everything)
    assert is_retired(p1)  # re-asserted: replays still refuse
    with pytest.raises(ValueError, match="RETIRED"):
        append_token_shards(_wave(spark, 300, 2, "w9"), p1, vocab)
    from streaming_parquet_spark.operators.catalog import (
        audit_generation,
    )

    gone = audit_generation(spark, root, g1)
    assert gone["dropped"] and gone["ok"] is None


def test_drop_crash_between_delete_and_reassert_keeps_refusal(
    spark, tmp_path, monkeypatch
):
    """The crash window ADVICE r13 named: the process dies AFTER the
    bulk prefix delete (which removed the in-prefix retire marker)
    but BEFORE the re-assert.  drop_generation now tombstones the
    retirement at ``_catalog/retired-N`` — outside the generation
    prefix, unreachable by the bulk delete — BEFORE deleting, so the
    refusal stands through the whole window and a retried drop is a
    no-op."""
    import shutil

    import streaming_parquet_spark.operators.catalog as C

    mem = _MemMarkerStore()
    monkeypatch.setattr(C, "DEFAULT_STORE", mem)
    root = str(tmp_path / "cat")
    vocab = _vocab(spark)
    g1, p1 = next_generation(root)
    write_token_shards(
        _wave(spark, 0, 6, "w0"), p1, vocab, budget=16, shard_col="src"
    )
    publish_generation(spark, root, g1, vocab_ids=vocab)
    promote_compaction(spark, root, n_shards=1, vocab_ids=vocab)

    def nuke_then_die(path):
        shutil.rmtree(path, ignore_errors=True)
        mem.blobs.pop(mem._k(os.path.join(path, "_retired")), None)
        raise RuntimeError("simulated crash mid-drop")

    with pytest.raises(RuntimeError, match="simulated crash"):
        drop_generation(root, g1, delete_prefix=nuke_then_die)
    # in-prefix marker is gone, yet the tombstone keeps the refusal up
    assert not mem.exists(os.path.join(p1, "_retired"))
    assert is_retired(p1)
    with pytest.raises(ValueError, match="RETIRED"):
        append_token_shards(_wave(spark, 300, 2, "w9"), p1, vocab)
    # the retried drop completes and re-asserts the in-prefix marker
    drop_generation(root, g1,
                    delete_prefix=lambda p: shutil.rmtree(p, True))
    assert mem.exists(os.path.join(p1, "_retired"))
    assert is_retired(p1)


def test_s3_client_retries_conditional_conflict():
    """409 ConditionalRequestConflict means BOTH racing PUTs may have
    failed (AWS documents it retryable) — the adapter must retry, not
    report a loss that would leave no marker at all (review r13)."""
    import io

    import streaming_parquet_spark.operators.catalog as C

    class _Err(Exception):
        def __init__(self, code):
            self.response = {"Error": {"Code": code}}

    class _FlakyBoto:
        """First two conditional PUTs conflict; the third succeeds."""

        def __init__(self):
            self.objects = {}
            self.attempts = 0

        def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
            self.attempts += 1
            if self.attempts <= 2:
                raise _Err("ConditionalRequestConflict")
            if Key in self.objects:
                raise _Err("PreconditionFailed")
            self.objects[Key] = Body

        def head_object(self, Bucket, Key):
            if Key not in self.objects:
                raise _Err("404")

        def get_object(self, Bucket, Key):
            return {"Body": io.BytesIO(self.objects[Key])}

    flaky = _FlakyBoto()
    client = C.S3ObjectClient(flaky, "bkt")
    assert client.put_if_absent("k", "v") is True
    assert flaky.attempts == 3
    # a second put genuinely loses (412), no retry storm
    assert client.put_if_absent("k", "w") is False

    class _AlwaysConflict(_FlakyBoto):
        def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
            raise _Err("ConditionalRequestConflict")

    undecidable = C.S3ObjectClient(_AlwaysConflict(), "bkt",
                                   put_retries=2)
    with pytest.raises(RuntimeError, match="cannot decide"):
        undecidable.put_if_absent("k2", "v")
    # ...but if the key turns out to exist, the race was simply lost
    winner = _AlwaysConflict()
    winner.objects["k3"] = b"x"
    assert C.S3ObjectClient(winner, "bkt",
                            put_retries=2).put_if_absent("k3", "v") is False


def test_marker_plane_free_of_direct_os(monkeypatch):
    """The protocol's marker logic must stay implementable on an
    object store: no direct filesystem calls outside PosixMarkerStore
    (drop_generation's DATA deletion is the documented data-plane
    exception — its guards still run through the store)."""
    import inspect

    import streaming_parquet_spark.operators.catalog as C

    protocol = [
        C._committed, C._claimed, C._existing_dirs, C.next_generation,
        C.publish_generation, C.current_generation,
        C.read_current_shards, C.retire_generation, C.is_retired,
        C.promote_compaction, C.list_retired, C.sweep_generations,
        C.read_mixture_current, C.audit_generation, C.audit_catalog,
    ]
    forbidden = (
        "os.listdir", "os.link", "os.makedirs", "os.fsync",
        "os.replace", "os.path.exists", "os.path.isdir", "open(",
    )
    for fn in protocol:
        src = inspect.getsource(fn)
        for tok in forbidden:
            assert tok not in src, f"{fn.__name__} uses {tok}"


def test_sweep_generations_policy(spark, tmp_path):
    """Retention e2e on the default (POSIX) backend: the sweep drops
    only retired generations past the grace window, refuses a
    nothing-protected policy, never touches the current generation,
    and reports (not drops) never-retired stragglers."""
    from streaming_parquet_spark.operators.catalog import (
        list_retired,
        sweep_generations,
    )

    root = str(tmp_path / "cat")
    vocab = _vocab(spark)

    with pytest.raises(ValueError, match="no committed"):
        sweep_generations(root)

    g1, p1 = next_generation(root)
    write_token_shards(
        _wave(spark, 0, 10, "w0"), p1, vocab, budget=16, shard_col="src"
    )
    publish_generation(spark, root, g1, vocab_ids=vocab)
    # two promotions: gens 2 and 3; 1 and 2 retired, 3 current
    g2, _ = promote_compaction(spark, root, n_shards=2, vocab_ids=vocab)
    g3, _ = promote_compaction(spark, root, n_shards=1, vocab_ids=vocab)
    assert list_retired(root) == [g1, g2]

    with pytest.raises(ValueError, match="keep_last_n"):
        sweep_generations(root, keep_last_n=0)

    # dry run decides, deletes nothing
    plan = sweep_generations(root, keep_last_n=2, dry_run=True)
    assert plan == {"dropped": [g1], "kept_grace": [g2],
                    "skipped_unretired": []}
    assert read_token_shards(spark, p1)[0].count() > 0

    # real sweep: gen1 dropped, gen2 kept by grace, gen3 untouched
    assert sweep_generations(root, keep_last_n=2)["dropped"] == [g1]
    with pytest.raises(ValueError, match="no _manifest sidecar"):
        read_token_shards(spark, p1)
    n3 = read_current_shards(spark, root)[0].count()
    assert n3 > 0

    # a never-retired old generation is reported, never dropped: make
    # one by publishing a fresh successor WITHOUT retiring gen3
    g4, p4 = next_generation(root)
    write_token_shards(
        _wave(spark, 500, 6, "w4"), p4, vocab, budget=16, shard_col="src"
    )
    publish_generation(spark, root, g4, vocab_ids=vocab)
    out = sweep_generations(root, keep_last_n=1)
    assert out["skipped_unretired"] == [g3]
    assert g3 not in out["dropped"] and g4 not in out["dropped"]
    assert read_token_shards(spark, generation_path(root, g3))[0].count() == n3
    # sweeping again is idempotent (already-dropped re-drop is a no-op)
    again = sweep_generations(root, keep_last_n=1, dry_run=True)
    assert again["dropped"] == [g1, g2]


def test_read_mixture_current_pins_survive_promotion(spark, tmp_path):
    """The catalog-aware mixture pin (VERDICT r11 item 5): resolving
    current generations happens ONCE and the pins travel with the
    trainer's checkpoint — a promotion landing mid-epoch must not
    change what a pinned reader resumes over, while a FRESH resolve
    picks up the new generation.  Foreign pins refuse."""
    from streaming_parquet_spark.operators.catalog import (
        read_mixture_current,
    )

    vocab = _vocab(spark)
    root_a = str(tmp_path / "web")
    root_b = str(tmp_path / "code")
    for root, lo in ((root_a, 0), (root_b, 1000)):
        g, p = next_generation(root)
        write_token_shards(
            _wave(spark, lo, 12, f"w{lo}"), p, vocab, budget=16,
            shard_col="src",
        )
        append_token_shards(_wave(spark, lo + 100, 8, f"x{lo}"), p, vocab)
        publish_generation(spark, root, g, vocab_ids=vocab)

    roots = {"web": root_a, "code": root_b}
    weights = {"web": 3, "code": 1}
    mixed, contract, pins = read_mixture_current(
        spark, roots, weights, vocab_ids=vocab
    )
    assert pins == {"web": 1, "code": 1}
    rows = sorted(
        (r["mix_key"], r["mix_source"], tuple(r["ids"]))
        for r in mixed.select("mix_key", "mix_source", "ids").collect()
    )
    cut = len(rows) // 3
    cursor = rows[cut - 1][0]  # last consumed mix_key
    expected_rest = rows[cut:]

    # mid-epoch, BOTH sets get promoted (compaction renumbers shards
    # and re-buckets windows — new generations are differently shaped)
    promote_compaction(spark, root_a, n_shards=1, vocab_ids=vocab)
    promote_compaction(spark, root_b, n_shards=1, vocab_ids=vocab)

    # the pinned resume is bit-identical to the pre-promotion plan
    resumed, _c, pins2 = read_mixture_current(
        spark, roots, weights, vocab_ids=vocab, pins=pins,
        cursor=cursor,
    )
    assert pins2 == pins
    got = sorted(
        (r["mix_key"], r["mix_source"], tuple(r["ids"]))
        for r in resumed.select("mix_key", "mix_source", "ids").collect()
    )
    assert got == expected_rest

    # a fresh resolve sees the NEW generations (and the same content —
    # promotion proved preservation — under a different bucketing)
    fresh, _c2, pins3 = read_mixture_current(
        spark, roots, weights, vocab_ids=vocab
    )
    assert pins3 == {"web": 2, "code": 2}
    assert sorted(
        (r["mix_source"], tuple(r["ids"]))
        for r in fresh.select("mix_source", "ids").collect()
    ) == sorted((s, i) for _k, s, i in rows)

    # foreign pins refuse: never-published and name-drift both
    with pytest.raises(ValueError, match="not a committed generation"):
        read_mixture_current(spark, roots, weights,
                             pins={"web": 9, "code": 1})
    with pytest.raises(ValueError, match="same names"):
        read_mixture_current(spark, roots, weights,
                             pins={"web": 1, "books": 1})

    # rank-sliced under the SAME pins: union over ranks = the pinned
    # mixture exactly once (the launcher resolves pins once, every
    # rank slices an identical universe)
    union = []
    for r in range(3):
        part, _c, pr = read_mixture_current(
            spark, roots, weights, vocab_ids=vocab, pins=pins,
            rank=r, world_size=3,
        )
        assert pr == pins
        union.extend(
            (x["mix_source"], tuple(x["ids"]))
            for x in part.select("mix_source", "ids").collect()
        )
    assert sorted(union) == sorted((s, i) for _k, s, i in rows)
    with pytest.raises(ValueError, match="together"):
        read_mixture_current(spark, roots, weights, rank=0)

    # the single-set analogue carries the same pinning discipline:
    # gen= pins across the promotion, rank= slices it, foreign pins
    # and rank-only parameters refuse
    pinned_ids = sorted(
        tuple(r["ids"])
        for r in read_current_shards(spark, root_a, vocab, gen=1)[0]
        .select("ids").collect()
    )
    assert read_current_shards(spark, root_a)[2] == 2  # fresh = new gen
    sliced = []
    for r in range(3):
        part, _c, g = read_current_shards(
            spark, root_a, vocab, gen=1, rank=r, world_size=3
        )
        assert g == 1
        sliced.extend(tuple(x["ids"]) for x in part.select("ids").collect())
    assert sorted(sliced) == pinned_ids
    with pytest.raises(ValueError, match="not a committed"):
        read_current_shards(spark, root_a, gen=9)
    with pytest.raises(ValueError, match="rank-read parameters"):
        read_current_shards(spark, root_a, cursor=5)


def test_audit_generation_detects_tamper_and_loss(spark, tmp_path):
    """The audit the content-addressable markers exist for: a clean
    generation audits ok (fingerprint checked against a FRESH scan),
    losing a data file flips ok=False with the disagreeing fields
    named, a dropped generation reports ok=None, and data vanishing
    under a committed-but-UNRETIRED generation is an incident, not a
    skip."""
    import glob

    from streaming_parquet_spark.operators.catalog import (
        audit_catalog,
        audit_generation,
    )

    root = str(tmp_path / "cat")
    vocab = _vocab(spark)
    g1, p1 = next_generation(root)
    write_token_shards(
        _wave(spark, 0, 10, "w0"), p1, vocab, budget=16, shard_col="src"
    )
    append_token_shards(_wave(spark, 100, 8, "w1"), p1, vocab)
    publish_generation(spark, root, g1, vocab_ids=vocab)
    # two compact shards so the tamper below removes one file while
    # the rest of the set stays scannable (total loss is the root2 leg)
    g2, _ = promote_compaction(spark, root, n_shards=2, vocab_ids=vocab)

    # clean catalog: both generations audit ok, fingerprints checked
    rows = {a["generation"]: a for a in audit_catalog(spark, root)}
    assert rows[g1]["ok"] and rows[g1]["retired"]
    assert rows[g2]["ok"] and rows[g2]["fp_checked"]
    with pytest.raises(ValueError, match="never published"):
        audit_generation(spark, root, 99)

    # tamper: remove one data file from the CURRENT generation — the
    # fresh scan sees fewer windows, the recorded fp/totals disagree
    victim = sorted(
        glob.glob(os.path.join(generation_path(root, g2),
                               "src=*", "*.parquet"))
    )[0]
    stash = str(tmp_path / "stash.parquet")
    os.rename(victim, stash)
    try:
        bad = audit_generation(spark, root, g2)
        assert bad["ok"] is False
        assert "content_fp_a" in bad["mismatches"]
        assert "n_windows" in bad["mismatches"]
        rec, act = bad["mismatches"]["n_windows"]
        assert act < rec
    finally:
        os.rename(stash, victim)
    assert audit_generation(spark, root, g2)["ok"]

    # markers predating the content-fp field: audit falls back to
    # totals+contract (fp_checked=False) and still catches a totals
    # drift.  (Write-once applies to the protocol; the test edits the
    # file to SIMULATE a pre-fp-era marker.)
    mpath = os.path.join(root, "_catalog", f"commit-{g2:08d}.json")
    with open(mpath) as f:
        recorded = json.load(f)
    legacy = {k: v for k, v in recorded.items()
              if not k.startswith("content_fp_")}
    with open(mpath, "w") as f:
        json.dump(legacy, f)
    aud = audit_generation(spark, root, g2)
    assert aud["ok"] and aud["fp_checked"] is False
    legacy["n_tokens"] = int(legacy["n_tokens"]) + 1
    with open(mpath, "w") as f:
        json.dump(legacy, f)
    aud = audit_generation(spark, root, g2)
    assert aud["ok"] is False and "n_tokens" in aud["mismatches"]
    with open(mpath, "w") as f:
        json.dump(recorded, f)
    assert audit_generation(spark, root, g2)["ok"]

    # a published UNRETIRED generation may legally receive appends
    # (only retire blocks producers): the frozen marker cannot attest
    # the grown set — audit reports ok=None + grown=True with both
    # total sets, never a false storage incident
    append_token_shards(
        _wave(spark, 500, 4, "w9"), generation_path(root, g2), vocab
    )
    grown = audit_generation(spark, root, g2)
    assert grown["ok"] is None and grown["grown"]
    assert (
        grown["actual_totals"]["n_windows"]
        > grown["recorded_totals"]["n_windows"]
    )

    # dropped: nothing to audit, by design
    drop_generation(root, g1)
    gone = audit_generation(spark, root, g1)
    assert gone["dropped"] and gone["ok"] is None

    # a committed, UNRETIRED generation whose data vanished is an
    # integrity incident: build one on a separate root
    root2 = str(tmp_path / "cat2")
    h1, q1 = next_generation(root2)
    write_token_shards(
        _wave(spark, 0, 6, "w0"), q1, vocab, budget=16, shard_col="src"
    )
    publish_generation(spark, root2, h1, vocab_ids=vocab)
    import shutil

    shutil.rmtree(q1)
    incident = audit_generation(spark, root2, h1)
    assert incident["ok"] is False and "UNRETIRED" in incident["problem"]


def test_audit_retired_with_corrupt_sidecar_is_incident(spark, tmp_path):
    """A RETIRED-but-unswept generation sits in a read-grace window —
    pinned readers still resolve it — so a truncated/corrupted sidecar
    there is a storage incident (ok=False + problem), NOT a benign
    drop. Only ABSENT data (the retention sweep's end state) reports
    dropped (ADVICE r12: any ValueError used to be classed dropped)."""
    import shutil

    from streaming_parquet_spark.operators.catalog import audit_generation

    root = str(tmp_path / "cat")
    vocab = _vocab(spark)
    g1, p1 = next_generation(root)
    write_token_shards(
        _wave(spark, 0, 8, "w0"), p1, vocab, budget=16, shard_col="src"
    )
    publish_generation(spark, root, g1, vocab_ids=vocab)
    promote_compaction(spark, root, n_shards=1, vocab_ids=vocab)
    assert audit_generation(spark, root, g1)["retired"]

    # truncate the sidecar: directory present, manifest unreadable
    mdir = os.path.join(p1, "_manifest")
    stash = str(tmp_path / "manifest_stash")
    shutil.move(mdir, stash)
    os.makedirs(mdir)
    try:
        aud = audit_generation(spark, root, g1)
        assert aud["ok"] is False
        assert aud["dropped"] is False
        assert "sidecar present but unreadable" in aud["problem"]
    finally:
        shutil.rmtree(mdir)
        shutil.move(stash, mdir)
    # intact again: retired generations audit clean
    assert audit_generation(spark, root, g1)["ok"]
    # reclaimed through the protocol verb (which preserves the
    # _retired marker): the benign drop it always was
    drop_generation(root, g1)
    gone = audit_generation(spark, root, g1)
    assert gone["dropped"] and gone["ok"] is None


def test_publish_rejects_partial_content_fp(spark, tmp_path):
    """A caller-supplied content_fp missing its totals refuses with
    the explanatory error, not a KeyError (ADVICE r12)."""
    root = str(tmp_path / "cat")
    vocab = _vocab(spark)
    g1, p1 = next_generation(root)
    write_token_shards(
        _wave(spark, 0, 6, "w0"), p1, vocab, budget=16, shard_col="src"
    )
    with pytest.raises(ValueError, match="missing.*n_windows"):
        publish_generation(
            spark, root, g1, vocab_ids=vocab,
            content_fp={"fp_a": 1, "fp_b": 2},
        )
    # the refusal left no marker: a full publish still works
    publish_generation(spark, root, g1, vocab_ids=vocab)


def test_put_if_absent_thread_safe_and_umask_perms(tmp_path):
    """The POSIX put-if-absent primitive under an in-process race:
    16 threads hammering ONE marker path get exactly one winner, no
    crash (a pid-derived tmp name would truncate a sibling's inode
    and die with ENOENT), no tmp debris, and the winning marker keeps
    umask-default permissions (the audit verbs — possibly another
    uid — read markers; mkstemp's 0600 would have broken them)."""
    import stat
    import threading

    from streaming_parquet_spark.operators.catalog import (
        PosixMarkerStore,
    )

    store = PosixMarkerStore()
    target = str(tmp_path / "m")
    results, errors = [], []

    def race(i):
        try:
            results.append(store.put_if_absent(target, f"x{i}"))
        except Exception as exc:  # noqa: BLE001 - the test's subject
            errors.append(exc)

    threads = [
        threading.Thread(target=race, args=(i,)) for i in range(16)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert sum(results) == 1 and len(results) == 16
    mode = stat.S_IMODE(os.stat(target).st_mode)
    assert mode & 0o044, oct(mode)  # group/other readable
    assert not [f for f in os.listdir(tmp_path) if ".tmp." in f]


# --- S3ObjectClient conformance against the REAL botocore surface -----
# (VERDICT r13 item 7). moto is not installed here; botocore's Stubber
# is the recorded-wire-shape alternative: a genuine boto3 S3 client
# whose responses/errors are scripted, so parameter serialization
# (IfNoneMatch on put_object), ClientError construction, the
# PreconditionFailed / ConditionalRequestConflict / 404 code shapes,
# and pagination all exercise the real botocore code paths instead of
# hand-built exception fakes.


def _stubbed_s3():
    botocore = pytest.importorskip("botocore")
    boto3 = pytest.importorskip("boto3")
    from botocore.stub import Stubber

    c = boto3.client(
        "s3", region_name="us-east-1",
        aws_access_key_id="testing", aws_secret_access_key="testing",
    )
    return c, Stubber(c)


def test_s3_conformance_put_if_absent_wire_shapes():
    from streaming_parquet_spark.operators.catalog import S3ObjectClient

    c, stub = _stubbed_s3()
    cli = S3ObjectClient(c, "bkt", put_retries=3)
    want = {
        "Bucket": "bkt", "Key": "k/marker", "Body": b"payload\n",
        "IfNoneMatch": "*",
    }
    # fresh key: one conditional PUT, serialized with IfNoneMatch
    stub.add_response("put_object", {"ETag": '"e1"'}, want)
    # existing key: real 412 ClientError with the documented code
    stub.add_client_error(
        "put_object", service_error_code="PreconditionFailed",
        service_message="At least one of the pre-conditions you "
        "specified did not hold",
        http_status_code=412, expected_params=want,
    )
    # in-flight collision: two real 409s, then success on the retry
    for _ in range(2):
        stub.add_client_error(
            "put_object",
            service_error_code="ConditionalRequestConflict",
            service_message="A conflicting conditional operation is "
            "currently in progress against this resource.",
            http_status_code=409, expected_params=want,
        )
    stub.add_response("put_object", {"ETag": '"e2"'}, want)
    with stub:
        assert cli.put_if_absent("k/marker", "payload\n") is True
        assert cli.put_if_absent("k/marker", "payload\n") is False
        assert cli.put_if_absent("k/marker", "payload\n") is True
        stub.assert_no_pending_responses()


def test_s3_conformance_conflict_exhaustion_arbitrates_via_exists():
    from streaming_parquet_spark.operators.catalog import S3ObjectClient

    c, stub = _stubbed_s3()
    cli = S3ObjectClient(c, "bkt", put_retries=2)
    want = {
        "Bucket": "bkt", "Key": "k", "Body": b"x", "IfNoneMatch": "*",
    }
    # exhaust retries, then the key EXISTS: the racer that won wrote
    # it — report a clean loss
    for _ in range(2):
        stub.add_client_error(
            "put_object",
            service_error_code="ConditionalRequestConflict",
            http_status_code=409, expected_params=want,
        )
    stub.add_response(
        "head_object", {"ContentLength": 1},
        {"Bucket": "bkt", "Key": "k"},
    )
    # exhaust again, key still ABSENT (head_object's real 404 shape):
    # the outcome is unknowable — raise
    for _ in range(2):
        stub.add_client_error(
            "put_object",
            service_error_code="ConditionalRequestConflict",
            http_status_code=409, expected_params=want,
        )
    stub.add_client_error(
        "head_object", service_error_code="404",
        service_message="Not Found", http_status_code=404,
        expected_params={"Bucket": "bkt", "Key": "k"},
    )
    with stub:
        assert cli.put_if_absent("k", "x") is False
        with pytest.raises(RuntimeError, match="cannot decide"):
            cli.put_if_absent("k", "x")
        stub.assert_no_pending_responses()


def test_s3_conformance_exists_get_and_pagination():
    from streaming_parquet_spark.operators.catalog import S3ObjectClient

    c, stub = _stubbed_s3()
    cli = S3ObjectClient(c, "bkt")
    stub.add_response(
        "head_object", {"ContentLength": 3},
        {"Bucket": "bkt", "Key": "yes"},
    )
    stub.add_client_error(
        "head_object", service_error_code="404",
        service_message="Not Found", http_status_code=404,
        expected_params={"Bucket": "bkt", "Key": "no"},
    )
    # an auth failure must RAISE, never read as absence
    stub.add_client_error(
        "head_object", service_error_code="403",
        service_message="Forbidden", http_status_code=403,
        expected_params={"Bucket": "bkt", "Key": "denied"},
    )
    # get: real StreamingBody read path
    import io

    from botocore.response import StreamingBody

    stub.add_response(
        "get_object",
        {"Body": StreamingBody(io.BytesIO(b"hello\n"), 6)},
        {"Bucket": "bkt", "Key": "blob"},
    )
    # pagination: two real list_objects_v2 pages via the paginator
    stub.add_response(
        "list_objects_v2",
        {"IsTruncated": True, "NextContinuationToken": "tok",
         "Contents": [{"Key": "p/a"}, {"Key": "p/b"}]},
        {"Bucket": "bkt", "Prefix": "p/"},
    )
    stub.add_response(
        "list_objects_v2",
        {"IsTruncated": False, "Contents": [{"Key": "p/c"}]},
        {"Bucket": "bkt", "Prefix": "p/", "ContinuationToken": "tok"},
    )
    with stub:
        assert cli.exists("yes") is True
        assert cli.exists("no") is False
        with pytest.raises(Exception) as exc:
            cli.exists("denied")
        assert "403" in str(exc.value) or "Forbidden" in str(exc.value)
        assert cli.get("blob") == "hello\n"
        assert cli.list_keys("p/") == ["p/a", "p/b", "p/c"]
        stub.assert_no_pending_responses()


# --- One generation protocol, two planes -------------------------------


def _plane_kit(spark, plane):
    """The per-plane verbs the shared-protocol test drives: bootstrap
    write, producer wave (distinct content per wave key), publish,
    promote, the compaction seam, and verify's failing-shard count."""
    import streaming_parquet_spark.operators.multimodal as M
    import streaming_parquet_spark.operators.pipeline as P
    from streaming_parquet_spark.operators.catalog import (
        promote_payload_compaction,
        publish_payload_generation,
    )
    from streaming_parquet_spark.operators.multimodal import (
        append_payload_store,
        verify_payload_store,
        write_payload_store,
    )
    from test_payload_catalog import _blobs, _windows_over

    lo = {"raced": 300, "late": 400, "grow": 500}
    if plane == "token":
        vocab = _vocab(spark)
        return dict(
            write=lambda path: write_token_shards(
                _wave(spark, 0, 8, "w0"), path, vocab, budget=16,
                shard_col="src",
            ),
            wave=lambda path, key, n=4: append_token_shards(
                _wave(spark, lo[key], n, key), path, vocab
            ),
            publish=lambda root, g: publish_generation(
                spark, root, g, vocab_ids=vocab
            ),
            promote=lambda root: promote_compaction(
                spark, root, n_shards=1, vocab_ids=vocab
            ),
            seam=(P, "compact_token_shards"),
            failing=lambda path: verify_token_shards(spark, path)
            .where("NOT ok").count(),
            original_shard="src=w0",
        )
    # the windows reference the bootstrap blobs AND the raced wave's,
    # so a successor keeps everything the source holds at promotion
    windows, _ = _windows_over(
        spark, _blobs(spark, 0, 8).unionByName(_blobs(spark, lo["raced"], 4))
    )
    return dict(
        write=lambda path: write_payload_store(
            _blobs(spark, 0, 8), path, n_shards=2
        ),
        wave=lambda path, key, n=4: append_payload_store(
            _blobs(spark, lo[key], n), path
        ),
        publish=lambda root, g: publish_payload_generation(spark, root, g),
        promote=lambda root: promote_payload_compaction(
            spark, root, windows
        ),
        seam=(M, "compact_payload_store"),
        failing=lambda path: verify_payload_store(spark, path)
        .where("NOT ok").count(),
        original_shard="shard=0",
    )


@pytest.mark.parametrize("plane", ["token", "payload"])
def test_planes_share_the_protocol(spark, tmp_path, monkeypatch, plane):
    """Both planes run one publish/promote/audit protocol, so both get
    the same producer fences and the same audit: a wave landing
    mid-compaction refuses BEFORE publish; a wave landing between
    publish and retire is rescued into the successor (never destroyed
    at drop); a generation that grew and then lost a shard audits
    ok=False (verify runs before the marker comparison)."""
    import shutil

    import streaming_parquet_spark.operators.catalog as C
    from streaming_parquet_spark.operators.catalog import audit_generation

    kit = _plane_kit(spark, plane)

    def count(path):
        spark.catalog.refreshByPath(path)
        return spark.read.parquet(path).count()

    root = str(tmp_path / "cat")
    g1, p1 = next_generation(root)
    kit["write"](p1)
    kit["publish"](root, g1)

    # (a) a wave lands after the compaction, before the publish
    module, name = kit["seam"]
    real_compact = getattr(module, name)

    def racing_compact(spark_, src, dst, *a, **kw):
        man = real_compact(spark_, src, dst, *a, **kw)
        kit["wave"](src, "raced")
        return man

    n0 = count(p1)
    monkeypatch.setattr(module, name, racing_compact)
    with pytest.raises(ValueError, match="wave landed"):
        kit["promote"](root)
    monkeypatch.undo()
    assert current_generation(root)[0] == g1  # unswapped
    assert count(p1) > n0  # the raced wave is safe in the source

    # (b) a wave lands between the publish and the retirement
    real_retire = C.retire_generation

    def racing_retire(root_, gen_, store_=None):
        kit["wave"](generation_path(root_, gen_), "late")
        return real_retire(root_, gen_, store_)

    monkeypatch.setattr(C, "retire_generation", racing_retire)
    g2, _man = kit["promote"](root)
    monkeypatch.undo()
    p2 = generation_path(root, g2)
    assert current_generation(root)[0] == g2 and is_retired(p1)
    assert count(p2) == count(p1)  # the late wave was rescued
    assert kit["failing"](p2) == 0
    row = audit_generation(spark, root, g2)
    assert row["ok"] is None and row["grown"] is True

    # (c) grown past the publish floor, then one original shard lost
    root3 = str(tmp_path / "cat3")
    h1, q1 = next_generation(root3)
    kit["write"](q1)
    kit["publish"](root3, h1)
    kit["wave"](q1, "grow", 20)
    shutil.rmtree(os.path.join(q1, kit["original_shard"]))
    spark.catalog.refreshByPath(q1)
    assert kit["failing"](q1) == 1
    row = audit_generation(spark, root3, h1)
    assert row["ok"] is False and "fail verification" in row["problem"]


def test_token_rescue_refuses_key_clash(spark, tmp_path, monkeypatch):
    """A stranded wave whose shard key the successor already uses is
    not merged into it (two writes under one key): the promote raises,
    the wave stays in the retired source and the successor verifies."""
    import streaming_parquet_spark.operators.catalog as C

    root = str(tmp_path / "cat")
    vocab = _vocab(spark)
    g1, p1 = next_generation(root)
    write_token_shards(
        _wave(spark, 0, 8, "w0"), p1, vocab, budget=16, shard_col="src"
    )
    publish_generation(spark, root, g1, vocab_ids=vocab)
    real_retire = C.retire_generation

    def racing_retire(root_, gen_, store_=None):
        append_token_shards(
            _wave(spark, 400, 4, "compact-0000"),
            generation_path(root_, gen_), vocab,
        )
        return real_retire(root_, gen_, store_)

    monkeypatch.setattr(C, "retire_generation", racing_retire)
    with pytest.raises(ValueError, match="share keys"):
        promote_compaction(spark, root, n_shards=1, vocab_ids=vocab)
    monkeypatch.undo()
    g2, p2 = current_generation(root)
    assert g2 > g1 and is_retired(p1)
    assert os.path.isdir(os.path.join(p1, "src=compact-0000"))
    assert verify_token_shards(spark, p2).where("NOT ok").count() == 0


def test_token_markers_without_plane_stay_token(spark, tmp_path):
    """Token markers written before markers carried a ``plane`` field
    still publish-refuse, audit (tamper -> ok=False with mismatches)
    and resolve as token; payload verbs still refuse a token root."""
    import glob

    from streaming_parquet_spark.operators.catalog import (
        audit_generation,
        current_payload_store,
        publish_payload_generation,
    )

    root = str(tmp_path / "cat")
    vocab = _vocab(spark)
    g1, p1 = next_generation(root)
    write_token_shards(
        _wave(spark, 0, 8, "w0"), p1, vocab, budget=16, shard_col="src"
    )
    append_token_shards(_wave(spark, 100, 8, "w1"), p1, vocab)
    doc = publish_generation(spark, root, g1, vocab_ids=vocab)
    assert doc["plane"] == "token"
    mpath = os.path.join(root, "_catalog", f"commit-{g1:08d}.json")
    legacy = {k: v for k, v in doc.items() if k != "plane"}
    with open(mpath, "w") as f:
        json.dump(legacy, f)

    with pytest.raises(ValueError, match="write-once"):
        publish_generation(spark, root, g1)
    got, _contract, g = read_current_shards(spark, root, vocab_ids=vocab)
    assert g == g1 and got.count() == legacy["n_windows"]
    with pytest.raises(ValueError, match="not a payload generation"):
        current_payload_store(spark, root)
    g2, p2 = next_generation(root)
    write_token_shards(
        _wave(spark, 0, 8, "w0"), p2, vocab, budget=16, shard_col="src"
    )
    with pytest.raises(ValueError, match="format"):
        publish_payload_generation(spark, root, g2)

    clean = audit_generation(spark, root, g1)
    assert clean["ok"] is True and clean["fp_checked"] is True
    victim = sorted(glob.glob(os.path.join(p1, "src=w1", "*.parquet")))[0]
    stash = str(tmp_path / "stash.parquet")
    os.rename(victim, stash)
    try:
        spark.catalog.refreshByPath(p1)
        bad = audit_generation(spark, root, g1)
        assert bad["ok"] is False
        assert {"content_fp_a", "n_windows"} <= set(bad["mismatches"])
    finally:
        os.rename(stash, victim)
        spark.catalog.refreshByPath(p1)

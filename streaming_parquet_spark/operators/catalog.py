"""Versioned shard-set catalog: the atomic-promotion layer
``compact_token_shards`` defers to (its docstring: "swap paths
atomically at the catalog/symlink layer above" — this is that layer).

A catalog ROOT holds numbered GENERATIONS of one data plane — each an
ordinary token-shard set (``operators.pipeline.write_token_shards`` /
``streaming.shards.shard_ingest_stream`` target) or a binary payload
store (``operators.multimodal.write_payload_store``) — plus a
``_catalog/`` directory of single-file commit markers:

    root/
      _catalog/claim-00000001         <- allocation markers (exclusive)
      _catalog/commit-00000001.json   <- publish markers (atomic put)
      gen-00000001/                   <- a shard set or payload store
      gen-00000001/_retired           <- retire marker (refuses appends)
      gen-00000002/

The swap protocol readers and producers rely on:

* **Allocation is exclusive.** :func:`next_generation` reserves its
  number by exclusively creating ``claim-N`` before returning, so two
  racing promoters compact into DIFFERENT directories — without the
  claim they would both pick max+1 and interleave writes into one
  path, leaving the publish marker to arbitrate over mixed data.

* **Publish is a single-file put, after verification.**
  :func:`publish_generation` refuses unless every shard verifies
  against its sidecar, then creates ``commit-N.json`` EXCLUSIVELY
  (the store's atomic put-if-absent — fails if the marker exists, so
  two racing publishers cannot both win).  A
  generation with data but no marker is invisible to readers: a
  reader mid-swap resolves either the old marker or the new one,
  never a half-written set — the same data-then-promise ordering as
  the shard sidecar itself.
* **Current = max committed.** :func:`current_generation` lists
  ``_catalog`` and takes the highest marker.  Listing a directory of
  ~small-integer marker files is O(generations) — a handful — never
  O(shards).
* **Retire is a marker, drop is separate.**
  :func:`retire_generation` writes ``_retired`` inside the old
  generation (appends refuse from then on — ``append_token_shards``
  and ``shard_ingest_stream`` probe it); the DATA stays until
  :func:`drop_generation`, so readers that pinned the old generation
  (the way ``shard_snapshot`` pins keys) finish their epoch before
  the files disappear.  Dropping the CURRENT generation refuses.
* **Promotion composes the pieces.** :func:`promote_compaction` =
  compact current -> next, prove the content preserved, verify,
  publish, retire old, as one call.  Fences on the source's producer
  appends keep a racing wave from being lost: one landing before the
  publish refuses the promotion, one landing between the publish and
  the retirement is rescued into the successor.
* **One protocol, two planes.** Publish, promote and audit are
  written once (``_publish``, ``_promote``, ``_audit``) over a table
  of planes, ``_PLANES``, whose entries supply only what differs:
  the sidecar contract read, the verification, the content
  fingerprint, the marker fields, the compaction and its source pin,
  the producer units the fences compare, and the rescue step.  The
  token verbs (:func:`publish_generation`, :func:`promote_compaction`)
  and the payload verbs (:func:`publish_payload_generation`,
  :func:`promote_payload_compaction`) are bindings of one plane;
  :func:`audit_generation` dispatches on the marker's ``plane``.

At 100 TB: every catalog operation is marker-sized (one JSON file, a
directory listing of a few dozen markers) except the verification and
fingerprint scans inside publish and audit — paid once per publish,
i.e. once per compaction or bulk load, or per audit, never per read.

The marker plane is a pluggable seam (:class:`MarkerStore`): the
swap protocol performs exactly three storage primitives — atomic
put-if-absent, exists, list — and never touches ``os`` directly for
markers; the audit verbs add a fourth, ``read``.  A backend
implements those four and the whole catalog transfers unchanged
(three suffice if a deployment never audits).  :class:`PosixMarkerStore` (the
default) uses hardlink-from-temp, atomic and exclusive on POSIX
filesystems; an object-store backend maps put-if-absent to a
conditional PUT (if-none-match), the standard single-writer commit
primitive.  Swap the backend per call (``store=``) or once for the
process (``DEFAULT_STORE``) — producers' retire probes follow.

Retention is codified, not manual: :func:`list_retired` names the
reclaim candidates and :func:`sweep_generations` drops every retired
generation older than the newest ``keep_last_n`` committed ones —
the read-grace window expressed in promotions — while refusing to
touch the current generation or anything never retired.

Reference parity note: the reference engine has no catalog (it is a
single-run converter; cli.rs exposes --state for resume only) — this
layer is extension surface for the continuous training-data factory,
mirroring public table-format commit-protocol designs (generation
markers + verify-before-publish).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, functions as F

# the operators look the catalog up at call time, never at import
from streaming_parquet_spark.operators import multimodal as M, pipeline as P

_GEN_RE = re.compile(r"^gen-(\d{8})$")
_COMMIT_RE = re.compile(r"^commit-(\d{8})\.json$")
_CLAIM_RE = re.compile(r"^claim-(\d{8})$")

#: marker filename inside a generation that refuses further appends;
#: probed by append_token_shards and shard_ingest_stream
RETIRED_MARKER = "_retired"


class MarkerStore:
    """The catalog's MARKER-plane storage seam: the first three
    primitives are all the swap protocol needs; ``read`` is required
    only by the audit verbs — implement all four to port the whole
    catalog to a backend.  The DATA plane (shard parquet + sidecar)
    never goes through this — Spark reads/writes it via its own
    filesystem connectors.

    * ``put_if_absent(path, text) -> bool`` — atomically create the
      marker with ``text`` iff nothing exists at ``path``; True on
      win, False if something was already there.  This is the only
      mutation the protocol performs: allocation claims, commit
      markers, and retire markers are all single write-once puts.
      Object stores: a conditional PUT (``If-None-Match: *`` on S3/
      GCS/ABFS); POSIX: hardlink-from-temp.
    * ``exists(path) -> bool`` — HEAD-shaped probe.
    * ``list(prefix) -> list[str]`` — child names directly under a
      prefix (no recursion); [] when the prefix doesn't exist.
      Listing a catalog directory is O(generations) — a handful of
      small names, never O(shards).
    * ``read(path) -> str`` — GET the marker's text.  The swap
      protocol itself never reads a marker back (markers are
      promises, data carries the contract); the READ side of the
      seam exists for the audit verbs
      (:func:`audit_generation` re-checks data against its
      recorded fingerprint).

    Consistency the protocol assumes: ``put_if_absent`` is atomic and
    exclusive against concurrent puts of the same path, and a
    successful put is visible to subsequent ``list``/``exists`` calls
    (read-after-write — true of POSIX and of every major object store
    since 2020).  Nothing assumes atomic rename of directories, fsync
    ordering across paths, or directory semantics at all."""

    def put_if_absent(self, path: str, text: str) -> bool:
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def list(self, prefix: str) -> list[str]:
        raise NotImplementedError

    def read(self, path: str) -> str:
        raise NotImplementedError


class PosixMarkerStore(MarkerStore):
    """Default backend: local/NFS filesystems.  ``put_if_absent`` is
    hardlink-from-temp — atomic AND exclusive (``os.replace`` would
    let a racing second writer silently overwrite the winner), the
    same primitive the shard sidecar's write-once promise uses."""

    def put_if_absent(self, path: str, text: str) -> bool:
        import uuid

        parent = os.path.dirname(path) or "."
        os.makedirs(parent, exist_ok=True)
        # A per-call unique tmp name keeps the primitive atomic within
        # one process too (a pid-derived name would let two THREADS
        # racing the same marker truncate each other's inode), and
        # os.open with an explicit mode lets the KERNEL apply the
        # umask atomically — markers stay umask-default-readable (the
        # audit verbs, possibly another uid, read them) without the
        # process-global os.umask() probe, which is not thread-safe.
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o666)
        try:
            with os.fdopen(fd, "w") as f:
                f.write(text)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, path)
            except FileExistsError:
                return False
            return True
        finally:
            os.unlink(tmp)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def list(self, prefix: str) -> list[str]:
        if not os.path.isdir(prefix):
            return []
        return os.listdir(prefix)

    def read(self, path: str) -> str:
        with open(path) as f:
            return f.read()


class ObjectMarkerStore(MarkerStore):
    """Object-store backend: maps the four marker primitives onto the
    conditional-PUT flat-key API every major object store ships
    (S3 ``PutObject`` + ``If-None-Match: *``, GCS
    ``x-goog-if-generation-match: 0``, ABFS ``If-None-Match: *``).
    The store owns key normalization and directory emulation (child
    names out of a flat key listing); the injected ``client`` is dumb
    storage with four calls:

    * ``put_if_absent(key, text) -> bool`` — conditional PUT; False
      when the key already exists (the 412 path), never overwrite.
    * ``exists(key) -> bool`` — HEAD.
    * ``list_keys(prefix) -> list[str]`` — every key under ``prefix``
      (flat, any depth). Marker listings are O(generations).
    * ``get(key) -> str`` — GET.

    :class:`S3ObjectClient` adapts a boto3 S3 client to this shape;
    :class:`InMemoryObjectClient` is the in-process implementation the
    contract tests run (genuine conditional-PUT semantics under a
    lock). Paths arriving from the catalog are POSIX-joined strings;
    ``_key`` strips leading slashes so absolute tmp paths become
    legal object keys."""

    def __init__(self, client, prefix: str = ""):
        self.client = client
        self.prefix = prefix.strip("/")

    def _key(self, path: str) -> str:
        key = os.path.normpath(path).replace(os.sep, "/").lstrip("/")
        return f"{self.prefix}/{key}" if self.prefix else key

    def put_if_absent(self, path: str, text: str) -> bool:
        return bool(self.client.put_if_absent(self._key(path), text))

    def exists(self, path: str) -> bool:
        return bool(self.client.exists(self._key(path)))

    def list(self, prefix: str) -> list[str]:
        p = self._key(prefix) + "/"
        return sorted(
            {
                k[len(p):].split("/", 1)[0]
                for k in self.client.list_keys(p)
                if k.startswith(p) and len(k) > len(p)
            }
        )

    def read(self, path: str) -> str:
        return self.client.get(self._key(path))


class S3ObjectClient:
    """Adapt a boto3 S3 client to :class:`ObjectMarkerStore`'s client
    shape. Construction takes the ALREADY-BUILT boto3 client (this
    module never imports boto3 — the dependency stays with the
    deployment): ``ObjectMarkerStore(S3ObjectClient(boto3.client("s3"),
    "my-bucket"))``. ``put_if_absent`` is S3's native conditional PUT
    (``IfNoneMatch="*"`` — GA on S3 since 2024 and on every
    S3-compatible store that matters). The error taxonomy matters:
    412 PreconditionFailed means the key EXISTS (a genuine loss), but
    409 ConditionalRequestConflict means two conditional PUTs collided
    IN FLIGHT and both may have failed — AWS documents it retryable,
    and reading it as a loss could leave NO marker while both racers
    report success (two retirers racing would leave the generation
    append-open forever). 409 retries the put with backoff; if
    retries exhaust, the key's existence decides (exists -> lost;
    still absent -> raise: the race's outcome is unknowable)."""

    def __init__(
        self, boto3_s3_client, bucket: str, put_retries: int = 8
    ):
        self.c = boto3_s3_client
        self.bucket = bucket
        self.put_retries = int(put_retries)

    def put_if_absent(self, key: str, text: str) -> bool:
        import time as _time

        last_exc = None
        for attempt in range(max(1, self.put_retries)):
            try:
                self.c.put_object(
                    Bucket=self.bucket, Key=key, Body=text.encode(),
                    IfNoneMatch="*",
                )
                return True
            except Exception as exc:  # botocore ClientError, not imported
                resp = getattr(exc, "response", None) or {}
                code = (resp.get("Error") or {}).get("Code")
                if code == "PreconditionFailed":
                    return False
                if code == "ConditionalRequestConflict":
                    last_exc = exc
                    _time.sleep(min(0.05 * (2 ** attempt), 1.0))
                    continue
                raise
        if self.exists(key):
            return False
        raise RuntimeError(
            f"S3ObjectClient.put_if_absent({key!r}): conditional PUT "
            f"conflicted {self.put_retries} times and the key is "
            f"still absent — cannot decide the race"
        ) from last_exc

    def exists(self, key: str) -> bool:
        try:
            self.c.head_object(Bucket=self.bucket, Key=key)
            return True
        except Exception as exc:
            resp = getattr(exc, "response", None) or {}
            code = (resp.get("Error") or {}).get("Code")
            if code in ("404", "NoSuchKey", "NotFound"):
                return False
            raise

    def list_keys(self, prefix: str) -> list[str]:
        out = []
        paginator = self.c.get_paginator("list_objects_v2")
        for page in paginator.paginate(Bucket=self.bucket,
                                       Prefix=prefix):
            out += [o["Key"] for o in page.get("Contents", [])]
        return out

    def get(self, key: str) -> str:
        obj = self.c.get_object(Bucket=self.bucket, Key=key)
        return obj["Body"].read().decode()


class InMemoryObjectClient:
    """The compliant in-process fake the contract tests inject: a flat
    key->text dict with GENUINE conditional-PUT semantics (atomic and
    exclusive under a lock — two racing put_if_absent calls get
    exactly one True), read-after-write visibility, no directories."""

    def __init__(self):
        import threading

        self._lock = threading.Lock()
        self.blobs: dict[str, str] = {}

    def put_if_absent(self, key: str, text: str) -> bool:
        with self._lock:
            if key in self.blobs:
                return False
            self.blobs[key] = text
            return True

    def exists(self, key: str) -> bool:
        return key in self.blobs

    def list_keys(self, prefix: str) -> list[str]:
        return [k for k in self.blobs if k.startswith(prefix)]

    def get(self, key: str) -> str:
        return self.blobs[key]


#: module-level default so a deployment swaps the backend ONCE and
#: every probe — including the producers' retire checks — follows
DEFAULT_STORE = PosixMarkerStore()


def _store(store: MarkerStore | None) -> MarkerStore:
    return store if store is not None else DEFAULT_STORE


def generation_path(root: str, gen: int) -> str:
    """The directory of generation ``gen`` under ``root``."""
    if int(gen) < 1:
        raise ValueError(f"generation numbers start at 1 (got {gen})")
    return os.path.join(root, f"gen-{int(gen):08d}")


def _catalog_dir(root: str) -> str:
    return os.path.join(root, "_catalog")


def _committed(root: str, store: MarkerStore | None = None) -> list[int]:
    store = _store(store)
    out = []
    for name in store.list(_catalog_dir(root)):
        m = _COMMIT_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _existing_dirs(root: str, store: MarkerStore | None = None) -> list[int]:
    # gen-* prefixes under the root (data plane, but only their NAMES
    # matter here — allocation must not collide with an existing set).
    # On the POSIX backend store.list(root) sees real directories, so
    # even OUT-OF-PROTOCOL data (a hand-made gen-N with no claim) is
    # shielded from re-allocation.  A non-POSIX backend lists only the
    # marker plane: there, every in-protocol generation is covered by
    # its claim marker, but data imported by hand must be brought in
    # through next_generation/publish (or given a claim marker) or
    # allocation cannot see it.  Conservative by construction: a stray
    # REGULAR FILE named gen-NNNNNNNN permanently burns that number
    # (allocation skips it, nothing reclaims it) — name squatting
    # wastes a slot but can never collide two writers (ADVICE r12).
    store = _store(store)
    out = []
    for name in store.list(root):
        m = _GEN_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _claimed(root: str, store: MarkerStore | None = None) -> list[int]:
    store = _store(store)
    out = []
    for name in store.list(_catalog_dir(root)):
        m = _CLAIM_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def next_generation(
    root: str, store: MarkerStore | None = None
) -> tuple[int, str]:
    """Allocate the next generation number and RESERVE it: 1 + the
    highest of any committed marker, claim marker, or existing gen-*
    directory, claimed by an atomic put-if-absent of
    ``_catalog/claim-N`` (the store's conditional-PUT / exclusive-
    create primitive).  Two racing promoters therefore get
    DISTINCT numbers instead of interleaving writes into one
    directory and letting the publish marker arbitrate over mixed
    data.  An abandoned, never-published attempt keeps its claim —
    publish markers are write-once, so numbers must never be reused.
    Returns (gen, path); the caller writes a shard set into ``path``
    and then :func:`publish_generation`\\ s it."""
    store = _store(store)
    taken = (
        set(_committed(root, store)) | set(_existing_dirs(root, store))
        | set(_claimed(root, store))
    )
    while True:
        gen = max(taken, default=0) + 1
        claim = os.path.join(_catalog_dir(root), f"claim-{gen:08d}")
        if not store.put_if_absent(
            claim, json.dumps({"claimed_generation": gen}) + "\n"
        ):
            taken.add(gen)  # a racing allocator won this number
            continue
        return gen, generation_path(root, gen)


def is_retired(path: str, store: MarkerStore | None = None) -> bool:
    """Whether a shard-set path carries the catalog's retire marker.

    Checks the in-prefix ``_retired`` marker first, then — for paths
    in the catalog's ``gen-NNNNNNNN`` layout — the out-of-prefix drop
    tombstone ``_catalog/retired-NNNNNNNN``.  The tombstone exists to
    close drop_generation's crash window: a bulk prefix delete can
    erase the in-prefix marker along with the data, and a crash before
    the re-assert would otherwise re-open the reclaimed generation to
    producer appends (ADVICE r13)."""
    store = _store(store)
    if store.exists(os.path.join(path, RETIRED_MARKER)):
        return True
    m = _GEN_RE.match(os.path.basename(path.rstrip("/")))
    if not m:
        return False
    root = os.path.dirname(path.rstrip("/"))
    return store.exists(
        os.path.join(_catalog_dir(root), f"retired-{int(m.group(1)):08d}")
    )


def _require_rank_pair(rank, world_size, caller: str) -> None:
    # shared by the single-set and mixture catalog readers so the
    # refusal semantics cannot drift between them
    if (rank is None) != (world_size is None):
        raise ValueError(
            f"{caller}: pass rank and world_size together (or neither)"
        )


def _require_committed_pin(
    root: str, gen, store: MarkerStore, caller: str
) -> int:
    gen = int(gen)
    if gen not in _committed(root, store):
        raise ValueError(
            f"{caller}: pin {gen} is not a committed generation of "
            f"{root!r} — a checkpoint from a different catalog (or a "
            f"never-published attempt) does not resume here"
        )
    return gen


# --- The generation protocol: one body per verb over a plane table -----
#
# The marker plane above is plane-agnostic by construction, and so are
# the three verbs that touch data: _publish, _promote and _audit are
# written once over a _Plane entry of _PLANES, which supplies only what
# differs between token-shard sets (operators.pipeline) and binary
# payload stores (operators.multimodal).  The public verbs are thin
# bindings of one plane.  The plane steps look every operator up on its
# module at call time, so the modules' functions stay patchable.  A
# marker records its plane; markers written before the stamp carry none
# and are token markers.  Cross-plane misuse refuses at the contract
# read: a token sidecar lacks the payload contract columns and vice
# versa.


@dataclass(frozen=True)
class _Plane:
    """What the generation protocol needs to know about one data
    plane: every step the shared verb bodies cannot share."""

    name: str           # the marker's ``plane`` stamp
    publish_verb: str   # the public verbs, named in every refusal
    promote_verb: str
    # (spark, path, caller) -> (sidecar, contract, totals) in one read;
    # absent, empty, mixed and foreign-format sets refuse by name
    contract: Callable
    # (spark, path) -> one row per shard with ``ok``: data vs sidecar
    verify: Callable
    # (spark, path, contract, totals) -> {fp_a, fp_b, *fp_keys}: the
    # identity-free content fingerprint a marker records
    content: Callable
    contract_keys: tuple  # marker fields fixed at publish
    total_keys: tuple     # marker totals: the floor appends grow past
    fp_keys: tuple        # the totals the content fingerprint carries
    # (spark, src, dst, **opts) -> (src fp, manifest, dst fp): compact
    # into the successor, with the source pin the proof compares
    compact: Callable
    unit_cols: tuple      # sidecar columns naming one producer append
    # (spark, src, dst, stranded units, store) -> None: append units
    # stranded in the retired source into the successor
    rescue: Callable


def _token_sidecar(spark, path: str, caller: str):
    # ONE sidecar collect carries the contract and the totals
    sidecar, rows, contract = P._sidecar_snapshot(spark, path, caller)
    totals = {
        "n_shards": len(rows),
        "n_windows": sum(r["n_windows"] for r in rows),
        "n_tokens": sum(r["n_tokens"] for r in rows),
    }
    return sidecar, contract, totals


def _token_compact(
    spark, src: str, dst: str, n_shards=None, shard_tokens=None,
    shard_prefix: str = "compact-",
):
    src_fp = P.shard_set_content_fp(spark, src)
    manifest = P.compact_token_shards(
        spark, src, dst,
        n_shards=n_shards, shard_tokens=shard_tokens,
        shard_prefix=shard_prefix,
    )
    return src_fp, manifest, P.shard_set_content_fp(spark, dst)


def _token_rescue(spark, src: str, dst: str, stranded: set, store) -> None:
    # the stranded shards' data files and sidecar rows move unchanged
    # (same shard keys, same window identities), so the source's
    # per-shard promise carries over and verifies in the successor
    caller = "promote_compaction"
    sidecar, contract = P._read_shard_contract(spark, src, caller)
    keys = sorted(str(k) for (k,) in stranded)
    clash = sorted(set(keys) & {
        str(r["shard"])
        for r in P._manifest_frame(spark, dst, caller)
        .select("shard").collect()
    })
    if clash:
        raise ValueError(
            f"{caller}: stranded shard(s) {clash[:5]} of the retired "
            f"{src!r} share keys with its successor {dst!r} — they "
            f"stay in the retired source; append them to the current "
            f"generation under fresh keys before dropping it"
        )
    sc = contract["shard_col"]
    (
        P._pinned_key_filter(spark.read.parquet(src), sc, keys)
        .write.mode("append").partitionBy(sc).parquet(dst)
    )
    P._pinned_key_filter(sidecar, "shard", keys).write.mode(
        "append"
    ).parquet(os.path.join(dst, "_manifest"))


def _payload_sidecar(spark, path: str, caller: str):
    sidecar, contract = M._payload_contract(spark, path, caller)
    contract = {**contract, "n_shards": int(contract["n_shards"])}
    # the sidecar fold is the manifest-sized content fingerprint
    return sidecar, contract, M.payload_set_content_fp(sidecar)


def _payload_compact(
    spark, src: str, dst: str, windows: DataFrame,
    spans_col: str = "spans", n_shards=None,
):
    # the KEPT subset is pinned through the same definition of "kept"
    # the compaction writes, so the proof and the write agree on which
    # blobs count
    kept, contract = M._kept_payloads(spark, src, windows, spans_col)
    n = int(contract["n_shards"]) if n_shards is None else int(n_shards)
    try:
        src_fp = M.payload_set_content_fp(
            M.payload_store_manifest(
                kept, n, contract["ref_col"], contract["payload_col"]
            )
        )
    except ValueError as exc:
        if "empty manifest" not in str(exc):
            raise
        raise ValueError(
            f"promote_payload_compaction: the windows reference no "
            f"blob in {src!r} — refusing to promote an empty successor "
            f"(wrong store/windows pairing, or every blob is an "
            f"orphan; retire + drop instead)"
        ) from None
    manifest = M.compact_payload_store(
        spark, src, dst, windows, spans_col, n_shards=n
    )
    return src_fp, manifest, M.payload_set_content_fp(manifest)


def _payload_rescue(spark, src: str, dst: str, stranded: set, store) -> None:
    # content-addressed append from the retired source's own data:
    # idempotent, blobs already in the successor skip
    contract = M._payload_contract(spark, src, "promote_payload_compaction")[1]
    blobs = (
        spark.read.parquet(src)
        .where(F.col("wave").isin(sorted({w for _s, w in stranded})))
        .select(F.col(contract["ref_col"]), F.col(contract["payload_col"]))
    )
    M.append_payload_store(blobs, dst, marker_store=store)


_PLANES = {
    "token": _Plane(
        name="token",
        publish_verb="publish_generation",
        promote_verb="promote_compaction",
        contract=_token_sidecar,
        verify=lambda spark, path: P.verify_token_shards(spark, path),
        content=lambda spark, path, contract, _totals: (
            P.shard_set_content_fp(spark, path, contract=contract)
        ),
        contract_keys=(
            "format", "budget", "vocab_size", "vocab_fp_a", "vocab_fp_b",
        ),
        total_keys=("n_shards", "n_windows", "n_tokens"),
        fp_keys=("n_windows", "n_tokens"),
        compact=_token_compact,
        unit_cols=("shard",),
        rescue=_token_rescue,
    ),
    "payload": _Plane(
        name="payload",
        publish_verb="publish_payload_generation",
        promote_verb="promote_payload_compaction",
        contract=_payload_sidecar,
        verify=lambda spark, path: M.verify_payload_store(spark, path),
        content=lambda _spark, _path, _contract, totals: totals,
        contract_keys=("format", "n_shards", "ref_col", "payload_col"),
        total_keys=("n_payloads", "n_refs", "n_bytes"),
        fp_keys=("n_payloads", "n_refs", "n_bytes"),
        compact=_payload_compact,
        unit_cols=("shard", "wave"),
        rescue=_payload_rescue,
    ),
}


def _commit_marker(root: str, gen: int) -> str:
    return os.path.join(_catalog_dir(root), f"commit-{int(gen):08d}.json")


def _marker_fields(
    plane: _Plane, contract: dict, totals: dict, fp: dict
) -> dict:
    """What a commit marker records about a generation's data: its
    contract, its totals and its content fingerprint.  A total the
    fingerprint carries is taken from the fingerprint (for tokens, a
    data scan) rather than from the sidecar."""
    seen = {**totals, **fp}
    return {
        **{k: contract[k] for k in plane.contract_keys},
        **{k: seen[k] for k in plane.total_keys},
        "content_fp_a": fp["fp_a"],
        "content_fp_b": fp["fp_b"],
    }


def _publish(
    plane: _Plane, spark, root: str, gen: int, store,
    vocab_ids: DataFrame | None = None, content_fp: dict | None = None,
) -> dict:
    verb = plane.publish_verb
    store = _store(store)
    gen = int(gen)
    path = generation_path(root, gen)
    if is_retired(path, store):
        raise ValueError(
            f"{verb}: gen {gen} at {path!r} is RETIRED — republishing "
            f"a retired generation would resurrect data the catalog "
            f"already moved past; promote a fresh one"
        )
    marker = _commit_marker(root, gen)
    if store.exists(marker):
        raise ValueError(
            f"{verb}: gen {gen} is already published ({marker!r}) — "
            f"commit markers are write-once"
        )
    _, contract, totals = plane.contract(spark, path, verb)
    if vocab_ids is not None:
        P._check_vocab(contract, vocab_ids, path, verb)
    if content_fp is not None:
        # The caller-supplied fingerprint goes into a WRITE-ONCE marker
        # that makes the generation content-addressable forever — a
        # stale or foreign fp would make the audit trail permanently
        # lie.  Every field the sidecar totals can vouch for must agree
        # with them: the cheap, manifest-sized tripwire that catches a
        # fingerprint minted over a different (or since-grown) set,
        # checked BEFORE the full verify scan is paid.
        wanted = ("fp_a", "fp_b", *plane.fp_keys)
        missing = [k for k in wanted if k not in content_fp]
        if missing:
            raise ValueError(
                f"{verb}: content_fp is missing {missing} — pass the "
                f"full fingerprint dict ({', '.join(wanted)}), or omit "
                f"content_fp to have publish recompute it"
            )
        for k in wanted:
            if k in totals and int(content_fp[k]) != int(totals[k]):
                raise ValueError(
                    f"{verb}: supplied content_fp claims "
                    f"{k}={content_fp[k]} but gen {gen}'s sidecar "
                    f"totals {totals[k]} — the fingerprint was minted "
                    f"over a different set; omit content_fp to have "
                    f"publish recompute it"
                )
    bad = plane.verify(spark, path).filter("NOT ok").count()
    if bad:
        raise ValueError(
            f"{verb}: gen {gen} at {path!r} has {bad} shard(s) failing "
            f"verification — a generation publishes only after every "
            f"shard matches its sidecar promise"
        )
    if content_fp is None:
        content_fp = plane.content(spark, path, contract, totals)
    doc = {
        "generation": gen,
        "plane": plane.name,
        **_marker_fields(plane, contract, totals, content_fp),
    }
    # ONE atomic-exclusive put — the commit point of the whole swap
    # (conditional-PUT shape; the POSIX backend hardlinks from temp)
    if not store.put_if_absent(
        marker, json.dumps(doc, sort_keys=True) + "\n"
    ):
        raise ValueError(
            f"{verb}: gen {gen} was published concurrently "
            f"({marker!r}) — commit markers are write-once"
        )
    return doc


def _promote(
    plane: _Plane, spark, root: str, store,
    vocab_ids: DataFrame | None = None, **opts,
) -> tuple[int, DataFrame]:
    verb = plane.promote_verb
    old_gen, old_path = current_generation(root, store)
    new_gen, new_path = next_generation(root, store)

    def units() -> set:
        # sidecar-sized: the producer appends the source holds now
        return {
            tuple(r)
            for r in P._manifest_frame(spark, old_path, verb)
            .select(*plane.unit_cols).collect()
        }

    pinned = units()  # the unit set the proof is about to pin
    src_fp, manifest, dst_fp = plane.compact(
        spark, old_path, new_path, **opts
    )
    if dst_fp != src_fp:
        raise ValueError(
            f"{verb}: gen {new_gen} at {new_path!r} does NOT carry gen "
            f"{old_gen}'s content (src {src_fp} vs dst {dst_fp}) — "
            f"refusing to publish; the directory stays unpublished "
            f"(invisible to readers) and gen {old_gen} stays current.  "
            f"A producer wave landing mid-compaction causes this too "
            f"— re-run after quiescing producers."
        )
    # pre-publish fence: a wave that landed AFTER the proof's pin is
    # invisible to both fingerprints — refuse while the successor is
    # still unpublished
    if units() != pinned:
        raise ValueError(
            f"{verb}: a producer wave landed in gen {old_gen} during "
            f"the compaction — the successor at {new_path!r} stays "
            f"unpublished and gen {old_gen} stays current; re-run (the "
            f"next promotion will carry the wave), or quiesce "
            f"producers first"
        )
    _publish(
        plane, spark, root, new_gen, store,
        vocab_ids=vocab_ids, content_fp=dst_fp,
    )
    retire_generation(root, old_gen, store)
    # post-retire fence: a wave that landed between the publish and the
    # retirement passed its own retire probe legitimately but is absent
    # from the successor — rescue it.  Producers refuse a retired
    # generation, so this recheck is final.
    stranded = units() - pinned
    if stranded:
        plane.rescue(spark, old_path, new_path, stranded, store)
    return new_gen, manifest


def _audit(spark, root: str, gen: int, store) -> dict:
    store = _store(store)
    gen = int(gen)
    marker = _commit_marker(root, gen)
    if not store.exists(marker):
        raise ValueError(
            f"audit_generation: gen {gen} of {root!r} was never "
            f"published — only committed generations carry a marker "
            f"to audit against"
        )
    doc = json.loads(store.read(marker))
    plane = _PLANES[doc.get("plane", "token")]
    path = generation_path(root, gen)
    out: dict = {
        "generation": gen,
        "plane": plane.name,
        "retired": is_retired(path, store),
        "dropped": False,
    }
    try:
        _, contract, totals = plane.contract(spark, path, "audit_generation")
    except (ValueError, AnalysisException) as exc:
        # Only ABSENCE of a retired generation's sidecar is a benign
        # drop (the retention sweep's legal end state).  A PRESENT but
        # unreadable sidecar (truncated write, empty directory, mixed
        # contract rows, a foreign format) is an integrity incident
        # even on a retired generation: retirement starts a read-grace
        # window in which pinned readers still resolve this data, so
        # "retired" cannot launder corruption into ok=None.  Absence is
        # classified from _manifest_frame's TYPED error taxonomy
        # (ManifestAbsent = PATH_NOT_FOUND), which keeps this function
        # free of direct filesystem probes.
        absent = isinstance(exc, P.ManifestAbsent)
        if out["retired"] and absent:
            out.update({"dropped": True, "ok": None})
            return out
        out.update({
            "ok": False,
            "problem": (
                f"data unreadable for a committed, UNRETIRED "
                f"generation ({exc}) — pinned readers may still "
                f"resolve it"
                if absent
                else f"manifest sidecar present but unreadable "
                     f"({exc}) — corruption or a truncated write, "
                     f"not a retention drop"
            ),
        })
        return out
    try:
        # verify FIRST, against the per-shard sidecar promise: a
        # totals-only check would classify "grew by 20 windows, lost a
        # shard of 4" as benign growth, masking storage loss in any
        # generation that legally grew.  Appends extend the sidecar, so
        # verify detects loss and corruption past the publish floor too.
        bad = [
            r["shard"]
            for r in plane.verify(spark, path).where("NOT ok")
            .select("shard").collect()
        ]
        fp = plane.content(spark, path, contract, totals)
    except (ValueError, AnalysisException) as exc:
        # the sidecar is readable but the data scan is not: the
        # sidecar promises content the storage no longer serves
        out.update({"ok": False, "problem": f"content scan failed ({exc})"})
        return out
    actual = _marker_fields(plane, contract, totals, fp)
    mismatches = {
        k: [doc[k], v]
        for k, v in actual.items()
        if k in doc and doc[k] != v
    }
    out["fp_checked"] = "content_fp_a" in doc
    # The marker froze the set AS OF publish, and appending to a
    # published generation is legal until its retire marker lands
    # (the marker cannot date the growth, so this holds for retired
    # generations too) — totals at-or-above the recorded floor mean
    # GROWTH, and the frozen XOR fp is inconclusive over a grown set.
    total_keys = [k for k in plane.total_keys if k in doc]
    grown = total_keys and all(
        int(actual[k]) >= int(doc[k]) for k in total_keys
    ) and any(int(actual[k]) > int(doc[k]) for k in total_keys)
    # the contract can never legally change after publish
    contract_drift = any(k in mismatches for k in plane.contract_keys)
    if bad:
        out.update({
            "ok": False,
            "problem": (
                f"shard(s) {sorted(bad)[:5]} fail verification against "
                f"the sidecar — content loss or corruption, growth "
                f"notwithstanding"
            ),
        })
        if mismatches:
            out["mismatches"] = mismatches
    elif not mismatches:
        out["ok"] = True
    elif grown and not contract_drift:
        out.update({
            "ok": None,
            "grown": True,
            # the fp comparison RAN but attested nothing over the grown
            # set — report it un-checked so monitoring never records
            # this generation as fingerprint-verified
            "fp_checked": False,
            "recorded_totals": {k: doc[k] for k in total_keys},
            "actual_totals": {k: actual[k] for k in total_keys},
            "note": (
                "generation grew past its publish-time floor (legal "
                "until retirement; the marker cannot date the "
                "growth) — every shard verified against its sidecar, "
                "but the frozen marker cannot attest the grown "
                "content; a promotion pins a fresh fingerprint"
            ),
        })
    else:
        out["ok"] = False
        out["mismatches"] = mismatches
    return out


def publish_generation(
    spark,
    root: str,
    gen: int,
    vocab_ids: DataFrame | None = None,
    content_fp: dict | None = None,
    store: MarkerStore | None = None,
) -> dict:
    """Make token generation ``gen`` the catalog's newest COMMITTED
    set: verify every shard against its sidecar (one
    partition-discovered scan — a torn or tampered set refuses here,
    before any reader can resolve it), then atomically create the
    single-file commit marker.  Returns the marker's contents.

    Refusals: an unverifiable or failing set; a retired generation
    (retire-then-republish would resurrect data producers already
    moved past); an already-published generation (markers are
    write-once — the exclusive create makes two racing publishers
    lose loudly, not last-writer-wins).  Pass ``vocab_ids`` to also
    pin the vocabulary the way :func:`...pipeline.read_token_shards`
    does — a catalog should never promote a set encoded under a
    foreign tokenizer.

    The marker also records the set's identity-free CONTENT
    fingerprint (``shard_set_content_fp`` — invariant under shard
    renumbering), making every committed generation
    content-addressable — an auditor can re-fingerprint any
    generation's data and compare against its marker years later.
    Pass ``content_fp`` to reuse a fingerprint the caller already
    computed; omitted, publish computes it (one extra scan beside
    the verify scan).  A supplied fingerprint's window/token totals
    are cross-checked against the sidecar totals before the marker
    is written (markers are write-once — a stale fp would lie
    forever); the fp hashes themselves are trusted from the caller,
    so only pass a fingerprint computed over THIS generation's
    path (as :func:`promote_compaction` does)."""
    return _publish(
        _PLANES["token"], spark, root, gen, store,
        vocab_ids=vocab_ids, content_fp=content_fp,
    )


def current_generation(
    root: str, store: MarkerStore | None = None
) -> tuple[int, str]:
    """The newest COMMITTED generation: (gen, path).  Resolving this
    is the reader's pin — hold the returned path for the whole
    epoch (the data outlives retirement until
    :func:`drop_generation`), exactly how ``shard_snapshot`` pins a
    key set within one generation."""
    gens = _committed(root, store)
    if not gens:
        raise ValueError(
            f"current_generation: {root!r} has no committed "
            f"generation — publish one first"
        )
    gen = gens[-1]
    return gen, generation_path(root, gen)


def read_current_shards(
    spark,
    root: str,
    vocab_ids: DataFrame | None = None,
    store: MarkerStore | None = None,
    gen: int | None = None,
    rank: int | None = None,
    world_size: int | None = None,
    snapshot=None,
    cursor: int = 0,
    pos_col: str | None = None,
) -> tuple[DataFrame, dict, int]:
    """Resolve the current generation and read it as a token-shard
    set: (windows, contract, generation) — the single-set analogue of
    :func:`read_mixture_current`, with the same pinning discipline:

    * ``gen``: pass a checkpoint's generation to resume instead of
      resolving current — the pin must name a COMMITTED generation
      (foreign/never-published refuses; swept data fails the sidecar
      read, loudly).  The launcher resolves ONCE and hands the same
      gen to every rank, so all ranks read an identical universe
      even while a promotion lands mid-epoch.
    * ``rank``/``world_size``: read one rank's LPT slice
      (``read_rank_shards`` over the pinned generation);
      ``snapshot``/``cursor``/``pos_col`` pass through with their
      caveats (cursor is only valid under the same
      (gen, world_size, snapshot) tuple — checkpoint them together).
    """
    from streaming_parquet_spark.operators.pipeline import (
        read_rank_shards,
        read_token_shards,
    )

    store = _store(store)
    _require_rank_pair(rank, world_size, "read_current_shards")
    if rank is None and (
        snapshot is not None or int(cursor) != 0 or pos_col is not None
    ):
        raise ValueError(
            "read_current_shards: snapshot/cursor/pos_col are "
            "rank-read parameters — pass rank and world_size"
        )
    if gen is None:
        gen, path = current_generation(root, store)
    else:
        gen = _require_committed_pin(
            root, gen, store, "read_current_shards"
        )
        path = generation_path(root, gen)
    if rank is not None:
        windows, contract = read_rank_shards(
            spark, path, rank, world_size, vocab_ids=vocab_ids,
            snapshot=snapshot, cursor=cursor, pos_col=pos_col,
        )
    else:
        windows, contract = read_token_shards(
            spark, path, vocab_ids=vocab_ids
        )
    return windows, contract, gen


def retire_generation(
    root: str, gen: int, store: MarkerStore | None = None
) -> str:
    """Mark generation ``gen`` retired: producers refuse to append to
    it from now on (``append_token_shards`` / ``shard_ingest_stream``
    probe the marker), while its DATA stays readable until
    :func:`drop_generation` — the grace window for readers that
    pinned it.  Refuses retiring the CURRENT generation (that would
    leave the catalog pointing at a set no producer may extend and no
    successor replaces — promote first) and an unpublished one
    (nothing ever pointed at it; just delete the directory).
    Idempotent: retiring twice is a no-op."""
    store = _store(store)
    gen = int(gen)
    path = generation_path(root, gen)
    committed = _committed(root, store)
    if gen not in committed:
        raise ValueError(
            f"retire_generation: gen {gen} was never published — "
            f"an abandoned attempt has no readers to grace; remove "
            f"its directory directly"
        )
    if gen == committed[-1]:
        raise ValueError(
            f"retire_generation: gen {gen} IS the current generation "
            f"— publish its successor first (promote_compaction does "
            f"compact -> verify -> publish -> retire in order)"
        )
    marker = os.path.join(path, RETIRED_MARKER)
    # put-if-absent and ignore a loss: two racing retirers of the
    # same generation are both right, and the marker's content is
    # identical either way — retire stays idempotent
    store.put_if_absent(
        marker, json.dumps({"retired_generation": gen}) + "\n"
    )
    return marker


def drop_generation(
    root: str, gen: int, store: MarkerStore | None = None,
    delete_prefix=None,
) -> None:
    """Delete a RETIRED generation's data (the reclaim step after the
    read-grace window).  Refuses the current generation and any
    generation not yet retired — drop is the only destructive verb
    here and it demands both guards already stood.  The ``_retired``
    marker itself survives, so a lost producer replaying into the
    emptied path still refuses, and the write-once commit marker
    keeps the generation number from ever being reused.

    The GUARDS run through the marker store; the deletion itself is
    data-plane.  ``delete_prefix`` injects it: a callable taking the
    generation path that reclaims everything under it — the seam for
    an object store's bulk delete (delete-by-prefix / lifecycle
    tooling).  The retire marker is RE-ASSERTED through the store
    after the hook runs: when markers and data share one prefix (an
    ObjectMarkerStore over the same bucket the shards live in), a
    bulk prefix delete would otherwise remove ``_retired`` and
    re-open the reclaimed generation to producer replays — the
    put-if-absent re-assert is idempotent and a no-op when the
    marker survived.  The POSIX default deletes the directory's
    children EXCEPT the in-tree ``_retired`` marker.  Idempotent:
    dropping an already-emptied generation is a no-op."""
    import shutil

    store = _store(store)
    gen = int(gen)
    path = generation_path(root, gen)
    committed = _committed(root, store)
    if committed and gen == committed[-1]:
        raise ValueError(
            f"drop_generation: gen {gen} IS the current generation"
        )
    if not is_retired(path, store):
        raise ValueError(
            f"drop_generation: gen {gen} is not retired — retire it "
            f"first (readers may still be pinned to it)"
        )
    if delete_prefix is not None:
        # Tombstone FIRST, to a key the bulk delete cannot reach: if
        # the process dies between the prefix delete and the in-prefix
        # re-assert below, the generation would otherwise lose both its
        # data and its retire marker, re-opening the reclaimed number
        # to producer appends/replays (ADVICE r13).  is_retired checks
        # this catalog-plane tombstone too, so the refusal stands
        # through the whole window; put-if-absent keeps it idempotent.
        store.put_if_absent(
            os.path.join(_catalog_dir(root), f"retired-{gen:08d}"),
            json.dumps({"retired_generation": gen}) + "\n",
        )
        delete_prefix(path)
        # the hook may have bulk-deleted the in-prefix retire marker
        # along with the data (see docstring) — restore the dropped
        # generation's append-refusal before returning
        store.put_if_absent(
            os.path.join(path, RETIRED_MARKER),
            json.dumps({"retired_generation": gen}) + "\n",
        )
        return
    if not os.path.isdir(path):
        return
    for name in os.listdir(path):
        if name == RETIRED_MARKER:
            continue
        full = os.path.join(path, name)
        if os.path.isdir(full):
            shutil.rmtree(full)
        else:
            os.unlink(full)


def promote_compaction(
    spark,
    root: str,
    n_shards: int | None = None,
    shard_tokens: int | None = None,
    shard_prefix: str = "compact-",
    vocab_ids: DataFrame | None = None,
    store: MarkerStore | None = None,
) -> tuple[int, DataFrame]:
    """The full swap, in the only safe order: compact the CURRENT
    generation into the next one (``compact_token_shards`` — content
    preserved exactly, source pinned at entry), PROVE the
    preservation (the successor's identity-free content fingerprint
    must equal the source's — ``shard_set_content_fp`` is invariant
    under the renumbering compaction performs, so inequality means
    windows were lost, duplicated, or altered), then verify + publish
    the successor (single-file atomic marker) and retire the source.
    The proof runs BEFORE the publish: a content-corrupting
    compaction leaves an unpublished (invisible) directory and the
    source untouched, never a committed wrong generation.  Returns
    (new_generation, written manifest).

    A reader racing this sees exactly one complete generation at
    every instant: before the marker lands it resolves the old
    generation (whose data is untouched — compaction never writes
    into its source); after, the new one.  A producer racing this
    cannot lose a wave into the swap.  Three fences, in order:

    * a wave landing during the compaction refuses inside it
      (``compact_token_shards``' grown-source recheck) or flips the
      preservation proof — clean refusal, source stays current;
    * a wave landing between the proof and the publish trips the
      pre-publish recheck of the source's shard-key set
      (sidecar-sized) — same clean refusal, the successor stays
      unpublished;
    * a wave landing between the publish and the retirement is
      RESCUED after the retire marker lands: its shards (data files
      and sidecar rows, unchanged) are appended into the successor,
      so the wave survives the eventual drop.  An append still IN
      FLIGHT when retirement lands fails loudly on its own retire
      probe — never silent.  For a zero-rescue guarantee, quiesce
      producers first.

    The old generation's data survives until an explicit
    :func:`drop_generation` after the read-grace window.  A crash
    mid-promotion leaves either a data-only next-gen directory
    (unpublished — invisible to readers; the next promotion
    allocates a fresh number) or a published successor with the old
    generation not yet retired (re-run :func:`retire_generation` —
    idempotent, though the rescue fence then does not run:
    re-promote instead when producers were live)."""
    return _promote(
        _PLANES["token"], spark, root, store, vocab_ids=vocab_ids,
        n_shards=n_shards, shard_tokens=shard_tokens,
        shard_prefix=shard_prefix,
    )


def read_mixture_current(
    spark,
    roots: dict,
    weights: dict,
    vocab_ids: DataFrame | None = None,
    snapshots: dict | None = None,
    cursor: int | None = None,
    epoch: int | None = None,
    pins: dict | None = None,
    rank: int | None = None,
    world_size: int | None = None,
    store: MarkerStore | None = None,
    name_col: str = "mix_source",
    key_col: str = "mix_key",
    pos_col: str = "mix_pos",
) -> tuple[DataFrame, dict, dict]:
    """The catalog-aware mixture read: resolve each set's CURRENT
    committed generation ONCE, hand the resolved paths to
    ``read_mixture_shards``, and return the pins alongside —
    (windows, contract, pins) with ``pins`` mapping set name ->
    generation number.  This closes the last manual pinning step in
    the factory: a trainer mixing N catalogued sets checkpoints
    ``pins`` together with its cursor/epoch/weights, and every
    resume re-reads the EXACT generations the epoch started on —
    a promotion landing mid-epoch swaps what NEW readers resolve,
    never what a pinned reader resumes over (the promoted-away
    data survives until :func:`sweep_generations` /
    :func:`drop_generation`, the read-grace window).

    ``pins``: pass a checkpoint's pins to resume instead of
    resolving current — each pin must name a COMMITTED generation of
    its root (a foreign or never-published pin refuses loudly; a pin
    whose data was already swept fails the sidecar read, also
    loudly).  All other parameters (``weights``, ``snapshots``,
    ``cursor``, ``epoch``) pass through to ``read_mixture_shards``
    unchanged, with the same caveat: a cursor is only valid under
    the SAME (pins, weights, snapshots, epoch) tuple it was minted
    with — checkpoint them as one unit.

    Multi-node: pass ``rank``/``world_size`` to read one rank's
    slice (``read_mixture_rank`` over the pinned generations — the
    launcher resolves pins ONCE and hands the same dict to every
    rank, so all ranks slice an identical universe; the rank-local
    cursor caveat from there applies).

    Resolution is marker-sized per root (one listing); everything
    data-side is the mixture read's own cost."""
    from streaming_parquet_spark.operators.pipeline import (
        read_mixture_rank,
        read_mixture_shards,
    )

    _require_rank_pair(rank, world_size, "read_mixture_current")

    store = _store(store)
    names = sorted(roots)
    if not names:
        raise ValueError("read_mixture_current: no roots given")
    if pins is None:
        pins = {n: current_generation(roots[n], store)[0] for n in names}
    else:
        if sorted(pins) != names:
            raise ValueError(
                f"read_mixture_current: pins and roots must carry the "
                f"same names (roots {names}, pins {sorted(pins)})"
            )
        for n in names:
            _require_committed_pin(
                roots[n], pins[n], store,
                f"read_mixture_current (set {n!r})",
            )
    pins = {n: int(pins[n]) for n in names}
    sets = {n: generation_path(roots[n], pins[n]) for n in names}
    if rank is not None:
        windows, contract = read_mixture_rank(
            spark, sets, weights, rank, world_size,
            vocab_ids=vocab_ids, snapshots=snapshots, cursor=cursor,
            epoch=epoch, name_col=name_col, key_col=key_col,
            pos_col=pos_col,
        )
    else:
        windows, contract = read_mixture_shards(
            spark, sets, weights, vocab_ids=vocab_ids,
            snapshots=snapshots, cursor=cursor, epoch=epoch,
            name_col=name_col, key_col=key_col, pos_col=pos_col,
        )
    return windows, contract, pins


def list_retired(
    root: str, store: MarkerStore | None = None
) -> list[int]:
    """Committed generations carrying a retire marker, ascending —
    the reclaim candidates a retention policy sweeps.  Marker-sized:
    one catalog listing plus one exists-probe per committed
    generation (a handful), never a data scan.  Includes generations
    whose data was already dropped (the marker outlives the drop by
    design); :func:`sweep_generations` re-dropping one is a no-op."""
    store = _store(store)
    return [
        g
        for g in _committed(root, store)
        if is_retired(generation_path(root, g), store)
    ]


def sweep_generations(
    root: str,
    keep_last_n: int = 1,
    dry_run: bool = False,
    store: MarkerStore | None = None,
    delete_prefix=None,
) -> dict:
    """Codified retention over retired generations: drop (via the
    double-guarded :func:`drop_generation`) every RETIRED generation
    older than the newest ``keep_last_n`` committed ones.  A
    months-long factory calls this after each promotion instead of
    hand-tracking which old generation is past its read-grace window
    — ``keep_last_n`` IS the grace policy, expressed in promotions:
    a reader that pinned a generation within the last N swaps still
    finds its data.

    Never touches: the CURRENT generation (it is never retired —
    :func:`retire_generation` refuses it — and drop refuses it
    independently); the newest ``keep_last_n`` committed generations
    even when retired (the grace window); and any NEVER-RETIRED
    generation regardless of age (no marker warned producers off and
    readers never got a retirement signal — sweep reports it under
    ``skipped_unretired`` instead of silently escalating to a
    destructive retire-and-drop the caller didn't ask for).

    ``keep_last_n`` must be >= 1: a sweep that protects nothing is a
    typo, not a policy.  ``dry_run=True`` reports the same decision
    without deleting.  ``delete_prefix`` rides through to
    :func:`drop_generation` — the data-plane reclaim hook, so
    retention is ONE call on every backend (object stores pass their
    bulk delete; POSIX keeps the default carve-out).  Returns
    ``{"dropped": [...], "kept_grace": [...], "skipped_unretired":
    [...]}`` (each ascending; already-emptied retired generations
    re-report as dropped — the underlying drop is a no-op)."""
    store = _store(store)
    if int(keep_last_n) < 1:
        raise ValueError(
            f"sweep_generations: keep_last_n must be >= 1 (got "
            f"{keep_last_n}) — the current generation and the grace "
            f"window are never sweepable"
        )
    committed = _committed(root, store)
    if not committed:
        raise ValueError(
            f"sweep_generations: {root!r} has no committed generation "
            f"— nothing to retain a policy over"
        )
    protected = set(committed[-int(keep_last_n):])
    dropped, kept_grace, skipped_unretired = [], [], []
    for g in committed:
        retired = is_retired(generation_path(root, g), store)
        if g in protected:
            if retired:
                kept_grace.append(g)
            continue
        if not retired:
            skipped_unretired.append(g)
            continue
        if not dry_run:
            drop_generation(root, g, store, delete_prefix=delete_prefix)
        dropped.append(g)
    return {
        "dropped": dropped,
        "kept_grace": kept_grace,
        "skipped_unretired": skipped_unretired,
    }


def audit_generation(
    spark, root: str, gen: int, store: MarkerStore | None = None
) -> dict:
    """Re-check a committed generation's DATA against its write-once
    commit marker — the audit the content-addressable design exists
    for: the marker recorded the identity-free content fingerprint
    and the contract at publish time, so years later (or after a
    storage migration, a restore from backup, a suspected bit-flip)
    a fresh scan proves the generation still carries exactly the
    content it committed.  Token and payload generations audit alike
    (dispatch on the marker's ``plane``; a marker without one is a
    token marker).

    Every shard is verified against its sidecar promise FIRST
    (``verify_token_shards`` / ``verify_payload_store``), then the
    marker fields are compared.  Returns ``{"generation", "plane",
    "retired", "dropped", "ok", ...}``:

    * ``ok=True`` — every shard verifies and every recorded field
      (totals, the content fingerprint when the marker carries one,
      the contract) matches; ``fp_checked`` says whether the
      fingerprint was actually ATTESTED (False on markers predating
      the fp field — totals+contract fallback — and on the grown
      path below, where the comparison ran but proved nothing).
    * ``ok=False`` — a shard fails verification (``problem`` names
      it; ``mismatches`` rides along when marker fields disagree
      too), or ``mismatches`` maps each disagreeing field to
      (recorded, actual): content loss, same-size corruption, or
      contract drift.  A committed-but-unretired generation whose
      data is unreadable also reports False (``problem`` explains) —
      readers may be pinned to data that no longer exists.
    * ``ok=None, grown=True`` — every shard verifies, and the
      generation grew past its publish-time floor: producers may
      append until the retire marker lands, the marker froze the set
      AS OF publish, and the XOR fingerprint is not subset-checkable
      (nor can the marker date the growth, so this applies to
      retired generations too).  Growth only relaxes the MARKER
      comparison, never the per-shard check: loss in a grown
      generation is ``ok=False``.  A promotion pins a fresh
      fingerprint.
    * ``ok=None, dropped=True`` — a retired generation whose data was
      reclaimed; nothing to audit, by design.

    Cost: one manifest collect, the verify scan and the
    content-fingerprint scan (payloads fold theirs from the verified
    sidecar) — the price publish pays, on demand."""
    return _audit(spark, root, gen, store)


def audit_catalog(
    spark, root: str, store: MarkerStore | None = None
) -> list[dict]:
    """:func:`audit_generation` over every committed generation of
    ``root``, oldest first — the periodic integrity sweep a
    months-long factory schedules beside :func:`sweep_generations`.
    Works on token AND payload roots (the per-generation audit
    dispatches on the marker's plane stamp).  Dropped and
    legally-grown generations report ``ok=None`` (see
    audit_generation — nothing the frozen marker can attest); any
    ``ok=False`` row is a storage-integrity incident, not a protocol
    race — the markers are write-once and the data was verified at
    publish."""
    store = _store(store)
    return [
        audit_generation(spark, root, g, store)
        for g in _committed(root, store)
    ]


# --- Payload-plane generations ----------------------------------------
#
# The binary payload store (operators.multimodal) runs the same
# generation protocol as the token plane: ``_PLANES["payload"]`` (see
# the plane table above) supplies verify_payload_store as the
# verification, the payload_set_content_fp sidecar fold as the content
# fingerprint, compact_payload_store (orphans swept) as the compaction
# and (shard, wave) pairs as the producer units.  Everything else —
# next_generation, current_generation, retire_generation,
# drop_generation, sweep_generations, list_retired, audit_generation —
# is shared.


def publish_payload_generation(
    spark, root: str, gen: int, store: MarkerStore | None = None
) -> dict:
    """Make payload generation ``gen`` the catalog's newest COMMITTED
    store: verify every shard's blobs against the ``_manifest``
    sidecar (``verify_payload_store`` — the absence/corruption/tamper
    trichotomy runs BEFORE any reader can resolve the store), then
    atomically create the single-file commit marker, stamped
    ``plane: "payload"``.  Returns the marker's contents.

    Same protocol and refusals as :func:`publish_generation`.  The
    marker records the store's sharding-invariant CONTENT fingerprint
    (``payload_set_content_fp`` — XOR over every blob's digest), so an
    auditor can re-fingerprint the data against the marker years
    later, and :func:`promote_payload_compaction` can prove content
    preservation across a re-shard.

    Bootstrap flow for the FIRST generation: ``gen, path =
    next_generation(root)``; ``write_payload_store(blobs, path,
    n_shards=...)``; ``publish_payload_generation(spark, root, gen)``.
    Cost: one data scan (the verify) + manifest-sized folds."""
    return _publish(_PLANES["payload"], spark, root, gen, store)


def current_payload_store(
    spark,
    root: str,
    store: MarkerStore | None = None,
    gen: int | None = None,
) -> tuple[int, str, dict]:
    """Resolve the newest COMMITTED payload generation: (gen, path,
    contract) — the resolver's pin.  Hand ``path`` to
    ``resolve_payload_refs`` / ``read_payload_store`` and HOLD it for
    the whole read (the data outlives retirement until
    :func:`drop_generation` — the same grace discipline as the token
    plane), and stamp it into reader state via
    ``payload_store_identity`` so a resume refuses a since-swapped
    store.  ``gen``: pass a checkpoint's pin to resume instead of
    resolving current (must name a committed generation).

    Refuses a generation whose commit marker is not ``plane:
    "payload"`` — a token generation must never resolve as a blob
    store — and cross-checks the marker's pinned contract against the
    sidecar's (they were written by the same publish; disagreement
    means out-of-protocol surgery).  Marker-sized + one manifest read;
    never a data scan."""
    store = _store(store)
    if gen is None:
        gen, path = current_generation(root, store)
    else:
        gen = _require_committed_pin(
            root, gen, store, "current_payload_store"
        )
        path = generation_path(root, gen)
    doc = json.loads(store.read(_commit_marker(root, gen)))
    if doc.get("plane") != "payload":
        raise ValueError(
            f"current_payload_store: gen {gen} of {root!r} is not a "
            f"payload generation (marker carries "
            f"format={doc.get('format')!r}) — this root belongs to "
            f"the token plane; payload stores live under their own "
            f"catalog root"
        )
    contract = M._payload_contract(spark, path, "current_payload_store")[1]
    if any(
        contract[k] != doc[k] for k in _PLANES["payload"].contract_keys
    ):
        raise ValueError(
            f"current_payload_store: gen {gen}'s sidecar contract "
            f"disagrees with its write-once commit marker — the store "
            f"was modified outside the protocol (marker {doc}, "
            f"sidecar {contract})"
        )
    return gen, path, contract


def promote_payload_compaction(
    spark,
    root: str,
    windows: DataFrame,
    spans_col: str = "spans",
    n_shards: int | None = None,
    store: MarkerStore | None = None,
) -> tuple[int, DataFrame]:
    """The payload plane's full swap, with :func:`promote_compaction`'s
    order and fences: compact the CURRENT generation's REFERENCED
    blobs into the next one (``compact_payload_store`` — orphans
    swept, kept blobs byte-identical), PROVE the preservation, then
    verify + publish the successor and retire the source.  Returns
    (new_generation, written manifest).

    The proof: the kept subset's content fingerprint is pinned from a
    src scan BEFORE the compaction (``_kept_payloads`` is the same
    definition of "kept" the compaction writes), and the successor's
    manifest fold must equal it — ``payload_set_content_fp`` is
    invariant under the re-sharding a new ``n_shards`` performs, so
    inequality means blobs were lost, duplicated, or altered.  The
    publish then re-proves the DATA against the sidecar, closing the
    chain: src kept content == dst sidecar == dst data.  The producer
    fences compare the source's (shard, wave) set: a wave landing
    before the publish refuses cleanly; one landing between the
    publish and the retirement is rescued into the successor from the
    retired source's own data (a content-addressed append)."""
    return _promote(
        _PLANES["payload"], spark, root, store,
        windows=windows, spans_col=spans_col, n_shards=n_shards,
    )

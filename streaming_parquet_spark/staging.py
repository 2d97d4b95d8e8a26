"""Staging: the one place a derived relation is persisted and released.

Every LLM-data gate and every ingest loop stages derived relations
(persist + count) before a quadratic or multi-consumer stage: the
relation is computed once instead of per consumer branch, and after the
eager count Catalyst sees its exact size, so a build side that fits
auto-broadcasts.  At 100 TB the same call is how signatures are staged
before the quadratic-per-block stage (or persisted to a table).

Ownership follows Structured Streaming's rule that the trigger owns its
work: whoever stages a relation releases it.

* :func:`scope` opens an owner on the calling thread; on exit it
  releases exactly the relations staged on that thread while it was
  open.  A ``foreachBatch`` body wraps itself in one, so a micro-batch's
  stagings — its own and those of every operator it calls — die with
  the batch.
* Stagings made outside any ``scope()`` belong to the session scope,
  closed by :func:`release_materialized` (the gate boundary: the bench
  and the oracle harness call it between queries).

Threads: scopes are thread-local.  ``concurrency.parallel_branches``
workers run on pool threads that never hold a scope, so a branch's
stagings go to the session scope even when the caller of
``parallel_branches`` is inside one; they live until the next
``release_materialized()``.  Conversely, ``release_materialized()`` on
one thread never touches a scope open on another (a running stream's
batch keeps its stagings).

The ``parallel_branches`` rule, then: a builder that must not outlive
its caller's scope (a ``foreachBatch`` body's branches) opens its own
``with scope():`` and returns only what it has counted or collected, or
the caller releases the branch results itself.  Builders that run inline
— a single builder, or a nested call on a pool thread — stage into the
calling thread's scope like any other code.  No ingest loop calls
``parallel_branches`` today; gates do, and the gate boundary's
``release_materialized()`` closes what their branches staged.
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
import weakref
from collections.abc import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_SESSION: list[DataFrame] = []
_SESSION_LOCK = threading.Lock()
_LOCAL = threading.local()


def stage(df: DataFrame, width: str | tuple = "bytes") -> DataFrame:
    """Persist + count ``df`` and return the staged frame, owned by the
    innermost open :func:`scope` of this thread (else the session).

    ``width`` picks the staged relation's partitioning:

    * ``"bytes"`` — no repartition.  Under the session's
      ``canChangeCachedPlanOutputPartitioning=true`` AQE sizes a cached
      post-shuffle plan by its bytes, so a vocab-sized aggregate
      collapses to one partition and a corpus-sized one stays wide.
    * ``"cluster"`` — round-robin to ``defaultParallelism`` first.  An
      explicit repartition is never coalesced, so the cached partition
      count IS the parallelism of a consumer that reads the staging with
      no exchange in between (both sides of a pairwise self-join, a
      compute-dense encode).  Byte-tiny stagings of heavy work need it.
    * ``("hash", *cols)`` — hash on ``cols`` to ``defaultParallelism``:
      the width of ``"cluster"`` plus a partitioning that later joins
      and aggregates on ``cols`` reuse without another exchange.

    The returned frame carries the count as ``staged_rows``, so a caller
    that tallies the rows runs no second job.  A frame that is already
    cached when it reaches the persist (a caller's own ``cache()``) is
    counted but not registered: its owner releases it, not this scope.

    Persist + count, NOT localCheckpoint: localCheckpoint builds a
    LogicalRDD that eagerly copies the plan's constraint set; with tens
    of aliased projection columns the alias substitution closure in
    getAllValidConstraints is combinatorial — a 16-column
    flattened-vector projection OOMed an 8 GiB driver before any data
    moved.  InMemoryRelation has no such step, and after the eager count
    its stats carry the exact materialized size, so auto-broadcast still
    sees real numbers."""
    if width != "bytes":
        n = df.sparkSession.sparkContext.defaultParallelism
        if width == "cluster":
            df = df.repartition(n)
        elif isinstance(width, tuple) and width[0] == "hash" and width[1:]:
            df = df.repartition(n, *width[1:])
        else:
            raise ValueError(
                f"stage: width must be 'bytes', 'cluster' or "
                f"('hash', *cols), got {width!r}"
            )
    owned = df.storageLevel == StorageLevel.NONE
    df = df.persist()
    if owned:
        # registered before the count, so a failing count is released too
        scopes = getattr(_LOCAL, "scopes", None)
        if scopes:
            scopes[-1].append(df)
        else:
            with _SESSION_LOCK:
                _SESSION.append(df)
    df.staged_rows = df.count()
    return df


@contextlib.contextmanager
def scope() -> Iterator[None]:
    """Release, on exit, every relation :func:`stage` registered on this
    thread while the scope was open (nested scopes own their own)."""
    scopes = _LOCAL.__dict__.setdefault("scopes", [])
    owned: list[DataFrame] = []
    scopes.append(owned)
    try:
        yield
    finally:
        scopes.pop()
        for df in owned:
            df.unpersist(blocking=False)


def release_materialized() -> None:
    """Close the session scope: unpersist every relation staged outside
    any :func:`scope` — call when a batch of similarity/dedup work is
    done and the session lives on."""
    with _SESSION_LOCK:
        owned = _SESSION[:]
        _SESSION.clear()
    for df in owned:
        df.unpersist(blocking=False)


_SPREAD_MARK: "weakref.WeakSet[DataFrame]" = weakref.WeakSet()


def spread_input(df: DataFrame, min_ratio: int = 2) -> DataFrame:
    """Round-robin a SOURCE relation across the cluster when its scan
    would yield pathologically few partitions — a single-row-group
    parquet file is unsplittable, so every downstream per-row
    computation (md5 shingling, 64-dim dot products, Arrow UDF
    batches) would otherwise run inside ONE task no matter how many
    cores exist. The repartition moves the narrow input columns once
    (cheap — do it BEFORE the heavy projection, which then runs fully
    parallel).

    Conditional by design: the scan's task count is ESTIMATED from the
    source file listing and sizes versus maxPartitionBytes — pure
    driver-side metadata, no job. (NOT ``df.rdd.getNumPartitions()``:
    under AQE that materializes the plan's query stages — i.e. runs
    the query — just to ask the question.) A multi-file / large corpus
    (any production layout — thousands of splits at 100 TB) estimates
    >= cores/min_ratio tasks and is returned untouched; a derived
    relation whose lineage already contains exchanges is parallel
    regardless, and an extra round-robin of its (small) output is the
    accepted cost of keeping the check metadata-only. Re-spreading is
    suppressed for frames this function itself returned."""
    if df in _SPREAD_MARK:
        return df
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism or 1
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:
        return df
    # A lineage that already contains a ROUND-ROBIN repartition into
    # enough partitions (this function on an upstream frame — e.g. the
    # shared table loader spreads the corpora — or an explicit user
    # repartition(n)) is already parallel: a second round-robin would
    # just chain another full exchange of the same rows (observed as
    # back-to-back RoundRobinPartitioning stages in the embed_near_pairs
    # plan). Matched precisely, not by bare substring: ``coalesce(n)``
    # also prints as a Repartition node (shuffle=false) and a hash
    # RepartitionByExpression on a low-cardinality key can CONCENTRATE
    # rows — neither proves parallelism, so neither suppresses the
    # spread. Driver-side analyzed-plan probe; no job runs.
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        for m in re.finditer(r"Repartition (\d+), true", plan):
            if int(m.group(1)) * min_ratio >= cores:
                return df
    except Exception:
        pass
    try:
        max_pb = int(
            str(
                spark.conf.get(
                    "spark.sql.files.maxPartitionBytes", "134217728"
                )
            ).lower().rstrip("b")
        )
    except ValueError:
        max_pb = 134217728
    est = 0
    for f in files:
        path = f[len("file:"):] if f.startswith("file:") else f
        try:
            size = os.path.getsize(path)
        except OSError:
            return df  # non-local source: trust its split planning
        est += max(1, -(-size // max_pb))
        if est * min_ratio >= cores:
            return df
    # ROUND-ROBIN, not hash-on-columns: a hash partitioning expression
    # references its columns, which blocks column pruning from reaching
    # the scan (a downstream 2-column projection would read the whole
    # row). Round-robin references nothing — pruning passes through —
    # and its determinism sort (sortBeforeRepartition) touches only the
    # already-pruned projection of these deliberately small inputs.
    out = df.repartition(cores)
    _SPREAD_MARK.add(out)
    return out

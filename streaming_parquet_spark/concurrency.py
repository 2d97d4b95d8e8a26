"""Driver-side overlap of independent gate branches.

Spark's scheduler happily runs several jobs at once inside one
application; actions are only sequential because driver code calls
them sequentially (optimization guide §2.6 "Overlap independent
jobs").  The merged family gates build N independent branch plans,
and several branches run EAGER driver actions while being built —
persist+count staging (`staging.stage`), iterative
localCheckpoint rounds (connected components), streaming spin-ups,
store writes.  Built serially, each such action pays its full fixed
job latency while the rest of the cluster idles; built on a small
thread pool, the scheduler backfills those jobs onto idle cores.

The result is unchanged: builders are deterministic plan
constructors, their eager actions are idempotent stagings, and the
returned DataFrames are combined by the caller exactly as before.
A builder's stagings belong to the session scope (pool threads hold
no ``staging.scope()``), released by ``release_materialized()``.
This matters at every scale — on a cluster the staging jobs are
bigger and the idle capacity during a straggler tail is worth more.
"""

from __future__ import annotations

import atexit
import threading
from collections.abc import Callable
from concurrent.futures import (
    FIRST_EXCEPTION,
    Future,
    ThreadPoolExecutor,
    wait,
)
from typing import Any

#: One long-lived pool shared by every parallel_branches call. Under
#: py4j's pinned-thread mode (the PySpark default) EVERY new Python
#: thread pins a dedicated JVM thread + client connection for its
#: lifetime — a fresh pool per call would accumulate hundreds of them
#: over a 100-query sweep (measured: later queries in the sweep slow
#: down as the JVM drags the dead connections). A bounded reused pool
#: caps that at _POOL_WORKERS threads for the process lifetime.
_POOL_WORKERS = 8
_POOL: ThreadPoolExecutor | None = None
_POOL_LOCK = threading.Lock()


def _pool() -> ThreadPoolExecutor:
    global _POOL
    with _POOL_LOCK:
        if _POOL is None:
            _POOL = ThreadPoolExecutor(
                max_workers=_POOL_WORKERS,
                thread_name_prefix="branch-build",
            )
            atexit.register(_POOL.shutdown, wait=False)
        return _POOL


#: Thread-local marker set while a builder runs on the shared pool.
#: A nested parallel_branches call from inside a pool worker runs its
#: builders INLINE on the caller thread instead of submitting — the
#: structural guard against the bounded-pool deadlock (every slot
#: occupied by callers blocking on children that can never be
#: scheduled).  Gates still use one level of parallelism; nesting is
#: merely safe now instead of forbidden-by-docstring.
_IN_POOL = threading.local()


def parallel_branches(*builders: Callable[[], Any]) -> list[Any]:
    """Run zero-arg branch builders concurrently, return their results
    in argument order.

    Failure semantics: the first failing branch (in argument order)
    wins; the MOMENT any branch fails, queued-but-not-yet-started
    sibling builders are cancelled — from a done-callback, on the
    failing branch's own worker before that worker takes its next
    item — so branches with on-disk side effects (store writes,
    streaming spin-ups) cannot begin after the gate has already
    failed, and the call WAITS for already-running
    siblings to drain (Spark driver threads aren't interruptible
    mid-build) before re-raising — so a failed gate's side effects
    never interleave with whatever the caller does next.

    Uses ``pyspark.inheritable_thread_target`` so JVM thread-local
    properties (job group/description/tags) propagate to the worker
    threads — the documented way to submit Spark jobs from driver
    threads.  Nested calls (a builder that itself calls
    parallel_branches) run inline on the worker thread — see _IN_POOL."""
    if len(builders) == 1 or getattr(_IN_POOL, "active", False):
        return [b() for b in builders]
    try:
        from pyspark import inheritable_thread_target
        from pyspark.sql import SparkSession

        session = SparkSession.getActiveSession()
        if session is not None:
            # The session form inherits job group/description AND tags
            # (the bare-callable form warns that tags are dropped).
            deco = inheritable_thread_target(session)
            wrapped = [deco(b) for b in builders]
        else:
            wrapped = [inheritable_thread_target(b) for b in builders]
    except Exception:  # pragma: no cover - Connect-only signature drift
        wrapped = list(builders)

    # No builder starts before every future carries the cancelling
    # callback: a branch failing mid-submission would otherwise free
    # its worker for a queued sibling before the callback exists.
    armed = threading.Event()

    def _run(fn: Callable[[], Any]) -> Any:
        armed.wait()
        _IN_POOL.active = True
        try:
            return fn()
        finally:
            _IN_POOL.active = False

    def _cancel_siblings(f: Future) -> None:
        if not f.cancelled() and f.exception() is not None:
            for g in futures:
                g.cancel()

    try:
        futures = [_pool().submit(_run, w) for w in wrapped]
        for f in futures:
            f.add_done_callback(_cancel_siblings)
    finally:
        armed.set()  # a failed submit must not strand the queued ones
    wait(futures, return_when=FIRST_EXCEPTION)
    if any(
        not f.cancelled() and f.done() and f.exception() is not None
        for f in futures
    ):
        wait(futures)  # drain running siblings before surfacing
        for f in futures:
            if not f.cancelled() and f.exception() is not None:
                raise f.exception()
    return [f.result() for f in futures]

"""Focused gates for the branch-parallel build machinery:
concurrency.parallel_branches, staging ownership (the session scope,
thread-local scopes, and the three staging widths), and the shared
minhash staging path (staged= must be bit-identical to the
self-contained path)."""

import pytest

from pyspark.sql import functions as F

from streaming_parquet_spark.concurrency import parallel_branches


def test_parallel_branches_preserves_argument_order():
    out = parallel_branches(*(lambda i=i: i * 10 for i in range(8)))
    assert out == [i * 10 for i in range(8)]


def test_parallel_branches_single_builder_fast_path():
    assert parallel_branches(lambda: "only") == ["only"]


def test_parallel_branches_propagates_exception():
    def boom():
        raise ValueError("branch failed")

    with pytest.raises(ValueError, match="branch failed"):
        parallel_branches(lambda: 1, boom, lambda: 3)


def test_parallel_branches_runs_concurrently():
    # Builders rendezvous on a barrier: serial execution would deadlock
    # (timeout -> BrokenBarrierError), so passing proves true overlap.
    import threading

    barrier = threading.Barrier(3, timeout=20)

    def waiter(i):
        barrier.wait()
        return i

    assert parallel_branches(
        *(lambda i=i: waiter(i) for i in range(3))
    ) == [0, 1, 2]


def test_parallel_branches_spark_jobs_from_threads(spark):
    # Spark actions submitted from the pool's threads must work and
    # return correct results (inheritable_thread_target wiring).
    dfs = parallel_branches(
        lambda: spark.range(100).agg(F.sum("id")).collect()[0][0],
        lambda: spark.range(50).agg(F.count("*")).collect()[0][0],
    )
    assert dfs == [4950, 50]


def test_minhash_staged_pairs_identical_to_self_contained(spark, sf_dir):
    from streaming_parquet_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_staging,
    )
    from streaming_parquet_spark.staging import release_materialized

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want_uncapped = sorted(
        minhash_lsh_pairs(
            docs, num_hashes=16, bands=8, jaccard_threshold=0.2
        ).collect()
    )
    want_capped = sorted(
        minhash_lsh_pairs(
            docs, num_hashes=16, bands=8, jaccard_threshold=0.2,
            max_bucket_rows=64,
        ).collect()
    )
    staged = minhash_lsh_staging(docs, num_hashes=16, bands=8)
    got_uncapped = sorted(
        minhash_lsh_pairs(
            docs, num_hashes=16, bands=8, jaccard_threshold=0.2,
            staged=staged,
        ).collect()
    )
    got_capped = sorted(
        minhash_lsh_pairs(
            docs, num_hashes=16, bands=8, jaccard_threshold=0.2,
            max_bucket_rows=64, staged=staged,
        ).collect()
    )
    release_materialized()
    assert got_uncapped == want_uncapped
    assert got_capped == want_capped


def test_parallel_branches_nested_call_runs_inline():
    # A builder that itself calls parallel_branches must not deadlock
    # the bounded shared pool: nested calls run inline on the worker
    # thread (the _IN_POOL guard). Saturate the pool with nesting
    # builders — with submission-based nesting this would exhaust the
    # 8 slots and hang; inline nesting completes.
    from streaming_parquet_spark import concurrency as cc

    def nesting(i):
        inner = cc.parallel_branches(
            lambda: i * 2, lambda: i * 2 + 1
        )
        assert getattr(cc._IN_POOL, "active", False)
        return inner

    out = parallel_branches(
        *(lambda i=i: nesting(i) for i in range(cc._POOL_WORKERS + 2))
    )
    assert out == [[i * 2, i * 2 + 1] for i in range(cc._POOL_WORKERS + 2)]
    # The caller thread is not a pool worker: flag must be clear here.
    assert not getattr(cc._IN_POOL, "active", False)


def test_parallel_branches_failure_cancels_queued_siblings():
    # Once a branch fails, queued-but-unstarted siblings must not run
    # (side-effecting builders would otherwise interleave with the
    # caller's error handling). Fill the pool with blocking builders,
    # queue one side-effecting sibling behind a failing branch, then
    # release: the queued sibling must have been cancelled.
    import threading
    import time

    from streaming_parquet_spark import concurrency as cc

    release = threading.Event()
    ran = []

    def blocker():
        release.wait(20)
        return "blocked"

    def boom():
        raise RuntimeError("gate failed")

    def side_effect():
        ran.append(1)
        return "ran"

    builders = [boom]
    builders += [blocker] * cc._POOL_WORKERS
    builders += [side_effect]
    t = threading.Thread(
        target=lambda: (time.sleep(0.5), release.set())
    )
    t.start()
    with pytest.raises(RuntimeError, match="gate failed"):
        parallel_branches(*builders)
    t.join()
    assert ran == []


def test_parallel_branches_failing_worker_cannot_dequeue_sibling():
    # The pool holds the failing branch and _POOL_WORKERS - 1 blockers,
    # so the failing branch's freed worker is the one that would take
    # the queued side-effecting sibling. A long switch interval keeps
    # that worker on the interpreter until it blocks: the caller thread
    # cannot cancel in between, so only cancellation on the failing
    # worker itself keeps the sibling from running.
    import sys
    import threading

    from streaming_parquet_spark import concurrency as cc

    n = cc._POOL_WORKERS
    # Start every pool thread first, so no submission waits on a start.
    parallel_branches(*[lambda: threading.Event().wait(0.05)] * n)
    started = threading.Barrier(n, timeout=20)
    release = threading.Event()
    ran = []

    def blocker():
        started.wait()
        release.wait(20)
        return "blocked"

    def boom():
        started.wait()
        raise RuntimeError("gate failed")

    def side_effect():
        ran.append(1)
        return "ran"

    builders = [boom] + [blocker] * (n - 1) + [side_effect]
    old = sys.getswitchinterval()
    sys.setswitchinterval(0.5)
    try:
        releaser = threading.Timer(1.0, release.set)
        releaser.start()
        with pytest.raises(RuntimeError, match="gate failed"):
            parallel_branches(*builders)
    finally:
        sys.setswitchinterval(old)
        release.set()
        releaser.join(5)
    assert not releaser.is_alive()
    assert ran == []


def test_minhash_staged_param_mismatch_raises(spark, sf_dir):
    from streaming_parquet_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_staging,
    )
    from streaming_parquet_spark.staging import release_materialized

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    staged = minhash_lsh_staging(docs, num_hashes=16, bands=8)
    base, exploded = staged  # still unpacks like a plain tuple
    assert base.columns == ["id", "wh"]
    assert exploded.columns == ["id", "band", "bh"]
    with pytest.raises(ValueError, match="staged= was built with"):
        minhash_lsh_pairs(docs, num_hashes=16, bands=4, staged=staged)
    # a bare tuple pins nothing, so nothing could be checked: refused
    with pytest.raises(ValueError, match="carries no pinned parameters"):
        minhash_lsh_pairs(
            docs, num_hashes=16, bands=8, staged=(base, exploded)
        )
    release_materialized()


def _cached(df) -> bool:
    from pyspark import StorageLevel

    return df.storageLevel != StorageLevel.NONE


def test_materialize_registry_concurrent_staging(spark):
    # Stagings made on parallel_branches workers (threads that hold no
    # scope) belong to the session scope: every one stays readable
    # until release_materialized(), which releases them all — a lost
    # registration would leave its frame cached.
    import sys

    from streaming_parquet_spark.staging import release_materialized, stage

    release_materialized()

    def build(i):
        return stage(
            spark.range(i * 100, i * 100 + 10).withColumn(
                "x", F.col("id") * 2
            )
        )

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        dfs = parallel_branches(*(lambda i=i: build(i) for i in range(6)))
    finally:
        sys.setswitchinterval(interval)
    for i, df in enumerate(dfs):
        assert _cached(df)
        rows = df.collect()
        assert len(rows) == 10
        assert min(r["id"] for r in rows) == i * 100
    release_materialized()
    assert not any(_cached(df) for df in dfs)


def test_scope_releases_exactly_its_own_stagings(spark):
    import threading

    from streaming_parquet_spark.staging import (
        release_materialized,
        scope,
        stage,
    )

    release_materialized()
    before = stage(spark.range(0, 7))
    with scope():
        inner = stage(spark.range(0, 11))
        assert _cached(inner) and _cached(before)
    assert not _cached(inner)  # staged inside: released on exit
    assert _cached(before)  # staged before the scope opened: not its own
    with scope():
        live = stage(spark.range(0, 13))
        # closing the session scope from another thread leaves this
        # thread's open scope alone (a running stream's batch)
        t = threading.Thread(target=release_materialized)
        t.start()
        t.join(60)
        assert not t.is_alive()
        assert not _cached(before)
        assert _cached(live)
        assert live.staged_rows == live.count() == 13
    assert not _cached(live)


def test_stage_widths_pin_partitioning(spark):
    # Under canChangeCachedPlanOutputPartitioning=true AQE may shrink a
    # cached post-shuffle plan to its bytes; the explicit widths must
    # keep defaultParallelism partitions (the ivf / semantic-dedup /
    # prefix-family stagings depend on it), and "bytes" must add no
    # repartition of its own.
    from streaming_parquet_spark.staging import release_materialized, stage

    assert spark.conf.get(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    ) == "true"
    n = spark.sparkContext.defaultParallelism
    # a few KB, produced by a shuffle on another key: the shape AQE
    # coalesces, and one a hash on id must really repartition
    tiny = (
        spark.range(0, 400)
        .groupBy((F.col("id") % 97).alias("g"))
        .agg(F.min("id").alias("id"), F.count(F.lit(1)).alias("n"))
    )

    def cached_plan(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    cluster = stage(tiny, width="cluster")
    hashed = stage(tiny.withColumn("k", F.lit(1)), width=("hash", "id"))
    plain = stage(tiny.withColumn("k", F.lit(2)))
    assert cluster.rdd.getNumPartitions() == n
    assert hashed.rdd.getNumPartitions() == n
    assert "RoundRobinPartitioning" in cached_plan(cluster)
    assert "hashpartitioning(id" in cached_plan(hashed)
    assert "RoundRobinPartitioning" not in cached_plan(plain)
    assert "REPARTITION_BY_NUM" not in cached_plan(plain)
    assert plain.rdd.getNumPartitions() < n
    with pytest.raises(ValueError, match="width"):
        stage(tiny, width="spread")
    release_materialized()

"""SparkSession factory tuned for this engine.

Local-mode defaults follow the Spark docs' guidance: shuffle partitions
sized to cores (not the 200 default), AQE on for runtime coalescing and
skew handling, Arrow enabled for the Pandas-UDF paths, and UTC session
timezone so timestamp semantics match ANSI engines (the DuckDB oracle).
On a real cluster the same builder applies — only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: worker entry point that keeps zip import caches across the tasks of a
#: reused Python worker (see pyspark_graft_worker.py at the package root)
WORKER_MODULE = "pyspark_graft_worker"


def worker_conf(
    master: str, extra_conf: dict[str, str] | None = None
) -> dict[str, str]:
    """``extra_conf`` plus ``spark.python.worker.module`` where ``master``
    is local.

    Only local masters get the hook: their Python workers are forked by a
    JVM that inherits this process's environment, where ``get_spark``
    puts the package root on ``PYTHONPATH``; a cluster's executors may
    not have the module.  A value the caller passes in ``extra_conf``
    wins."""
    conf = {}
    if master == "local" or master.startswith("local["):
        conf["spark.python.worker.module"] = WORKER_MODULE
    conf.update(extra_conf or {})
    return conf


def _jvm_sees(path: str) -> bool:
    """Whether Python workers forked by this process's JVM will have
    ``path`` on ``PYTHONPATH``: true for a JVM not launched yet (it
    inherits ``os.environ``), else read from the running JVM."""
    from pyspark import SparkContext

    if SparkContext._gateway is None:
        return True
    try:
        env = SparkContext._jvm.System.getenv("PYTHONPATH") or ""
    except Exception:
        return False
    return path in env.split(os.pathsep)


def get_spark(
    app_name: str = "streaming_parquet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Respects ``SPARK_GRAFT_CPUS`` for local parallelism so the bench
    driver can pin core counts.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # Python workers resolve cloudpickled UDF closures by module name, so
    # the package root must be on the workers' PYTHONPATH — driver-side
    # sys.path does not propagate. Export it before the JVM forks workers.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE size the output partitioning of CACHED plans too
        # (default false): the engine stages derived relations via
        # persist+count (staging.stage), and with the default
        # every vocab-sized staged aggregate keeps all
        # shuffle.partitions post-shuffle partitions — near-empty
        # partitions whose per-task fixed cost is pure overhead for
        # every consumer stage (measured r15: the staged text gates ran
        # FASTER at 8 cores than 32). With AQE allowed to coalesce, the
        # staged relation's partition count follows its actual bytes at
        # ANY scale — tiny vocab aggregates collapse to one partition,
        # corpus-sized stagings stay wide (guide §2.1/§5).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Julian<->proleptic-Gregorian rebase checks run per timestamp
        # VALUE in EXCEPTION mode (the default) whenever file metadata
        # doesn't prove the writer's calendar — which is every non-Spark
        # parquet file. All dates this engine handles are far after 1582,
        # where the calendars agree, so checking is pure overhead:
        # CORRECTED lifts parquet->parquet conversion from ~110 to
        # ~200 MB/s on the timestamp-bearing lineitem corpus. A corpus
        # with pre-1582 dates would need LEGACY rebase instead.
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
        # Listing <=1024 explicit input paths is driver-side microseconds;
        # the default threshold (32) instead schedules a distributed
        # file-listing JOB per plan build — measured ~0.3-0.5 s of pure
        # overhead on a 64-file conversion. Million-file object-store
        # corpora still get the parallel listing path above 1024.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # Whole-stage-codegen class cache: the default 100 entries
        # thrash under a many-query session (this engine's gate/bench
        # sweeps run 150 queries x ~10 codegen units each), so every
        # revisit re-runs janino on multi-thousand-node generated
        # classes — measured 2.6 s -> 1.2 s on the pair-similarity gate
        # once cached classes survive a 150-run round trip. Entries are
        # bytecode + source keys (KBs each); 4096 is tens of MB at
        # worst, far below driver headroom.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # a JVM launched before PYTHONPATH held the package root cannot
    # import the worker module: leave the default worker there
    conf = (
        worker_conf(master, extra_conf)
        if _jvm_sees(pkg_root)
        else dict(extra_conf or {})
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

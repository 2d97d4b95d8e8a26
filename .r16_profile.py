"""r16 profiling harness: per-query build-vs-execute split.

For each named query (or the N slowest from BENCH_DETAIL.json), times
 - build_s: the queries()[name](spark, sf_dir) call (driver-side plan
   construction, including any mid-build actions the gate runs), and
 - exec_s: the noop-sink write of the returned frame,
over `passes` passes with the bench's cache-clearing protocol, and
prints min/median per phase.  Mirrors bench.py's session + warmup so
numbers are comparable to BENCH_DETAIL.json.
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from streaming_parquet_spark.session import get_spark
import streaming_parquet_spark.queries_ext  # noqa: F401
import streaming_parquet_spark.queries_tpch  # noqa: F401
from streaming_parquet_spark.queries import QUERIES
from streaming_parquet_spark.staging import release_materialized


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    passes = int(os.environ.get("R16_PASSES", "3"))
    names = sys.argv[1:]
    if not names:
        detail = json.load(open(os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")))
        q = detail["queries"]
        names = sorted(q, key=lambda k: -q[k])[:int(os.environ.get("R16_TOP", "20"))]

    spark = get_spark(app_name="r16_profile", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    from bench import _warm
    _warm(spark, sf_dir)

    out = {}
    for name in names:
        fn = QUERIES[name]
        builds, execs = [], []
        for _ in range(passes):
            spark.catalog.clearCache()
            release_materialized()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            execs.append(t2 - t1)
        out[name] = {
            "build_min": round(min(builds), 3),
            "build_med": round(statistics.median(builds), 3),
            "exec_min": round(min(execs), 3),
            "exec_med": round(statistics.median(execs), 3),
            "total_min": round(min(b + e for b, e in zip(builds, execs)), 3),
        }
        print(f"{name:36s} build {out[name]['build_min']:7.3f} "
              f"exec {out[name]['exec_min']:7.3f} "
              f"total {out[name]['total_min']:7.3f}", flush=True)
    with open("/tmp/r16_profile.json", "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()

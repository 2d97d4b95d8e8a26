"""Capture .explain('formatted') for named queries into plans/r16/."""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from streaming_parquet_spark.session import get_spark
import streaming_parquet_spark.queries_ext  # noqa: F401
import streaming_parquet_spark.queries_tpch  # noqa: F401
from streaming_parquet_spark.queries import QUERIES
from streaming_parquet_spark.staging import release_materialized


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    suffix = os.environ.get("R16_SUFFIX", "before")
    outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "plans", "r16")
    os.makedirs(outdir, exist_ok=True)
    names = sys.argv[1:]
    if not names:
        detail = json.load(open(os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")))
        q = detail["queries"]
        names = sorted(q, key=lambda k: -q[k])[:int(os.environ.get("R16_TOP", "20"))]

    spark = get_spark(app_name="r16_plans", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    for name in names:
        try:
            spark.catalog.clearCache()
            release_materialized()
            df = QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(plan)
            print(f"captured {name} ({len(plan)} chars)", flush=True)
        except Exception as exc:
            print(f"FAILED {name}: {exc}", flush=True)


if __name__ == "__main__":
    main()

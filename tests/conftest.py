import os
import shutil
import tempfile

import pytest

from streaming_parquet_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # Per-session warehouse: a previously KILLED run can leave an
    # orphaned table location (directory on disk, no catalog entry)
    # that `DROP TABLE IF EXISTS` cannot see and `saveAsTable` then
    # refuses with LOCATION_ALREADY_EXISTS.  A fresh tmp warehouse per
    # pytest session makes the suite self-healing against its own
    # corpses — no fixed-name location ever survives into the next run.
    warehouse = tempfile.mkdtemp(prefix="maw_test_warehouse_")
    s = get_spark(
        app_name="streaming_parquet_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s
    # a COMPLETED run reclaims its warehouse (a killed run leaks one
    # dir, which the per-session isolation makes harmless)
    shutil.rmtree(warehouse, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(autouse=True)
def _release_staged_relations():
    """Gate boundary between tests: close the session scope (the
    relations staging.stage staged outside any scope()), exactly as the
    bench/oracle harness does between queries, so one test's stagings
    neither stay cached nor skew another's."""
    yield
    from streaming_parquet_spark.staging import release_materialized

    release_materialized()

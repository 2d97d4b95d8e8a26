"""The Python worker hook (pyspark_graft_worker, wired by
session.get_spark): a reused worker keeps its zip import caches across
tasks, the conf decision sets it only where workers can import it, and
both worker entry paths (daemon fork and ``python -m``) run tasks."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from streaming_parquet_spark.session import WORKER_MODULE, worker_conf

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_KEY = "spark.python.worker.module"


def _python(script: str, tmp_path, timeout: int = 120):
    """Run ``script`` in a fresh interpreter with the repo root on its
    path (``install()`` patches the process it runs in, so these checks
    keep it out of the test process)."""
    path = tmp_path / "probe.py"
    path.write_text(textwrap.dedent(script), encoding="utf-8")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [_ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return subprocess.run(
        [sys.executable, str(path)], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=timeout,
    )


def test_worker_conf_decision():
    assert worker_conf("local[4]") == {_KEY: WORKER_MODULE}
    assert worker_conf("local") == {_KEY: WORKER_MODULE}
    assert worker_conf("local[*]", {"a": "1"}) == {_KEY: WORKER_MODULE, "a": "1"}
    assert worker_conf("spark://host:7077") == {}
    assert worker_conf("yarn", {"a": "1"}) == {"a": "1"}
    mine = {_KEY: "pyspark.worker"}
    assert worker_conf("local[4]", mine) == mine


def test_reused_worker_keeps_zip_directory(spark):
    """Each task plants a sentinel in the zip directory cache of the
    archive it imported pyspark from; a worker's later tasks must still
    see it (the default worker re-reads the archive every task, which
    replaces the cached directory and drops the sentinel)."""

    def probe(_):
        import os
        import time
        import zipimport

        import pyspark

        start = time.monotonic_ns()
        arch = os.path.dirname(pyspark.__file__)
        while arch and not os.path.isfile(arch):
            parent = os.path.dirname(arch)
            arch = "" if parent == arch else parent
        files = zipimport._zip_directory_cache.get(arch) if arch else None
        seen = files is not None and "__graft_sentinel__" in files
        if files is not None:
            files["__graft_sentinel__"] = None
        yield os.getpid(), start, seen, files is not None

    got = spark.sparkContext.parallelize(range(8), 8).mapPartitions(probe).collect()
    if not all(zipped for *_x, zipped in got):
        pytest.skip("workers do not import pyspark from a zip archive")
    by_pid: dict[int, list] = {}
    for pid, start, seen, _z in got:
        by_pid.setdefault(pid, []).append((start, seen))
    assert max(map(len, by_pid.values())) >= 2, by_pid  # some worker reused
    for pid, runs in by_pid.items():
        later = [seen for _start, seen in sorted(runs)[1:]]
        assert all(later), (pid, sorted(runs))


def test_stat_checked_invalidate_rereads_only_changed_archives(tmp_path):
    out = _python(
        f"""
        import os, zipfile, zipimport
        import pyspark_graft_worker as w

        # importing the module patched nothing
        assert not hasattr(zipimport.zipimporter.invalidate_caches, "reread")
        assert w.install()
        assert w.install()  # once per process: the original is wrapped once
        assert not hasattr(zipimport.zipimporter.invalidate_caches.reread,
                           "reread")
        arch = {str(tmp_path / "lib.zip")!r}
        with zipfile.ZipFile(arch, "w") as z:
            z.writestr("a.py", "X = 1\\n")
        imp = zipimport.zipimporter(arch)
        imp.invalidate_caches()
        files = imp._files
        imp.invalidate_caches()
        assert imp._files is files  # unchanged archive: not re-read
        with zipfile.ZipFile(arch, "w") as z:
            z.writestr("a.py", "X = 1\\n")
            z.writestr("b.py", "Y = 2\\n")
        imp.invalidate_caches()
        assert imp._files is not files and "b.py" in imp._files
        os.remove(arch)
        imp.invalidate_caches()
        assert imp._files == {{}}  # a vanished archive clears as before
        print("STAT_CHECK_OK")
        """,
        tmp_path,
    )
    assert out.returncode == 0, out.stderr
    assert "STAT_CHECK_OK" in out.stdout


def test_hook_without_patch_runs_the_default_main(tmp_path):
    out = _python(
        """
        import sys, types
        sys.modules["zipimport"] = types.ModuleType("zipimport")
        import pyspark.worker
        import pyspark_graft_worker as w

        calls = []
        pyspark.worker.main = lambda i, o: calls.append((i, o)) or "done"
        assert w.install() is False
        assert w.main("in", "out") == "done" and calls == [("in", "out")]
        print("FAIL_SAFE_OK")
        """,
        tmp_path,
    )
    assert out.returncode == 0, out.stderr
    assert "FAIL_SAFE_OK" in out.stdout


def test_non_daemon_worker_runs_map_in_pandas(tmp_path):
    """``spark.python.use.daemon=false`` starts each worker as
    ``python -m <worker module>``: the hook's ``__main__`` path must
    serve the connect-back protocol and run a pandas UDF."""
    out = _python(
        """
        from streaming_parquet_spark.session import get_spark

        spark = get_spark(master="local[2]", shuffle_partitions=2,
                          extra_conf={"spark.python.use.daemon": "false"})
        conf = spark.sparkContext.getConf()
        assert conf.get("spark.python.worker.module") == "pyspark_graft_worker"

        def double(batches):
            import sys
            entry = sys.modules["__main__"].__spec__.name
            for pdf in batches:
                pdf["y"] = pdf["id"] * 2
                pdf["entry"] = entry
                yield pdf

        df = spark.range(10, numPartitions=3).mapInPandas(
            double, "id long, y long, entry string")
        rows = sorted(tuple(r) for r in df.collect())
        assert rows == [(i, 2 * i, "pyspark_graft_worker") for i in range(10)], rows
        spark.stop()
        print("NON_DAEMON_OK")
        """,
        tmp_path,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "NON_DAEMON_OK" in out.stdout

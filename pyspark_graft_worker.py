"""Python worker entry point for the engine's local sessions.

``session.get_spark`` sets ``spark.python.worker.module`` to this module
on local masters, so every Python task the engine launches (the
columnar passthrough sink, the ``mapInPandas`` operators, plain RDD
functions) runs through ``pyspark.worker.main`` with one change: a
reused worker no longer re-reads every zip archive on its import path at
the start of each task.

Why: ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` before every task.  On CPython 3.11
that makes each ``zipimporter`` in ``sys.path_importer_cache`` re-read
its archive's whole central directory.  A Spark 4.1 worker holds 16:
12 on ``pyspark.zip`` (1328 entries), 2 on py4j's zip and 2 on the
``spark-core`` jar that Spark puts on the workers' path (5359 entries).
That is 0.18-0.25 CPU-s per task on a 4-core host before the task
function runs, whatever the task's size.

The hook replaces ``zipimport.zipimporter.invalidate_caches`` with a
stat-checked version: an importer re-reads its archive only when the
archive's ``(st_mtime_ns, st_size)`` differs from what that importer
saw when it last read it.  Directory finders are still invalidated on
every task, so files shipped with ``addPyFile`` / ``SparkFiles`` are
found exactly as before, and a zip that really changes is re-read.

The name must start with ``pyspark``: ``pyspark.daemon`` imports its
``argv[1]`` as the worker module only when it does.  With
``spark.python.use.daemon=false`` the JVM runs ``python -m`` on this
module instead, which the ``__main__`` block below serves.  Importing
the module patches nothing; ``main`` applies the patch before its first
task, and if the patch cannot be applied it runs ``pyspark.worker.main``
unchanged.
"""

from __future__ import annotations

import os

import pyspark.worker as _worker

_STAMP = "_graft_archive_stamp"


def _stat_checked(reread):
    """``zipimporter.invalidate_caches`` that calls ``reread`` only when
    the archive changed since this importer last read it."""

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None  # missing archive: let the original clear it
        if stamp is not None and stamp == getattr(self, _STAMP, None):
            return
        reread(self)
        # stat taken before the read: a change racing the read shows up
        # as a new stamp next time and is read again
        setattr(self, _STAMP, stamp)

    invalidate_caches.reread = reread
    return invalidate_caches


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` once per process; returns
    whether the patch is in place.  An importer carries no stamp until
    its first call, which re-reads as before."""
    try:
        import zipimport

        cls = zipimport.zipimporter
        if not hasattr(cls.invalidate_caches, "reread"):
            cls.invalidate_caches = _stat_checked(cls.invalidate_caches)
        return True
    except (ImportError, AttributeError, TypeError):
        return False  # run the task with the default invalidation


def main(infile, outfile):
    """``pyspark.worker.main`` with the patch in place (``pyspark.daemon``
    calls this once per task in a forked worker)."""
    install()
    return _worker.main(infile, outfile)


if __name__ == "__main__":
    # spark.python.use.daemon=false: one worker process per task, started
    # as ``python -m``; connect back exactly as ``python -m pyspark.worker``
    from pyspark.serializers import write_int
    from pyspark.util import local_connect_and_auth

    conn_info = os.environ.get(
        "PYTHON_WORKER_FACTORY_SOCK_PATH",
        int(os.environ.get("PYTHON_WORKER_FACTORY_PORT", -1)),
    )
    auth_secret = os.environ.get("PYTHON_WORKER_FACTORY_SECRET")
    (sock_file, _) = local_connect_and_auth(conn_info, auth_secret)
    write_int(os.getpid(), sock_file)
    sock_file.flush()
    try:
        main(sock_file, sock_file)
    finally:
        sock_file.close()

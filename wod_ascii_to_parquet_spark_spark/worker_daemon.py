"""PySpark daemon that keeps Spark's own archives' zip directories cached.

Spark starts it as ``python -m wod_ascii_to_parquet_spark_spark.worker_daemon
pyspark.worker`` (``spark.python.daemon.module``, set by
``session.get_spark`` for local masters); it then runs ``pyspark.daemon``
unchanged. pyspark 4.1's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` on every task, and on Python < 3.12 that
makes every cached ``zipimporter`` re-read its archive's whole central
directory: about 0.13 s of CPU per task in a reused worker, for
``pyspark.zip``, the py4j zip and the spark-core jar. Those archives are on
the daemon's launch ``PYTHONPATH`` and cannot change while it runs, so their
re-read is skipped; any other archive is still re-read. Python 3.12 made the
invalidation lazy, and there this module changes nothing.

It also imports ``pyarrow.parquet`` and the convert plan before the first
fork, so every forked worker starts with them loaded: unpickling a convert
task's closure in a fresh worker otherwise imports ``functions/geohash.py``
and with it pandas, about 0.45 s of CPU per worker.
"""

import os
import sys
import zipimport


def pin_launch_archives() -> None:
    """Make ``zipimporter.invalidate_caches`` a no-op for the archives on
    this process's launch ``PYTHONPATH``, before any worker is forked."""
    if sys.version_info >= (3, 12):
        return
    pinned = {
        os.path.abspath(p)
        for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.isfile(p)
    }
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        if os.path.abspath(self.archive) not in pinned:
            reread(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    pin_launch_archives()
    import pyarrow.parquet  # noqa: F401
    from pyspark import daemon

    import wod_ascii_to_parquet_spark_spark.plans.convert  # noqa: F401

    daemon.manager()

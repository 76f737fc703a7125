"""SparkSession factory tuned for this engine.

Local-mode testing runs a single JVM (``local[N]``); production target is a
multi-executor cluster at ~100 TB, so every default here is chosen to be
scale-safe, not local-mode-specific:

- AQE on (runtime coalescing, skew-join splitting, join re-planning).
- Arrow on for every pandas-UDF boundary.
- UTC session timezone so timestamp semantics match the DuckDB oracle and
  are cluster-location independent.
- Shuffle partitions default to the local core count; on a real cluster this
  is overridden (AQE coalescing makes a high initial value cheap).
- Local masters start their Python workers from :mod:`.worker_daemon`, which
  spares each task a re-read of Spark's own zip archives.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Spark confs that are semantic (affect results / oracle parity), applied
#: even to sessions we did not create (driver-owned sessions) because they
#: are runtime-settable.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
}

#: Performance confs for sessions we build ourselves.
BUILD_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # Long single-JVM runs (bench executes every headliner 4×, the suite
    # hundreds of queries) accumulate broadcast blocks and localCheckpoint
    # RDDs whose cleanup is GC-driven; with the default 1g driver heap and
    # the default 30min periodic-GC interval, a run can hit "Not enough
    # memory to build and broadcast" before any cleanup happens. A real
    # driver heap plus a periodic GC keeps block cleanup ahead of
    # accumulation. (driver.memory only applies when THIS process launches
    # the JVM — externally-owned sessions keep their own sizing.)
    # Interval choice: periodic GC is a FULL System.gc() — at 1min one
    # landed inside a timed run every few bench queries, uniformly
    # inflating the sub-second headliners ~0.1-0.2s (measured; the large
    # queries absorb it). 5min still bounds broadcast-cleanup lag at an
    # 8g heap while keeping stop-the-world pauses out of most runs.
    "spark.driver.memory": "8g",
    "spark.cleaner.periodicGC.interval": "5min",
}


#: The package's import root: the directory that holds the package.
_IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _with_worker_confs(master: str, extra_confs: dict[str, str] | None) -> dict[str, str]:
    """``extra_confs`` plus, for a local master, the confs that start the
    Python workers from :mod:`.worker_daemon`. That daemon imports the
    package before any task runs, so the package's import root is appended
    to ``spark.executorEnv.PYTHONPATH``, after any value the caller set.
    Other masters get ``extra_confs`` unchanged."""
    confs = dict(extra_confs or {})
    if master == "local" or master.startswith("local["):
        confs.setdefault(
            "spark.python.daemon.module",
            "wod_ascii_to_parquet_spark_spark.worker_daemon",
        )
        key = "spark.executorEnv.PYTHONPATH"
        confs[key] = os.pathsep.join(p for p in (confs.get(key), _IMPORT_ROOT) if p)
    return confs


def get_spark(
    app_name: str = "wod_ascii_to_parquet_spark_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with this engine's defaults."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in BUILD_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or cpus)
    )
    for k, v in _with_worker_confs(master, extra_confs).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _disable_local_write_checksums(spark)
    return spark


def _disable_local_write_checksums(spark: SparkSession) -> None:
    """Turn off client-side .crc sidecars for file:// writes.

    file:// writes go through Hadoop's ChecksumFileSystem, which creates
    a hidden .crc sidecar for EVERY file — for a partitioned write
    producing thousands of small files (the WOD geohash3 layout: 1,652
    partition dirs per input file) that doubles the file creations and
    was measured as ~30% of the write stage (3.25 s → 2.26 s on the
    XBTO1967 bench write). Client-side CRC sidecars are a local-FS
    legacy: HDFS checksums server-side, object stores checksum per-PUT,
    and parquet carries its own column-chunk integrity.

    Done by flipping ``setWriteChecksum`` on the CACHED local FileSystem
    instance (every later ``path.getFileSystem`` call in this JVM gets
    the same cached object) rather than swapping ``fs.file.impl`` to
    RawLocalFileSystem — the impl swap breaks ``FileSystem.getLocal``
    callers (copyFromLocalFile casts to LocalFileSystem). Local-mode
    executors share the driver JVM, so the cached instance covers the
    write path; on a real cluster outputs are not file:// and this is a
    no-op."""
    try:
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI("file:///"), hconf
        )
        fs.setWriteChecksum(False)
        fs.setVerifyChecksum(False)
    except Exception:  # pragma: no cover - non-JVM sessions (Connect)
        pass


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply semantic runtime confs to an externally-owned session.

    The correctness driver hands us its own SparkSession; timestamp
    collection must be UTC for oracle parity regardless of its defaults.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be locked
            pass
    return spark

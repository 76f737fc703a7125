"""The WOD ASCII → partitioned parquet conversion pipeline.

Reference lifecycle (``SparklerExecutor.java:48-69`` +
``DatasetYearTrain.java:86-139``), rebuilt Spark-first:

- **plan**: enumerate ``<source>/<DS>/<LEVEL>/*.gz`` (× subset filter) into
  per-file tasks (``DatasetTrain.java:51-86``).
- **skip/resume**: output ``_SUCCESS`` exists → skip; stale ``_temporary``
  or ``overwrite`` → clean first (``DatasetYearTrain.java:89-94``).
- **convert one file**: distributed parse → split ok/err →
  geohash + geohash3 → ``repartition("geohash3")`` →
  ``sortWithinPartitions("geohash3", "geohash")`` → one-pass GeoParquet
  write (``DatasetYearTrain.java:128-139``) + error store append
  (``TransformationErrorHandler.java:42-52``).
- The reference's dead global ``orderBy(asc("geohash"))``
  (``DatasetYearTrain.java:130``) — a full range shuffle destroyed by the
  following repartition — is intentionally omitted.
- **The write is one pass**, as the reference's Sedona writer is (it takes
  the footer as writer options, ``DatasetYearTrain.java:132-134``): each
  ``mapInArrow`` writer task writes its geohash3 cells with pyarrow,
  through the executor-side store of ``geo_metadata`` (local disk, viewfs
  mounts, s3/s3a, gs), each file with the ``geo`` key already in its
  footer. The driver publishes: it renames each cell dir out of
  ``_temporary/<job>/``, deletes ``_temporary``, writes ``_SUCCESS``
  (holding the ``geo`` value), the error channel and the sidecar, in that
  order. That is the ``_temporary`` → rename + ``_SUCCESS`` protocol the
  reference managed by hand and Spark's FileOutputCommitter ran before.
  For a scheme no executor store can open (``hdfs://`` without libhdfs)
  the same tasks write each file to memory and the driver streams the
  bytes into ``_temporary``, one writer partition at a time. Compaction
  uses the same writer.
- The staging ``<out>_temp`` store (``DatasetYearTrain.java:82-83,211-222``)
  existed only because the driver-side parse fed batches; the single
  distributed write replaces it.
- The reference's remote-input staging (download each S3 object to a local
  temp dir before parsing, clean up after — ``DatasetYearTrain.java:99-109``)
  is obsolete by design: ``wod_scan`` reads through ``spark.read.format
  ("binaryFile")``, which streams any supported URI scheme directly on the
  executors — no driver-side download, no temp-dir lifecycle, and the read
  parallelizes across files instead of serializing through one staging disk.
- **SUR rename**: ``SURF_ALL`` → ``SUR_ALL``
  (``DatasetYearTrain.java:39-40,231-233``).

Scale notes (100 TB): file tasks are independent → driver submits them to a
thread pool (Spark schedules fairly); per-file output partitioning is by
``geohash3`` (max 32768 partitions; real oceans ≈ low thousands) with
within-partition geohash sort giving parquet row-group min/max locality for
spatial readers. A skewed geohash3 (coastal hot cells) only skews the WRITE
of one file-job, bounded by file size; cross-file global compaction would
bucket by (geohash3, salt) instead.
"""

from __future__ import annotations

import json
import os
import posixpath
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from itertools import groupby

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.geohash import geohash_col
from ..registry import cached_frames
from ..sources.filesystem import FsClient
from ..sources.wod_ascii import errors, ok_casts, wod_scan
from .geo_metadata import (
    GEOMETRY_COLUMN,
    SIDECAR_NAME,
    _resolve_executor_store,
    geo_footer_dict,
    geo_sidecar_bytes,
)


def _join(base: str, *parts: str) -> str:
    """Path join that preserves URI schemes (``s3a://…``): posix-style,
    never the platform separator."""
    return posixpath.join(base, *parts)

DEFAULT_DATASETS = (
    "APB", "CTD", "DRB", "GLD", "MBT", "MRB", "OSD", "PFL", "SUR", "UOR", "XBT",
)
DEFAULT_LEVELS = ("OBS",)

#: Compressed-size threshold above which a file's parse is scattered across
#: the cluster (``wod_scan(scatter=True)``); below it, the record exchange
#: costs more than the single-task decode it would parallelize.
_SCATTER_MIN_BYTES = 256 * 1024


@dataclass
class FileTask:
    """One input file → one output parquet dataset (the reference's
    ``DatasetYearTrain``)."""

    dataset: str
    level: str
    input_path: str
    output_dir: str
    error_dir: str

    @property
    def out_name(self) -> str:
        name = self.input_path.rstrip("/").rsplit("/", 1)[-1]
        name = name[:-3] if name.endswith(".gz") else name
        if name == "SURF_ALL":  # DatasetYearTrain.java:39-40,231-233
            name = "SUR_ALL"
        return name + ".parquet"

    @property
    def output_path(self) -> str:
        return _join(self.output_dir, "yearly", self.dataset, self.level, self.out_name)

    @property
    def error_path(self) -> str:
        return _join(self.error_dir, "error", self.dataset, self.level, self.out_name)


@dataclass
class ConvertResult:
    converted: list[str] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)
    failed: list[tuple[str, str]] = field(default_factory=list)


def plan_tasks(
    source: str,
    output: str,
    datasets: tuple[str, ...] = DEFAULT_DATASETS,
    levels: tuple[str, ...] = DEFAULT_LEVELS,
    subset: tuple[str, ...] = (),
    spark: SparkSession | None = None,
) -> list[FileTask]:
    """Cartesian (datasets × levels) key listing + suffix/subset filter —
    ``SparklerExecutor.java:60-69`` + ``DatasetTrain.java:51-86``.

    With ``spark``, listing goes through the Hadoop ``FileSystem`` for the
    path's scheme — ``s3a://`` sources page ListObjectsV2 inside the
    connector, the mirror of ``S3Actions.listObjects``'s paginator
    (``S3Actions.java:59-71``). Without it, plain ``os.listdir`` (pure
    local, keeps planning importable without a JVM)."""
    fs = FsClient(spark) if spark is not None else None
    tasks: list[FileTask] = []
    for ds in sorted(set(datasets)):
        for lvl in sorted(set(levels)):
            prefix = _join(source, ds, lvl)
            if fs is not None:
                names = fs.list_names(prefix)
            elif os.path.isdir(prefix):
                names = sorted(os.listdir(prefix))
            else:
                names = []
            for name in names:
                keep = name.endswith(".gz") if not subset else name in subset
                if keep:
                    tasks.append(
                        FileTask(ds, lvl, _join(prefix, name), output, output)
                    )
    return tasks


def _has_success(fs: FsClient, path: str) -> bool:
    return fs.exists(_join(path, "_SUCCESS"))


def _has_stale_temp(fs: FsClient, path: str) -> bool:
    return fs.is_dir(path) and fs.exists(_join(path, "_temporary"))


def _scan(spark: SparkSession, fs: FsClient, task: FileTask):
    """``wod_scan`` of one file task. Scatter-parse (gunzip+frame in the
    file task, field-decode fanned out across all cores) for files big
    enough that decode width matters; tiny files stay single-stage — their
    record exchange would cost more than it balances."""
    scatter = fs.size(task.input_path) >= _SCATTER_MIN_BYTES
    return wod_scan(spark, task.input_path, dataset=task.dataset, scatter=scatter)


def _write_error_channel(
    spark: SparkSession,
    fs: FsClient,
    task: FileTask,
    known_has_errors: bool = False,
) -> None:
    """Materialize the per-file error store (one re-decode) if the file has
    any malformed records; idempotent (overwrite). Called on the rare
    errors-present path of :func:`convert_file` (which already KNOWS the
    count from the in-flight Observation — ``known_has_errors=True``
    skips the existence probe, saving a decode), after a write with no
    executor store (no Observation) and on sidecar heals, where nothing
    is known and the probe runs."""
    errs = errors(_scan(spark, fs, task))
    if known_has_errors or errs.limit(1).count() > 0:
        errs.coalesce(1).write.mode("overwrite").parquet(task.error_path)


#: Spark's ``parquet.block.size``: a writer task buffers up to this many
#: bytes of Arrow data for its current cell before writing a row group.
_ROW_GROUP_BYTES = 128 << 20

#: Spark's directory name for a null partition value.
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


#: The most bytes of an in-memory file one returned row carries; a larger
#: file is returned as several rows, in order.
_CHUNK_BYTES = 64 << 20


class _CellFile:
    """One geohash3 cell's parquet file, open in a writer task: batches
    are buffered and written as row groups of about ``_ROW_GROUP_BYTES``
    (pyarrow starts a new row group on every write). With no ``store``
    the file is written to memory, and :meth:`close` returns its bytes."""

    def __init__(self, store, path: str, schema):
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.path, self._pending, self._bytes = path, [], 0
        self._schema = schema
        self._in_memory = store is None
        self._sink = pa.BufferOutputStream() if store is None else store.open_output(path)
        self._writer = pq.ParquetWriter(
            self._sink,
            schema,
            compression="snappy",
            use_deprecated_int96_timestamps=True,
        )

    def add(self, batch) -> None:
        self._pending.append(batch)
        self._bytes += batch.nbytes
        if self._bytes >= _ROW_GROUP_BYTES:
            self._flush()

    def _flush(self) -> None:
        import pyarrow as pa

        if self._pending:
            table = pa.Table.from_batches(self._pending).cast(self._schema)
            self._writer.write_table(table)
            self._pending, self._bytes = [], 0

    def close(self):
        """Finish the file; its bytes as a pyarrow ``Buffer`` when it was
        written to memory, else None."""
        try:
            self._flush()
            self._writer.close()
            return self._sink.getvalue() if self._in_memory else None
        finally:
            self._sink.close()


def _file_schema(schema, metadata: dict):
    """The Arrow schema a cell file is written with: ``schema`` with
    ``metadata``, and timestamps as ``timestamp[ns]`` — the type pyarrow
    reads INT96 back as — so the ``ARROW:schema`` key pyarrow stores
    describes the file as pyarrow readers see Spark-written INT96 files,
    not in the writing session's time zone."""
    import pyarrow as pa

    return pa.schema(
        [
            pa.field(f.name, pa.timestamp("ns"), f.nullable)
            if pa.types.is_timestamp(f.type)
            else f
            for f in schema
        ],
        metadata=metadata,
    )


#: The rows a writer task returns: one per file it wrote through a store,
#: ``data`` null; one per ``_CHUNK_BYTES`` of a file it wrote to memory.
_WRITTEN_SCHEMA = "path string, data binary"


def _cell_writer(store, tmp_root: str, job: str, metadata: dict):
    """The ``mapInArrow`` body of the one-pass writer. Each task gets its
    rows sorted by ``(geohash3, geohash)`` and writes each geohash3 run as
    ``<tmp_root>/<partition>-<attempt>/geohash3=<v>/part-<partition>-<job>
    .c000.snappy.parquet`` (without the ``geohash3`` column, ``metadata``
    in the footer) through ``store``, or to memory when ``store`` is None.
    It returns ``_WRITTEN_SCHEMA`` rows as each file closes, so a task
    holds at most one in-memory file. ``<attempt>`` is the task attempt's
    id, unique in the application, so a failed or speculative attempt's
    files never share a directory with the files the driver publishes:
    those of the attempt whose rows it received."""
    chunk_bytes = _CHUNK_BYTES

    def returned(cell_file):
        import pyarrow as pa

        data = cell_file.close()
        if data is None:
            chunks = [None]
        else:
            chunks = [
                data.slice(at, min(chunk_bytes, data.size - at)).to_pybytes()
                for at in range(0, data.size, chunk_bytes)
            ]
        for chunk in chunks:
            yield pa.RecordBatch.from_arrays(
                [pa.array([cell_file.path]), pa.array([chunk], pa.binary())],
                ["path", "data"],
            )

    def write(batches):
        import pyarrow.compute as pc
        from pyspark import TaskContext

        ctx = TaskContext.get()
        root = f"{tmp_root}/{ctx.partitionId():05d}-{ctx.taskAttemptId()}"
        name = f"part-{ctx.partitionId():05d}-{job}.c000.snappy.parquet"
        cell, current, schema = None, None, None
        try:
            for batch in batches:
                data = batch.drop_columns(["geohash3"])
                if schema is None:
                    schema = _file_schema(data.schema, metadata)
                runs = pc.run_end_encode(batch.column("geohash3"))
                start = 0
                for end, value in zip(
                    runs.run_ends.to_pylist(), runs.values.to_pylist()
                ):
                    if current is None or value != cell:
                        if current is not None:
                            yield from returned(current)
                        cell = value
                        part = _NULL_PARTITION if value is None else value
                        current = _CellFile(
                            store,
                            f"{root}/geohash3={part}/{name}",
                            schema,
                        )
                    current.add(data.slice(start, end - start))
                    start = end
            if current is not None:
                last, current = current, None
                yield from returned(last)
        finally:
            if current is not None:  # a failed task: release the stream
                current._sink.close()

    return write


def _publish_plan(paths: list[str], out: str) -> list[tuple[str, str]]:
    """The ``(src, dst)`` renames that publish the files at ``paths`` —
    the rows the writer tasks returned, each under
    ``<out>/_temporary/<job>/<task>/geohash3=<v>/`` — into ``out``, in
    order. A cell's first task directory is renamed to
    ``<out>/geohash3=<v>``: one rename per cell when every cell is one
    task's, as in convert. The files of a cell's other task directories (a
    cell split over tasks by compaction's rebalance) are renamed into it.
    Files not in ``paths``, such as a failed attempt's, are not moved."""
    first: dict[str, str] = {}
    renames: list[tuple[str, str]] = []
    for path in paths:
        task_cell = posixpath.dirname(path)
        cell = posixpath.basename(task_cell)
        if cell not in first:
            first[cell] = task_cell
            renames.append((task_cell, _join(out, cell)))
        elif first[cell] != task_cell:
            renames.append((path, _join(out, cell, posixpath.basename(path))))
    return renames


def _geo_value(encoding: str) -> bytes:
    """The ``geo`` footer value for ``encoding``, as files and ``_SUCCESS``
    store it."""
    return json.dumps(geo_footer_dict(encoding)).encode()


def _write_geoparquet(
    spark: SparkSession, fs: FsClient, store, frame, out: str, encoding: str
) -> int:
    """Write ``frame`` (sorted by ``(geohash3, geohash)`` within each
    partition) to ``out`` as geohash3-partitioned GeoParquet in one pass,
    and publish it; returns the number of files written.

    Writer tasks write every file under ``<out>/_temporary/<job>/`` with
    the ``geo`` key, and Spark's row-schema and version keys, already in
    the footer (:func:`_cell_writer`), through ``store``, and the driver
    collects the returned paths. Where no executor-side store opens the
    scheme (``store`` is None, e.g. ``hdfs://`` without libhdfs), the
    tasks return each file's bytes instead, and the driver streams them
    (``toLocalIterator``: one job per writer partition, so the driver
    holds one task's output at a time) into the same paths. Only the
    collect completes an ``Observation`` upstream of ``frame``; the
    stream leaves it pending. The driver then renames the
    files into ``out`` (:func:`_publish_plan`), deletes ``_temporary`` and
    writes ``_SUCCESS`` holding the ``geo`` value every file was written
    with, which a resume reads to heal a missing sidecar. A crash before
    ``_SUCCESS`` leaves either ``_temporary`` or no marker at all, and the
    next run rebuilds."""
    import uuid

    from pyspark.sql.types import StructType

    fs.delete(out)  # the job owns the directory, as a static overwrite does
    job = str(uuid.uuid4())
    schema = StructType([f for f in frame.schema.fields if f.name != "geohash3"])
    geo = _geo_value(encoding)
    metadata = {
        b"geo": geo,
        b"org.apache.spark.version": spark.version.encode(),
        # Spark's own key order, as its writer serializes the row schema
        b"org.apache.spark.sql.parquet.row.metadata": json.dumps(
            schema.jsonValue(), separators=(",", ":")
        ).encode(),
    }
    tmp = _join(out, "_temporary")
    written = frame.mapInArrow(
        _cell_writer(store, _join(tmp, job), job, metadata), _WRITTEN_SCHEMA
    )
    if store is not None:
        paths = [row.path for row in written.collect()]
    else:
        paths = []
        # a file's chunks arrive as consecutive rows, in order
        for path, rows in groupby(written.toLocalIterator(), lambda r: r.path):
            fs.write_chunks(path, (row.data for row in rows))
            paths.append(path)
    fs.rename_all(_publish_plan(paths, out))
    fs.delete(tmp)
    fs.write_bytes(_join(out, "_SUCCESS"), geo)
    return len(paths)


def _published_encoding(fs: FsClient, out: str) -> str | None:
    """The footer encoding ``out``'s ``_SUCCESS`` records, or None when the
    marker holds no ``geo`` value of this writer (Spark's committer wrote
    it, e.g. an earlier version of this pipeline or the reference's
    job)."""
    marker = fs.read_bytes(_join(out, "_SUCCESS"))
    for encoding in ("point", "WKB"):
        if marker == _geo_value(encoding):
            return encoding
    return None


def attach_geo_footer(*_args, **_kwargs) -> int:
    """Does nothing; returns 0. Every GeoParquet file is written with its
    ``geo`` footer (:func:`_write_geoparquet`). The name remains only
    because ``perfbench/spans.py`` wraps it by attribute for its
    ``geo_metadata.attach`` span; it goes when that span does."""
    return 0


def convert_file(
    spark: SparkSession,
    task: FileTask,
    overwrite: bool = False,
    geometry_encoding: str = "point",
) -> str:
    """Convert one WOD file; returns 'converted' or 'skipped'.

    Idempotence contract (``DatasetYearTrain.java:89-94``): a complete
    output (``_SUCCESS``) is skipped unless ``overwrite``; a partial output
    (stale ``_temporary``) is removed and rebuilt.

    ``geometry_encoding``: ``"point"`` (default) writes GeoParquet 1.1
    native-point geometry (``struct<x=lon, y=lat>`` — pure Catalyst);
    ``"wkb"`` writes spec WKB bytes with a 1.0 footer for readers that
    predate native encoding (the byte-level shape of the reference's
    Sedona output, ``DatasetYearTrain.java:41-43``) — opt-in because the
    encode needs an Arrow round-trip (``functions/wkb.py``).
    """
    fs = FsClient(spark)
    out = fs.qualify(task.output_path)
    rebuild = overwrite or _has_stale_temp(fs, out)
    if not rebuild and _has_success(fs, out):
        # The sidecar is written LAST, after _SUCCESS and the error
        # channel, so it is the publish-completion marker: a crash after
        # _SUCCESS but before publish completed heals here (the error
        # channel is rebuilt from one re-decode, the sidecar rewrite is
        # restartable) instead of forcing a rebuild. The heal writes the
        # sidecar for the encoding _SUCCESS records, the one the files
        # were written with, not this call's.
        sidecar = _join(out, SIDECAR_NAME)
        if fs.exists(sidecar):
            return "skipped"
        enc = _published_encoding(fs, out)
        if enc is not None:
            _write_error_channel(spark, fs, task)
            fs.write_bytes(sidecar, geo_sidecar_bytes(enc))
            return "skipped"
        # Spark's committer wrote this marker, so nothing says the files
        # carry `geo` or which encoding they hold: rebuild.
        rebuild = True
    if rebuild:
        fs.delete(out)
        fs.delete(task.error_path)

    # No cache: the scattered parse is cheap enough that recomputing it for
    # the rare error-channel job beats paying the in-memory columnar encode
    # of deeply nested cast structs.
    parsed = _scan(spark, fs, task)
    # Error DETECTION is free: an Observation above the ok-filter counts
    # error rows while the main write's single decode streams by (the
    # filter is not pushed through CollectMetrics), so the happy path
    # decodes each file ONCE — the previous always-on error-check job was
    # a second full decode per file, the dominant duplicated cost at real
    # file sizes. Only files that actually contain errors pay a second
    # decode to materialize the channel (overwrite, not append — the
    # reference's TransformationErrorHandler.java:42-52 appends
    # incrementally; one overwrite per file is equivalent and retry-safe).
    # Crash contract: the error write now lands AFTER the main commit, so
    # _SUCCESS alone no longer implies the error channel exists — the
    # SIDECAR is the completion marker, and the skip path above rebuilds
    # the channel whenever it heals a missing sidecar.
    # The Observation completes only when the write collects its result,
    # which it does through an executor store; with none, the write
    # streams its result, and the error channel probes for errors itself.
    from pyspark.sql import Observation

    store = _resolve_executor_store(spark, out)
    obs = None
    if store is not None:
        obs = Observation("wod_convert_errors")
        parsed = parsed.observe(
            obs,
            F.sum(F.when(F.col("err").isNotNull(), 1).otherwise(0)).alias("n_err"),
        )
    # castTimestamp: assembled from Y/M/D + fractional-hour time
    # (SURVEY §1.2); try_* variants — invalid header dates yield null,
    # not a job failure, under ANSI mode.
    seconds = (F.col("time") * 3600).cast("int")
    casts = (
        ok_casts(parsed)
        .withColumn(
            "castTimestamp",
            F.try_add(
                F.expr(
                    "try_to_timestamp(concat(year, '-', lpad(month, 2, '0'), "
                    "'-', lpad(day, 2, '0')))"
                ),
                F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), seconds),
            ),
        )
        # pure-Catalyst geohash: computed in the JVM ahead of the sort
        # (the numpy pandas_udf variant is equivalent — parity asserted
        # in tests/test_geohash.py — but costs an extra Arrow round-trip).
        # String-name form = generated-SQL build path (one JVM parse,
        # ~0.4 s/py4j-build saved PER FILE JOB; see geohash_spark_sql).
        .withColumn("geohash", geohash_col("latitude", "longitude"))
        .withColumn("geohash3", F.substring("geohash", 1, 3))
        # geometry, declared in the `geo` footer each file is written with:
        # default GeoParquet 1.1 native point (struct<x=lon, y=lat>, pure
        # Catalyst); opt-in 1.0 WKB bytes for pre-native readers.
        .withColumn("geometry", _geometry_col(geometry_encoding))
    )
    # Writer-task count: capped at 16 per file-job. Beyond that, many
    # concurrently open parquet writers in one file-job contend (local[32]
    # measured 32 tasks ≈ 10 s vs 16 tasks ≈ 4 s for 1652 cells under
    # Spark's writer, and the curve was flat from 16 to 32); cluster-wide
    # parallelism comes from running file-jobs concurrently, not from more
    # writers per file.
    n_write_tasks = min(16, spark.sparkContext.defaultParallelism)
    # Writer distribution: geohash3-hash. Real WOD occupancy
    # is coastal-skewed, and a hash repartition routes a hot geohash3
    # ENTIRELY to one writer task — measured on byte-matched arms at a
    # 50% hot cell: 1.13x the uniform arm (tools/bench_convert_skew.py,
    # SCALING.json convert.skew_x16), i.e. the straggler does NOT
    # dominate at file-job scale (the single-gzip decode bound does), so
    # the writer exchange stays static and per-file skew remains bounded
    # by file size as the module docstring argues. It also makes every
    # cell one task's, so each geohash3 dir holds one file and the
    # publish is one rename per cell.
    # Sort by (geohash3, geohash): each task's cells arrive as contiguous
    # runs (one file each), and within a cell rows are in the reference's
    # sortWithinPartitions("geohash") order, since geohash3 is a prefix of
    # geohash.
    frame = casts.repartition(n_write_tasks, F.col("geohash3")).sortWithinPartitions(
        "geohash3", "geohash"
    )
    enc = _footer_encoding(geometry_encoding)
    _write_geoparquet(spark, fs, store, frame, out, enc)
    if obs is None:
        _write_error_channel(spark, fs, task)
    elif int(obs.get["n_err"] or 0) > 0:
        # Rare path: re-decode to materialize the error channel (a fresh
        # scan — the observed frame's metric is already consumed; the
        # Observation already proved errors exist, so no probe).
        _write_error_channel(spark, fs, task, known_has_errors=True)
    # The sidecar goes last: its presence marks the publish complete for
    # crash-healing.
    fs.write_bytes(_join(out, SIDECAR_NAME), geo_sidecar_bytes(enc))
    return "converted"


def _footer_encoding(geometry_encoding: str) -> str:
    """CLI spelling → GeoParquet footer spelling (the spec capitalizes
    ``WKB``; the native encoding is lowercase ``point``)."""
    if geometry_encoding == "point":
        return "point"
    if geometry_encoding == "wkb":
        return "WKB"
    raise ValueError(
        f"geometry_encoding must be 'point' or 'wkb', got {geometry_encoding!r}"
    )


def _geometry_col(geometry_encoding: str):
    """The geometry column expression for the chosen encoding."""
    _footer_encoding(geometry_encoding)  # validate early, before any job runs
    if geometry_encoding == "point":
        return F.struct(
            F.col("longitude").alias("x"), F.col("latitude").alias("y")
        )
    from ..functions.wkb import wkb_point_col

    return wkb_point_col(F.col("longitude"), F.col("latitude"))


def convert(
    spark: SparkSession,
    source: str,
    output: str,
    datasets: tuple[str, ...] = DEFAULT_DATASETS,
    levels: tuple[str, ...] = DEFAULT_LEVELS,
    subset: tuple[str, ...] = (),
    overwrite: bool = False,
    max_concurrent: int = 4,
    retries: int = 2,
    geometry_encoding: str = "point",
) -> ConvertResult:
    """Run the full conversion job (the ``SparklerExecutor.execute`` mirror,
    test-facing API per ``SparklerExecutorLocalTest.java:56-74``).

    File jobs are independent; they run on a small thread pool so Spark can
    pipeline scheduling gaps (the reference runs them strictly sequentially,
    ``SparklerExecutor.java:52``). Each task retries ``retries`` times —
    the driver-level mirror of the reference's Condor retry policy
    (``wod-ascii-to-parquet-spark.submit:15-16``); a retried task resumes
    from the stale-``_temporary`` cleanup path, so partial outputs of the
    failed attempt are rebuilt, not appended to."""
    result = ConvertResult()
    tasks = plan_tasks(source, output, datasets, levels, subset, spark=spark)
    # Largest file first (LPT scheduling): with a bounded worker pool, the
    # biggest job starting last is what stretches the makespan — the
    # reference processes in listing order and routinely tail-waits on one
    # giant yearly file. Ties/missing sizes keep listing order (stable sort).
    fs = FsClient(spark)
    tasks.sort(key=lambda t: -fs.size(t.input_path))

    def run(task: FileTask) -> None:
        last_err: Exception | None = None
        for _attempt in range(retries + 1):
            try:
                status = convert_file(
                    spark,
                    task,
                    overwrite=overwrite,
                    geometry_encoding=geometry_encoding,
                )
                (result.converted if status == "converted" else result.skipped).append(
                    task.output_path
                )
                return
            except Exception as e:  # per-file fail-fast, Sparkler.java:90-100
                last_err = e
        result.failed.append((task.input_path, str(last_err)))

    # cached_frames: a multi-file run is exactly the long-lived-session
    # shape the registry documents — any persist() a composed stage does
    # (none today, but curation/LSH stages persist when composed in) is
    # released when the run returns instead of accumulating one
    # InMemoryRelation per file in the CacheManager. One scope around the
    # WHOLE run (not per task): tasks share the session and the scope's
    # release happens after every task's terminal write.
    with cached_frames():
        if max_concurrent > 1:
            with ThreadPoolExecutor(max_workers=max_concurrent) as pool:
                list(pool.map(run, tasks))
        else:
            for t in tasks:
                run(t)
    if result.failed:
        raise RuntimeError(f"conversion failures: {result.failed}")
    return result


def compact_convert_output(
    spark: SparkSession,
    output: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Consolidate a finished convert run's per-input-file datasets into
    one geohash3-partitioned dataset per ``(dataset, level)`` under
    ``<output>/compacted/`` (VERDICT r11 #3, the ``OPTIMIZE`` step the
    convert scaling sweep priced: each file-job's layout already writes
    exactly one file per geohash3 dir, so within a dataset there is
    nothing to merge — the small-file tax of a pooled run is the SAME
    geohash3 appearing once per input file. A consolidated reader of
    ``yearly/<DS>/<LEVEL>/*/`` opens |files|× more parquet footers than
    the data needs; this pass merges them to ~1 per geohash3).

    Published to a NEW location, never in place: ``yearly/`` keeps every
    per-file ``_SUCCESS``/sidecar marker, so the skip/resume contract
    (``DatasetYearTrain.java:89-94`` parity) is untouched — a re-run of
    ``convert`` still skips every finished input. This is the module's
    documented compact-then-flip-the-pointer pattern (see
    ``plans/compact.py``), which is also the only safe shape on s3a
    where in-place publish renames are copy+delete. Re-running this
    function is idempotent (each destination is deleted and rewritten).

    Layout: a ``REBALANCE(geohash3)`` exchange (ADVICE r12: the previous
    ``repartition(n, geohash3)`` routed each geohash3 WHOLLY to one
    task, so the output was always exactly one file per geohash3 dir and
    ``target_bytes`` was inert — a hot coastal cell could not be split)
    + within-partition ``(geohash3, geohash)`` sort + the one-pass
    GeoParquet writer (:func:`_write_geoparquet`), with AQE's advisory
    partition size conf-scoped to ``target_bytes`` so the rebalance
    actually aims at it: cold cells coalesce into shared tasks (still one
    file each — the writer starts a file at every geohash3 run), an
    oversized hot cell splits into several ~``target_bytes``
    geohash-sorted files in its dir. Same clustering contract as the
    per-file jobs (zorder-compatible: the sort key is pluggable the way
    ``plans/zorder.py`` layers on ``plans/compact.py``); the
    geohash-prefix dir invariant is enforced by the writer itself,
    independent of task layout. Every file is written with the ``geo``
    footer the input's ``geometry`` column calls for (binary: 1.0.0 WKB;
    otherwise 1.1.0 point), and the sidecar follows, so compaction never
    demotes the dataset or mislabels its geometry. Returns
    per-(dataset, level) stats.

    Reads run with partition-column TYPE INFERENCE DISABLED (ADVICE r12
    medium): a dataset whose geohash3 dirs are all digit-only base32
    cells (e.g. ``077``, ``978``) would otherwise infer geohash3 as
    integer — failing the unionByName against string-typed siblings or,
    worse, silently rewriting ``077`` → ``77`` in the compacted layout
    and breaking the geohash-prefix invariant. The corruption happens AT
    READ (partition-value parse), so a post-read cast cannot repair it;
    only inference-off reads can."""
    from pyspark.sql.types import BinaryType

    from .compact import _is_data_file

    fs = FsClient(spark)
    output = fs.qualify(output)
    yearly = _join(output, "yearly")
    stats: dict = {}
    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    advisory_key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old_infer = spark.conf.get(infer_key, "true")
    old_advisory = spark.conf.get(advisory_key, "64MB")
    spark.conf.set(infer_key, "false")
    spark.conf.set(advisory_key, str(int(target_bytes)))
    try:
        for ds in fs.list_names(yearly):
            for lvl in fs.list_names(_join(yearly, ds)):
                dirs = [
                    _join(yearly, ds, lvl, name)
                    for name in fs.list_names(_join(yearly, ds, lvl))
                ]
                # only COMPLETE datasets (the _SUCCESS skip/resume
                # marker); a concurrent or crashed file-job's partial
                # output must not leak into the consolidated set
                dirs = [d for d in dirs if _has_success(fs, d)]
                if not dirs:
                    continue
                sizes: dict[str, int] = {}
                for d in dirs:
                    sizes.update(
                        (p, n)
                        for p, n in fs.file_sizes(d).items()
                        if _is_data_file(p)
                    )
                total = sum(sizes.values())
                # one read per dataset root, unioned: a single multi-path
                # read trips partition discovery ([CONFLICTING_DIRECTORY_
                # STRUCTURES] — each root is its own geohash3=* tree)
                from functools import reduce

                df = reduce(
                    lambda a, b: a.unionByName(b),
                    (spark.read.parquet(d) for d in dirs),
                )
                dest = _join(output, "compacted", ds, lvl)
                # the footer the input's geometry column calls for: binary
                # is WKB; a struct, or no geometry at all, the point footer
                types = {f.name: f.dataType for f in df.schema.fields}
                enc = "WKB" if isinstance(types.get(GEOMETRY_COLUMN), BinaryType) else "point"
                files_after = _write_geoparquet(
                    spark,
                    fs,
                    _resolve_executor_store(spark, dest),
                    df.hint("rebalance", F.col("geohash3")).sortWithinPartitions(
                        "geohash3", "geohash"
                    ),
                    dest,
                    enc,
                )
                fs.write_bytes(
                    _join(dest, SIDECAR_NAME), geo_sidecar_bytes(enc)
                )
                stats[f"{ds}/{lvl}"] = {
                    "inputs": len(dirs),
                    "files_before": len(sizes),
                    "files_after": files_after,
                    "bytes_total": total,
                    "dest": dest,
                }
    finally:
        spark.conf.set(infer_key, old_infer)
        spark.conf.set(advisory_key, old_advisory)
    return stats

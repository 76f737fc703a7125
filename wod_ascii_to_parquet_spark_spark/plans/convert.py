"""The WOD ASCII → partitioned parquet conversion pipeline.

Reference lifecycle (``SparklerExecutor.java:48-69`` +
``DatasetYearTrain.java:86-139``), rebuilt Spark-first:

- **plan**: enumerate ``<source>/<DS>/<LEVEL>/*.gz`` (× subset filter) into
  per-file tasks, each with its size from the same listing
  (``DatasetTrain.java:51-86``).
- **skip/resume**: output ``_SUCCESS`` exists → skip; stale ``_temporary``
  or ``overwrite`` → clean first (``DatasetYearTrain.java:89-94``).
- **convert**: one Spark job converts one input file, or a batch of small
  ones (``convert`` runs inputs under ``_SHARED_JOB_BYTES`` up to
  ``_SHARED_JOB_FILES`` to a job, where the reference runs one job per
  file): gunzip + frame each file's records in one task, each record
  with its file's index in the batch and its header fields
  (``wod_ascii.frame_headers``) → castTimestamp + geohash + geohash3 in
  the JVM → ``repartition("file", "geohash3")`` →
  ``sortWithinPartitions("file", "geohash3", "geohash")`` → decode +
  one-pass GeoParquet write in the writer tasks
  (``DatasetYearTrain.java:128-139``) → per file, publish and the error
  store (``TransformationErrorHandler.java:42-52``) from the error rows
  the writer tasks return. The JVM moves flat rows only, record text and
  sort keys: the nested cast rows exist only inside the writer tasks.
- The reference's dead global ``orderBy(asc("geohash"))``
  (``DatasetYearTrain.java:130``) — a full range shuffle destroyed by the
  following repartition — is intentionally omitted.
- **The write is one pass**, as the reference's Sedona writer is (it takes
  the footer as writer options, ``DatasetYearTrain.java:132-134``): each
  ``mapInArrow`` writer task writes its ``(file, geohash3)`` cells with
  pyarrow, through the executor-side store of ``geo_metadata`` (local
  disk, viewfs mounts, s3/s3a, gs), each file with the ``geo`` key
  already in its footer, and returns the paths it wrote and the error
  rows it decoded. The driver publishes each input's output in turn: it
  renames each cell dir out of the output's ``_temporary/<job>/``,
  deletes ``_temporary``, writes ``_SUCCESS`` (holding the ``geo``
  value), the error channel (with pyarrow, from the returned error rows)
  and the sidecar, in that order, so every output keeps its own markers.
  That is the ``_temporary`` → rename + ``_SUCCESS`` protocol the
  reference managed by hand and Spark's FileOutputCommitter ran before.
  For a scheme no executor store can open (``hdfs://`` without libhdfs)
  the same tasks write each file to memory and the driver streams the
  bytes and the error rows, one writer partition at a time. Compaction
  uses the same writer, without the decode.
- The staging ``<out>_temp`` store (``DatasetYearTrain.java:82-83,211-222``)
  existed only because the driver-side parse fed batches; the single
  distributed write replaces it.
- The reference's remote-input staging (download each S3 object to a local
  temp dir before parsing, clean up after — ``DatasetYearTrain.java:99-109``)
  is obsolete by design: the frame task reads through ``spark.read.format
  ("binaryFile")``, which streams any supported URI scheme directly on the
  executors — no driver-side download, no temp-dir lifecycle, and the read
  parallelizes across files instead of serializing through one staging disk.
- **SUR rename**: ``SURF_ALL`` → ``SUR_ALL``
  (``DatasetYearTrain.java:39-40,231-233``).

Scale notes (100 TB): file tasks are independent → driver submits them to a
thread pool (Spark schedules fairly), each large file alone and the small
ones in shared jobs; per-file output partitioning is by ``geohash3`` (max
32768 partitions; real oceans ≈ low thousands) with within-partition
geohash sort giving parquet row-group min/max locality for spatial
readers. A skewed geohash3 (coastal hot cells) only skews the decode and
WRITE of one job, bounded by file size (a batch's by its few MiB);
cross-file global compaction would bucket by (geohash3, salt) instead.
"""

from __future__ import annotations

import json
import os
import posixpath
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial
from itertools import groupby

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.geohash import geohash_col
from ..registry import cached_frames
from ..schemas import CAST, CAST_ERROR
from ..sources.filesystem import FsClient
from ..sources.wod_ascii import encode_batches, errors, frame_headers, wod_scan
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


@dataclass
class FileTask:
    """One input file → one output parquet dataset (the reference's
    ``DatasetYearTrain``). ``size`` is the input's length in bytes, as
    :func:`plan_tasks` lists it (0 when not given)."""

    dataset: str
    level: str
    input_path: str
    output_dir: str
    error_dir: str
    size: int = 0

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
    local, keeps planning importable without a JVM). Each task's ``size``
    comes from the same listing (``os.path.getsize`` without ``spark``)."""
    fs = FsClient(spark) if spark is not None else None
    tasks: list[FileTask] = []
    for ds in sorted(set(datasets)):
        for lvl in sorted(set(levels)):
            prefix = _join(source, ds, lvl)
            if fs is not None:
                listing = fs.list_sizes(prefix)
            elif os.path.isdir(prefix):
                listing = [(name, None) for name in sorted(os.listdir(prefix))]
            else:
                listing = []
            for name, size in listing:
                keep = name.endswith(".gz") if not subset else name in subset
                if keep:
                    path = _join(prefix, name)
                    if size is None:
                        size = os.path.getsize(path)
                    tasks.append(FileTask(ds, lvl, path, output, output, size))
    return tasks


def _has_success(fs: FsClient, path: str) -> bool:
    return fs.exists(_join(path, "_SUCCESS"))


def _has_stale_temp(fs: FsClient, path: str) -> bool:
    return fs.is_dir(path) and fs.exists(_join(path, "_temporary"))


def _write_error_channel(
    spark: SparkSession, fs: FsClient, task: FileTask, rows: list
) -> None:
    """Write ``rows``, the file's ``(dataset, castNumber, error)`` error
    rows, as its error store, replacing any earlier one; no rows, no store.
    The driver writes it with pyarrow through ``fs``, in the layout Spark's
    ``coalesce(1)`` parquet write gave it: one
    ``part-00000-<uuid>-c000.snappy.parquet`` with Spark's row-schema and
    version keys (every field nullable, as Spark writes it) and an empty
    ``_SUCCESS``."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructField, StructType

    if not rows:
        return
    schema = StructType([StructField(f.name, f.dataType) for f in CAST_ERROR.fields])
    arrow = to_arrow_schema(schema).with_metadata(_spark_footer(spark, schema))
    table = pa.Table.from_arrays(list(zip(*rows)), schema=arrow)
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink, compression="snappy")
    fs.delete(task.error_path)
    fs.write_bytes(
        _join(task.error_path, f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"),
        sink.getvalue().to_pybytes(),
    )
    fs.write_bytes(_join(task.error_path, "_SUCCESS"), b"")


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
    """The Arrow schema a cell file is written with, from its Spark
    ``schema``: with ``metadata``, and timestamps as ``timestamp[ns]`` —
    the type pyarrow reads INT96 back as — so the ``ARROW:schema`` key
    pyarrow stores describes the file as pyarrow readers see Spark-written
    INT96 files, not in the writing session's time zone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.schema(
        [
            pa.field(f.name, pa.timestamp("ns"), f.nullable)
            if pa.types.is_timestamp(f.type)
            else f
            for f in to_arrow_schema(schema)
        ],
        metadata=metadata,
    )


#: The rows a writer task returns, each with the index of the output it
#: belongs to: one per file it wrote through a store, ``data`` null; one
#: per ``_CHUNK_BYTES`` of a file it wrote to memory; one per error row its
#: decode found, ``path`` and ``data`` null.
_WRITTEN_SCHEMA = (
    "file int, path string, data binary, dataset string, castNumber int, "
    "error string"
)


def _written(file, path=None, data=None, err=None):
    """``_WRITTEN_SCHEMA`` rows, one per entry of ``file``, an int32 array
    of output indexes: file rows from the ``path`` and ``data`` arrays, or
    error rows from ``err``, a ``CAST_ERROR`` StructArray."""
    import pyarrow as pa

    cols = [file, path, data, *(err.flatten() if err is not None else (None,) * 3)]
    types = (pa.int32(), pa.string(), pa.binary(), pa.string(), pa.int32(), pa.string())
    return pa.RecordBatch.from_arrays(
        [pa.nulls(len(file), t) if c is None else c for c, t in zip(cols, types)],
        ["file", "path", "data", "dataset", "castNumber", "error"],
    )


def _split_cells(batch):
    """A sorted frame batch of one output, as the writer takes it:
    ``(files, cells, data, errors)`` — output 0 for every row, its
    ``geohash3`` column, the rest, and no error rows."""
    import pyarrow as pa

    files = pa.repeat(pa.scalar(0, pa.int32()), batch.num_rows)
    yield files, batch.column("geohash3"), batch.drop_columns(["geohash3"]), None


def _runs(files, cells):
    """``(end, file, cell)`` per run of equal ``(file, cell)`` pairs of the
    equal-length arrays ``files`` and ``cells``, in order."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ends = sorted(
        {
            *pc.run_end_encode(files).run_ends.to_pylist(),
            *pc.run_end_encode(cells).run_ends.to_pylist(),
        }
    )
    last = pa.array([end - 1 for end in ends], pa.int64())
    return zip(ends, files.take(last).to_pylist(), cells.take(last).to_pylist())


def _cell_writer(store, tmp_roots: list[str], job: str, schema, prepare=_split_cells):
    """The ``mapInArrow`` body of the one-pass writer. Each task gets its
    rows sorted by ``(file, geohash3, geohash)``, ``file`` an index into
    ``tmp_roots``; ``prepare`` turns each input batch into ``(files,
    cells, data, errors)`` tuples, in order. The task writes each run of
    equal ``(files, cells)`` values ``(f, v)`` as ``<tmp_roots[f]>/
    <partition>-<attempt>/geohash3=<v>/part-<partition>-<job>.c000.snappy.
    parquet`` (``data``'s rows, Arrow ``schema``, its metadata in the
    footer) through ``store``, or to memory when ``store`` is None. It
    returns ``_WRITTEN_SCHEMA`` rows as each file closes, so a task holds at
    most one in-memory file, and the ``errors`` rows, already
    ``_WRITTEN_SCHEMA`` rows, as they come. ``<attempt>`` is the task
    attempt's id, unique in the application, so a failed or speculative
    attempt's files never share a directory with the files the driver
    publishes: those of the attempt whose rows it received."""
    chunk_bytes = _CHUNK_BYTES

    def returned(cell_file, file):
        import pyarrow as pa

        data = cell_file.close()
        if data is None:
            chunks = [None]
        else:
            chunks = [
                data.slice(at, min(chunk_bytes, data.size - at)).to_pybytes()
                for at in range(0, data.size, chunk_bytes)
            ]
        yield _written(
            pa.array([file] * len(chunks), pa.int32()),
            path=pa.array([cell_file.path] * len(chunks)),
            data=pa.array(chunks, pa.binary()),
        )

    def write(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        task_dir = f"{ctx.partitionId():05d}-{ctx.taskAttemptId()}"
        name = f"part-{ctx.partitionId():05d}-{job}.c000.snappy.parquet"
        key, current = None, None
        try:
            for batch in batches:
                for files, cells, data, errs in prepare(batch):
                    if errs is not None and errs.num_rows:
                        yield errs
                    start = 0
                    for end, file, cell in _runs(files, cells):
                        if current is None or (file, cell) != key:
                            if current is not None:
                                yield from returned(current, key[0])
                            key = (file, cell)
                            part = _NULL_PARTITION if cell is None else cell
                            current = _CellFile(
                                store,
                                f"{tmp_roots[file]}/{task_dir}/geohash3={part}/{name}",
                                schema,
                            )
                        current.add(data.slice(start, end - start))
                        start = end
            if current is not None:
                last, current = current, None
                yield from returned(last, key[0])
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


def _spark_footer(spark: SparkSession, schema) -> dict:
    """The footer keys Spark's parquet writer stamps on a file of rows of
    ``schema``: its version and the row schema, in Spark's own JSON key
    order."""
    return {
        b"org.apache.spark.version": spark.version.encode(),
        b"org.apache.spark.sql.parquet.row.metadata": json.dumps(
            schema.jsonValue(), separators=(",", ":")
        ).encode(),
    }


def _write_geoparquet(
    spark: SparkSession,
    fs: FsClient,
    store,
    frame,
    outs: list[str],
    encoding: str,
    schema,
    prepare=_split_cells,
) -> list[tuple[list[str], list]]:
    """Write ``frame`` (sorted by ``(file, geohash3, geohash)`` within each
    partition, ``file`` an index into ``outs``; see :func:`_cell_writer`)
    as geohash3-partitioned GeoParquet in one pass, with rows of the Spark
    ``schema`` as ``prepare`` makes them. Returns, per output, the paths of
    the files written for it and the error rows ``prepare`` found, as
    ``(dataset, castNumber, error)`` rows; :func:`_publish_geoparquet`
    then publishes each output.

    The job owns every output, as a static overwrite does: each is deleted
    first. Writer tasks write every file under its output's
    ``_temporary/<job>/`` with the ``geo`` key, and Spark's row-schema and
    version keys, already in the footer, through ``store``, and the driver
    collects the returned rows. Where no executor-side store opens the
    scheme (``store`` is None, e.g. ``hdfs://`` without libhdfs), the tasks
    return each file's bytes instead, and the driver streams them
    (``toLocalIterator``: one job per writer partition, so the driver holds
    one task's output at a time) into the same paths."""
    import uuid

    for out in outs:
        fs.delete(out)
    job = str(uuid.uuid4())
    file_schema = _file_schema(
        schema, {b"geo": _geo_value(encoding), **_spark_footer(spark, schema)}
    )
    tmp_roots = [_join(out, "_temporary", job) for out in outs]
    written = frame.mapInArrow(
        _cell_writer(store, tmp_roots, job, file_schema, prepare), _WRITTEN_SCHEMA
    )
    results: list[tuple[list[str], list]] = [([], []) for _ in outs]
    if store is not None:
        for row in written.collect():
            paths, errs = results[row.file]
            if row.path is None:
                errs.append(row[3:])
            else:
                paths.append(row.path)
    else:
        # a file's chunks arrive as consecutive rows, in order
        for (file, path), rows in groupby(
            written.toLocalIterator(), lambda r: (r.file, r.path)
        ):
            paths, errs = results[file]
            if path is None:
                errs.extend(row[3:] for row in rows)
            else:
                fs.write_chunks(path, (row.data for row in rows))
                paths.append(path)
    return results


def _publish_geoparquet(fs: FsClient, out: str, paths: list[str], encoding: str) -> None:
    """Publish the files :func:`_write_geoparquet` wrote at ``paths`` for
    ``out``: rename them into ``out`` (:func:`_publish_plan`), delete
    ``_temporary`` and write ``_SUCCESS`` holding the ``geo`` value every
    file was written with, which a resume reads to heal a missing sidecar.
    A crash before ``_SUCCESS`` leaves either ``_temporary`` or no marker
    at all, and the next run rebuilds."""
    fs.rename_all(_publish_plan(paths, out))
    fs.delete(_join(out, "_temporary"))
    fs.write_bytes(_join(out, "_SUCCESS"), _geo_value(encoding))


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


def _prepare(spark: SparkSession, fs: FsClient, task: FileTask, overwrite: bool) -> bool:
    """The skip/resume head of a file's conversion; True when the output
    is complete and the file is skipped, False when it is to be converted
    (a partial output, or any output under ``overwrite``, is removed
    first).

    Idempotence contract (``DatasetYearTrain.java:89-94``): a complete
    output (``_SUCCESS``) is skipped unless ``overwrite``; a partial output
    (stale ``_temporary``) is removed and rebuilt."""
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
            return True
        published = _published_encoding(fs, out)
        if published is not None:
            scan = wod_scan(spark, task.input_path, dataset=task.dataset)
            _write_error_channel(spark, fs, task, errors(scan).collect())
            fs.write_bytes(sidecar, geo_sidecar_bytes(published))
            return True
        # Spark's committer wrote this marker, so nothing says the files
        # carry `geo` or which encoding they hold: rebuild.
        rebuild = True
    if rebuild:
        fs.delete(out)
        fs.delete(task.error_path)
    return False


def convert_file(
    spark: SparkSession,
    task: FileTask,
    overwrite: bool = False,
    geometry_encoding: str = "point",
) -> str:
    """Convert one WOD file in a Spark job of its own (a batch of one, see
    :func:`_convert_batch`); returns 'converted' or 'skipped'. A complete
    output is skipped unless ``overwrite`` (see :func:`_prepare`).

    ``geometry_encoding``: ``"point"`` (default) writes GeoParquet 1.1
    native-point geometry (``struct<x=lon, y=lat>``); ``"wkb"`` writes
    spec WKB bytes (``functions/wkb.py``) with a 1.0 footer for readers
    that predate native encoding (the byte-level shape of the reference's
    Sedona output, ``DatasetYearTrain.java:41-43``).
    """
    enc = _footer_encoding(geometry_encoding)  # validate before any I/O
    if _prepare(spark, FsClient(spark), task, overwrite):
        return "skipped"
    for _ in _convert_batch(spark, [task], enc):
        pass
    return "converted"


def _convert_batch(spark: SparkSession, tasks: list[FileTask], encoding: str):
    """Convert ``tasks``, files :func:`_prepare` found to convert, in one
    Spark job, with footer ``encoding``, and publish each output in task
    order; yields each task once its output is published. Every task's
    output must lie under the same ``<output_dir>/yearly``.

    One ``binaryFile`` scan frames every file (each in one task), one
    exchange keyed on ``(file, geohash3)`` feeds the writer tasks, which
    decode and write every cell of every file, and the driver then
    publishes each file as a job of its own would: renames, ``_temporary``
    delete, ``_SUCCESS``, error channel, sidecar. A failure stops the
    batch; the outputs yielded so far are complete."""
    fs = FsClient(spark)
    outs = [fs.qualify(t.output_path) for t in tasks]
    files = {fs.qualify(t.input_path): i for i, t in enumerate(tasks)}
    # The JVM moves flat rows only: each record's text and the sort keys
    # computed from its header. The writer tasks decode the records
    # (:func:`_cast_decoder`), so the nested cast rows never cross into
    # the JVM, and return the error rows with their results.
    # castTimestamp: assembled from Y/M/D + fractional-hour time
    # (SURVEY §1.2); try_* variants — invalid header dates yield null,
    # not a job failure, under ANSI mode.
    seconds = (F.col("time") * 3600).cast("int")
    keyed = (
        frame_headers(spark, files)
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
        # pure-Catalyst geohash: computed in the JVM ahead of the sort.
        # String-name form = generated-SQL build path (one JVM parse,
        # ~0.4 s/py4j-build saved PER FILE JOB; see geohash_spark_sql).
        .withColumn("geohash", geohash_col("latitude", "longitude"))
        .withColumn("geohash3", F.substring("geohash", 1, 3))
        .select("file", "rec", "ferr", "castTimestamp", "geohash", "geohash3")
    )
    # Writer-task count: capped at 16 per job. Beyond that, many
    # concurrently open parquet writers in one job contend (local[32]
    # measured 32 tasks ≈ 10 s vs 16 tasks ≈ 4 s for 1652 cells under
    # Spark's writer, and the curve was flat from 16 to 32); cluster-wide
    # parallelism comes from running jobs concurrently, not from more
    # writers per job. It is also the decode width: a file's records
    # decode in the writer tasks of their cells.
    n_write_tasks = min(16, spark.sparkContext.defaultParallelism)
    # Writer distribution: (file, geohash3)-hash. Real WOD occupancy
    # is coastal-skewed, and a hash repartition routes a hot geohash3
    # ENTIRELY to one writer task — measured on byte-matched arms at a
    # 50% hot cell: 1.13x the uniform arm (tools/bench_convert_skew.py,
    # SCALING.json convert.skew_x16), i.e. the straggler does NOT
    # dominate at file-job scale (the single-gzip decode bound does), so
    # the writer exchange stays static and per-file skew remains bounded
    # by file size as the module docstring argues. It also makes every
    # (file, cell) pair one task's, so each geohash3 dir holds one file
    # and the publish is one rename per cell. The cost: a hot cell's
    # records also decode in its one task (1,200 deep casts in one cell
    # converted in 1.7-2.7 s warm at local[4], against 1.8-2.3 s with a
    # round-robin decode exchange; in 8 cells, 1.2-1.5 s against
    # 1.4-2.0 s). Records whose header fails have a null key and decode
    # to error rows in one task per file.
    # Sort by (file, geohash3, geohash): each task's cells arrive as
    # contiguous runs (one file each), and within a cell rows are in the
    # reference's sortWithinPartitions("geohash") order, since geohash3 is
    # a prefix of geohash.
    frame = keyed.repartition(
        n_write_tasks, F.col("file"), F.col("geohash3")
    ).sortWithinPartitions("file", "geohash3", "geohash")
    # One executor store for the batch, on the root every output shares.
    root = fs.qualify(_join(tasks[0].output_dir, "yearly"))
    written = _write_geoparquet(
        spark,
        fs,
        _resolve_executor_store(spark, root),
        frame,
        outs,
        encoding,
        _cast_schema(encoding),
        _cast_decoder([t.dataset for t in tasks], encoding),
    )
    for task, out, (paths, errs) in zip(tasks, outs, written):
        _publish_geoparquet(fs, out, paths, encoding)
        # Error rows: one overwrite per file, after the main commit (the
        # reference's TransformationErrorHandler.java:42-52 appends
        # incrementally; one overwrite per file is equivalent and
        # retry-safe). So _SUCCESS alone does not imply the error channel
        # exists — the SIDECAR is the completion marker, and _prepare
        # rebuilds the channel whenever it heals a missing sidecar.
        _write_error_channel(spark, fs, task, errs)
        # The sidecar goes last: its presence marks the publish complete
        # for crash-healing.
        fs.write_bytes(_join(out, SIDECAR_NAME), geo_sidecar_bytes(encoding))
        yield task


def _cast_schema(encoding: str):
    """The Spark schema of convert's data files: the ``CAST`` fields, all
    nullable, as a select of the fields of the parse's nullable ``ok``
    struct makes them, then ``castTimestamp``, ``geohash`` and
    ``geometry`` — a non-null ``struct<x=lon, y=lat>`` for the ``point``
    footer encoding, nullable WKB bytes for ``WKB``."""
    from pyspark.sql import types as T

    point = T.StructType(
        [T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]
    )
    return T.StructType(
        [
            *(T.StructField(f.name, f.dataType) for f in CAST.fields),
            T.StructField("castTimestamp", T.TimestampType()),
            T.StructField("geohash", T.StringType()),
            T.StructField(
                GEOMETRY_COLUMN,
                point if encoding == "point" else T.BinaryType(),
                nullable=encoding != "point",
            ),
        ]
    )


def _cast_decoder(datasets: list[str], encoding: str):
    """The writer tasks' ``prepare`` for convert (see :func:`_cell_writer`):
    each sorted batch of ``file``, ``rec``, ``ferr``, ``castTimestamp``,
    ``geohash`` and ``geohash3`` rows is decoded with
    ``wod_ascii.encode_batches``, each record as a cast of
    ``datasets[file]``, into ``(files, cells, data, errors)`` per at most
    ``_ARROW_BATCH_ROWS`` records: ``data`` holds the ok casts in
    :func:`_cast_schema` column order, ``files`` and ``cells`` their file
    index and geohash3, ``errors`` the error rows as ``_WRITTEN_SCHEMA``
    rows. ``geometry`` is built from each cast's decoded longitude and
    latitude: a struct for ``point``, the ``functions/wkb.py`` kernel's
    bytes for ``WKB``."""

    def geometry(lon, lat):
        import pyarrow as pa

        if encoding == "point":
            return pa.StructArray.from_arrays([lon, lat], ["x", "y"])
        from ..functions.wkb import wkb_point_bytes

        return pa.array(wkb_point_bytes(lon.to_pandas(), lat.to_pandas()), pa.binary())

    def decode(batch):
        import pyarrow as pa
        import pyarrow.compute as pc

        recs = zip(
            map(datasets.__getitem__, batch.column("file").to_pylist()),
            batch.column("rec").to_pylist(),
            batch.column("ferr").to_pylist(),
        )
        at = 0
        for parsed in encode_batches(recs):
            n = parsed.num_rows
            keys = batch.slice(at, n)
            at += n
            ok, err = parsed.column("ok"), parsed.column("err")
            cast = [ok.field(i) for i in range(ok.type.num_fields)]
            data = pa.RecordBatch.from_arrays(
                [
                    *cast,
                    keys.column("castTimestamp"),
                    keys.column("geohash"),
                    geometry(ok.field("longitude"), ok.field("latitude")),
                ],
                [*(f.name for f in ok.type), "castTimestamp", "geohash", GEOMETRY_COLUMN],
            )
            files, cells = keys.column("file"), keys.column("geohash3")
            if not ok.null_count:
                yield files, cells, data, None
            else:
                kept = ok.is_valid()
                lost = pc.invert(kept)
                yield (
                    files.filter(kept),
                    cells.filter(kept),
                    data.filter(kept),
                    _written(files.filter(lost), err=err.filter(lost)),
                )

    return decode


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


#: Inputs smaller than this many bytes share Spark jobs (a batch); larger
#: ones run a job each. Warm at local[4], a one-cast file-job costs
#: 0.54-0.63 s of CPU: about 0.33 s in the JVM outside the JIT (plan
#: build, scheduling two stages and the exchange), 0.19 s in the Python
#: workers and 0.035 s in the driver. Below 256 KiB of gzip that fixed
#: cost is most of a file's job; above it the decode and the writes
#: dominate, and a job of its own costs little more. Keeping large files
#: alone also means a corrupt large file never makes small files re-run,
#: and a batch never waits on a large file.
_SHARED_JOB_BYTES = 256 << 10

#: The most inputs one batch converts. Above 32 paths
#: (``spark.sql.sources.parallelPartitionDiscovery.threshold``) the
#: ``binaryFile`` listing launches a Spark job of its own; with
#: ``_SHARED_JOB_BYTES`` it also keeps a batch under 8 MiB of input.
_SHARED_JOB_FILES = 32


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

    The work runs in units on a pool of ``max_concurrent`` threads, so
    Spark can pipeline scheduling gaps (the reference runs one file at a
    time, ``SparklerExecutor.java:52``), largest input bytes first. An
    input of ``_SHARED_JOB_BYTES`` or more is a unit of its own, through
    :func:`convert_file`. The smaller ones first get their skip/resume
    checks (:func:`_prepare`, on the pool: on an object store each check
    is a round trip per file); those left to convert are packed, largest
    first, into batches of at most ``_SHARED_JOB_FILES``, each converted
    in one Spark job (:func:`_convert_batch`) and published file by file.

    Each file retries ``retries`` times — the driver-level mirror of the
    reference's Condor retry policy
    (``wod-ascii-to-parquet-spark.submit:15-16``); a retried file resumes
    from the stale-``_temporary`` cleanup path, so partial outputs of the
    failed attempt are rebuilt, not appended to. When a batch fails, the
    files it already published count as converted, and each other file
    is retried alone through :func:`convert_file` with the whole
    ``retries`` budget, so a corrupt file fails only itself. Every file is
    listed once in the result; any failure raises after the run."""
    result = ConvertResult()
    tasks = plan_tasks(source, output, datasets, levels, subset, spark=spark)
    # Largest file first (LPT scheduling): with a bounded worker pool, the
    # biggest job starting last is what stretches the makespan — the
    # reference processes in listing order and routinely tail-waits on one
    # giant yearly file. Ties keep listing order (stable sort).
    tasks.sort(key=lambda t: -t.size)

    def record(task: FileTask, status: str) -> None:
        (result.converted if status == "converted" else result.skipped).append(
            task.output_path
        )

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
                record(task, status)
                return
            except Exception as e:  # per-file fail-fast, Sparkler.java:90-100
                last_err = e
        result.failed.append((task.input_path, str(last_err)))

    def check(task: FileTask) -> bool | None:
        """:func:`_prepare`; None when it fails (the file is then retried
        alone)."""
        try:
            return _prepare(spark, FsClient(spark), task, overwrite)
        except Exception:
            return None

    def run_batch(batch: list[FileTask]) -> None:
        published = 0
        try:
            enc = _footer_encoding(geometry_encoding)
            for task in _convert_batch(spark, batch, enc):
                record(task, "converted")
                published += 1
        except Exception:
            for task in batch[published:]:
                run(task)

    # cached_frames: a multi-file run is exactly the long-lived-session
    # shape the registry documents — any persist() a composed stage does
    # (none today, but curation/LSH stages persist when composed in) is
    # released when the run returns instead of accumulating one
    # InMemoryRelation per file in the CacheManager. One scope around the
    # WHOLE run (not per task): tasks share the session and the scope's
    # release happens after every task's terminal write.
    with cached_frames(), ThreadPoolExecutor(max_workers=max(1, max_concurrent)) as pool:
        each = pool.map if max_concurrent > 1 else map
        small = [t for t in tasks if t.size < _SHARED_JOB_BYTES]
        units = [(t.size, partial(run, t)) for t in tasks if t.size >= _SHARED_JOB_BYTES]
        pending = []
        for task, skipped in zip(small, each(check, small)):
            if skipped:
                record(task, "skipped")
            elif skipped is None:
                units.append((task.size, partial(run, task)))
            else:
                pending.append(task)
        for at in range(0, len(pending), _SHARED_JOB_FILES):
            batch = pending[at : at + _SHARED_JOB_FILES]
            units.append((sum(t.size for t in batch), partial(run_batch, batch)))
        units.sort(key=lambda unit: -unit[0])
        list(each(lambda unit: unit[1](), units))
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
    from pyspark.sql.types import BinaryType, StructType

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
                ((paths, _),) = _write_geoparquet(
                    spark,
                    fs,
                    _resolve_executor_store(spark, dest),
                    df.hint("rebalance", F.col("geohash3")).sortWithinPartitions(
                        "geohash3", "geohash"
                    ),
                    [dest],
                    enc,
                    StructType([f for f in df.schema.fields if f.name != "geohash3"]),
                )
                _publish_geoparquet(fs, dest, paths, enc)
                fs.write_bytes(
                    _join(dest, SIDECAR_NAME), geo_sidecar_bytes(enc)
                )
                stats[f"{ds}/{lvl}"] = {
                    "inputs": len(dirs),
                    "files_before": len(sizes),
                    "files_after": len(paths),
                    "bytes_total": total,
                    "dest": dest,
                }
    finally:
        spark.conf.set(infer_key, old_infer)
        spark.conf.set(advisory_key, old_advisory)
    return stats

"""Distributed WOD ASCII source (SURVEY §2.1 S1 / §2.11 udtf_parse_casts).

The reference iterates casts with ``CastFileReader`` on the DRIVER thread and
ships batches to Spark through a BlockingQueue
(``DatasetYearTrain.java:141-209``) — the single biggest non-idiomatic
bottleneck in its design. Here one decode kernel runs on the executors:

- per record, ``wod_format.CastColumns.add_record`` walks the record once
  and appends its fields straight onto flat column buffers, or, when the
  record fails to parse, truncates what it appended and adds an error row;
  a file whose framing fails gets the one ``wod_format.stream_error`` row.
  The split replaces the reference's 1-parquet-write-per-bad-record error
  handler (``TransformationErrorHandler.java:34-39``) with a single channel
  filter;
- :func:`encode_batches` turns each full set of buffers into one
  ``schemas.PARSED`` Arrow RecordBatch with ``ListArray.from_arrays`` and
  ``StructArray.from_arrays`` (no per-cast dict or tuple), and
  :func:`decode_file` is that encoder over one whole file.

Four surfaces share the kernel: ``wod_scan(scatter=False)`` runs
:func:`decode_file` per ``binaryFile`` row; ``wod_scan(scatter=True)`` (the
default) only gunzips and FRAMES records in the file task, then a
round-robin exchange of record strings scatters the field decode across
every core; the ``wod_ascii`` DataSource (``wod_datasource.py``) yields
:func:`decode_file` batches per file; and the convert plan frames with
:func:`frame_headers`, whose rows carry each record's text, its file's
index in the job and its header fields (read by
``wod_format.read_header``, the walk's own first step), and decodes with
:func:`encode_batches` inside its writer tasks, after its one exchange.

100 TB note: scatter, and convert's writer-side decode, decouple decode
width from file count, so one giant yearly file parses at cluster width
(convert's at the width of its occupied geohash3 cells); for files too
big to hold decompressed in one task the right fix remains upstream
re-compression to a splittable codec. Batches are capped at
``_ARROW_BATCH_ROWS`` casts so multi-GB casts files stream through a 3g
executor (the reference's cluster-mode executor size,
``src/spark/job.sh:11-14``).
"""

from __future__ import annotations

import functools
import gzip
import io
import itertools
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import PARSED
from .wod_format import (
    HEADER_KEYS,
    CastColumns,
    WodFormatError,
    frame_records,
    read_header,
    stream_error,
)


def _dataset_of(path: str) -> str:
    """Dataset code from the reference layout ``<...>/<DS>/<LEVEL>/<FILE>``."""
    parts = path.rstrip("/").split("/")
    return parts[-3] if len(parts) >= 3 else "UNKNOWN"


#: casts per emitted Arrow batch — bounds executor memory for huge files.
_ARROW_BATCH_ROWS = 4096


def _chunks(items: Iterable) -> Iterator[list]:
    it = iter(items)
    while chunk := list(itertools.islice(it, _ARROW_BATCH_ROWS)):
        yield chunk


@functools.cache
def _parsed_arrow_schema():
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(PARSED)


def _arrow(typ, node, mask=None):
    """One :meth:`CastColumns.ok_columns`-shaped node → an Arrow array of
    ``typ``: a struct from its fields' arrays, a list from its offsets and
    child array, a leaf from its value list."""
    import pyarrow as pa

    if pa.types.is_struct(typ):
        return pa.StructArray.from_arrays(
            [_arrow(f.type, n) for f, n in zip(typ, node)],
            fields=list(typ),
            mask=mask,
        )
    if pa.types.is_list(typ):
        offsets, child = node
        return pa.ListArray.from_arrays(
            pa.array(offsets, pa.int32()), _arrow(typ.value_type, child), type=typ
        )
    return pa.array(node, type=typ)


def _batch(cols: CastColumns):
    import pyarrow as pa

    schema = _parsed_arrow_schema()
    failed = [i in cols.errors for i in range(cols.rows)]
    return pa.RecordBatch.from_arrays(
        [
            _arrow(schema.field("ok").type, cols.ok_columns(), pa.array(failed)),
            _arrow(
                schema.field("err").type,
                cols.err_columns(),
                pa.array([not f for f in failed]),
            ),
        ],
        schema=schema,
    )


def encode_batches(
    records: Iterable[tuple[str, str | None, str | None]],
) -> Iterator:
    """``(dataset, record, framing error)`` rows → ``PARSED`` RecordBatches
    of at most ``_ARROW_BATCH_ROWS`` rows: each record is decoded straight
    onto :class:`CastColumns` buffers, a ``None`` record becomes the stream
    error row, and each full batch is encoded once. Building the nested
    arrays in pyarrow skips the pickle → JVM row-verification path."""
    cols = CastColumns()
    for ds, rec, ferr in records:
        if rec is None:
            cols.add_error(*stream_error(ds, ferr))
        else:
            cols.add_record(rec, ds)
        if cols.rows >= _ARROW_BATCH_ROWS:
            yield _batch(cols)
            cols = CastColumns()
    if cols.rows:
        yield _batch(cols)


def _decompress(path: str, content: bytes) -> str:
    if path.endswith(".gz"):
        return io.TextIOWrapper(
            gzip.GzipFile(fileobj=io.BytesIO(content)), errors="replace"
        ).read()
    return content.decode(errors="replace")


def decode_file(path: str, content: bytes, dataset: str | None = None) -> Iterator:
    """Gunzip (if ``.gz``) and decode one file's casts into ``PARSED``
    RecordBatches; ``dataset`` defaults to the one in the file's path."""
    ds = dataset or _dataset_of(path)
    return encode_batches(
        (ds, rec, ferr) for rec, ferr in frame_records(_decompress(path, content))
    )


def _file_rows(batches) -> Iterator[tuple[str, bytes]]:
    """``(path, content)`` per ``binaryFile`` row, one file at a time."""
    for batch in batches:
        paths, contents = batch.column(0), batch.column(1)
        for i in range(batch.num_rows):
            yield paths[i].as_py(), contents[i].as_py()


def _framed(batches, dataset: str | None) -> Iterator[tuple[str, str, list]]:
    """Gunzip and frame each ``binaryFile`` row: ``(path, dataset,
    records)`` per at most ``_ARROW_BATCH_ROWS`` records, each ``(record,
    framing error)`` as :func:`wod_format.frame_records` yields them."""
    for path, content in _file_rows(batches):
        ds = dataset or _dataset_of(path)
        for chunk in _chunks(frame_records(_decompress(path, content))):
            yield path, ds, chunk


#: :func:`frame_headers` rows: one framed record, or a file's framing
#: error, with the index of its file and the header fields the convert
#: plan's sort keys come from.
FRAMED = (
    "file int, rec string, ferr string, year int, month int, day int, "
    "time double, latitude double, longitude double"
)

_NO_KEYS = (None,) * 6


def _header_keys(record: str | None) -> tuple:
    """``wod_format.read_header``'s key fields of ``record``; all None for
    a framing error, or a header that fails to parse (then the full
    decode fails on the same bytes and the record is an error row)."""
    if record is None:
        return _NO_KEYS
    try:
        return read_header(record)[HEADER_KEYS]
    except WodFormatError:
        return _NO_KEYS


def frame_headers(spark: SparkSession, files: dict[str, int]) -> DataFrame:
    """Gunzip and frame the WOD files ``files`` maps to their indexes,
    each file in one task, into flat ``FRAMED`` rows: each record's text, the
    index of its file and its header fields, read with the decode
    kernel's own header read. The keys must be the paths as
    ``binaryFile`` lists them (``FsClient.qualify``'s form); a listed path
    that is not a key fails the task. No field past the header is
    decoded; :func:`encode_batches` decodes the ``(dataset, rec, ferr)``
    triples wherever the rows end up."""
    import pyarrow as pa

    rows = spark.read.format("binaryFile").load(list(files)).select("path", "content")

    def frame(batches):
        text, i32, f64 = pa.string(), pa.int32(), pa.float64()
        for path, _ds, chunk in _framed(batches, None):
            if path not in files:
                raise ValueError(f"{path!r} is not one of the files framed: {sorted(files)}")
            recs, ferrs = zip(*chunk)
            year, month, day, time, lat, lon = zip(*map(_header_keys, recs))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([files[path]] * len(recs), i32),
                    pa.array(recs, text), pa.array(ferrs, text),
                    pa.array(year, i32), pa.array(month, i32), pa.array(day, i32),
                    pa.array(time, f64), pa.array(lat, f64), pa.array(lon, f64),
                ],
                names=[
                    "file", "rec", "ferr", "year", "month", "day", "time",
                    "latitude", "longitude",
                ],
            )

    return rows.mapInArrow(frame, FRAMED)


def wod_scan(
    spark: SparkSession,
    paths: list[str] | str,
    dataset: str | None = None,
    scatter: bool = True,
) -> DataFrame:
    """Parse WOD ASCII file(s) into the tagged-union DataFrame (schema
    ``schemas.PARSED``: ``ok`` cast struct | ``err`` error struct).
    Consumers split the channels with ``ok_casts`` / ``errors``.

    ``scatter=True`` (default) splits the work into two stages: the
    per-file task only gunzips and FRAMES cast records (the cheap part —
    record boundaries come from each record's declared byte count, ~5% of
    decode cost), then a round-robin exchange of raw record strings feeds
    the expensive field decode on EVERY core. Gzip being unsplittable caps
    the per-file READ at one task, but it does not have to cap the parse:
    a single huge yearly file decodes at cluster width instead of one
    core, and skewed file sizes balance themselves through the exchange.
    The shuffled payload is the decompressed text itself — the same bytes
    the one-task formulation holds in memory anyway. ``scatter=False``
    keeps the single-stage in-task decode (no exchange; right when there
    are many small files and the shuffle would cost more than it
    balances). Both arms emit identical rows.
    """
    import pyarrow as pa

    files = spark.read.format("binaryFile").load(paths).select("path", "content")

    if not scatter:

        def decode(batches):
            for path, content in _file_rows(batches):
                yield from decode_file(path, content, dataset)

        return files.mapInArrow(decode, PARSED)

    def frame(batches):
        for _path, ds, chunk in _framed(batches, dataset):
            recs, ferrs = zip(*chunk)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([ds] * len(chunk), type=pa.string()),
                    pa.array(recs, type=pa.string()),
                    pa.array(ferrs, type=pa.string()),
                ],
                names=["ds", "rec", "ferr"],
            )

    def decode_records(batches):
        return encode_batches(
            row
            for batch in batches
            for row in zip(*(col.to_pylist() for col in batch.columns))
        )

    framed = files.mapInArrow(frame, "ds string, rec string, ferr string")
    return framed.repartition(
        spark.sparkContext.defaultParallelism
    ).mapInArrow(decode_records, PARSED)


def ok_casts(parsed: DataFrame) -> DataFrame:
    return parsed.filter(F.col("ok").isNotNull()).select("ok.*")


def errors(parsed: DataFrame) -> DataFrame:
    return parsed.filter(F.col("err").isNotNull()).select("err.*")

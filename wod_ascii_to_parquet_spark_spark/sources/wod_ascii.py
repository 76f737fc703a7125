"""Distributed WOD ASCII source (SURVEY §2.1 S1 / §2.11 udtf_parse_casts).

The reference iterates casts with ``CastFileReader`` on the DRIVER thread and
ships batches to Spark through a BlockingQueue
(``DatasetYearTrain.java:141-209``) — the single biggest non-idiomatic
bottleneck in its design. Here one decode kernel runs on the executors:

- per record, ``wod_format.decode_record`` yields a tagged union (ok-cast |
  error-row), and ``wod_format.stream_error`` the one row for a file whose
  framing fails — the split replaces the reference's
  1-parquet-write-per-bad-record error handler
  (``TransformationErrorHandler.java:34-39``) with a single channel filter;
- :func:`encode_batches` turns those pairs into ``schemas.PARSED`` Arrow
  RecordBatches, and :func:`decode_file` is that encoder over one whole
  file.

Three surfaces share the kernel: ``wod_scan(scatter=False)`` runs
:func:`decode_file` per ``binaryFile`` row; ``wod_scan(scatter=True)`` (the
default) only gunzips and FRAMES records in the file task, then a
round-robin exchange of record strings scatters the field decode across
every core; and the ``wod_ascii`` DataSource (``wod_datasource.py``) yields
:func:`decode_file` batches per file.

100 TB note: scatter decouples decode width from file count, so one giant
yearly file parses at cluster width; for files too big to hold decompressed
in one task the right fix remains upstream re-compression to a splittable
codec. Batches are capped at ``_ARROW_BATCH_ROWS`` casts so multi-GB casts
files stream through a 3g executor (the reference's cluster-mode executor
size, ``src/spark/job.sh:11-14``).
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
    Decoded,
    RawCast,
    WodFormatError,
    decode_record,
    iter_casts,
    split_records,
    stream_error,
)


def _dataset_of(path: str) -> str:
    """Dataset code from the reference layout ``<...>/<DS>/<LEVEL>/<FILE>``."""
    parts = path.rstrip("/").split("/")
    return parts[-3] if len(parts) >= 3 else "UNKNOWN"


def _cast_dict(c: RawCast) -> dict:
    return {
        "dataset": c.dataset,
        "castNumber": c.castNumber,
        "cruiseNumber": c.cruiseNumber,
        "country": c.country,
        "originatorsCruise": c.originatorsCruise,
        "originatorsStationCode": c.originatorsStationCode,
        "year": c.year,
        "month": c.month,
        "day": c.day,
        "time": c.time,
        "latitude": c.latitude,
        "longitude": c.longitude,
        "profileType": c.profileType,
        "attributes": [{"code": a, "value": v} for a, v in c.attributes],
        "biologicalAttributes": [
            {"code": a, "value": v} for a, v in c.biologicalAttributes
        ],
        "taxonomicDatasets": [
            [{"code": a, "value": v} for a, v in ts] for ts in c.taxonomicDatasets
        ],
        "principalInvestigators": [
            {"variable": a, "pi": p} for a, p in c.principalInvestigators
        ],
        "variables": [
            {
                "code": vc,
                "qcFlag": qc,
                "metadata": [{"code": mc, "value": mv} for mc, mv in meta],
            }
            for vc, qc, meta in c.variables
        ],
        "depths": [
            {
                "depth": d,
                "depthErrorFlag": de,
                "originatorsFlag": do,
                "data": [
                    {
                        "variableCode": dv,
                        "value": val,
                        "qcFlag": q,
                        "originatorsFlag": o,
                    }
                    for dv, val, q, o in data
                ],
            }
            for d, de, do, data in c.depths
        ],
    }


#: casts per emitted Arrow batch — bounds executor memory for huge files.
_ARROW_BATCH_ROWS = 4096


def _chunks(items: Iterable, n: int = _ARROW_BATCH_ROWS) -> Iterator[list]:
    it = iter(items)
    while chunk := list(itertools.islice(it, n)):
        yield chunk


@functools.cache
def _parsed_arrow_schema():
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(PARSED)


def encode_batches(pairs: Iterable[Decoded]) -> Iterator:
    """``(cast, err)`` pairs → ``PARSED`` RecordBatches of at most
    ``_ARROW_BATCH_ROWS`` rows. Building the nested arrays in pyarrow skips
    the pickle → JVM row-verification path entirely."""
    import pyarrow as pa

    schema = _parsed_arrow_schema()
    ok_type = schema.field("ok").type
    err_type = schema.field("err").type
    # Each cast becomes a dict as it streams by: holding a whole chunk of
    # parsed casts first doubled the garbage collector's passes.
    rows = (
        (
            None if c is None else _cast_dict(c),
            None if e is None
            else {"dataset": e[0], "castNumber": e[1], "error": e[2]},
        )
        for c, e in pairs
    )
    for chunk in _chunks(rows):
        oks, errs = zip(*chunk)
        yield pa.RecordBatch.from_arrays(
            [pa.array(oks, type=ok_type), pa.array(errs, type=err_type)],
            schema=schema,
        )


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
    return encode_batches(iter_casts(_decompress(path, content), ds))


def _file_rows(batches) -> Iterator[tuple[str, bytes]]:
    """``(path, content)`` per ``binaryFile`` row, one file at a time."""
    for batch in batches:
        paths, contents = batch.column(0), batch.column(1)
        for i in range(batch.num_rows):
            yield paths[i].as_py(), contents[i].as_py()


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

    def framed_rows(text: str) -> Iterator[tuple[str | None, str | None]]:
        # iter_casts' stream contract: records before a framing failure
        # survive, then one row carries the failure.
        try:
            for rec in split_records(text):
                yield rec, None
        except WodFormatError as e:
            yield None, str(e)

    def frame(batches):
        for path, content in _file_rows(batches):
            ds = dataset or _dataset_of(path)
            for chunk in _chunks(framed_rows(_decompress(path, content))):
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
        def pairs():
            for batch in batches:
                dss, recs, ferrs = (col.to_pylist() for col in batch.columns)
                for ds, rec, ferr in zip(dss, recs, ferrs):
                    if rec is None:
                        yield stream_error(ds, ferr)
                    else:
                        yield decode_record(rec, ds)

        return encode_batches(pairs())

    framed = files.mapInArrow(frame, "ds string, rec string, ferr string")
    return framed.repartition(
        spark.sparkContext.defaultParallelism
    ).mapInArrow(decode_records, PARSED)


def ok_casts(parsed: DataFrame) -> DataFrame:
    return parsed.filter(F.col("ok").isNotNull()).select("ok.*")


def errors(parsed: DataFrame) -> DataFrame:
    return parsed.filter(F.col("err").isNotNull()).select("err.*")

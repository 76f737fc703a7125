"""WOD ASCII as a REGISTERED Spark 4 Python DataSource:

    spark.dataSource.register(WodAsciiDataSource)
    spark.read.format("wod_ascii").load("/path/to/WOD/files")

The same decode kernel as ``wod_ascii.wod_scan`` (``wod_ascii.decode_file``),
exposed through the DataSource V2 Python API: one InputPartition per file
(gzip is unsplittable, so the file IS the natural split), and each
partition's reader yields the ``schemas.PARSED`` Arrow RecordBatches the
kernel builds, which Spark takes as they are.

When to use which: ``wod_scan(scatter=True)`` is the parallel scan — its
record-scatter exchange decouples decode width from file count, which the
one-partition-per-file DataSource cannot do (the conversion pipeline gets
the same decoupling by decoding in its writer tasks,
``plans/convert.py``). The DataSource is the ergonomic surface (``spark.read.format``) for ad-hoc
exploration and for integration with catalogs/readers that speak formats,
and the parity test pins all three paths to identical rows.

Reference: the reader side of ``CastFileReader`` + ``DatasetYearTrain
.java:141-209``, re-expressed as a planner-visible source.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from ..schemas import PARSED


class WodFilePartition(InputPartition):
    """One WOD data file = one split (gzip members are unsplittable)."""

    def __init__(self, path: str) -> None:
        self.path = path


def _discover(root: str) -> list[str]:
    if os.path.isfile(root):
        return [root]
    found: list[str] = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".gz") or f.upper().startswith(
                ("APB", "CTD", "DRB", "GLD", "MBT", "MRB", "OSD", "PFL",
                 "SUR", "UOR", "XBT")
            ):
                found.append(os.path.join(dirpath, f))
    return sorted(found)


def _read_wod_file(path: str) -> Iterator:
    """Decode one WOD file into ``PARSED`` RecordBatches — the call BOTH
    planner surfaces (batch reader, stream reader) make. Runs in the Python
    worker."""
    from .wod_ascii import decode_file

    with open(path, "rb") as fh:
        content = fh.read()
    yield from decode_file(path, content)


class WodAsciiReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        root = options.get("path")
        if not root:
            raise ValueError("wod_ascii: .load(path) is required")
        self.root = root

    def partitions(self) -> Sequence[InputPartition]:
        paths = _discover(self.root)
        if not paths:
            raise FileNotFoundError(f"wod_ascii: no WOD files under {self.root}")
        return [WodFilePartition(p) for p in paths]

    def read(self, partition: WodFilePartition) -> Iterator:
        yield from _read_wod_file(partition.path)


class WodAsciiDataSource(DataSource):
    """``format("wod_ascii")`` — schema is the fixed tagged union."""

    @classmethod
    def name(cls) -> str:
        return "wod_ascii"

    def schema(self):
        return PARSED

    def reader(self, schema) -> WodAsciiReader:
        return WodAsciiReader(self.options)

    def streamReader(self, schema) -> "WodAsciiStreamReader":
        return WodAsciiStreamReader(self.options)


def register_wod_datasource(spark) -> None:
    """Idempotently register the format with a session."""
    spark.dataSource.register(WodAsciiDataSource)


class WodAsciiStreamReader(DataSourceStreamReader):
    """Streaming arm of the same format: ``spark.readStream.format
    ("wod_ascii").load(dir)`` incrementally decodes WOD files as they
    arrive — the engine-managed version of the reference's re-run-and-
    skip driver loop (``DatasetYearTrain.java:89-94``), where "which
    files are done" lives in the checkpoint's offset log instead of
    ``_SUCCESS`` markers.

    Offsets carry the SORTED FILE LIST itself (like the built-in file
    source's offset log), not a count: a batch is exactly
    ``set(end.files) − set(start.files)``, so discovery-order quirks
    (a late file that sorts earlier than an already-processed one) can
    never shift a replayed batch's contents — replay of (start, end] is
    bit-identical, which is what makes the checkpoint contract
    exactly-once. One InputPartition per new file (gzip is unsplittable);
    at real scale the offset list is the same growth class as the
    built-in file source's log (compaction is its standard answer)."""

    def __init__(self, options: dict) -> None:
        root = options.get("path")
        if not root:
            raise ValueError("wod_ascii: .load(path) is required")
        self.root = root

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        return {"files": _discover(self.root)}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        new = sorted(set(end["files"]) - set(start["files"]))
        # Spark requires >= 1 partition per batch; an empty marker
        # partition yields no rows.
        return [WodFilePartition(p) for p in new] or [WodFilePartition("")]

    def read(self, partition: WodFilePartition) -> Iterator:
        if not partition.path:
            return
        yield from _read_wod_file(partition.path)

    def commit(self, end: dict) -> None:
        pass  # nothing to clean: source files are immutable inputs

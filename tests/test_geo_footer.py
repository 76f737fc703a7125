"""GeoParquet publish helpers that need no Spark session: the rename plan
that publishes the writer tasks' files, and the local-path forms the
executor stores pick their I/O by (Hadoop's ``Path.toString`` emits the
single-slash ``file:/...`` form).
"""

from __future__ import annotations

import pytest

from wod_ascii_to_parquet_spark_spark.plans.convert import _publish_plan
from wod_ascii_to_parquet_spark_spark.sources.filesystem import local_os_path

OUT = "s3a://bucket/out.parquet"
TMP = f"{OUT}/_temporary/job"


def test_publish_plan_renames_cells_and_never_a_failed_attempt():
    """One task dir per cell becomes the cell (one rename); a cell split
    over two tasks gets its second task's file renamed into it; the files
    of a failed attempt are not among the returned rows, so no rename
    touches them."""
    returned = [
        # partition 0 succeeded on its retry (attempt id 7); its first
        # attempt (id 2) wrote files under 00000-2/ and failed
        f"{TMP}/00000-7/geohash3=abc/part-00000-job.c000.snappy.parquet",
        f"{TMP}/00000-7/geohash3=def/part-00000-job.c000.snappy.parquet",
        # partition 1 holds the rest of cell def, and cell ghi
        f"{TMP}/00001-3/geohash3=def/part-00001-job.c000.snappy.parquet",
        f"{TMP}/00001-3/geohash3=ghi/part-00001-job.c000.snappy.parquet",
    ]
    assert _publish_plan(returned, OUT) == [
        (f"{TMP}/00000-7/geohash3=abc", f"{OUT}/geohash3=abc"),
        (f"{TMP}/00000-7/geohash3=def", f"{OUT}/geohash3=def"),
        (
            f"{TMP}/00001-3/geohash3=def/part-00001-job.c000.snappy.parquet",
            f"{OUT}/geohash3=def/part-00001-job.c000.snappy.parquet",
        ),
        (f"{TMP}/00001-3/geohash3=ghi", f"{OUT}/geohash3=ghi"),
    ]
    assert not [r for r in _publish_plan(returned, OUT) if "/00000-2/" in r[0]]
    assert _publish_plan([], OUT) == []


@pytest.mark.parametrize(
    ("uri", "expected"),
    [
        ("/tmp/out", "/tmp/out"),
        ("relative/dir", "relative/dir"),
        ("file:///tmp/out", "/tmp/out"),
        ("file:/tmp/out", "/tmp/out"),  # Hadoop Path.toString form
        ("file://localhost/tmp/out", "/tmp/out"),
        ("file://remotehost/tmp/out", None),
        ("s3a://bucket/key", None),
        ("hdfs://nn:8020/data", None),
    ],
)
def test_local_path_forms(uri, expected):
    assert local_os_path(uri) == expected

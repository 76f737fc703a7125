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
    """Each cell's task dir becomes the cell: one rename per cell, however
    many files (c000, c001, ...) the task wrote in it; the files of a
    failed attempt are not among the returned rows, so no rename touches
    them; a cell under two task dirs raises, since a rename onto the
    published cell would nest the second dir in it."""
    returned = [
        # partition 0 succeeded on its retry (attempt id 7); its first
        # attempt (id 2) wrote files under 00000-2/ and failed
        f"{TMP}/00000-7/geohash3=abc/part-00000-job.c000.snappy.parquet",
        f"{TMP}/00000-7/geohash3=def/part-00000-job.c000.snappy.parquet",
        f"{TMP}/00000-7/geohash3=def/part-00000-job.c001.snappy.parquet",
        f"{TMP}/00001-3/geohash3=ghi/part-00001-job.c000.snappy.parquet",
    ]
    assert _publish_plan(returned, OUT) == [
        (f"{TMP}/00000-7/geohash3=abc", f"{OUT}/geohash3=abc"),
        (f"{TMP}/00000-7/geohash3=def", f"{OUT}/geohash3=def"),
        (f"{TMP}/00001-3/geohash3=ghi", f"{OUT}/geohash3=ghi"),
    ]
    assert not [r for r in _publish_plan(returned, OUT) if "/00000-2/" in r[0]]
    assert _publish_plan([], OUT) == []
    split = f"{TMP}/00001-3/geohash3=def/part-00001-job.c000.snappy.parquet"
    with pytest.raises(ValueError, match="geohash3=def"):
        _publish_plan([*returned, split], OUT)


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

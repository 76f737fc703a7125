"""Scheme-agnostic filesystem layer (the S3Actions/FileSystemPrefix mirror).

The environment ships no hadoop-aws jars, so live ``s3a://`` I/O cannot
run here; these tests exercise the SAME FsClient/Hadoop-FileSystem code
path through ``file://`` URIs (scheme resolution, URI-safe joins, listing,
delete, skip/resume) and unit-test the s3a conf wiring. The one
s3a-specific test is the classpath probe gate.
"""

from __future__ import annotations

import glob
import os

import pytest

from wod_ascii_to_parquet_spark_spark.cli import _with_scheme
from wod_ascii_to_parquet_spark_spark.plans.convert import convert, plan_tasks
from wod_ascii_to_parquet_spark_spark.sources.filesystem import (
    FsClient,
    apply_s3a_confs,
    fs_prefix,
    s3a_available,
    s3a_confs,
)
from wod_ascii_to_parquet_spark_spark.sources.wod_encode import (
    make_casts,
    wod_fixtures_dir,
    wod_text,
    write_wod_file,
)


def test_fs_prefix_mirrors_reference():
    # FileSystemPrefix.java:5-16
    assert fs_prefix("local") == "file://"
    assert fs_prefix("s3") == "s3a://"
    assert fs_prefix("emrS3") == "s3a://"
    with pytest.raises(ValueError, match="Unsupported file system type"):
        fs_prefix("ftp")


def test_with_scheme():
    assert _with_scheme("/data/wod", "local") == "/data/wod"
    assert _with_scheme("bucket/prefix", "s3") == "s3a://bucket/prefix"
    assert _with_scheme("/bucket/prefix", "s3") == "s3a://bucket/prefix"
    assert _with_scheme("s3a://bucket/x", "s3") == "s3a://bucket/x"
    assert _with_scheme("file:///x", "local") == "file:///x"


def test_s3a_confs_mirror_sparkler():
    # Sparkler.java:79-87: only set what was provided.
    assert s3a_confs() == {}
    confs = s3a_confs(
        region="us-west-2",
        access_key="AK",
        secret_key="SK",
        endpoint="http://localhost:9090",
        path_style_access=True,
    )
    assert confs == {
        "spark.hadoop.fs.s3a.endpoint.region": "us-west-2",
        "spark.hadoop.fs.s3a.access.key": "AK",
        "spark.hadoop.fs.s3a.secret.key": "SK",
        "spark.hadoop.fs.s3a.endpoint": "http://localhost:9090",
        "spark.hadoop.fs.s3a.path.style.access": "true",
    }


def test_apply_s3a_confs_reaches_hadoop_conf(spark):
    apply_s3a_confs(spark, {"spark.hadoop.fs.s3a.endpoint.region": "eu-test-1"})
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.endpoint.region") == "eu-test-1"


def test_fsclient_roundtrip_file_uri(spark, tmp_path):
    fs = FsClient(spark)
    base = f"file://{tmp_path}"
    assert not fs.exists(f"{base}/x")
    fs.mkdirs(f"{base}/d/e")
    assert fs.is_dir(f"{base}/d/e")
    fs.write_bytes(f"{base}/d/e/a.txt", b"hello")
    fs.write_bytes(f"{base}/d/e/b.gz", b"zz")
    assert fs.read_bytes(f"{base}/d/e/a.txt") == b"hello"
    assert fs.list_names(f"{base}/d/e") == ["a.txt", "b.gz"]
    assert fs.list_names(f"{base}/missing") == []
    assert fs.delete(f"{base}/d")
    assert not fs.exists(f"{base}/d")
    assert fs.delete(f"{base}/d") is False  # quiet on missing


def test_plan_tasks_file_uri_matches_local(spark):
    wod = wod_fixtures_dir()
    local = plan_tasks(wod, "/tmp/out", datasets=("CTD", "XBT"))
    assert local  # compares real task lists, not two empty listings
    uri = plan_tasks(
        f"file://{wod}", "/tmp/out", datasets=("CTD", "XBT"), spark=spark
    )
    assert [t.input_path.removeprefix("file://") for t in uri] == [
        t.input_path for t in local
    ]
    assert all(t.input_path.startswith("file://") for t in uri)


def test_convert_end_to_end_over_file_uris(spark, tmp_path):
    """Full pipeline with BOTH endpoints as URIs: plan/list, parse, write,
    _SUCCESS detection, skip-on-resume, overwrite — all through the Hadoop
    FileSystem layer (the exact code path an s3a:// run takes)."""
    src = f"file://{tmp_path}/src"
    write_wod_file(f"{tmp_path}/src/APB/OBS/APBO1997.gz", wod_text(make_casts(1, 1997)))
    out = f"file://{tmp_path}/converted"
    res = convert(spark, src, out, datasets=("APB",), max_concurrent=1)
    assert len(res.converted) == 1 and not res.failed
    produced = res.converted[0]
    assert produced.startswith("file://")
    local_dir = produced.removeprefix("file://")
    assert os.path.exists(os.path.join(local_dir, "_SUCCESS"))
    assert glob.glob(os.path.join(local_dir, "geohash3=*"))
    # resume skips through the FS layer
    res2 = convert(spark, src, out, datasets=("APB",), max_concurrent=1)
    assert res2.skipped == [produced] and not res2.converted
    # overwrite rebuilds
    res3 = convert(
        spark,
        src,
        out,
        datasets=("APB",),
        max_concurrent=1,
        overwrite=True,
    )
    assert res3.converted == [produced]
    df = spark.read.parquet(produced)
    assert df.count() == 1  # one generated cast


def test_s3a_probe_is_honest(spark):
    """No hadoop-aws in this environment — the probe must say so (and a
    deployment THAT HAS the jars flips this to True with no code change)."""
    assert s3a_available(spark) is False


def test_rename_all_moves_dirs_and_raises_on_a_refused_rename(spark, tmp_path):
    """The convert publish renames every cell dir with ``rename_all``; a
    rename the filesystem refuses (Hadoop returns false, here a dir onto
    an existing file) must raise, not leave the cell unpublished."""
    fs = FsClient(spark)
    for d in ("a", "b"):
        (tmp_path / "t" / d).mkdir(parents=True)
    fs.rename_all([(f"file:{tmp_path}/t/{d}", f"file:{tmp_path}/{d}") for d in ("a", "b")])
    assert (tmp_path / "a").is_dir() and (tmp_path / "b").is_dir()
    assert not list((tmp_path / "t").iterdir())
    (tmp_path / "file").write_text("x")
    with pytest.raises(OSError, match="refused"):
        fs.rename_all([(f"file:{tmp_path}/a", f"file:{tmp_path}/file")])

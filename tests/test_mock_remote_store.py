"""Full conversion against a MOCK REMOTE OBJECT STORE — the mirror of the
reference's ``SparklerExecutorTest.java:78-170`` (testSimple / testPrefix /
testPrefixSUR), which runs the executor against an in-memory S3 mock.

No S3 mock server ships in this environment (no moto/minio, no hadoop-aws
jars), so the stand-in is Hadoop's built-in ``viewfs://`` — a genuinely
NON-LOCAL scheme (``local_os_path`` returns None for it) resolved entirely
through the Hadoop FileSystem API, exactly like s3a would be. Every remote
branch the s3a deployment exercises runs for real here:

- source discovery + paged listing through ``FsClient`` on remote URIs,
- executor reads (gunzip), the one-pass GeoParquet writer's tasks
  writing through the executor store (the viewfs mount map), and the
  driver's rename publish + ``_SUCCESS`` through the Hadoop connector,
  with no data bytes passing through the driver,
- skip/resume and sidecar healing keyed on remote marker objects.

Each test mounts fresh viewfs authorities so no FileSystem-cache state
leaks between tests.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from wod_ascii_to_parquet_spark_spark.plans.convert import FileTask, convert, convert_file
from wod_ascii_to_parquet_spark_spark.plans.geo_metadata import SIDECAR_NAME
from wod_ascii_to_parquet_spark_spark.sources.filesystem import (
    FsClient,
    local_os_path,
)

from .wod_encode import make_casts, wod_text, write_wod_file


@pytest.fixture()
def mock_store(spark, tmp_path):
    """A fresh ``viewfs://<authority>/store`` URI backed by a temp dir —
    one 'bucket' per test, like the reference's per-test s3 buckets."""
    authority = f"m{uuid.uuid4().hex[:12]}"
    backing = tmp_path / "backing"
    backing.mkdir()
    spark._jsc.hadoopConfiguration().set(
        f"fs.viewfs.mounttable.{authority}.link./store", f"file://{backing}"
    )
    base = f"viewfs://{authority}/store"
    assert local_os_path(base) is None  # must exercise the REMOTE branches
    return base


def _upload(fs: FsClient, local: str, remote: str) -> None:
    """putObject equivalent (SparklerExecutorTest uploads fixtures to the
    mock bucket the same way)."""
    with open(local, "rb") as fh:
        fs.write_bytes(remote, fh.read())


def _upload_generated(fs: FsClient, tmp_path, rel: str, remote: str) -> None:
    """Upload a generated WOD file (its seed taken from ``rel``) to
    ``remote`` — the stand-in for one reference fixture."""
    local = str(tmp_path / "gen" / rel)
    casts = make_casts(40, sum(map(ord, rel)), first_cast=1000)
    _upload(fs, write_wod_file(local, wod_text(casts)), remote)


def _generated_xbt(tmp_path) -> str:
    """A local generated XBT file whose casts span many geohash3 cells."""
    return write_wod_file(
        str(tmp_path / "gen" / "XBTO1967.gz"), wod_text(make_casts(120, 1967))
    )


def test_simple_mirror(spark, mock_store, tmp_path):
    """testSimple (SparklerExecutorTest.java:78-113): three fixtures in a
    source bucket, two datasets × two levels, output bucket gains the
    three ``_SUCCESS``-marked yearly datasets."""
    fs = FsClient(spark)
    src, out = mock_store + "/wod-ascii", mock_store + "/wod-parquet"
    for rel in ("APB/OBS/APBO1997.gz", "CTD/OBS/CTDO1971.gz", "CTD/STD/CTDS1967.gz"):
        _upload_generated(fs, tmp_path, rel, f"{src}/{rel}")
    assert fs.file_sizes(out) == {}  # output bucket starts empty

    result = convert(
        spark,
        source=src,
        output=out,
        datasets=("APB", "CTD"),
        levels=("OBS", "STD"),
        max_concurrent=2,
    )
    assert not result.failed
    keys = set(fs.file_sizes(out))
    for marker in (
        "yearly/CTD/STD/CTDS1967.parquet/_SUCCESS",
        "yearly/CTD/OBS/CTDO1971.parquet/_SUCCESS",
        "yearly/APB/OBS/APBO1997.parquet/_SUCCESS",
    ):
        assert f"{out}/{marker}" in keys, marker

    # the executor-store writer ran: a data file read back through the
    # byte API carries the geo footer, and Spark reads the dataset
    apb = f"{out}/yearly/APB/OBS/APBO1997.parquet"
    data_files = [p for p in fs.file_sizes(apb) if p.endswith(".parquet")]
    assert data_files
    md = pq.read_metadata(pa.BufferReader(fs.read_bytes(data_files[0])))
    assert json.loads(md.metadata[b"geo"])["primary_column"] == "geometry"
    assert spark.read.parquet(apb).count() > 0

    # skip/resume on the remote store: a second run converts nothing
    again = convert(
        spark,
        source=src,
        output=out,
        datasets=("APB", "CTD"),
        levels=("OBS", "STD"),
        max_concurrent=2,
    )
    assert not again.failed and not again.converted
    assert len(again.skipped) == 3

    # sidecar heal: dropping the publish marker rewrites the sidecar
    fs.delete(f"{apb}/{SIDECAR_NAME}")
    healed = convert(
        spark, source=src, output=out, datasets=("APB",), levels=("OBS",)
    )
    assert healed.skipped and fs.exists(f"{apb}/{SIDECAR_NAME}")


def test_prefix_and_sur_rename_mirror(spark, mock_store, tmp_path):
    """testPrefix + testPrefixSUR (SparklerExecutorTest.java:115-170):
    source and output share one bucket under distinct prefixes, and the
    SURF_ALL input publishes as SUR_ALL (DatasetYearTrain.java:39-40)."""
    fs = FsClient(spark)
    src = mock_store + "/test-bucket/wod-ascii"
    out = mock_store + "/test-bucket/wod-parquet"
    for rel in ("APB/OBS/APBO1997.gz", "CTD/OBS/CTDO1971.gz", "SUR/OBS/SURF_ALL.gz"):
        _upload_generated(fs, tmp_path, rel, f"{src}/{rel}")

    result = convert(
        spark, source=src, output=out, datasets=("APB", "SUR"), levels=("OBS",)
    )
    assert not result.failed
    keys = set(fs.file_sizes(mock_store + "/test-bucket"))
    assert (
        f"{out}/yearly/APB/OBS/APBO1997.parquet/_SUCCESS" in keys
    )
    # SUR rename happened on the remote store
    assert f"{out}/yearly/SUR/OBS/SUR_ALL.parquet/_SUCCESS" in keys
    assert not any("SURF_ALL.parquet" in k for k in keys)
    # the CTD fixture was outside the dataset filter: untouched
    assert not any("/yearly/CTD/" in k for k in keys)


def test_convert_moves_no_data_bytes_through_the_driver(spark, mock_store, tmp_path, monkeypatch):
    """On a remote scheme with an executor store, the writer tasks write
    every data file themselves: the driver's FsClient reads no file and
    writes only the ``_SUCCESS`` marker and the sidecar, and every data
    file in the store carries ``geo``."""
    calls: list[str] = []
    for meth in ("read_bytes", "write_bytes"):
        real = getattr(FsClient, meth)

        def recording(self, path, *a, _real=real, **k):
            calls.append(path)
            return _real(self, path, *a, **k)

        monkeypatch.setattr(FsClient, meth, recording)
    task = FileTask(
        "XBT", "OBS", _generated_xbt(tmp_path),
        mock_store + "/dist-root", mock_store + "/dist-root",
    )
    assert convert_file(spark, task) == "converted"
    base = task.output_path
    assert sorted(calls) == [f"{base}/_SUCCESS", f"{base}/{SIDECAR_NAME}"]
    ds = tmp_path / "backing" / "dist-root" / "yearly" / "XBT" / "OBS" / "XBTO1967.parquet"
    files = sorted(ds.glob("geohash3=*/part-*.parquet"))
    assert files and not (ds / "_temporary").exists()
    for f in files:
        assert b"geo" in pq.read_metadata(f).metadata, f
    assert spark.read.parquet(base).count() > 0


def test_conditional_create_probe_degrades_on_mock_store(spark, mock_store):
    """create_exclusive on a remote scheme first attempts the Hadoop
    conditional-create builder (HADOOP-19256). viewfs/local connectors
    reject the mandatory key — the probe must (a) degrade cleanly to the
    plain-create arm (winner/loser semantics intact, winner's bytes
    never truncated by the loser) and (b) cache the rejection per
    filesystem URI so later commits skip the doomed builder attempt."""
    from wod_ascii_to_parquet_spark_spark.sources.filesystem import (
        ConditionalCreateUnsupported,
    )

    fs = FsClient(spark)
    target = mock_store + "/tbl/_log/v0.json"
    fs.mkdirs(mock_store + "/tbl/_log")
    assert fs.create_exclusive(target, b"winner") is True
    assert fs._cond_create_support == {
        uri: False for uri in fs._cond_create_support
    } and fs._cond_create_support  # probed exactly this store: rejected
    assert fs.create_exclusive(target, b"loser") is False
    assert fs.read_bytes(target) == b"winner"
    with pytest.raises(ConditionalCreateUnsupported):
        fs._conditional_create(mock_store + "/tbl/_log/v1.json", b"x")


def test_pyarrow_store_rewrite(tmp_path):
    """_PyArrowStore (the production s3/gs executor arm) over a
    pyarrow-resolvable base URI: ``open_output`` makes the parent
    directories a local target needs, and pickling ships only the URI
    (executors re-resolve the client lazily)."""
    import pickle

    from wod_ascii_to_parquet_spark_spark.plans.geo_metadata import _PyArrowStore

    base = f"file://{tmp_path}"
    store = _PyArrowStore(base)
    with store.open_output(f"{base}/a/b/c.bin") as fh:
        fh.write(b"hello")
    assert (tmp_path / "a" / "b" / "c.bin").read_bytes() == b"hello"
    assert store._fs is not None
    clone = pickle.loads(pickle.dumps(store))
    assert clone._fs is None and clone._base_uri == base
    with clone.open_output(f"{base}/d.bin") as fh:
        fh.write(b"again")
    assert (tmp_path / "d.bin").read_bytes() == b"again"


def test_scheme_less_output_resolves_against_default_fs(spark, mock_store, tmp_path):
    """A plain output path means ``fs.defaultFS``, as it does to Spark's
    writers. With the default filesystem pointed at the mock store (for
    this test only), ``convert_file`` must qualify the path before it
    picks where tasks write: the data lands in the store, not on local
    disk, with ``geo`` in every footer."""
    authority = mock_store.split("/")[2]
    backing = tmp_path / "backing"
    src = "file://" + _generated_xbt(tmp_path)
    hconf = spark._jsc.hadoopConfiguration()
    old = hconf.get("fs.defaultFS")
    hconf.set("fs.defaultFS", f"viewfs://{authority}/")
    try:
        fs = FsClient(spark)
        assert fs.qualify("/store/out") == f"{mock_store}/out"
        task = FileTask("XBT", "OBS", src, "/store/out", "/store/out")
        assert convert_file(spark, task) == "converted"
        assert fs.exists(f"{mock_store}/out/yearly/XBT/OBS/XBTO1967.parquet/_SUCCESS")
    finally:
        hconf.set("fs.defaultFS", old)
    assert not (tmp_path / "store").exists() and not os.path.exists("/store/out")
    ds = backing / "out" / "yearly" / "XBT" / "OBS" / "XBTO1967.parquet"
    files = sorted(ds.glob("geohash3=*/part-*.parquet"))
    assert files and (ds / "_SUCCESS").exists() and (ds / SIDECAR_NAME).exists()
    for f in files:
        assert b"geo" in pq.read_metadata(f).metadata, f

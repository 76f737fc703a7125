"""GeoParquet footer attach: crash safety + path-form handling.

The e2e suite (test_convert_e2e.py) covers the local happy path through a
real convert; here the REMOTE branch (FsClient byte API) is exercised
against an in-memory fake fs, including the crash intermediate states the
recovery pre-pass must heal, and `_local_path`'s URI spellings (Hadoop's
``Path.toString`` emits the single-slash ``file:/...`` form).
"""

from __future__ import annotations

import json

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from wod_ascii_to_parquet_spark_spark.plans.geo_metadata import (
    _REMOTE_TMP_SUFFIX,
    _local_path,
    attach_geo_footer,
)

OUT = "s3a://bucket/data/out.parquet"  # any non-local scheme


class FakeFs:
    """Dict-backed stand-in for FsClient's byte/listing API."""

    def __init__(self, files: dict[str, bytes]):
        self.files = dict(files)

    def file_sizes(self, path: str, recursive: bool = True) -> dict[str, int]:
        return {
            p: len(b) for p, b in self.files.items() if p.startswith(path)
        }

    def read_bytes(self, path: str, limit=None) -> bytes:
        return self.files[path]

    def write_bytes(self, path: str, data: bytes) -> None:
        self.files[path] = data

    def delete(self, path: str) -> bool:
        return self.files.pop(path, None) is not None

    def rename(self, src: str, dst: str) -> bool:
        self.files[dst] = self.files.pop(src)
        return True


def _parquet_bytes() -> bytes:
    sink = pa.BufferOutputStream()
    pq.write_table(pa.table({"a": [1, 2, 3]}), sink)
    return sink.getvalue().to_pybytes()


def _geo_of(blob: bytes) -> dict:
    md = pq.read_schema(pa.BufferReader(blob)).metadata
    assert md and b"geo" in md
    return json.loads(md[b"geo"])


def test_remote_attach_rewrites_all_files():
    fs = FakeFs(
        {
            f"{OUT}/geohash3=abc/part-0.parquet": _parquet_bytes(),
            f"{OUT}/geohash3=def/part-0.parquet": _parquet_bytes(),
            f"{OUT}/_SUCCESS": b"",
        }
    )
    assert attach_geo_footer(fs, OUT) == 2
    for p, blob in fs.files.items():
        assert not p.endswith(_REMOTE_TMP_SUFFIX)
        if p.endswith(".parquet"):
            assert _geo_of(blob)["version"] == "1.1.0"


def test_remote_attach_promotes_orphan_temp():
    """Crash between delete(base) and rename(tmp, base): the finished temp
    object exists without its base — the pre-pass must promote it, then the
    normal rewrite proceeds."""
    base = f"{OUT}/geohash3=abc/part-0.parquet"
    fs = FakeFs({base + _REMOTE_TMP_SUFFIX: _parquet_bytes()})
    assert attach_geo_footer(fs, OUT) == 1
    assert set(fs.files) == {base}
    assert _geo_of(fs.files[base])["primary_column"] == "geometry"


def test_remote_attach_drops_torn_temp():
    """Crash mid-write of the temp object (base still live): the torn temp
    must be dropped, never promoted, and the intact base rewritten."""
    base = f"{OUT}/geohash3=abc/part-0.parquet"
    fs = FakeFs(
        {
            base: _parquet_bytes(),
            base + _REMOTE_TMP_SUFFIX: b"torn-partial-garbage",
        }
    )
    assert attach_geo_footer(fs, OUT) == 1
    assert set(fs.files) == {base}
    assert _geo_of(fs.files[base])["version"] == "1.1.0"


def test_remote_attach_is_idempotent():
    """Re-running the attach (the convert_file heal path) on already-
    footered files succeeds and keeps exactly one geo key."""
    base = f"{OUT}/geohash3=abc/part-0.parquet"
    fs = FakeFs({base: _parquet_bytes()})
    assert attach_geo_footer(fs, OUT) == 1
    first = fs.files[base]
    assert attach_geo_footer(fs, OUT) == 1
    assert _geo_of(fs.files[base]) == _geo_of(first)


def test_remote_attach_zero_files_warns(caplog):
    fs = FakeFs({})
    with caplog.at_level("WARNING"):
        assert attach_geo_footer(fs, OUT) == 0
    assert any("no .parquet files" in r.message for r in caplog.records)


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
    assert _local_path(uri) == expected


def _mk_parquet(path, n=5):
    t = pa.table({"a": list(range(n)), "b": [f"s{i}" for i in range(n)]})
    pq.write_table(t, path, compression="snappy")
    return t


def test_local_append_is_o_footer_and_idempotent(tmp_path):
    """The local attach APPENDS a superseding footer (data pages never
    rewritten — the file grows by the footer, nothing else) and a second
    attach with the same geo value is a byte-for-byte no-op."""
    import os

    from wod_ascii_to_parquet_spark_spark.plans.geo_metadata import (
        _append_footer_with_geo,
        geo_footer_dict,
    )

    f = str(tmp_path / "x.parquet")
    original = _mk_parquet(f)
    size0 = os.path.getsize(f)
    with open(f, "rb") as fh:
        head0 = fh.read(size0)
    geo = json.dumps(geo_footer_dict()).encode()
    _append_footer_with_geo(f, geo)
    size1 = os.path.getsize(f)
    assert size1 > size0
    # append-only: the original bytes are untouched
    with open(f, "rb") as fh:
        assert fh.read(size0) == head0
    md = pq.read_metadata(f)
    assert md.metadata[b"geo"] == geo
    assert pq.read_table(f).replace_schema_metadata(None).equals(
        original.replace_schema_metadata(None)
    )
    # idempotent: same value → zero growth
    _append_footer_with_geo(f, geo)
    assert os.path.getsize(f) == size1


def test_local_append_heals_torn_tail(tmp_path):
    """A crash mid-append leaves trailing garbage; the re-run truncates
    back to the last valid footer and completes the attach."""
    import os

    from wod_ascii_to_parquet_spark_spark.plans.geo_metadata import (
        _append_footer_with_geo,
    )

    f = str(tmp_path / "x.parquet")
    original = _mk_parquet(f)
    size0 = os.path.getsize(f)
    # torn tails of increasing nastiness: raw garbage, garbage that ENDS
    # with the magic, and a half-written real footer
    for garbage in (b"\x00\x01half-footer", b"junkPAR1", b"\xff" * 37):
        with open(f, "ab") as fh:
            fh.write(garbage)
        with pytest.raises(Exception):
            pq.read_metadata(f)
        _append_footer_with_geo(f, b'{"v":1}')
        md = pq.read_metadata(f)
        assert md.metadata[b"geo"] == b'{"v":1}'
        assert pq.read_table(f).replace_schema_metadata(None).equals(
            original.replace_schema_metadata(None)
        )
        # healed file = original bytes + exactly one appended footer
        with open(f, "rb") as fh:
            head = fh.read(size0)
        t2 = pa.BufferReader(head)
        assert pq.read_metadata(t2).num_rows == original.num_rows
        os.truncate(f, size0)  # reset for the next garbage flavor


def test_rewrite_with_geo_heals_torn_delete_rename_window():
    """In-task retry safety (not just attach re-runs): a previous attempt
    that crashed between delete(path) and rename(tmp, path) left only the
    finished temp. The retry lands back in _rewrite_with_geo, which must
    promote the temp in place and converge — NOT fail all its attempts on
    the missing base object."""
    from wod_ascii_to_parquet_spark_spark.plans.geo_metadata import (
        _footer_suffix,
        _rewrite_with_geo,
        geo_footer_dict,
    )

    class Store(FakeFs):
        def read_bytes(self, path: str, limit=None) -> bytes:
            if path not in self.files:
                raise FileNotFoundError(path)
            return self.files[path]

    geo = json.dumps(geo_footer_dict("point")).encode()
    blob = _parquet_bytes()
    md = pq.read_metadata(pa.BufferReader(blob))
    stamped = blob + _footer_suffix(md, geo)

    # State as left by a crash after delete, before rename:
    path = "s3a://bucket/data/part-0.parquet"
    store = Store({path + _REMOTE_TMP_SUFFIX: stamped})

    _rewrite_with_geo(store, path, geo)
    assert path in store.files
    assert path + _REMOTE_TMP_SUFFIX not in store.files
    assert _geo_of(store.files[path])["version"] == _geo_of(stamped)["version"]

    # Converged: a further retry is a no-op (idempotent skip).
    before = dict(store.files)
    _rewrite_with_geo(store, path, geo)
    assert store.files == before

    # And a genuinely missing object (no temp either) surfaces the
    # original not-found, not a rename error.
    with pytest.raises(FileNotFoundError):
        _rewrite_with_geo(store, "s3a://bucket/data/absent.parquet", geo)


@pytest.mark.parametrize("files", [8, 130])
def test_local_attach_sizes_tasks_to_their_fixed_cost(spark, tmp_path, files):
    """A local attach runs one task per 64 files, up to the session's
    parallelism: fewer, fuller tasks spend less of a Python task's fixed
    cost, so an 8-file layout is one task, not eight. Every file is
    stamped either way."""
    paths = []
    for i in range(files):
        cell = tmp_path / f"geohash3={i % 10}"
        cell.mkdir(exist_ok=True)
        paths.append(str(cell / f"part-{i:05d}.parquet"))
        _mk_parquet(paths[-1])
    sc = spark.sparkContext
    group = f"geo-footer-tasks-{files}-{tmp_path.name}"
    sc.setJobGroup(group, "footer attach task count")
    try:
        assert attach_geo_footer(None, str(tmp_path), spark=spark) == files
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stages = [
        s for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
    ]
    tasks = sum(tracker.getStageInfo(s).numTasks for s in stages)
    assert tasks == (1 if files == 8 else min(sc.defaultParallelism, 3))
    for p in paths:
        assert b"geo" in pq.read_metadata(p).metadata

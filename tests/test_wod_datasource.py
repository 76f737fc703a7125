"""The Python-DataSource WOD reader must produce exactly the rows both
``wod_scan`` arms produce — one decode kernel, three planner surfaces —
on generated files that carry malformed casts and a framing failure."""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest

from wod_ascii_to_parquet_spark_spark.sources.wod_ascii import decode_file, wod_scan
from wod_ascii_to_parquet_spark_spark.sources.wod_datasource import (
    WodAsciiReader,
    register_wod_datasource,
)
from wod_ascii_to_parquet_spark_spark.sources.wod_encode import (
    make_casts,
    wod_text,
    write_wod_file,
)

#: relative path -> (casts, malformed indices, framing failure before index)
FILES = {
    "APB/OBS/APBO1997.gz": (6, set(), None),
    "CTD/OBS/CTDO1971.gz": (40, {7, 30}, None),
    "XBT/OBS/XBTO1967.gz": (25, {2}, 18),
}


@pytest.fixture(scope="module")
def wod_dir(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wod"))
    first = 1
    for seed, (rel, (n, bad, garbage)) in enumerate(sorted(FILES.items())):
        casts = make_casts(n, seed=seed, first_cast=first)
        write_wod_file(os.path.join(root, rel), wod_text(casts, bad, garbage))
        first += n
    return root


def _paths(root: str) -> list[str]:
    return [os.path.join(root, rel) for rel in sorted(FILES)]


@pytest.fixture(scope="module")
def ds_df(spark, wod_dir):
    register_wod_datasource(spark)
    return spark.read.format("wod_ascii").load(wod_dir)


def _rows(df) -> list:
    return sorted(df.collect(), key=repr)


def test_datasource_matches_mapinpandas_scan(spark, wod_dir, ds_df):
    """Full rows, error text included, are identical across
    ``wod_scan(scatter=True)``, ``wod_scan(scatter=False)`` and
    ``format("wod_ascii")``."""
    files = _paths(wod_dir)
    scatter = _rows(wod_scan(spark, files, scatter=True))
    single = _rows(wod_scan(spark, files, scatter=False))
    assert scatter == single == _rows(ds_df)
    # every ok cast, plus the 3 malformed casts and 1 stream-error row;
    # the XBT casts after the framing failure are lost
    assert len(scatter) == 6 + 40 + 18 + 1


def _errors(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.filter(F.col("err").isNotNull()).select("err.*").collect())


def test_datasource_error_channel_parity(spark, wod_dir, ds_df):
    errs = _errors(ds_df)
    assert errs == _errors(wod_scan(spark, _paths(wod_dir)))
    bad = "bad WOD-int length byte 'X' at "
    assert [e[:2] for e in errs] == [
        ("CTD", 14), ("CTD", 37), ("XBT", -1), ("XBT", 49),
    ]
    assert all(e[2].startswith(bad) for e in errs if e[1] != -1)
    assert errs[2][2].startswith("unrecoverable stream error: ")


def test_bad_year_digit_becomes_an_error_row(spark, tmp_path):
    """A non-digit in the fixed-width year field fails only its own cast:
    ``decode_file`` keeps the other casts, the error row carries the bad
    cast's ``castNumber``, and all three scan surfaces agree."""
    casts = make_casts(5, seed=11, first_cast=100)
    path = write_wod_file(
        str(tmp_path / "CTD" / "OBS" / "CTDO1980.gz"), wod_text(casts, {2}, kind="year")
    )
    with open(path, "rb") as fh:
        rows = [r for b in decode_file(path, fh.read()) for r in b.to_pylist()]
    assert [r["ok"]["castNumber"] for r in rows if r["ok"]] == [100, 101, 103, 104]
    (err,) = [r["err"] for r in rows if r["err"]]
    assert (err["dataset"], err["castNumber"]) == ("CTD", 102)
    assert err["error"].startswith("bad fixed-width digits ")

    register_wod_datasource(spark)
    scatter = _rows(wod_scan(spark, [path], scatter=True))
    single = _rows(wod_scan(spark, [path], scatter=False))
    assert scatter == single == _rows(spark.read.format("wod_ascii").load(path))
    assert len(scatter) == 5


def test_datasource_reader_yields_record_batches(wod_dir):
    import pyarrow as pa

    reader = WodAsciiReader({"path": wod_dir})
    parts = reader.partitions()
    assert len(parts) == len(FILES)
    for part in parts:
        batches = list(reader.read(part))
        assert batches and all(isinstance(b, pa.RecordBatch) for b in batches)


def test_datasource_directory_load_partitions_per_file(spark, wod_dir):
    register_wod_datasource(spark)
    df = spark.read.format("wod_ascii").load(os.path.join(wod_dir, "XBT"))
    assert df.count() > 0


def test_datasource_missing_path_fails(spark):
    register_wod_datasource(spark)
    with pytest.raises(Exception):
        spark.read.format("wod_ascii").load("/nonexistent/nowhere").count()


def test_wod_datasource_streaming_incremental(spark, wod_dir, tmp_path):
    """readStream.format("wod_ascii"): each new file becomes exactly one
    incremental batch; counts accumulate and nothing is reprocessed (the
    file-set offsets make batch replay content-stable)."""
    register_wod_datasource(spark)
    src = tmp_path / "incoming"
    (src / "APB" / "OBS").mkdir(parents=True)
    (src / "CTD" / "OBS").mkdir(parents=True)
    shutil.copy(f"{wod_dir}/APB/OBS/APBO1997.gz", src / "APB" / "OBS" / "APBO1997.gz")

    stream = spark.readStream.format("wod_ascii").load(str(src))
    counts = stream.groupBy(F.col("ok.dataset").alias("ds")).count()
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName("wod_ds_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        first = {r.ds: r["count"] for r in spark.table("wod_ds_stream").collect()}
        assert set(first) == {"APB"} and first["APB"] > 0

        # second file arrives: only the delta is decoded, totals accumulate
        shutil.copy(f"{wod_dir}/CTD/OBS/CTDO1971.gz", src / "CTD" / "OBS" / "CTDO1971.gz")
        q.processAllAvailable()
        second = {r.ds: r["count"] for r in spark.table("wod_ds_stream").collect()}
        assert second["APB"] == first["APB"]  # not reprocessed
        assert second.get("CTD", 0) > 0

        # no new files: another drain changes nothing
        q.processAllAvailable()
        third = {r.ds: r["count"] for r in spark.table("wod_ds_stream").collect()}
        assert third == second
    finally:
        q.stop()


def test_wod_datasource_stream_equals_batch(spark, wod_dir, tmp_path):
    """The streamed cast set equals the batch DataSource read of the same
    directory — one decoder, two planner surfaces."""
    register_wod_datasource(spark)
    src = tmp_path / "dirin"
    shutil.copytree(wod_dir, src)

    stream = spark.readStream.format("wod_ascii").load(str(src))
    key = stream.select(
        F.col("ok.dataset").alias("ds"), F.col("ok.castNumber").alias("cn")
    )
    q = (
        key.writeStream.outputMode("append")
        .format("memory")
        .queryName("wod_ds_flat")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        (r.ds, r.cn) for r in spark.table("wod_ds_flat").collect()
    }
    batch = {
        (r.ds, r.cn)
        for r in spark.read.format("wod_ascii")
        .load(str(src))
        .select(
            F.col("ok.dataset").alias("ds"), F.col("ok.castNumber").alias("cn")
        )
        .collect()
    }
    assert streamed == batch and streamed

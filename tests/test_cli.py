"""CLI surface test (in-process: get_spark reuses the test session)."""

from __future__ import annotations

import json

from wod_ascii_to_parquet_spark_spark.cli import build_parser, main
from wod_ascii_to_parquet_spark_spark.sources.wod_encode import wod_fixtures_dir


def test_cli_help_lists_reference_flags():
    helptext = build_parser().format_help()
    for flag in ["--source", "--output", "--dataset", "--processing-level",
                 "--subset", "--overwrite", "--max-concurrent"]:
        assert flag in helptext


def test_cli_convert_subset(spark, tmp_path, capsys):
    wod = wod_fixtures_dir()
    out = str(tmp_path / "out")
    rc = main([
        "--source", wod, "--output", out,
        "-d", "CTD", "-p", "OBS", "-p", "STD",
    ])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(payload["converted"]) == 2  # OBS + STD CTD fixtures
    assert not payload["failed"]
    # second run: everything skips (idempotent)
    rc = main(["--source", wod, "--output", out, "-d", "CTD", "-p", "OBS", "-p", "STD"])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(payload["skipped"]) == 2 and not payload["converted"]


def test_cli_compact_target_bytes_consolidates_datasets(spark, tmp_path, capsys):
    """VERDICT r11 #3: --compact-target-bytes consolidates the per-input-
    file datasets into one geohash3-partitioned dataset per (ds, level)
    under <output>/compacted/ — fewer files, identical row content, and
    the yearly/ _SUCCESS resume markers untouched (a re-run still skips
    every finished input)."""
    import shutil

    src = tmp_path / "src" / "CTD" / "OBS"
    src.mkdir(parents=True)
    fixture = wod_fixtures_dir() + "/CTD/OBS/CTDO1971.gz"
    # two input files in one (dataset, level): the consolidation case —
    # the same geohash3 dirs appear once per input dataset
    shutil.copy(fixture, src / "CTDO1971.gz")
    shutil.copy(fixture, src / "CTDO1972.gz")
    out = str(tmp_path / "out")
    rc = main([
        "--source", str(tmp_path / "src"), "--output", out,
        "-d", "CTD", "-p", "OBS",
        "--compact-target-bytes", str(256 * 1024 * 1024),
    ])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(payload["converted"]) == 2 and not payload["failed"]
    stats = payload["compacted"]["CTD/OBS"]
    assert stats["inputs"] == 2
    # the whole run fits one 256 MB target file per geohash3 dir: the
    # two per-input copies of every geohash3 merge into one
    assert stats["files_after"] < stats["files_before"]

    # identical row content (both directions; duplicates preserved)
    yearly = (
        spark.read.parquet(f"{out}/yearly/CTD/OBS/CTDO1971.parquet")
        .unionByName(
            spark.read.parquet(f"{out}/yearly/CTD/OBS/CTDO1972.parquet")
        )
        .drop("geohash3")
    )
    compacted = spark.read.parquet(f"{out}/compacted/CTD/OBS").drop("geohash3")
    assert compacted.count() == yearly.count()
    assert yearly.exceptAll(compacted).count() == 0
    assert compacted.exceptAll(yearly).count() == 0

    # the compacted dataset is a complete GeoParquet publish of its own
    import os

    assert os.path.exists(f"{out}/compacted/CTD/OBS/_SUCCESS")
    assert os.path.exists(f"{out}/compacted/CTD/OBS/_geo_metadata.json")

    # resume semantics survive: a re-run (no compact flag) skips both
    rc = main(["--source", str(tmp_path / "src"), "--output", out,
               "-d", "CTD", "-p", "OBS"])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(payload["skipped"]) == 2 and not payload["converted"]
    # and the consolidated dataset is still there, untouched by the rerun
    assert spark.read.parquet(f"{out}/compacted/CTD/OBS").count() == \
        yearly.count()


def test_compact_preserves_digit_only_geohash3_cells(spark, tmp_path):
    """ADVICE r12 (medium): a dataset whose geohash3 dirs are ALL
    digit-only base32 cells ('077', '978') must keep them as strings
    through compaction: a read with partition discovery infers such a
    cell as an integer and rewrites '077' -> '77' in the compacted
    layout, breaking the geohash-prefix invariant. compact_convert_output
    reads without partition discovery and takes geohash3 from geohash,
    as convert does."""
    import os

    from wod_ascii_to_parquet_spark_spark.plans.convert import (
        compact_convert_output,
    )

    out = str(tmp_path / "out")
    digit_only = spark.createDataFrame(
        [("077abc", "077", 1.0), ("978def", "978", 2.0)],
        "geohash string, geohash3 string, v double",
    )
    digit_only.write.partitionBy("geohash3").parquet(
        f"{out}/yearly/CTD/OBS/A.parquet"
    )
    mixed = spark.createDataFrame(
        [("9q8xyz", "9q8", 3.0)], "geohash string, geohash3 string, v double"
    )
    mixed.write.partitionBy("geohash3").parquet(
        f"{out}/yearly/CTD/OBS/B.parquet"
    )
    stats = compact_convert_output(spark, out)
    assert stats["CTD/OBS"]["inputs"] == 2
    # the leading-zero cell survives verbatim as a directory value
    assert os.path.isdir(f"{out}/compacted/CTD/OBS/geohash3=077")
    assert not os.path.isdir(f"{out}/compacted/CTD/OBS/geohash3=77")
    comp = spark.read.parquet(f"{out}/compacted/CTD/OBS")
    got = {r["geohash3"] for r in comp.select("geohash3").distinct().collect()}
    assert got == {"077", "978", "9q8"}


def test_compact_target_bytes_splits_oversized_hot_cell(spark, tmp_path):
    """ADVICE r12: target_bytes must actually bound file sizes. A hot
    cell larger than target_bytes is written by its one writer task into
    several geohash-sorted files in its dir, each closed once it holds
    target_bytes of Arrow data (a batch is split at the bound), so every
    file is at most target_bytes plus its footer, the files hold disjoint
    geohash ranges in c000 < c001 < ... order, and row content is
    preserved exactly."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from wod_ascii_to_parquet_spark_spark.plans.convert import (
        compact_convert_output,
    )

    out = str(tmp_path / "out")
    # ~50k rows of a single hot geohash3 with fat payload (~ a few MB)
    hot = spark.range(50_000).select(
        F.concat(F.lit("9q8"), F.col("id").cast("string")).alias("geohash"),
        F.lit("9q8").alias("geohash3"),
        F.sha2(F.col("id").cast("string"), 512).alias("payload"),
    )
    hot.write.partitionBy("geohash3").parquet(f"{out}/yearly/CTD/OBS/A.parquet")
    target = 512 * 1024
    compact_convert_output(spark, out, target_bytes=target)
    files = sorted(glob.glob(f"{out}/compacted/CTD/OBS/geohash3=9q8/part-*"))
    assert len(files) > 1, "hot cell was not split"
    ranges = []
    for f in files:
        footer = pq.ParquetFile(f).metadata.serialized_size + 8
        assert os.path.getsize(f) <= target + footer, (f, os.path.getsize(f))
        ghs = pq.read_table(f, columns=["geohash"])["geohash"].to_pylist()
        assert ghs == sorted(ghs), f
        ranges.append((ghs[0], ghs[-1]))
    assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:])), ranges
    comp = spark.read.parquet(f"{out}/compacted/CTD/OBS")
    assert comp.count() == 50_000
    src = spark.read.parquet(f"{out}/yearly/CTD/OBS/A.parquet")
    assert src.exceptAll(comp).count() == 0
    assert comp.exceptAll(src).count() == 0

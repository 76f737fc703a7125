"""Read-side payoff of `--compact-target-bytes`, measured (VERDICT r12
#5): the r12 compaction work asserted layout and row identity; this tool
prices the BENEFIT. At the x16 pool scale (16 input files converted into
16 per-input datasets under `yearly/XBT/OBS/*/`, each repeating the same
~geohash3 dir set), a consolidated reader of `yearly/*/` must open
|inputs|x more parquet footers than the data needs; `compacted/` merges
them to ~1 per geohash3.

Measured, for yearly-union vs compacted:

- data files (= parquet footers a full scan opens),
- wall time of a full-scan aggregate (count + sum(latitude) — forces
  real column reads, not metadata-only counts),
- wall time of a geohash3-PRUNED read (one hot cell), where the
  partition-pruning win is |inputs| footers vs 1 but the listing cost
  differs: yearly needs one read per dataset root (16 listings).

Protocol: same file repeated x16 (byte-identical inputs, like
bench_convert_skew), JIT-warmed convert, min-of-N timed reads on fresh
sessions-free paths with cache cleared. Reads use partition-type
inference OFF (the compaction read discipline).

Output: SCALING.json["convert"]["compaction_read"] + a printed table
(SCALE.md paragraph).

Usage: python tools/bench_compact_read.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from wod_ascii_to_parquet_spark_spark.sources.wod_encode import wod_fixtures_dir

#: XBTO1967: the reference's file where its checkout sits next to the repo,
#: else the generated stand-in (9,390 casts in 260 geohash3 cells, not 1,652)
SRC = os.path.join(wod_fixtures_dir(), "XBT", "OBS", "XBTO1967.gz")
FACTOR = 16
RUNS = 3


def _data_files(root: str) -> int:
    return sum(
        f.endswith(".parquet") and not f.startswith(("_", "."))
        for _, _, fs in os.walk(root)
        for f in fs
    )


def main() -> None:
    from pyspark.sql import functions as F

    from wod_ascii_to_parquet_spark_spark.plans.convert import (
        FileTask,
        compact_convert_output,
        convert_file,
    )
    from wod_ascii_to_parquet_spark_spark.session import get_spark

    spark = get_spark(
        app_name="compactread", master="local[32]", shuffle_partitions=32
    )
    spark.conf.set(
        "spark.sql.sources.partitionColumnTypeInference.enabled", "false"
    )
    workdir = tempfile.mkdtemp(prefix="compactread_src_")
    out = tempfile.mkdtemp(prefix="compactread_out_")
    try:
        # ---- build the x16 yearly pool + compacted twin ----
        paths = []
        for i in range(FACTOR):
            p = os.path.join(workdir, f"XBTO19{50 + i}.gz")
            shutil.copy(SRC, p)
            paths.append(p)
        # JIT warmup of the writer path (the scaling-sweep lesson)
        for _ in range(3):
            w = tempfile.mkdtemp(prefix="compactread_w_")
            try:
                convert_file(spark, FileTask("XBT", "OBS", paths[0], w, w))
            finally:
                shutil.rmtree(w, ignore_errors=True)
        t0 = time.perf_counter()
        for p in paths:
            convert_file(spark, FileTask("XBT", "OBS", p, out, out))
        convert_sec = time.perf_counter() - t0
        t0 = time.perf_counter()
        compact_convert_output(spark, out)
        compact_sec = time.perf_counter() - t0
        yearly_root = os.path.join(out, "yearly", "XBT", "OBS")
        compacted = os.path.join(out, "compacted", "XBT", "OBS")
        yearly_dirs = sorted(
            os.path.join(yearly_root, d) for d in os.listdir(yearly_root)
        )
        files_yearly = _data_files(yearly_root)
        files_compacted = _data_files(compacted)
        print(
            f"pool built: convert x{FACTOR} {convert_sec:.1f}s, compact "
            f"{compact_sec:.1f}s; files yearly={files_yearly} "
            f"compacted={files_compacted}",
            flush=True,
        )

        def yearly_df():
            from functools import reduce

            return reduce(
                lambda a, b: a.unionByName(b),
                (spark.read.parquet(d) for d in yearly_dirs),
            )

        def compacted_df():
            return spark.read.parquet(compacted)

        # hot cell for the pruned read: the largest geohash3 dir
        sizes = {}
        for d in os.listdir(os.path.join(yearly_dirs[0])):
            if d.startswith("geohash3="):
                cell_dir = os.path.join(yearly_dirs[0], d)
                sizes[d.split("=", 1)[1]] = sum(
                    os.path.getsize(os.path.join(cell_dir, f))
                    for f in os.listdir(cell_dir)
                    if not f.startswith(("_", "."))
                )
        hot = max(sizes, key=sizes.get)

        def timed(mk, prune: bool) -> dict:
            runs = []
            n = None
            for _ in range(RUNS):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                df = mk()
                if prune:
                    df = df.filter(F.col("geohash3") == hot)
                n = df.agg(
                    F.count(F.lit(1)).alias("n"), F.sum("latitude").alias("s")
                ).collect()[0]["n"]
                runs.append(time.perf_counter() - t0)
            return {"sec": round(min(runs), 3), "rows": n,
                    "runs": [round(r, 3) for r in runs]}

        def timed_block(name, mk, prune):
            r = timed(mk, prune)
            print(f"{name}: {r}", flush=True)
            return r

        res = {
            "factor": FACTOR,
            "convert_sec": round(convert_sec, 1),
            "compact_sec": round(compact_sec, 1),
            "data_files": {
                "yearly": files_yearly, "compacted": files_compacted
            },
            "hot_cell": hot,
            "full_scan": {
                "yearly": timed_block("full/yearly", yearly_df, False),
                "compacted": timed_block(
                    "full/compacted", compacted_df, False
                ),
            },
            "pruned_one_cell": {
                "yearly": timed_block("pruned/yearly", yearly_df, True),
                "compacted": timed_block(
                    "pruned/compacted", compacted_df, True
                ),
            },
        }
        res["full_scan"]["speedup_x"] = round(
            res["full_scan"]["yearly"]["sec"]
            / res["full_scan"]["compacted"]["sec"],
            2,
        )
        res["pruned_one_cell"]["speedup_x"] = round(
            res["pruned_one_cell"]["yearly"]["sec"]
            / res["pruned_one_cell"]["compacted"]["sec"],
            2,
        )
        print(json.dumps(res, indent=2), flush=True)
        sj = os.path.join(REPO, "SCALING.json")
        with open(sj) as fh:
            doc = json.load(fh)
        doc.setdefault("convert", {})["compaction_read"] = res
        with open(sj, "w") as fh:
            json.dump(doc, fh, indent=2)
        print("recorded SCALING.json convert.compaction_read", flush=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()

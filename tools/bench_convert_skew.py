"""Skewed-input convert evidence (VERDICT r11 #2): the two-decade convert
sweep replicated the fixture uniformly, but real WOD geohash3 occupancy
is coastal-skewed, and ``convert_file``'s ``repartition(16, geohash3)``
(plans/convert.py) routes a hot geohash3 ENTIRELY to one writer task.
This measures whether that straggler dominates at a heavy skew before
deciding whether the write needs within-partition salting.

Synthesis — byte-matched arms (the pitfall that invalidated the first
attempt is worth recording: replicating the hottest cell's RECORDS to
50% of the cast count produced an arm with far FEWER bytes/depth rows —
coastal casts are shallow — so "same cast count" compared different
decode workloads and the skewed arm came out 0.59x; decode cost follows
bytes, not casts). Instead, skew is induced by rewriting lat/lon
IN PLACE: a WOD-float field is [sig][total][prec][digit x total], so
overwriting only the digit chars with the zero-padded target value
preserves every byte length, every depth row, and the whole decode
workload — the arms differ ONLY in where the casts land:

- uniform: the fixture stream repeated 16x (hottest geohash3 = 4.6%);
- skewed:  8 pristine copies + 8 copies with every cast's lat/lon
  rewritten to one target coordinate — >=50% of casts in ONE geohash3.

Protocol matches tools/bench_convert_scaling.py: 4 warm runs on the 1x
fixture, min of 3 measured ``convert_file`` runs per arm. Decode/frame
work is identical by construction, so the delta isolates the hot writer
task (75k-row sort+write vs the 9.4k mean at 16 writer tasks).

Decision rule (recorded either way): salt within the hot geohash3 only
if the skewed arm exceeds uniform by >25%; below that the single-gzip
decode bound dominates and salting buys nothing at this shape (the
negative result is still the evidence: per-file skew is bounded by file
size, and cross-file compaction buckets by (geohash3, salt) — see
plans/convert.py scale notes).

Output: SCALING.json["convert"]["skew_x16"].
"""

from __future__ import annotations

import collections
import gzip
import json
import math
import os
import shutil
import sys
import tempfile
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from wod_ascii_to_parquet_spark_spark.functions.geohash import (
    geohash_encode_numpy,
)
from wod_ascii_to_parquet_spark_spark.plans.convert import FileTask, convert_file
from wod_ascii_to_parquet_spark_spark.sources.wod_format import (
    parse_cast,
    split_records,
)

from wod_ascii_to_parquet_spark_spark.sources.wod_encode import wod_fixtures_dir

#: XBTO1967: the reference's file where its checkout sits next to the repo,
#: else the generated stand-in (9,390 casts in 260 geohash3 cells, not 1,652)
SRC = os.path.join(wod_fixtures_dir(), "XBT", "OBS", "XBTO1967.gz")
FACTOR = 16
RUNS = 3
#: rewrite target: one open-ocean point; every record's own (total, prec)
#: widths re-render it, so per-record rounding must stay inside one
#: geohash3 cell (~1.4 deg) — asserted post-rewrite via parse_cast.
TARGET_LAT, TARGET_LON = 21.4, 57.3


def _latlon_digit_spans(rec: str):
    """(start, end) of the lat and lon DIGIT runs in a record, walking the
    same fixed header prefix as ``parse_cast`` (version, total bytes,
    cast number, country, cruise, date, time). Returns (lat_span,
    lon_span) or None when either field is null."""
    pos = 1  # version byte

    def skip_int():
        nonlocal pos
        c = rec[pos]
        pos += 1
        if c in "- ":
            return
        n = ord(c) - 48
        pos += n

    def float_span():
        nonlocal pos
        c = rec[pos]
        pos += 1
        if c in "- ":
            return None
        t = ord(rec[pos]) - 48
        pos += 2  # total, prec
        span = (pos, pos + t)
        pos += t
        return span

    skip_int()  # declared total byte count
    skip_int()  # cast number
    pos += 2  # country
    skip_int()  # cruise
    pos += 8  # year(4) month(2) day(2)
    float_span()  # time
    la = float_span()
    lo = float_span()
    return (la, lo) if la and lo else None


def _rewrite_latlon(rec: str) -> str | None:
    """Rewrite the lat/lon digit chars to the target coordinate, keeping
    every byte length (zero-padded to the field's own digit count).
    None when a field is null or too narrow for the target."""
    spans = _latlon_digit_spans(rec)
    if spans is None:
        return None
    out = rec
    # lon second so the lat span's offsets stay valid
    for (a, b), target in sorted(
        zip(spans, (TARGET_LAT, TARGET_LON)), key=lambda x: -x[0][0]
    ):
        width = b - a
        # precision byte sits 1 before the digits' start minus... recompute:
        prec = ord(out[a - 1]) - 48
        digits = str(int(round(target * 10**prec)))
        if len(digits) > width:
            return None
        out = out[:a] + digits.zfill(width) + out[b:]
    return out


def _wrap80(rec: str) -> str:
    lines = [rec[i : i + 80] for i in range(0, len(rec), 80)]
    lines[-1] = lines[-1].ljust(80)
    return "\n".join(lines) + "\n"


def main() -> None:
    # session created HERE, not at import time (ADVICE r12): importing
    # this module (as the ledger tests import bench_ann_recall) must not
    # spin up a JVM as a side effect.
    from wod_ascii_to_parquet_spark_spark.session import get_spark

    spark = get_spark(
        app_name="convskew", master="local[32]", shuffle_partitions=32
    )
    raw = gzip.decompress(open(SRC, "rb").read()).decode("ascii")
    recs = list(split_records(raw))
    n_casts = len(recs)

    moved, kept = [], 0
    for rec in recs:
        r2 = _rewrite_latlon(rec)
        if r2 is None:
            moved.append(rec)  # unmovable (null coords): keep as-is
            kept += 1
        else:
            moved.append(r2)
    # verify: byte lengths unchanged, and the rewritten casts land in one
    # geohash3 (per-record precision re-rendering included)
    assert [len(a) for a in moved] == [len(a) for a in recs]
    lats, lons = [], []
    for rec in moved:
        c = parse_cast(rec, "XBT")
        if c.latitude is not None:
            lats.append(c.latitude)
            lons.append(c.longitude)
    g3 = [
        g[:3]
        for g in geohash_encode_numpy(np.array(lats), np.array(lons))
    ]
    (hot, hot_n), = collections.Counter(g3).most_common(1)
    print(
        f"rewritten stream: {hot_n}/{n_casts} casts in {hot} "
        f"({kept} unmovable: null/narrow coords; strays: prec-0 "
        "roundings landing in adjacent cells)", flush=True,
    )
    assert hot_n >= 0.7 * n_casts, "rewrite split across geohash3 cells"

    body = raw if raw.endswith("\n") else raw + "\n"
    moved_body = "".join(_wrap80(r) for r in moved)
    assert len(moved_body) == len(body), "byte-matched arms violated"

    # copies of the rewritten stream needed for a >=50% hot-cell share
    # (unmovable/stray casts dilute it below k/FACTOR)
    k = min(FACTOR, math.ceil(0.5 * FACTOR * n_casts / hot_n))
    workdir = tempfile.mkdtemp(prefix="convskew_")
    uniform = os.path.join(workdir, "XBTO1967x16_uniform.gz")
    with gzip.open(uniform, "wt", compresslevel=1) as fh:
        for _ in range(FACTOR):
            fh.write(body)
    skewed = os.path.join(workdir, "XBTO1967x16_skewed.gz")
    with gzip.open(skewed, "wt", compresslevel=1) as fh:
        for _ in range(FACTOR - k):
            fh.write(body)
        for _ in range(k):
            fh.write(moved_body)
    total = n_casts * FACTOR
    hot_share = (hot_n * k) / total
    assert hot_share >= 0.5
    print(f"skewed arm: {total} casts, hot-cell share {hot_share:.1%}",
          flush=True)

    # JIT warmup (same reasoning as the scaling sweep)
    onex = os.path.join(workdir, "XBTO1967x1.gz")
    shutil.copy(SRC, onex)
    for _ in range(4):
        out = tempfile.mkdtemp(prefix="convskew_w_")
        try:
            convert_file(spark, FileTask("XBT", "OBS", onex, out, out))
        finally:
            shutil.rmtree(out, ignore_errors=True)

    results: dict[str, dict] = {}
    for label, path in (("uniform", uniform), ("skewed", skewed)):
        runs = []
        files = None
        for i in range(RUNS):
            out = tempfile.mkdtemp(prefix=f"convskew_{label}_")
            try:
                t0 = time.perf_counter()
                convert_file(spark, FileTask("XBT", "OBS", path, out, out))
                runs.append(time.perf_counter() - t0)
                if i == 0:
                    files = sum(
                        f.endswith(".parquet") and not f.startswith(("_", "."))
                        for _, _, fs in os.walk(out)
                        for f in fs
                    )
            finally:
                shutil.rmtree(out, ignore_errors=True)
        results[label] = {
            "sec": round(min(runs), 3),
            "runs": [round(r, 2) for r in runs],
            "casts": total,
            "data_files": files,
        }
        print({label: results[label]}, flush=True)

    ratio = round(results["skewed"]["sec"] / results["uniform"]["sec"], 3)
    rec = {
        "hot_geohash3": hot,
        "hot_share": round(hot_share, 3),
        "uniform": results["uniform"],
        "skewed": results["skewed"],
        "skew_over_uniform": ratio,
        "straggler_dominates": ratio > 1.25,
        "method": "byte-matched arms: skew induced by in-place lat/lon "
        "digit rewrite (identical record lengths, depth rows, and decode "
        "work; only the geohash changes). A record-replication synthesis "
        "is NOT valid here — coastal casts are shallow, so same-cast-"
        "count arms carry different byte/depth volumes",
    }
    path = os.path.join(REPO, "SCALING.json")
    with open(path) as fh:
        doc = json.load(fh)
    doc.setdefault("convert", {})["skew_x16"] = rec
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)
    print(json.dumps(rec), flush=True)
    shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()

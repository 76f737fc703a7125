"""Seeded WOD native-ASCII input generator for the benchmark.

Carries its own encoder for the WOD variable-length format (the inverse of
``sources/wod_format.parse_cast``): a WOD int is ``<n digits><digits>``, a
WOD float is ``<significant><total><precision><digits>``, ``-`` marks a
missing value, and a record is framed into 80-character lines after a
header that declares its own byte count.

Every value is drawn from ``random.Random(seed)`` and the gzip stream is
written with a zero mtime and no file name, so one seed always yields
byte-identical ``.gz`` files.

Positions are placed inside chosen geohash3 cells (a geohash3 cell is
360/256 degrees of longitude by 180/128 degrees of latitude), so each
file's output layout, one parquet file per occupied cell, is known from
the generator alone.
"""

from __future__ import annotations

import gzip
import io
import os
import random
from dataclasses import dataclass, field

LINE_WIDTH = 80
_CELL_LON = 360.0 / 256
_CELL_LAT = 180.0 / 128
_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"

#: WOD variable codes: 1 temperature, 2 salinity, 3 oxygen.
CTD_VARS = (1, 2, 3)
XBT_VARS = (1,)


def _int(v: int | None) -> str:
    if v is None:
        return "-"
    s = str(v)
    return f"{len(s)}{s}"


def _flt(raw: int | None, prec: int) -> str:
    """WOD float from its scaled integer (value = raw / 10**prec)."""
    if raw is None:
        return "-"
    s = str(raw)
    sig = len(s.lstrip("-").lstrip("0")) or 1
    return f"{sig}{len(s)}{prec}{s}"


def encode_cast(c: dict, malformed: bool = False) -> str:
    """One cast record, framed into space-padded 80-character lines.

    ``malformed`` writes ``X`` where the cruise number's length byte
    belongs: framing and the cast number stay readable, so the decoder
    routes the cast to the error channel under its own ``castNumber``."""
    body = [
        _int(c["castNumber"]),
        c["country"],
        "X" if malformed else _int(c["cruise"]),
        f"{c['year']:4d}",
        f"{c['month']:2d}",
        f"{c['day']:2d}",
        _flt(c["time"], 2),
        _flt(c["lat"], 4),
        _flt(c["lon"], 4),
        _int(len(c["depths"])),
        "0",  # profile type: observed levels
        f"{len(c['variables']):2d}",
    ]
    for code in c["variables"]:
        body += [_int(code), "0", "0"]  # code, qc flag, no metadata
    body.append("-")  # no character data / PI block
    sec = _int(1) + _int(29) + _flt(c["probe"], 3)  # one secondary header
    body += [_int(len(sec)), sec]
    body.append("-")  # no biology block
    for depth, values in c["depths"]:
        body += [_flt(depth, 1), "00"]
        for v in values:
            body += [_flt(v, 3), "00"]
    payload = "".join(body)
    count = len(payload) + 2
    for _ in range(3):  # the count field counts itself: iterate to a fixpoint
        count = len(payload) + 1 + len(_int(count))
    record = "C" + _int(count) + payload
    if len(record) != count:
        raise ValueError(f"record framing drifted: {len(record)} != {count}")
    lines = [record[i : i + LINE_WIDTH] for i in range(0, len(record), LINE_WIDTH)]
    lines[-1] = lines[-1].ljust(LINE_WIDTH)
    return "\n".join(lines)


def geohash(lat: float, lon: float, chars: int = 3) -> str:
    """Reference geohash encoder (interleaved lon/lat bisection, base32)."""
    lat_lo, lat_hi, lon_lo, lon_hi = -90.0, 90.0, -180.0, 180.0
    out, bits, ch, even = [], 0, 0, True
    while len(out) < chars:
        if even:
            mid = (lon_lo + lon_hi) / 2
            ch = ch * 2 + (lon >= mid)
            lon_lo, lon_hi = (mid, lon_hi) if lon >= mid else (lon_lo, mid)
        else:
            mid = (lat_lo + lat_hi) / 2
            ch = ch * 2 + (lat >= mid)
            lat_lo, lat_hi = (mid, lat_hi) if lat >= mid else (lat_lo, mid)
        even = not even
        bits += 1
        if bits == 5:
            out.append(_BASE32[ch])
            bits, ch = 0, 0
    return "".join(out)


@dataclass
class FileSpec:
    """Shape of one generated yearly file."""

    dataset: str
    level: str
    name: str  # e.g. ``CTDO1971.gz``
    casts: int
    cells: int
    levels: tuple[int, int]  # inclusive range of depth levels per cast
    variables: tuple[int, ...]
    malformed: int = 0


@dataclass
class FileInfo:
    """What the generator wrote: the ground truth the output checks use."""

    path: str
    dataset: str
    level: str
    ok_casts: int
    bad_cast_numbers: list[int]
    cast_number_sum: int  # sum of the ok castNumbers
    cells: set[str] = field(default_factory=set)
    raw_bytes: int = 0
    gz_bytes: int = 0


def _casts(spec: FileSpec, rng: random.Random, first_cast: int):
    cells = set()
    while len(cells) < spec.cells:
        cells.add((rng.randrange(256), rng.randrange(20, 108)))  # ocean-ish lats
    cells = sorted(cells)
    year = 1960 + rng.randrange(60)
    lo, hi = spec.levels
    for k in range(spec.casts):
        ci, cj = cells[rng.randrange(len(cells))]
        # inside the cell with a margin, so 4-decimal rounding cannot cross
        # a cell edge
        lon = -180.0 + (ci + 0.05 + 0.9 * rng.random()) * _CELL_LON
        lat = -90.0 + (cj + 0.05 + 0.9 * rng.random()) * _CELL_LAT
        n = rng.randint(lo, hi)
        step = rng.randint(2, 15)
        surface = rng.randint(15000, 28000)  # temperature in 1e-3 degC
        rnd = rng.random
        depths = []
        for i in range(n):
            u = rnd()
            vals = []
            for code in spec.variables:
                if code == 1:
                    vals.append(surface - i * (10 + int(80 * u)))
                elif code == 2:
                    vals.append(33000 + int(4000 * u))
                else:
                    vals.append(1000 + int(8000 * (1 - u)))
            depths.append((i * step * 10 + int(10 * u), vals))
        yield {
            "castNumber": first_cast + k,
            "country": rng.choice(("US", "GB", "JP", "FR", "AU")),
            "cruise": rng.randint(1, 99999),
            "year": year,
            "month": rng.randint(1, 12),
            "day": rng.randint(1, 28),
            "time": rng.randint(0, 2399),
            "lat": int(round(lat * 10**4)),
            "lon": int(round(lon * 10**4)),
            "variables": spec.variables,
            "probe": rng.randint(1, 999),
            "depths": depths,
        }


def write_file(spec: FileSpec, root: str, seed: int, first_cast: int) -> FileInfo:
    """Generate one file under ``root/<DS>/<LEVEL>/<name>``."""
    rng = random.Random(f"{seed}:{spec.dataset}:{spec.level}:{spec.name}")
    casts = list(_casts(spec, rng, first_cast))
    bad = set(rng.sample(range(len(casts)), spec.malformed))
    info = FileInfo(
        path=os.path.join(root, spec.dataset, spec.level, spec.name),
        dataset=spec.dataset,
        level=spec.level,
        ok_casts=len(casts) - len(bad),
        bad_cast_numbers=sorted(casts[i]["castNumber"] for i in bad),
        cast_number_sum=sum(
            c["castNumber"] for i, c in enumerate(casts) if i not in bad
        ),
    )
    records = []
    for i, c in enumerate(casts):
        records.append(encode_cast(c, malformed=i in bad))
        if i not in bad:
            info.cells.add(geohash(c["lat"] / 1e4, c["lon"] / 1e4))
    text = ("\n".join(records) + "\n").encode("ascii")
    buf = io.BytesIO()
    with gzip.GzipFile(
        filename="", mode="wb", fileobj=buf, compresslevel=6, mtime=0
    ) as gz:
        gz.write(text)
    os.makedirs(os.path.dirname(info.path), exist_ok=True)
    with open(info.path, "wb") as fh:
        fh.write(buf.getvalue())
    info.raw_bytes = len(text)
    info.gz_bytes = len(buf.getvalue())
    return info


def write_tree(specs: list[FileSpec], root: str, seed: int) -> list[FileInfo]:
    """Generate every file; cast numbers are unique across the tree."""
    infos, first = [], 1_000_000
    for spec in specs:
        infos.append(write_file(spec, root, seed, first))
        first += spec.casts
    return infos


def check_sample(info: FileInfo, sample: int = 50) -> int:
    """Decode a sample of the file's records with the package decoder and
    check each against the generator's truth (castNumber, and ok vs
    malformed). Returns the number of mismatches."""
    from wod_ascii_to_parquet_spark_spark.sources.wod_format import (
        WodFormatError,
        parse_cast,
        split_records,
    )

    def cast_number_of(rec: str) -> int:
        start = 2 + int(rec[1])  # version byte, then the WOD-int byte count
        return int(rec[start + 1 : start + 1 + int(rec[start])])

    with gzip.open(info.path, "rt") as fh:
        records = list(split_records(fh.read()))
    bad = set(info.bad_cast_numbers)
    rng = random.Random(len(records))
    picks = set(rng.sample(range(len(records)), min(sample, len(records))))
    # every malformed record, plus the sample
    picks |= {i for i, r in enumerate(records) if cast_number_of(r) in bad}
    mismatches = len(records) != info.ok_casts + len(bad)
    for i in sorted(picks):
        rec = records[i]
        cast_number = cast_number_of(rec)
        try:
            parsed = parse_cast(rec, info.dataset)
            ok = parsed.castNumber == cast_number and cast_number not in bad
        except WodFormatError:
            ok = cast_number in bad
        mismatches += not ok
    return mismatches

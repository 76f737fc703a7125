"""WOD native ASCII encoder, the inverse of ``sources/wod_format``'s record
walk, and the seeded WOD fixture tree built with it.

A WOD int is ``<n digits><digits>``, a WOD float is
``<significant><total><precision><digits>``, ``-`` marks a missing value,
and a record is framed into space-padded 80-character lines after a header
that declares its own byte count.

:func:`wod_fixtures_dir` resolves the end-to-end fixture tree (``FIXTURES.md``
§B): the reference implementation's bundled ``src/test/resources/wod`` where
a checkout of it sits next to this repository as ``reference/``, else a
tree :func:`write_fixture_tree` generates once per :data:`FIXTURE_VERSION`
under the system temp dir. The generated tree has the reference's paths and
shapes: one deep cast each in ``APBO1997``, ``CTDO1971`` and the
standard-level ``CTDS1967``; surface casts in ``DRBO2000`` and
``SURF_ALL`` (which plants one malformed record, so a full convert runs the
error channel); and an ``XBTO1967`` of :data:`XBT_CASTS` casts over
:data:`XBT_CELLS` geohash3 cells, each cell holding at least two casts,
whose first cast carries the real file's first header.
"""

from __future__ import annotations

import gzip
import os
import random
import shutil
import tempfile

from .wod_format import LINE_WIDTH

#: A line no record can start with (its version byte is a digit): the
#: decoder's framing fails there and the rest of the file is lost.
GARBAGE_LINE = "9garbage".ljust(LINE_WIDTH)


def enc_int(v: int | None) -> str:
    if v is None:
        return "-"
    s = str(v)
    assert 1 <= len(s) <= 9
    return f"{len(s)}{s}"


def enc_float(v: float | None, prec: int) -> str:
    if v is None:
        return "-"
    raw = str(int(round(v * 10**prec)))
    total = len(raw)
    sig = len(raw.lstrip("-").lstrip("0")) or 1
    assert total <= 9 and prec <= 9
    return f"{sig}{total}{prec}{raw}"


def dec_of(v: float | None, prec: int) -> float | None:
    """The value the decoder should recover (quantized to prec)."""
    if v is None:
        return None
    return int(round(v * 10**prec)) / 10**prec


def encode_cast(c: dict, malformed: bool | str = False) -> str:
    """One cast record framed into 80-character lines.

    ``malformed`` (``True`` or ``"header"``) writes ``X`` where the cruise
    number's length byte belongs; ``"profile"`` writes ``X`` over the
    significant-figures byte of the last level's first data value, so the
    decoder fails after it has read every earlier level (the cast needs at
    least two levels and a value there). Either way framing and the cast
    number stay readable, so the decoder routes the cast to the error
    channel under its own ``castNumber``. ``"year"`` writes ``X`` over the
    year field's third digit, a non-digit in a fixed-width header field."""
    bad_level = len(c["depths"]) - 1 if malformed == "profile" else None
    if bad_level is not None:
        assert bad_level >= 1 and any(v is not None for v in c["depths"][-1][1])
    bad_header = malformed in (True, "header")
    body = []
    body.append(enc_int(c["castNumber"]))
    body.append(c["country"])
    body.append("X" if bad_header else enc_int(c["cruise"]))
    year = f"{c['year']:4d}"
    body.append(year[:2] + "X" + year[3:] if malformed == "year" else year)
    body.append(f"{c['month']:2d}" if c["month"] is not None else "  ")
    body.append(f"{c['day']:2d}" if c["day"] is not None else "  ")
    body.append(enc_float(c["time"], 2))
    body.append(enc_float(c["lat"], 4))
    body.append(enc_float(c["lon"], 4))
    body.append(enc_int(len(c["depths"])))
    body.append(str(c["profileType"]))
    body.append(f"{len(c['variables']):2d}")
    for code, qc, meta in c["variables"]:
        body.append(enc_int(code))
        body.append(str(qc))
        body.append(enc_int(len(meta)) if meta else "0")
        for mcode, mval in meta:
            body.append(enc_int(mcode))
            body.append(enc_float(mval, 2))
    body.append("-")  # no character data
    # secondary header block
    if c["attributes"]:
        sec = [enc_int(len(c["attributes"]))]
        for acode, aval in c["attributes"]:
            sec.append(enc_int(acode))
            sec.append(enc_float(aval, 3))
        sec_str = "".join(sec)
        body.append(enc_int(len(sec_str)))
        body.append(sec_str)
    else:
        body.append("-")
    body.append("-")  # no biology block
    for level, (depth, data) in enumerate(c["depths"]):
        body.append(enc_float(depth, 1))
        if depth is not None:
            body.append("00")  # depth err + originator flags
        for (vcode, _qc, _meta), val in zip(c["variables"], data):
            value = enc_float(val, 3)
            if level == bad_level and val is not None:
                value, bad_level = "X" + value[1:], None
            body.append(value)
            if val is not None:
                body.append("00")
    payload = "".join(body)
    # total byte count includes itself and the version byte: solve fixpoint
    count = len(payload) + 2  # 'C' + count-field placeholder grows
    for _ in range(3):
        count_field = enc_int(count)
        count = len(payload) + 1 + len(count_field)
    record = "C" + enc_int(count) + payload
    assert len(record) == count, (len(record), count)
    # frame into 80-char lines, last line padded
    lines = [record[i : i + LINE_WIDTH] for i in range(0, len(record), LINE_WIDTH)]
    lines[-1] = lines[-1].ljust(LINE_WIDTH)
    return "\n".join(lines)


def make_casts(n: int, seed: int, first_cast: int = 1) -> list[dict]:
    """``n`` seeded casts in :func:`encode_cast`'s shape, with variable
    metadata, secondary headers and missing values."""
    rng = random.Random(seed)
    casts = []
    for k in range(n):
        variables = [(1, 0, [])]
        if rng.random() < 0.5:
            variables.append((2, rng.randint(0, 9), [(5, rng.randint(0, 999) / 4)]))
        depths = [
            (
                None if rng.random() < 0.05 else i * 10.5,
                [None if rng.random() < 0.1 else rng.uniform(-2, 30) for _ in variables],
            )
            for i in range(rng.randint(0, 12))
        ]
        casts.append({
            "castNumber": first_cast + k,
            "country": rng.choice(["US", "GB", "JP"]),
            "cruise": rng.choice([None, rng.randint(1, 99999)]),
            "year": rng.randint(1950, 2020),
            "month": rng.randint(1, 12),
            "day": rng.randint(1, 28),
            "time": rng.choice([None, rng.randint(0, 2399) / 100]),
            "lat": rng.uniform(-80, 80),
            "lon": rng.uniform(-180, 180),
            "profileType": 0,
            "variables": variables,
            "attributes": [(29, rng.randint(1, 999) / 8)] if rng.random() < 0.7 else [],
            "depths": depths,
        })
    return casts


def wod_text(
    casts: list[dict],
    malformed: set[int] = frozenset(),
    garbage_before: int | None = None,
    kind: bool | str = True,
) -> str:
    """A whole decompressed file: the casts at the ``malformed`` indices are
    written malformed the ``kind`` way (see :func:`encode_cast`), and
    :data:`GARBAGE_LINE` goes before the record at index ``garbage_before``."""
    records = [encode_cast(c, kind if i in malformed else False) for i, c in enumerate(casts)]
    if garbage_before is not None:
        records.insert(garbage_before, GARBAGE_LINE)
    return "\n".join(records) + "\n"


def write_wod_file(path: str, text: str) -> str:
    """Gzip ``text`` to ``path`` (byte-identical for the same text)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(gzip.compress(text.encode("ascii"), mtime=0))
    return path


# -- the end-to-end fixture tree ---------------------------------------------

#: Bumped whenever :func:`write_fixture_tree` writes different bytes, so a
#: tree cached by an older generator is never reused.
FIXTURE_VERSION = 1

#: ``XBTO1967``: the real file's cast count (``FIXTURES.md`` §B), placed in
#: this many geohash3 cells.
XBT_CASTS, XBT_CELLS = 9390, 260

#: The real ``XBTO1967``'s first cast header (``test_known_first_xbt_cast``
#: in ``tests/test_wod_format.py``), written as the generated file's first.
XBT_FIRST_CAST = {
    "castNumber": 3411247, "country": "US", "cruise": 40766,
    "year": 1967, "month": 1, "day": 1, "time": 0.4,
    "lat": 31.33, "lon": -140.58,
}

#: castNumber of the malformed record planted in ``SUR/OBS/SURF_ALL.gz``.
SURF_BAD_CAST = 7100005

#: WOD standard depth levels (m): the ``STD`` processing level's grid.
_STD_DEPTHS = (
    0, 10, 20, 30, 50, 75, 100, 125, 150, 200, 250, 300, 400, 500,
    600, 700, 800, 900, 1000, 1100, 1200, 1300, 1400, 1500,
)

#: A geohash3 cell spans 360/256 degrees of longitude by 180/128 of latitude.
_CELL_LON, _CELL_LAT = 360.0 / 256, 180.0 / 128


def _cell_of(lat: float, lon: float) -> tuple[int, int]:
    return int((lon + 180.0) // _CELL_LON), int((lat + 90.0) // _CELL_LAT)


def _in_cell(rng: random.Random, cell: tuple[int, int]) -> tuple[float, float]:
    """A (lat, lon) inside ``cell`` with a margin, so 4-decimal rounding
    cannot move it across a cell edge."""
    ci, cj = cell
    lon = -180.0 + (ci + 0.05 + 0.9 * rng.random()) * _CELL_LON
    lat = -90.0 + (cj + 0.05 + 0.9 * rng.random()) * _CELL_LAT
    return round(lat, 4), round(lon, 4)


def _random_cell(rng: random.Random) -> tuple[int, int]:
    """A cell between about 62°S and 62°N."""
    return rng.randrange(256), rng.randrange(20, 108)


def _cells(rng: random.Random, n: int, first: tuple[int, int]) -> list[tuple[int, int]]:
    """``first`` and ``n - 1`` other random cells."""
    cells = [first]
    while len(cells) < n:
        cell = _random_cell(rng)
        if cell not in cells:
            cells.append(cell)
    return cells


def _cast(
    rng: random.Random,
    number: int,
    year: int,
    pos: tuple[float, float],
    codes: tuple[int, ...],
    depths: list[float],
    profile_type: int = 0,
) -> dict:
    """One cast in :func:`encode_cast`'s shape. WOD variable codes: 1
    temperature (°C, falling with depth from a 15-28 °C surface to no less
    than 1.5 °C), 2 salinity, 3 oxygen."""
    surface, gradient = rng.uniform(15.0, 28.0), rng.uniform(0.005, 0.04)

    def value(code: int, depth: float) -> float:
        if code == 1:
            return max(1.5, surface - gradient * depth)
        return (33.0 + 4.0 * rng.random()) if code == 2 else (1.0 + 8.0 * rng.random())

    return {
        "castNumber": number,
        "country": rng.choice(("US", "GB", "JP", "AU", "RU")),
        "cruise": rng.randint(1, 99999),
        "year": year,
        "month": rng.randint(1, 12),
        "day": rng.randint(1, 28),
        "time": None if rng.random() < 0.03 else rng.randint(0, 2399) / 100,
        "lat": pos[0],
        "lon": pos[1],
        "profileType": profile_type,
        "variables": [(code, 0, []) for code in codes],
        "attributes": [(29, float(rng.randint(1, 60)))],  # probe type
        "depths": [(d, [value(code, d) for code in codes]) for d in depths],
    }


def _xbt_casts(rng: random.Random) -> list[dict]:
    """:data:`XBT_CASTS` casts over :data:`XBT_CELLS` cells: the first
    2 × XBT_CELLS casts fill every cell twice, the rest land at random, so
    every occupied cell holds at least two casts."""
    first = XBT_FIRST_CAST
    cells = _cells(rng, XBT_CELLS, _cell_of(first["lat"], first["lon"]))
    casts = []
    for k in range(XBT_CASTS):
        cell = cells[k % XBT_CELLS] if k < 2 * XBT_CELLS else rng.choice(cells)
        n = 15 if k == 0 else rng.randint(5, 30)
        step = rng.uniform(4.0, 15.0)
        depths = [round(i * step, 1) for i in range(n)]
        casts.append(
            _cast(rng, first["castNumber"] + k, 1967, _in_cell(rng, cell), (1,), depths)
        )
    casts[0].update(first)
    return casts


def _surface_casts(
    rng: random.Random, n: int, first_cast: int, year: int, codes: tuple[int, ...]
) -> list[dict]:
    """``n`` one-level (surface) casts, as drifting buoys and surface-only
    instruments record them."""
    cells = _cells(rng, 64, _random_cell(rng))
    return [
        _cast(rng, first_cast + k, year, _in_cell(rng, rng.choice(cells)), codes, [0.0])
        for k in range(n)
    ]


def _deep_cast(
    rng: random.Random,
    number: int,
    year: int,
    codes: tuple[int, ...],
    depths: list[float],
    profile_type: int = 0,
) -> list[dict]:
    """A file of one many-level cast at a random position."""
    pos = _in_cell(rng, _random_cell(rng))
    return [_cast(rng, number, year, pos, codes, depths, profile_type)]


def write_fixture_tree(root: str) -> list[str]:
    """Write the six ``FIXTURES.md`` §B files under ``root`` and return
    their paths. Every value comes from a per-file ``random.Random`` and the
    gzip streams carry a zero mtime, so the bytes depend on nothing but
    this module."""
    files = {
        "APB/OBS/APBO1997.gz": lambda rng: _deep_cast(
            rng, 9012001, 1997, (1, 2), [round(i * 2.5, 1) for i in range(120)]
        ),
        "CTD/OBS/CTDO1971.gz": lambda rng: _deep_cast(
            rng, 1971001, 1971, (1, 2, 3), [float(d) for d in range(0, 1500, 5)]
        ),
        "CTD/STD/CTDS1967.gz": lambda rng: _deep_cast(
            rng, 1967001, 1967, (1, 2, 3), [float(d) for d in _STD_DEPTHS], 1
        ),
        "DRB/OBS/DRBO2000.gz": lambda rng: _surface_casts(rng, 2000, 8000001, 2000, (1,)),
        "SUR/OBS/SURF_ALL.gz": lambda rng: _surface_casts(rng, 2000, 7100001, 1990, (1, 2)),
        "XBT/OBS/XBTO1967.gz": _xbt_casts,
    }
    paths = []
    for rel, make in files.items():
        casts = make(random.Random(f"wod-fixtures:{rel}"))
        malformed = {
            i for i, c in enumerate(casts) if c["castNumber"] == SURF_BAD_CAST
        }
        path = os.path.join(root, *rel.split("/"))
        paths.append(write_wod_file(path, wod_text(casts, malformed=malformed)))
    return paths


def _reference_tree() -> str:
    """Where the reference implementation's bundled tree sits when its
    checkout is a sibling of this repository, named ``reference``."""
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return os.path.join(os.path.dirname(repo), "reference", "src", "test", "resources", "wod")


def wod_fixtures_dir() -> str:
    """The WOD fixture tree (``<root>/<DS>/<LEVEL>/<FILE>.gz``): the
    reference's real files where that directory exists, else the generated
    tree, written on first use. The generator writes into a sibling
    directory and renames it into place, so no process sees half a tree;
    of two processes that race, the first rename wins and both use it."""
    reference = _reference_tree()
    if os.path.isdir(reference):
        return reference
    tmp = tempfile.gettempdir()
    root = os.path.join(tmp, f"wod_fixtures_v{FIXTURE_VERSION}")
    if not os.path.isdir(root):
        staging = tempfile.mkdtemp(prefix=f".wod_fixtures_v{FIXTURE_VERSION}.", dir=tmp)
        try:
            write_fixture_tree(staging)
            try:
                os.rename(staging, root)
            except OSError:  # another process renamed its tree in first
                if not os.path.isdir(root):
                    raise
        finally:
            shutil.rmtree(staging, ignore_errors=True)
    return root

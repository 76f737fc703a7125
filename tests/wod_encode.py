"""Test-only WOD native ASCII encoder: the inverse of
``sources/wod_format.parse_cast``, used by the round-trip fuzz tests and to
generate the small WOD files the decoder and DataSource tests read.

A WOD int is ``<n digits><digits>``, a WOD float is
``<significant><total><precision><digits>``, ``-`` marks a missing value,
and a record is framed into space-padded 80-character lines after a header
that declares its own byte count.
"""

from __future__ import annotations

import gzip
import os
import random

from wod_ascii_to_parquet_spark_spark.sources.wod_format import LINE_WIDTH

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

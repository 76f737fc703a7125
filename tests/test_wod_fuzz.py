"""Property-based round-trip fuzzing of the WOD decoder.

The WOD *encoder* (``sources/wod_encode.py``) renders random casts
in the WOD native variable-length encoding (including 80-char line
framing), and the production decoder must recover every field exactly. This covers encode
paths the six fixtures never exercise (missing values everywhere, extreme
precisions, empty profiles, multi-variable metadata) — the reference ships
no property tests at all (SURVEY §5).
"""

from __future__ import annotations

import math
from unittest import mock

import pyarrow as pa
from hypothesis import given, settings, strategies as st

from wod_ascii_to_parquet_spark_spark.sources import wod_ascii
from wod_ascii_to_parquet_spark_spark.sources.wod_format import (
    iter_casts,
    parse_cast,
    split_records,
)
from wod_ascii_to_parquet_spark_spark.sources.wod_encode import dec_of, encode_cast


# --- strategies ------------------------------------------------------------

small_float = st.floats(
    min_value=-999.0, max_value=999.0, allow_nan=False, allow_infinity=False
)
opt_val = st.one_of(st.none(), small_float)

variable = st.tuples(
    st.integers(1, 99),
    st.integers(0, 9),
    st.lists(st.tuples(st.integers(1, 99), small_float), max_size=3),
)


@st.composite
def cast_strategy(draw):
    variables = draw(st.lists(variable, min_size=0, max_size=4))
    n_depths = draw(st.integers(0, 12))
    depths = []
    for _ in range(n_depths):
        depth = draw(st.one_of(st.none(), st.floats(0, 9999.9).map(lambda x: x)))
        data = [draw(opt_val) for _ in variables]
        depths.append((depth, data))
    return {
        "castNumber": draw(st.integers(1, 99_999_999)),
        "country": draw(st.sampled_from(["US", "GB", "JP", "  "])),
        "cruise": draw(st.one_of(st.none(), st.integers(1, 999_999))),
        "year": draw(st.integers(1900, 2025)),
        "month": draw(st.one_of(st.none(), st.integers(1, 12))),
        "day": draw(st.one_of(st.none(), st.integers(1, 31))),
        "time": draw(st.one_of(st.none(), st.floats(0, 23.99))),
        "lat": draw(st.one_of(st.none(), st.floats(-90, 90))),
        "lon": draw(st.one_of(st.none(), st.floats(-180, 180))),
        "profileType": draw(st.integers(0, 1)),
        "variables": variables,
        "attributes": draw(
            st.lists(st.tuples(st.integers(1, 99), small_float), max_size=3)
        ),
        "depths": depths,
    }


@settings(max_examples=150, deadline=None)
@given(cast_strategy())
def test_roundtrip_single_cast(c):
    text = encode_cast(c)
    parsed = parse_cast(next(split_records(text)), "FUZZ")
    assert parsed.castNumber == c["castNumber"]
    assert parsed.country == c["country"]
    assert parsed.cruiseNumber == c["cruise"]
    assert parsed.year == c["year"]
    assert parsed.month == c["month"]
    assert parsed.day == c["day"]
    for got, want, prec in [
        (parsed.time, c["time"], 2),
        (parsed.latitude, c["lat"], 4),
        (parsed.longitude, c["lon"], 4),
    ]:
        expected = dec_of(want, prec)
        if expected is None:
            assert got is None
        else:
            assert got is not None and math.isclose(got, expected, abs_tol=1e-9)
    assert parsed.profileType == c["profileType"]
    assert [(v[0], v[1]) for v in parsed.variables] == [
        (v[0], v[1]) for v in c["variables"]
    ]
    for (pv, cv) in zip(parsed.variables, c["variables"]):
        assert len(pv[2]) == len(cv[2])
        for (mcode, mval), (ecode, eval_) in zip(pv[2], cv[2]):
            assert mcode == ecode
            assert math.isclose(mval, dec_of(eval_, 2), abs_tol=1e-9)
    assert len(parsed.attributes) == len(c["attributes"])
    assert len(parsed.depths) == len(c["depths"])
    for (pdepth, _pde, _pdo, pdata), (edepth, edata) in zip(
        parsed.depths, c["depths"]
    ):
        if edepth is None:
            assert pdepth is None
        else:
            assert math.isclose(pdepth, dec_of(edepth, 1), abs_tol=1e-9)
        expected_vals = [
            (c["variables"][i][0], dec_of(v, 3))
            for i, v in enumerate(edata)
            if v is not None
        ]
        got_vals = [(d[0], d[1]) for d in pdata]
        assert len(got_vals) == len(expected_vals)
        for (gc, gv), (ec, ev) in zip(got_vals, expected_vals):
            assert gc == ec and math.isclose(gv, ev, abs_tol=1e-9)


@settings(max_examples=30, deadline=None)
@given(st.lists(cast_strategy(), min_size=1, max_size=5))
def test_roundtrip_multi_cast_stream(casts):
    text = "\n".join(encode_cast(c) for c in casts)
    results = list(iter_casts(text, "FUZZ"))
    assert len(results) == len(casts)
    assert all(cast is not None for cast, _err in results)
    assert [cast.castNumber for cast, _ in results] == [
        c["castNumber"] for c in casts
    ]


def _expected_row(c: dict) -> dict:
    """The ``ok`` struct the decoder must produce for generated cast ``c``."""

    def level(depth, data):
        present = depth is not None
        return {
            "depth": dec_of(depth, 1),
            "depthErrorFlag": 0 if present else None,
            "originatorsFlag": 0 if present else None,
            "data": [
                {"variableCode": v[0], "value": dec_of(val, 3),
                 "qcFlag": 0, "originatorsFlag": 0}
                for v, val in zip(c["variables"], data)
                if val is not None
            ],
        }

    return {
        "dataset": "FUZZ",
        "castNumber": c["castNumber"],
        "cruiseNumber": c["cruise"],
        "country": c["country"],
        "originatorsCruise": None,
        "originatorsStationCode": None,
        "year": c["year"],
        "month": c["month"],
        "day": c["day"],
        "time": dec_of(c["time"], 2),
        "latitude": dec_of(c["lat"], 4),
        "longitude": dec_of(c["lon"], 4),
        "profileType": c["profileType"],
        "attributes": [
            {"code": a, "value": dec_of(v, 3)} for a, v in c["attributes"]
        ],
        "biologicalAttributes": [],
        "taxonomicDatasets": [],
        "principalInvestigators": [],
        "variables": [
            {"code": code, "qcFlag": qc,
             "metadata": [{"code": m, "value": dec_of(v, 2)} for m, v in meta]}
            for code, qc, meta in c["variables"]
        ],
        "depths": [level(d, data) for d, data in c["depths"]],
    }


@st.composite
def stream_cast(draw):
    """A cast and how it is written: well-formed, malformed in the header,
    or malformed in the profile after at least one good level."""
    c = draw(cast_strategy())
    how = draw(st.sampled_from([False, False, "header", "profile"]))
    if how == "profile":
        if not c["variables"]:
            c["variables"] = [(1, 0, [])]
            c["depths"] = [(d, [None]) for d, _ in c["depths"]]
        while len(c["depths"]) < 2:
            c["depths"].append((10.0, [None] * len(c["variables"])))
        depth, data = c["depths"][-1]
        c["depths"][-1] = (depth, [draw(small_float), *data[1:]])
    return c, how


@settings(max_examples=40, deadline=None)
@given(st.lists(stream_cast(), min_size=1, max_size=7))
def test_decode_file_rolls_back_failed_casts(stream):
    """A cast that fails part-way through its profile leaves nothing in the
    column buffers: with two-row batches, every ok row still equals its
    generated cast field for field and every error row carries its own
    castNumber."""
    text = "\n".join(encode_cast(c, how) for c, how in stream)
    with mock.patch.object(wod_ascii, "_ARROW_BATCH_ROWS", 2):
        batches = list(wod_ascii.decode_file("FUZZ/OBS/f", text.encode()))
    assert all(b.num_rows <= 2 for b in batches)
    rows = pa.Table.from_batches(batches).to_pylist()
    assert len(rows) == len(stream)
    for row, (c, how) in zip(rows, stream):
        if how:
            assert row["ok"] is None
            assert row["err"]["dataset"] == "FUZZ"
            assert row["err"]["castNumber"] == c["castNumber"]
            assert row["err"]["error"].startswith(
                "bad WOD-float sig byte" if how == "profile"
                else "bad WOD-int length byte"
            )
        else:
            assert row["err"] is None
            assert row["ok"] == _expected_row(c)

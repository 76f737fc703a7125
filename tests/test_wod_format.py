"""Unit tests for the pure-Python WOD decoder: against the reference's bundled
fixtures (read-only; skipped when the files are absent) and against
generated records. Mirrors the reference's golden-input test strategy
(``SparklerExecutorLocalTest.java``) but asserts values, not just markers.
"""

from __future__ import annotations

import glob
import gzip

import pytest

from wod_ascii_to_parquet_spark_spark.sources.wod_format import (
    WodFormatError,
    decode_record,
    iter_casts,
    parse_cast,
    split_records,
)
from wod_ascii_to_parquet_spark_spark.sources.wod_encode import (
    encode_cast,
    make_casts,
    wod_text,
    write_wod_file,
)

FIXTURES = sorted(glob.glob("/root/reference/src/test/resources/wod/*/*/*.gz"))

EXPECTED_COUNTS = {
    "APBO1997.gz": 1,
    "CTDO1971.gz": 1,
    "CTDS1967.gz": 1,
    "DRBO2000.gz": 12611,
    "SURF_ALL.gz": 12611,
    "XBTO1967.gz": 9390,
}


XBT = next((p for p in FIXTURES if p.endswith("/XBT/OBS/XBTO1967.gz")), None)

needs_real_files = pytest.mark.skipif(
    XBT is None, reason="the real NOAA WOD fixture files are not present"
)


def _read(path: str) -> str:
    return gzip.open(path, "rt", errors="replace").read()


@needs_real_files
@pytest.mark.parametrize("path", FIXTURES, ids=[p.split("/wod/")[-1] for p in FIXTURES])
def test_all_fixture_casts_parse(path):
    ds = path.split("/")[-3]
    n_ok = n_err = 0
    for cast, err in iter_casts(_read(path), ds):
        if cast is not None:
            n_ok += 1
            assert cast.dataset == ds
            assert cast.castNumber > 0
            if cast.latitude is not None:
                assert -90.0 <= cast.latitude <= 90.0
            if cast.longitude is not None:
                assert -180.0 <= cast.longitude <= 180.0
            assert 1900 <= (cast.year or 1950) <= 2030
        else:
            n_err += 1
    assert n_err == 0
    assert n_ok == EXPECTED_COUNTS[path.split("/")[-1]]


@needs_real_files
def test_known_first_xbt_cast():
    text = _read(XBT)
    rec = next(split_records(text))
    c = parse_cast(rec, "XBT")
    assert c.castNumber == 3411247
    assert c.country == "US"
    assert c.cruiseNumber == 40766
    assert (c.year, c.month, c.day) == (1967, 1, 1)
    assert c.time == pytest.approx(0.4)
    assert c.latitude == pytest.approx(31.33)
    assert c.longitude == pytest.approx(-140.58)
    assert len(c.depths) == 15
    assert [v[0] for v in c.variables] == [1]  # temperature profile
    # depths are recorded shallow→deep
    ds = [d[0] for d in c.depths if d[0] is not None]
    assert ds == sorted(ds)
    # every level carries a temperature observation
    assert all(len(d[3]) == 1 for d in c.depths)


@needs_real_files
def test_depth_monotonicity_sampled():
    text = _read(XBT)
    checked = 0
    for rec in split_records(text):
        c = parse_cast(rec, "XBT")
        ds = [d[0] for d in c.depths if d[0] is not None]
        assert ds == sorted(ds), f"cast {c.castNumber} depths not monotonic"
        checked += 1
        if checked >= 500:
            break


def test_corrupt_record_goes_to_error_channel():
    c = make_casts(1, seed=1, first_cast=4242)[0]
    results = list(iter_casts(encode_cast(c, malformed=True), "XBT"))
    assert len(results) == 1
    cast, err = results[0]
    assert cast is None
    assert err[0] == "XBT"
    assert err[1] == 4242  # recovered from the header
    assert err[2]


def test_unreadable_header_error_has_no_cast_number():
    rec = next(split_records(encode_cast(make_casts(1, seed=2)[0])))
    start = 2 + int(rec[1])  # version byte, then the WOD-int byte count
    cast, err = decode_record(rec[:start] + "X" + rec[start + 1 :], "XBT")
    assert cast is None and err[:2] == ("XBT", -1)
    assert err[2] == f"bad WOD-int length byte 'X' at {start}"


def test_truncated_record_raises_in_channel():
    rec = next(split_records(encode_cast(make_casts(1, seed=3)[0])))
    with pytest.raises(WodFormatError):
        parse_cast(rec[: len(rec) // 2], "XBT")


def test_stream_error_yields_error_row():
    results = list(iter_casts("garbage not a cast", "XBT"))
    assert len(results) == 1
    assert results[0][0] is None


def test_stream_error_keeps_records_before_the_failure():
    casts = make_casts(5, seed=4)
    results = list(iter_casts(wod_text(casts, garbage_before=3), "XBT"))
    assert [c.castNumber for c, _ in results[:3]] == [1, 2, 3]
    assert len(results) == 4
    cast, err = results[3]
    assert cast is None and err[:2] == ("XBT", -1)
    assert err[2].startswith("unrecoverable stream error: ")


def test_dataset_inference_from_path(tmp_path):
    """decode_file without dataset= infers DS from the reference layout
    <...>/<DS>/<LEVEL>/<FILE> — regression: passing a dirname made the
    fallback return the directory ABOVE the dataset code."""
    import pyarrow as pa

    from wod_ascii_to_parquet_spark_spark.sources.wod_ascii import (
        _dataset_of,
        decode_file,
    )

    path = write_wod_file(
        str(tmp_path / "CTD" / "OBS" / "CTDO1971.gz"), wod_text(make_casts(3, seed=5))
    )
    assert _dataset_of(path) == "CTD"
    with open(path, "rb") as fh:
        batches = list(decode_file(path, fh.read()))
    assert batches and all(isinstance(b, pa.RecordBatch) for b in batches)
    rows = pa.Table.from_batches(batches).to_pylist()
    assert len(rows) == 3 and all(r["err"] is None for r in rows)
    assert {r["ok"]["dataset"] for r in rows} == {"CTD"}

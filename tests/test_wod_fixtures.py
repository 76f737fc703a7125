"""The generated WOD fixture tree that ``wod_fixtures_dir()`` falls back to:
the facts the end-to-end tests rest on when the reference's real files are
absent (byte-identical generations, the XBT cast count and first cast, at
least two casts per geohash3 cell, the planted ``SURF_ALL`` error row), and
that importing the registry generates nothing."""

from __future__ import annotations

import collections
import gzip
import hashlib
import os
import subprocess
import sys

import pytest

from wod_ascii_to_parquet_spark_spark.functions.geohash import geohash_encode_numpy
from wod_ascii_to_parquet_spark_spark.session import _IMPORT_ROOT
from wod_ascii_to_parquet_spark_spark.sources.wod_encode import (
    FIXTURE_VERSION,
    SURF_BAD_CAST,
    XBT_CASTS,
    XBT_CELLS,
    XBT_FIRST_CAST,
    wod_fixtures_dir,
    write_fixture_tree,
)
from wod_ascii_to_parquet_spark_spark.sources.wod_format import iter_casts

#: The reference's bundled paths (``FIXTURES.md`` §B).
FIXTURE_PATHS = [
    "APB/OBS/APBO1997.gz",
    "CTD/OBS/CTDO1971.gz",
    "CTD/STD/CTDS1967.gz",
    "DRB/OBS/DRBO2000.gz",
    "SUR/OBS/SURF_ALL.gz",
    "XBT/OBS/XBTO1967.gz",
]


@pytest.fixture(scope="module")
def tree(tmp_path_factory) -> str:
    root = str(tmp_path_factory.mktemp("wod_tree"))
    write_fixture_tree(root)
    return root


def _decode(path: str, dataset: str):
    with gzip.open(path, "rt") as fh:
        pairs = list(iter_casts(fh.read(), dataset))
    return [c for c, _ in pairs if c is not None], [e for _, e in pairs if e is not None]


def _digests(root: str) -> dict[str, str]:
    out = {}
    for rel in FIXTURE_PATHS:
        with open(os.path.join(root, rel), "rb") as fh:
            out[rel] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_generations_are_byte_identical(tree, tmp_path):
    other = str(tmp_path / "again")
    written = write_fixture_tree(other)
    assert sorted(os.path.relpath(p, other) for p in written) == sorted(FIXTURE_PATHS)
    assert _digests(other) == _digests(tree)


def test_xbt_casts_first_cast_and_cells(tree):
    casts, errors = _decode(os.path.join(tree, "XBT/OBS/XBTO1967.gz"), "XBT")
    assert not errors
    assert len(casts) == XBT_CASTS == 9390
    first = casts[0]
    assert first.castNumber == XBT_FIRST_CAST["castNumber"] == 3411247
    assert (first.country, first.cruiseNumber) == ("US", 40766)
    assert (first.year, first.month, first.day, first.time) == (1967, 1, 1, 0.4)
    assert (first.latitude, first.longitude) == (31.33, -140.58)
    cells = collections.Counter(
        geohash_encode_numpy(
            [c.latitude for c in casts], [c.longitude for c in casts], precision=3
        )
    )
    assert len(cells) == XBT_CELLS
    assert min(cells.values()) >= 2
    temps = [
        value
        for c in casts
        for _depth, _err, _orig, data in c.depths
        for code, value, _qc, _flag in data
        if code == 1
    ]
    assert len(temps) > XBT_CASTS and -5.0 <= min(temps) <= max(temps) <= 45.0


def test_surf_all_plants_one_error_row(tree):
    casts, errors = _decode(os.path.join(tree, "SUR/OBS/SURF_ALL.gz"), "SUR")
    assert casts
    assert [(ds, number) for ds, number, _msg in errors] == [("SUR", SURF_BAD_CAST)]
    assert SURF_BAD_CAST not in {c.castNumber for c in casts}


def test_resolved_tree_holds_the_fixture_paths(tree):
    """The resolved tree has every path; a generated one is today's
    generator's bytes, not a stale tree cached under an unbumped
    ``FIXTURE_VERSION``."""
    root = wod_fixtures_dir()
    for rel in FIXTURE_PATHS:
        assert os.path.isfile(os.path.join(root, rel)), rel
    if os.path.basename(root) == f"wod_fixtures_v{FIXTURE_VERSION}":
        assert _digests(root) == _digests(tree)


def test_registry_import_generates_no_tree(tmp_path):
    """Importing every operator module resolves no fixture tree: a ``wod``
    query resolves it only when it runs."""
    env = dict(os.environ, TMPDIR=str(tmp_path))
    subprocess.run(
        [
            sys.executable,
            "-c",
            "import wod_ascii_to_parquet_spark_spark.registry as r; r.load_all_operators()",
        ],
        check=True,
        cwd=_IMPORT_ROOT,
        env=env,
        timeout=300,
    )
    assert not [n for n in os.listdir(tmp_path) if "wod_fixtures" in n]

"""Output checks, run untimed after each timed pass.

Convert outputs are read back with pyarrow (no Spark), against the
generator's ground truth. Query results are compared as an
order-insensitive canonical form: sorted rows, floats rounded.
"""

from __future__ import annotations

import glob
import json
import math
import os

import pyarrow.parquet as pq


def _data_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "part-*.parquet"), recursive=True))


def out_name(input_name: str) -> str:
    name = input_name[:-3] if input_name.endswith(".gz") else input_name
    return ("SUR_ALL" if name == "SURF_ALL" else name) + ".parquet"


def check_file_output(out: str, info) -> list[str]:
    """Problems with one input file's converted dataset and error store."""
    problems: list[str] = []
    name = out_name(os.path.basename(info.path))
    ds = os.path.join(out, "yearly", info.dataset, info.level, name)
    for marker in ("_SUCCESS", "_geo_metadata.json"):
        if not os.path.exists(os.path.join(ds, marker)):
            problems.append(f"{ds}: missing {marker}")
    cells = {
        d.split("=", 1)[1]
        for d in os.listdir(ds) if d.startswith("geohash3=")
    } if os.path.isdir(ds) else set()
    if cells != info.cells:
        problems.append(f"{ds}: {len(cells)} geohash3 dirs, expected {len(info.cells)}")
    rows, cast_sum = 0, 0
    for f in _data_files(ds):
        pf = pq.ParquetFile(f)
        md = pf.schema_arrow.metadata or {}
        if b"geo" not in md:
            problems.append(f"{f}: no geo footer")
        t = pf.read(columns=["castNumber", "geohash"])
        cell = os.path.basename(os.path.dirname(f)).split("=", 1)[1]
        if any(not g.startswith(cell) for g in t.column("geohash").to_pylist()):
            problems.append(f"{f}: geohash outside its geohash3 dir")
        rows += t.num_rows
        cast_sum += sum(t.column("castNumber").to_pylist())
    if rows != info.ok_casts or cast_sum != info.cast_number_sum:
        problems.append(f"{ds}: {rows} rows, expected {info.ok_casts} ok casts")
    err = os.path.join(out, "error", info.dataset, info.level, name)
    if info.bad_cast_numbers:
        got = sorted(
            n for f in _data_files(err)
            for n in pq.read_table(f, columns=["castNumber"]).column(0).to_pylist()
        )
        if got != info.bad_cast_numbers:
            problems.append(f"{err}: error castNumbers {got}, expected {info.bad_cast_numbers}")
    elif os.path.exists(err):
        problems.append(f"{err}: error store written for a clean file")
    return problems


def output_counts(out: str) -> tuple[int, int, int]:
    """(data files, data bytes, geohash3 dirs) under ``out/yearly``."""
    files = _data_files(os.path.join(out, "yearly"))
    dirs = {os.path.dirname(f) for f in files}
    return len(files), sum(os.path.getsize(f) for f in files), len(dirs)


def check_compacted(out: str, expected_rows: int) -> list[str]:
    files = _data_files(os.path.join(out, "compacted"))
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    if rows != expected_rows:
        return [f"compaction kept {rows} rows of {expected_rows}"]
    return []


# -- query results -----------------------------------------------------------


def _canon(value):
    if isinstance(value, float):
        return round(value, 6) if math.isfinite(value) else str(value)
    if isinstance(value, (list, tuple)):
        return [_canon(v) for v in value]
    if isinstance(value, dict):
        return {str(k): _canon(v) for k, v in sorted(value.items())}
    if hasattr(value, "asDict"):
        return _canon(value.asDict(recursive=True))
    if value is None or isinstance(value, (int, str, bool)):
        return value
    return str(value)


def canonical(rows: list[tuple]) -> list[str]:
    return sorted(json.dumps(_canon(list(r)), default=str) for r in rows)


def oracle_rows(con, sql: str, columns: list[str]) -> list[tuple]:
    """DuckDB's rows for ``sql``, columns in the Spark frame's order."""
    res = con.execute(sql)
    names = [d[0] for d in res.description]
    order = [names.index(c) for c in columns]
    return [tuple(r[i] for i in order) for r in res.fetchall()]


def same_rows(a: list[tuple], b: list[tuple]) -> bool:
    """Order-insensitive equality; floats equal to 1e-6 relative."""
    return same_canonical(canonical(a), canonical(b))


def same_canonical(ca: list[str], cb: list[str]) -> bool:
    if ca == cb:
        return True
    if len(ca) != len(cb):
        return False
    return all(_close(json.loads(x), json.loads(y)) for x, y in zip(ca, cb))


def _close(x, y) -> bool:
    if isinstance(x, float) or isinstance(y, float):
        try:
            return math.isclose(float(x), float(y), rel_tol=1e-6, abs_tol=1e-6)
        except (TypeError, ValueError):
            return False
    if isinstance(x, list) and isinstance(y, list):
        return len(x) == len(y) and all(_close(p, q) for p, q in zip(x, y))
    if isinstance(x, dict) and isinstance(y, dict):
        return x.keys() == y.keys() and all(_close(x[k], y[k]) for k in x)
    return x == y

"""WKB (well-known binary) point geometry encoding.

The reference's Sedona writer emits WKB geometry (GeoParquet 1.0's only
encoding, ``DatasetYearTrain.java:41-43``); the engine's default output
uses GeoParquet 1.1's native ``point`` encoding instead because a
``struct<x, y>`` is pure Catalyst. This module is the 1.0 interop arm:
an Arrow-vectorized encoder producing spec WKB point bytes for readers
that predate native encoding (GDAL < 3.8, pre-1.1 GeoPandas).

WKB point layout (OGC 06-103r4 §8.2.3, 21 bytes):

    byte  0     : byte order — 0x01 = little-endian (NDR)
    bytes 1-4   : geometry type — 1 = Point (uint32 LE)
    bytes 5-12  : x (longitude), IEEE-754 float64 LE
    bytes 13-20 : y (latitude),  IEEE-754 float64 LE

Catalyst has no double→IEEE-bits expression, so the encode runs in
Python: convert's writer tasks call :func:`wkb_point_bytes` on each
batch's decoded coordinates (opt-in via ``--geo-encoding wkb``). It is
fully vectorized: the bit reinterpretation is a numpy ``view(uint8)``
over the batch, never per-row ``struct.pack``.
"""

from __future__ import annotations

import pandas as pd

#: byte-order marker + uint32 geometry type (Point) — the 5-byte WKB header.
_WKB_POINT_HEADER = bytes([0x01, 0x01, 0x00, 0x00, 0x00])


def wkb_point_bytes(lon: pd.Series, lat: pd.Series) -> pd.Series:
    """Vectorized WKB point encode of two float64 series; a null
    coordinate gives a null geometry (matches SQL geometry constructors)."""
    import numpy as np

    x = lon.to_numpy(dtype="<f8", copy=False)
    y = lat.to_numpy(dtype="<f8", copy=False)
    n = len(x)
    buf = np.empty((n, 21), dtype=np.uint8)
    buf[:, 0:5] = np.frombuffer(_WKB_POINT_HEADER, dtype=np.uint8)
    buf[:, 5:13] = x.view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = y.view(np.uint8).reshape(n, 8)
    flat = buf.tobytes()
    null = lon.isna().to_numpy() | lat.isna().to_numpy()
    return pd.Series(
        [None if null[i] else flat[i * 21 : (i + 1) * 21] for i in range(n)],
        dtype=object,
    )


def parse_wkb_point(wkb: bytes) -> tuple[float, float]:
    """(x=lon, y=lat) from one WKB point — a from-the-spec decoder
    independent of the encoder above (struct, not numpy), for round-trip
    tests standing in for an external GeoParquet 1.0 reader."""
    import struct

    if len(wkb) != 21:
        raise ValueError(f"WKB point must be 21 bytes, got {len(wkb)}")
    (order,) = struct.unpack_from("B", wkb, 0)
    fmt = "<" if order == 1 else ">"
    (gtype,) = struct.unpack_from(f"{fmt}I", wkb, 1)
    if gtype != 1:
        raise ValueError(f"not a WKB Point (geometry type {gtype})")
    return struct.unpack_from(f"{fmt}dd", wkb, 5)

"""GeoParquet footer metadata + dataset-level sidecar.

The reference writes GeoParquet through Sedona with a WGS-84 PROJJSON CRS
baked into the parquet footer (``DatasetYearTrain.java:41-42`` defines the
PROJJSON; ``:132-134`` passes ``geoparquet.version``/``geoparquet.crs`` to
the writer). The Sedona-free equivalent here is two-layered:

- **Real GeoParquet footers**: every data file carries the spec's ``geo``
  key-value footer entry (:func:`geo_footer_dict`). The geometry column is
  the ``struct<x, y>`` the convert pipeline adds, declared with GeoParquet
  1.1's native ``point`` encoding — expressible in pure Catalyst
  (``F.struct(lon, lat)``) — or, opt-in, WKB bytes under a 1.0 footer.
  GeoParquet-aware readers (GDAL ≥ 3.8, GeoPandas) recognize the output
  directly. Every GeoParquet file, convert's and compaction's, is written
  once with the key already in its footer (``plans/convert.py``'s
  ``_write_geoparquet``); the writer tasks write through the executor-side
  stores defined here (:func:`_resolve_executor_store`: local disk,
  viewfs mount maps, ``pyarrow.fs`` for s3/s3a/gs).
- A ``_geo_metadata.json`` sidecar carrying the same information at the
  dataset level (SURVEY §4.3) — kept because it is readable without a
  parquet parser and doubles as the publish-completion marker (see
  ``plans/convert.py``).

The CRS is the standard EPSG 4326 definition published at proj.org.
"""

from __future__ import annotations

import json

#: 1.1.0 (not the reference's 1.0.0): 1.1 adds the native ``point``
#: encoding for struct<x,y> columns; 1.0 allows WKB only.
GEOPARQUET_VERSION = "1.1.0"  # cf. DatasetYearTrain.java:43

#: WGS 84 (EPSG:4326) PROJJSON — proj.org schema v0.7, the same CRS the
#: reference embeds (DatasetYearTrain.java:41-42).
WGS84_PROJJSON: dict = {
    "$schema": "https://proj.org/schemas/v0.7/projjson.schema.json",
    "type": "GeographicCRS",
    "name": "WGS 84",
    "datum_ensemble": {
        "name": "World Geodetic System 1984 ensemble",
        "members": [
            {"name": "World Geodetic System 1984 (Transit)",
             "id": {"authority": "EPSG", "code": 1166}},
            {"name": "World Geodetic System 1984 (G730)",
             "id": {"authority": "EPSG", "code": 1152}},
            {"name": "World Geodetic System 1984 (G873)",
             "id": {"authority": "EPSG", "code": 1153}},
            {"name": "World Geodetic System 1984 (G1150)",
             "id": {"authority": "EPSG", "code": 1154}},
            {"name": "World Geodetic System 1984 (G1674)",
             "id": {"authority": "EPSG", "code": 1155}},
            {"name": "World Geodetic System 1984 (G1762)",
             "id": {"authority": "EPSG", "code": 1156}},
            {"name": "World Geodetic System 1984 (G2139)",
             "id": {"authority": "EPSG", "code": 1309}},
        ],
        "ellipsoid": {
            "name": "WGS 84",
            "semi_major_axis": 6378137,
            "inverse_flattening": 298.257223563,
        },
        "accuracy": "2.0",
        "id": {"authority": "EPSG", "code": 6326},
    },
    "coordinate_system": {
        "subtype": "ellipsoidal",
        "axis": [
            {"name": "Geodetic latitude", "abbreviation": "Lat",
             "direction": "north", "unit": "degree"},
            {"name": "Geodetic longitude", "abbreviation": "Lon",
             "direction": "east", "unit": "degree"},
        ],
    },
    "scope": "Horizontal component of 3D system.",
    "area": "World.",
    "bbox": {
        "south_latitude": -90,
        "west_longitude": -180,
        "north_latitude": 90,
        "east_longitude": 180,
    },
    "id": {"authority": "EPSG", "code": 4326},
}

SIDECAR_NAME = "_geo_metadata.json"

GEOMETRY_COLUMN = "geometry"


def geo_footer_dict(encoding: str = "point") -> dict:
    """The GeoParquet ``geo`` footer entry: primary geometry column with
    the WGS-84 PROJJSON CRS — the footer the reference has Sedona write
    (DatasetYearTrain.java:132-134).

    ``encoding="point"`` (default): spec v1.1.0 native point — a
    ``struct<x=lon, y=lat>`` column, expressible in pure Catalyst.
    ``encoding="WKB"``: spec v1.0.0 well-known-binary — the only encoding
    1.0-era readers (GDAL < 3.8, pre-1.1 GeoPandas) accept, and the
    byte-level shape of the reference's Sedona output."""
    if encoding == "point":
        version = GEOPARQUET_VERSION  # 1.1: native point encoding
    elif encoding == "WKB":
        version = "1.0.0"  # cf. DatasetYearTrain.java:43 — the ref's version
    else:
        raise ValueError(f"encoding must be 'point' or 'WKB', got {encoding!r}")
    return {
        "version": version,
        "primary_column": GEOMETRY_COLUMN,
        "columns": {
            GEOMETRY_COLUMN: {
                "encoding": encoding,
                "geometry_types": ["Point"],
                "crs": WGS84_PROJJSON,
            }
        },
    }


class _PyArrowStore:
    """Executor-side store over ``pyarrow.fs`` — the production arm for
    object stores. Resolved lazily IN the worker process from the base
    URI (S3/GCS credentials come from the worker environment / instance
    profile, exactly like the s3a connector's default provider chain), so
    the pickled closure ships only the URI string. Hadoop's ``s3a``/
    ``s3n`` scheme spellings are aliased to pyarrow's ``s3``."""

    _SCHEME_ALIASES = {"s3a": "s3", "s3n": "s3"}

    def __init__(self, base_uri: str):
        self._base_uri = base_uri.rstrip("/")
        self._fs = None
        self._base_inner = None

    def __getstate__(self):
        return {"_base_uri": self._base_uri}

    def __setstate__(self, state):
        self._base_uri = state["_base_uri"]
        self._fs = None
        self._base_inner = None

    def _resolve(self):
        if self._fs is None:
            from urllib.parse import urlsplit

            import pyarrow.fs as pafs

            parts = urlsplit(self._base_uri)
            scheme = self._SCHEME_ALIASES.get(parts.scheme, parts.scheme)
            self._fs, inner = pafs.FileSystem.from_uri(
                parts._replace(scheme=scheme).geturl()
            )
            self._base_inner = inner.rstrip("/")
        return self._fs

    def _inner(self, path: str) -> str:
        self._resolve()
        if path == self._base_uri:
            return self._base_inner
        if not path.startswith(self._base_uri + "/"):
            raise ValueError(
                f"{path!r} is outside the store base {self._base_uri!r}"
            )
        return self._base_inner + path[len(self._base_uri):]

    def open_output(self, path: str):
        """A writable stream for a new object at ``path``. Only the local
        filesystem needs its parent directories made first; object stores
        have none, and HDFS creates them."""
        fs, inner = self._resolve(), self._inner(path)
        if fs.type_name == "local":
            fs.create_dir(inner.rsplit("/", 1)[0], recursive=True)
        return fs.open_output_stream(inner)


class _MountStore:
    """Executor-side store for ``viewfs://`` URIs: the mount table is
    read from the Hadoop conf ON THE DRIVER and shipped to executors as a
    plain ``{uri prefix: target uri}`` dict — workers then hit the backing
    store directly (OS I/O for ``file://`` targets, a nested
    :class:`_PyArrowStore` per mount target otherwise), no driver
    round-trip. This is the same trust shape as an S3 client: the driver
    ships the *resolution config*, the workers do the I/O."""

    def __init__(self, mounts: dict[str, str]):
        self._mounts = sorted(
            ((k.rstrip("/"), v.rstrip("/")) for k, v in mounts.items()),
            key=lambda kv: -len(kv[0]),
        )
        self._sub: dict[str, "_PyArrowStore"] = {}

    def __getstate__(self):
        return {"_mounts": self._mounts}

    def __setstate__(self, state):
        self._mounts = state["_mounts"]
        self._sub = {}

    def open_output(self, path: str):
        """A writable stream for a new file at ``path`` (a fresh name, so
        no JVM writer left a ``.crc`` checksum file for it)."""
        from ..sources.filesystem import local_os_path

        for prefix, target in self._mounts:
            if path == prefix or path.startswith(prefix + "/"):
                break
        else:
            raise ValueError(f"{path!r}: no viewfs mount link covers it")
        rewritten = target + path[len(prefix):]
        local = local_os_path(rewritten)
        if local is None:
            if target not in self._sub:
                self._sub[target] = _PyArrowStore(target)
            return self._sub[target].open_output(rewritten)
        import os

        import pyarrow as pa

        os.makedirs(os.path.dirname(local), exist_ok=True)
        return pa.OSFile(local, "wb")


def _viewfs_mount_map(spark, authority: str) -> dict[str, str]:
    """``{viewfs://<authority><mountpoint>: target uri}`` from the live
    session's Hadoop conf (``fs.viewfs.mounttable.<authority>.link.*``) —
    one driver-side conf read; the result is plain data for the closure."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jmap = hconf.getPropsWithPrefix(
        f"fs.viewfs.mounttable.{authority}.link."
    )
    mounts: dict[str, str] = {}
    it = jmap.entrySet().iterator()
    while it.hasNext():
        e = it.next()
        mounts[f"viewfs://{authority}{e.getKey()}"] = e.getValue()
    return mounts


def _resolve_executor_store(spark, base_uri: str):
    """A picklable store whose writes run ON EXECUTORS for ``base_uri``,
    or None when no executor-reachable client exists for the scheme (the
    writer tasks then return each file's bytes for the driver to write).

    - ``viewfs://`` → :class:`_MountStore` over the conf's mount table.
    - anything ``pyarrow.fs.FileSystem.from_uri`` accepts (s3/gs/hdfs…) →
      :class:`_PyArrowStore`; probed HERE on the driver so a scheme
      pyarrow cannot open (e.g. no libhdfs) degrades to the fallback
      instead of failing 32 tasks."""
    from urllib.parse import urlsplit

    parts = urlsplit(base_uri)
    if parts.scheme == "viewfs":
        mounts = _viewfs_mount_map(spark, parts.netloc)
        return _MountStore(mounts) if mounts else None
    probe = _PyArrowStore(base_uri)
    try:
        probe._resolve()
    except Exception:
        return None
    # Ship the probe itself: __getstate__ strips the resolved client, so
    # the pickled payload is identical to a fresh instance — and for
    # s3/gs, from_uri can pay a region-resolution round-trip we should
    # not repeat.
    return probe


def geo_sidecar_bytes(encoding: str = "point") -> bytes:
    """Serialized sidecar content (static — independent of the data, so
    (re)writing it is idempotent and safe at any point in the commit
    sequence)."""
    footer = geo_footer_dict(encoding)
    return json.dumps(
        {
            "geoparquet_version": footer["version"],
            "crs": WGS84_PROJJSON,
            "geo_footer": footer,
            "coordinates": {"latitude": "latitude", "longitude": "longitude"},
            "covering": {"geohash": "geohash", "partition": "geohash3"},
        },
        indent=2,
    ).encode()

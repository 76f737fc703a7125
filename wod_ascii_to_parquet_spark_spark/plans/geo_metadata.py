"""GeoParquet footer metadata + dataset-level sidecar.

The reference writes GeoParquet through Sedona with a WGS-84 PROJJSON CRS
baked into the parquet footer (``DatasetYearTrain.java:41-42`` defines the
PROJJSON; ``:132-134`` passes ``geoparquet.version``/``geoparquet.crs`` to
the writer). The Sedona-free equivalent here is two-layered:

- **Real GeoParquet footers** (:func:`attach_geo_footer`): at publish time
  every data file gets the spec's ``geo`` key-value footer entry attached
  via pyarrow. The geometry column is the ``struct<x, y>`` the convert
  pipeline adds, declared with GeoParquet 1.1's native ``point`` encoding
  — expressible in pure Catalyst (``F.struct(lon, lat)``), unlike WKB,
  which would need a byte-assembling UDF in the write path. GeoParquet-
  aware readers (GDAL ≥ 3.8, GeoPandas) recognize the output directly.
- A ``_geo_metadata.json`` sidecar carrying the same information at the
  dataset level (SURVEY §4.3) — kept because it is readable without a
  parquet parser and doubles as the publish-completion marker for the
  footer attach (see ``plans/convert.py``).

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


#: Files per local footer-attach task: the attach runs one task per this
#: many files, rounded up, and at most ``defaultParallelism``. With local
#: workers started from ``worker_daemon``, a no-op Python task costs about
#: 27 ms of worker CPU, and stamping one file of the convert schema costs
#: about 2.8 ms, so 64 files are about six tasks' fixed cost. 64 is kept
#: because it spends less CPU: in a layer A/B on 16-130 convert output
#: files at local[4], 10 files per task cut the attach's wall time by
#: 0.01-0.07 s but added 0.04-0.11 s of worker CPU, and every layout of
#: the benchmark's archive gets the same task count for any value from 8
#: to 64. Measured on a 4-vCPU x86 host.
_FOOTER_FILES_PER_TASK = 64


def attach_geo_footer(
    fs, out_dir: str, max_workers: int = 16, spark=None, encoding: str = "point"
) -> int:
    """Attach the ``geo`` key to every data file footer under ``out_dir``;
    returns the number of files stamped.

    **Local paths: O(footer), not O(data)** — the parquet format reads its
    footer from the END of the file (last 8 bytes = footer length + magic),
    so a file can be given new metadata by APPENDING a superseding footer:
    ``[data pages][old footer][PAR1][new footer][len][PAR1]``. The new
    footer is the old one (identical row-group/offset/physical-type
    metadata, re-serialized via ``pyarrow.parquet.write_metadata`` with the
    original row groups as the collector) plus the ``geo`` key; the old
    footer becomes a few KB of dead bytes. Data pages are never read or
    rewritten — at 100 TB this is the difference between re-writing the
    whole dataset and appending ~10 KB per file. Round-trip (pyarrow AND
    Spark read, INT96 timestamps, struct geometry) is regression-tested in
    ``test_geo_footer.py`` / ``test_convert_e2e.py``.

    Idempotent: a file whose footer already carries this exact ``geo``
    value is skipped, so crash-healing simply re-runs the attach (the
    sidecar, written AFTER this step, is the completion marker — see
    convert_file). Crash safety: an append torn mid-write leaves a tail
    that no longer parses; the re-run detects that and truncates back to
    the last valid footer boundary (the original file is always one) before
    re-appending — see :func:`_recover_torn_tail`.

    Scale shape: embarrassingly parallel per FILE. With a live session the
    listing becomes an RDD and each Python WORKER PROCESS stamps its slice
    directly on OS paths (no py4j, no driver GIL) — the 100 TB shape
    verbatim; without one, a driver thread pool. Local tasks are sized
    against their fixed cost: one task per ``_FOOTER_FILES_PER_TASK`` (64)
    files, rounded up, at most ``defaultParallelism``; a Python task costs
    about as much worker CPU before it runs any user code as stamping ten
    files does, and fewer, fuller tasks spend less CPU. A 4-file layout is
    one task, not four; a 1,652-file layout still gets full width.

    Remote schemes (no append on object stores): each object is rebuilt
    IN MEMORY as ``old bytes + superseding footer`` (same O(footer) CPU as
    the local append — data pages are never re-encoded) and PUT via a
    sibling temp object + delete + rename, with a recovery pre-pass that
    promotes or drops leftover temps. With a live session this runs as a
    SPARK JOB: the path list is parallelized and each executor slice
    resolves its own store client (:func:`_resolve_executor_store` —
    ``pyarrow.fs.FileSystem.from_uri`` for s3/gs/hdfs with credentials
    from the worker environment, or a viewfs mount map shipped as plain
    data), so the driver does ONE listing RPC total, never per-file byte
    traffic — validated against the viewfs mock store in
    ``tests/test_mock_remote_store.py``. Without a session, or for a
    scheme no executor-side client can reach, a driver thread pool over
    the FsClient byte API is the fallback (3 gateway-serialized py4j
    calls per file — fine for test-scale layouts, not for 100 TB)."""
    from concurrent.futures import ThreadPoolExecutor

    geo = json.dumps(geo_footer_dict(encoding)).encode()

    local_root = _local_path(out_dir)
    if local_root is not None:
        import os

        paths = sorted(
            os.path.join(dirpath, f)
            for dirpath, _, files in os.walk(local_root)
            for f in files
            if f.endswith(".parquet")
        )
        if spark is not None and paths:
            geo_bytes = geo

            def _stamp_slice(it):
                for path in it:
                    _append_footer_with_geo(path, geo_bytes)

            n = min(
                spark.sparkContext.defaultParallelism,
                -(-len(paths) // _FOOTER_FILES_PER_TASK),
            )
            spark.sparkContext.parallelize(paths, n).foreachPartition(
                _stamp_slice
            )
            return len(paths)

        def one(path: str) -> None:
            _append_footer_with_geo(path, geo)

    else:
        # Recovery pre-pass: a prior attach that crashed between the
        # delete and the rename leaves the finished temp object without
        # its base file — promote it; a temp WITH a live base is torn or
        # stale — drop it. After this pass every listed .parquet file is
        # a complete data file, so re-running the attach (the convert_file
        # heal path) is safe on any crash point.
        listing = fs.file_sizes(out_dir)
        for p in sorted(listing):
            if p.endswith(_REMOTE_TMP_SUFFIX):
                base = p[: -len(_REMOTE_TMP_SUFFIX)]
                if base in listing:
                    fs.delete(p)
                else:
                    fs.rename(p, base)
                    listing[base] = listing.pop(p)
        paths = sorted(p for p in listing if p.endswith(".parquet"))
        store = (
            _resolve_executor_store(spark, out_dir)
            if spark is not None
            else None
        )
        if store is not None and paths:
            geo_bytes = geo

            def _stamp_remote_slice(it):
                for path in it:
                    _rewrite_with_geo(store, path, geo_bytes)

            n = max(1, min(len(paths), spark.sparkContext.defaultParallelism))
            spark.sparkContext.parallelize(paths, n).foreachPartition(
                _stamp_remote_slice
            )
            return len(paths)

        def one(path: str) -> None:
            # Fallback: driver-threaded, FsClient as the byte store (it
            # satisfies the same read/write/delete/rename protocol).
            _rewrite_with_geo(fs, path, geo)

    if paths:
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            list(pool.map(one, paths))
    else:
        import logging

        logging.getLogger(__name__).warning(
            "attach_geo_footer: no .parquet files under %s — nothing "
            "rewritten (dataset publishes without GeoParquet footers)",
            out_dir,
        )
    return len(paths)


#: Suffix for the crash-safe sibling object used on remote schemes. Not
#: ``.parquet``-suffixed, so a leftover temp never shows up as data.
_REMOTE_TMP_SUFFIX = "._geo_tmp"


def _footer_suffix(md, geo: bytes) -> bytes:
    """The superseding-footer byte suffix for one parquet file: appending
    it (local) or PUTting ``old_bytes + suffix`` (remote) yields a valid
    file whose footer carries ``geo``. ``write_metadata(schema,
    collector=[md])`` serializes a footer-only parquet file
    ``[PAR1][footer thrift][len][PAR1]``; the row-group metadata (offsets,
    physical types — INT96 included) is the file's OWN, re-serialized
    verbatim, and only the schema's key-value metadata gains the geo
    entry. The leading magic is stripped; data pages are never touched."""
    import io

    import pyarrow.parquet as pq

    schema = md.schema.to_arrow_schema()
    meta = dict(schema.metadata or {})
    meta[b"geo"] = geo
    buf = io.BytesIO()
    pq.write_metadata(
        schema.with_metadata(meta),
        buf,
        metadata_collector=[md],
        use_deprecated_int96_timestamps=True,
    )
    return buf.getvalue()[4:]


def _rewrite_with_geo(store, path: str, geo: bytes) -> None:
    """Stamp ``geo`` into one REMOTE object through a byte store exposing
    ``read_bytes / write_bytes / delete / rename`` (an executor-side store
    from :func:`_resolve_executor_store`, or the driver FsClient in the
    fallback arm). Idempotent: an object whose footer already carries this
    exact value is skipped. Never rewrites the object under its final key
    in one step: the new bytes land in a sibling temp, then delete + rename.

    RETRY-SAFE IN-TASK, not just across attach re-runs: a previous attempt
    (this task's or a crashed executor's) can die between the delete and
    the rename, leaving only the finished temp. The driver-side recovery
    pre-pass heals that on a full re-run, but Spark's in-job task RETRY
    lands back HERE first — so a missing base object with a live temp is
    promoted in place (the temp is only ever written complete-with-geo,
    and the post-promotion re-read makes the skip check the arbiter).
    Runs on Spark Python workers (module-level, pickles by reference)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = path + _REMOTE_TMP_SUFFIX
    try:
        data = store.read_bytes(path)
    except (FileNotFoundError, IOError, OSError) as read_err:
        # Torn previous attempt: promote its finished temp, then fall
        # through to the skip check on the promoted bytes. No temp →
        # the object genuinely does not exist; the original not-found
        # is the real error, not the failed promotion.
        try:
            store.rename(tmp, path)
        except Exception:
            raise read_err
        data = store.read_bytes(path)
    md = pq.read_metadata(pa.BufferReader(data))
    if (md.metadata or {}).get(b"geo") == geo:
        return
    store.write_bytes(tmp, data + _footer_suffix(md, geo))
    store.delete(path)
    store.rename(tmp, path)


class _PyArrowStore:
    """Executor-side byte store over ``pyarrow.fs`` — the production arm
    for object stores. Resolved lazily IN the worker process from the base
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

    def read_bytes(self, path: str) -> bytes:
        with self._resolve().open_input_stream(self._inner(path)) as fh:
            return fh.read()

    def write_bytes(self, path: str, data: bytes) -> None:
        with self._resolve().open_output_stream(self._inner(path)) as fh:
            fh.write(data)

    def delete(self, path: str) -> None:
        self._resolve().delete_file(self._inner(path))

    def rename(self, src: str, dst: str) -> None:
        # pyarrow `move`: a true rename on filesystems that have one, a
        # copy+delete on object stores — the same non-atomicity the s3a
        # rename has; the recovery pre-pass heals either half.
        self._resolve().move(self._inner(src), self._inner(dst))


class _MountStore:
    """Executor-side byte store for ``viewfs://`` URIs: the mount table is
    read from the Hadoop conf ON THE DRIVER and shipped to executors as a
    plain ``{uri prefix: target uri}`` dict — workers then hit the backing
    store directly (OS I/O for ``file://`` targets, a nested
    :class:`_PyArrowStore` otherwise), no driver round-trip. This is the
    same trust shape as an S3 client: the driver ships the *resolution
    config*, the workers do the I/O."""

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

    def _rewrite(self, path: str) -> str:
        for prefix, target in self._mounts:
            if path == prefix or path.startswith(prefix + "/"):
                return target + path[len(prefix):]
        raise ValueError(f"{path!r}: no viewfs mount link covers it")

    def _local_or_store(self, path: str):
        """``(os_path, None, None)`` for file-backed targets,
        ``(None, store, rewritten_target)`` otherwise — the rewritten
        target rides along so callers resolve the mount table ONCE per
        operation (a second `_rewrite` call would double the prefix scan
        and could diverge from this one if the mounts ever mutated)."""
        from ..sources.filesystem import local_os_path

        t = self._rewrite(path)
        local = local_os_path(t)
        if local is not None:
            return local, None, None
        base = t.rsplit("/", 1)[0]
        if base not in self._sub:
            self._sub[base] = _PyArrowStore(base)
        return None, self._sub[base], t

    def read_bytes(self, path: str) -> bytes:
        local, store, t = self._local_or_store(path)
        if local is not None:
            with open(local, "rb") as fh:
                return fh.read()
        return store.read_bytes(t)

    def write_bytes(self, path: str, data: bytes) -> None:
        local, store, t = self._local_or_store(path)
        if local is not None:
            with open(local, "wb") as fh:
                fh.write(data)
            # Writing BEHIND Hadoop's back: the mount target is Hadoop's
            # ChecksumFileSystem, so a `.crc` sidecar a JVM writer left
            # for this name is now stale and would fail every later
            # Hadoop read — drop it (reads without crc skip verification).
            _drop_stale_crc(local)
            return
        store.write_bytes(t, data)

    def delete(self, path: str) -> None:
        local, store, t = self._local_or_store(path)
        if local is not None:
            import os

            os.remove(local)
            _drop_stale_crc(local)
            return
        store.delete(t)

    def rename(self, src: str, dst: str) -> None:
        local_src, store, t_src = self._local_or_store(src)
        if local_src is not None:
            import os

            local_dst, _, _ = self._local_or_store(dst)
            os.replace(local_src, local_dst)
            # both names' crc sidecars are invalid now (src's points at a
            # gone file, dst's at replaced content)
            _drop_stale_crc(local_src)
            _drop_stale_crc(local_dst)
            return
        store.rename(t_src, self._rewrite(dst))


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
    """A picklable byte store whose I/O runs ON EXECUTORS for ``base_uri``,
    or None when no executor-reachable client exists for the scheme (the
    caller then falls back to the driver-threaded FsClient arm).

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


def _append_footer_with_geo(path: str, geo: bytes) -> None:
    """Stamp ``geo`` into one local parquet file by APPENDING a superseding
    footer (O(footer bytes); data pages untouched). Idempotent: skips a
    file whose current footer already carries this exact value. Heals a
    tail torn by a previous crashed append before re-appending. Runs on
    Spark Python workers (module-level so the closure pickles by
    reference) and on the driver alike."""
    import pyarrow.parquet as pq

    try:
        md = pq.read_metadata(path)
    except Exception:
        _recover_torn_tail(path)
        md = pq.read_metadata(path)
    if (md.metadata or {}).get(b"geo") == geo:
        return
    # The arrow schema comes off the footer ALREADY READ (inside
    # _footer_suffix) — pq.read_schema would open and parse the same
    # footer a second time (measured ~25% of the per-file stamp cost
    # across a 1,652-file layout).
    with open(path, "ab") as fh:
        fh.write(_footer_suffix(md, geo))
    _drop_stale_crc(path)


def _recover_torn_tail(path: str, window: int = 8 << 20) -> None:
    """Truncate ``path`` back to its last valid footer boundary.

    A crashed footer-append leaves trailing garbage after a fully valid
    parquet file (appends never modify existing bytes), so scanning the
    tail for the rightmost ``PAR1`` whose preceding footer parses — and
    truncating there — always recovers a readable file; worst case that
    boundary is the original end-of-file. ``window`` bounds the scan
    (footers here are tens of KB; 8 MB is orders beyond any of them)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    size = os.path.getsize(path)
    tail_len = min(size, window)
    with open(path, "rb") as fh:
        fh.seek(size - tail_len)
        tail = fh.read()
    pos = len(tail)
    while True:
        p = tail.rfind(b"PAR1", 0, pos)
        if p < 0:
            raise OSError(
                f"{path}: no valid parquet footer within the last "
                f"{tail_len} bytes — file is not recoverable by truncation"
            )
        end = p + 4
        try:
            pq.read_metadata(pa.BufferReader(tail[:end]))
        except Exception:
            pos = p + 3  # overlapping occurrences: keep scanning left
            continue
        os.truncate(path, size - tail_len + end)
        return


def _local_path(path: str) -> str | None:
    """OS path for ``path`` if local, else None — shared helper (treating
    the single-slash ``file:/tmp`` form as a relative OS path made
    ``os.walk`` find nothing and the footer pass silently rewrite 0
    files, hence the URI handling there)."""
    from ..sources.filesystem import local_os_path

    return local_os_path(path)


def _drop_stale_crc(path: str) -> None:
    """Remove the Hadoop ChecksumFileSystem sidecar for a file rewritten
    BEHIND Hadoop's back (direct OS I/O): the JVM writer left a
    ``.<name>.crc`` next to each part file, and a stale one makes every
    later Hadoop read fail with ChecksumException. Reading without a crc
    sidecar is fine (verification is simply skipped)."""
    import os

    d, name = os.path.split(path)
    crc = os.path.join(d, f".{name}.crc")
    if os.path.exists(crc):
        os.remove(crc)


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

"""Scheme-agnostic filesystem access for the conversion pipeline.

The reference hand-rolls a filesystem switch — ``FileSystemType.java:3-7``
(local / s3 / emrS3), ``FileSystemPrefix.java:5-16`` (scheme strings),
``S3Actions.java:35-137`` (open/download/paged list/chunked delete/exists
against either posix or an ``S3Client``) — because its driver does its own
I/O. Spark already ships that abstraction: the Hadoop ``FileSystem`` API
resolves any URI scheme the cluster has connectors for (``file://``,
``s3a://``, ``hdfs://``, ``gs://``, …) with paged listing and bulk delete
handled inside the connector (s3a issues the same chunked
DeleteObjects / ListObjectsV2 paging ``S3Actions.java:59-118`` hand-codes).
``FsClient`` is a thin py4j wrapper over it, so the convert pipeline's
driver-side planning (list inputs, check ``_SUCCESS``, clean stale output)
uses the SAME connector stack as the executor-side reads/writes — one
credential/endpoint configuration, no second S3 client.

``s3a_confs`` mirrors ``Sparkler.java:79-87`` (region / access key /
secret → ``spark.hadoop.fs.s3a.*``) plus the endpoint/path-style knobs an
s3mock-style test harness needs (``SparklerExecutorTest.java:48-68`` wires
the same through its mock client).
"""

from __future__ import annotations

import functools
import logging
from collections.abc import Iterable

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

#: FileSystemPrefix.java:5-16 — CLI filesystem-type name → URI scheme.
FS_PREFIXES = {
    "local": "file://",
    "s3": "s3a://",
    # The reference emits "s3://" only for EMR's EMRFS commit path; on
    # OSS Spark/Hadoop the s3a connector is the supported client, so both
    # spellings resolve to s3a here.
    "emrS3": "s3a://",
}


def fs_prefix(fs_type: str) -> str:
    """URI scheme for a reference-style filesystem type name."""
    try:
        return FS_PREFIXES[fs_type]
    except KeyError:
        raise ValueError(
            f"Unsupported file system type, {fs_type!r} "
            f"(expected one of {sorted(FS_PREFIXES)})"
        ) from None


def local_os_path(path: str) -> str | None:
    """OS path for ``path`` if it is on the local filesystem, else None.

    Handles both URI spellings Hadoop produces: ``file:///tmp/out`` AND
    the single-slash ``file:/tmp/out`` form (``Path.toString`` emits the
    latter)."""
    from urllib.parse import urlsplit

    parts = urlsplit(path)
    if parts.scheme == "file":
        if parts.netloc not in ("", "localhost"):
            return None  # remote file://host/ form — go through Hadoop
        return parts.path
    return None if "://" in path else path


def s3a_confs(
    region: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    endpoint: str | None = None,
    path_style_access: bool = False,
) -> dict[str, str]:
    """``spark.hadoop.fs.s3a.*`` entries mirroring ``Sparkler.java:79-87``.

    Apply at session build time (``SparkSession.builder.config``) or onto a
    live session's hadoopConf via :func:`apply_s3a_confs`. ``endpoint`` +
    ``path_style_access`` support localstack/s3mock-style test servers.
    Credentials are optional: absent keys fall back to the s3a default
    provider chain (instance profile / env vars), which is the production
    posture — static keys are for cross-account buckets, as in the
    reference's ``--output-access``/``--output-secret`` flags.
    """
    confs: dict[str, str] = {}
    if region:
        confs["spark.hadoop.fs.s3a.endpoint.region"] = region
    if access_key:
        confs["spark.hadoop.fs.s3a.access.key"] = access_key
    if secret_key:
        confs["spark.hadoop.fs.s3a.secret.key"] = secret_key
    if endpoint:
        confs["spark.hadoop.fs.s3a.endpoint"] = endpoint
    if path_style_access:
        confs["spark.hadoop.fs.s3a.path.style.access"] = "true"
    return confs


def _is_unknown_builder_option(e: Exception) -> bool:
    """True when a createFile() build failed because the store rejected
    the mandatory conditional-create key — the spec-mandated rejection is
    ``IllegalArgumentException("Unknown mandatory key ...")`` (verified
    against Hadoop 3.4.2's local/viewfs builders); an
    UnsupportedOperationException raised AS the top-level exception is
    the other documented spelling.

    Deliberately narrow: a Py4JJavaError's ``str()`` carries the whole
    Java stack trace, so substring-matching the exception-class name or
    the option key against it would misclassify unrelated transient
    failures (e.g. a wrapped cause chain that merely mentions
    UnsupportedOperationException, or a config dump echoing the key)
    and permanently disable the conditional arm for the session. We
    therefore check the TOP-LEVEL exception class via py4j when
    available. A top-level UnsupportedOperationException is accepted
    regardless of message — the call site is already scoped to the
    createFile() builder chain, and connectors are allowed to reject it
    with a bare UOE ("createFile options not supported") that never
    names the key. IllegalArgumentException keeps the key/message check,
    since IAE is also how unrelated bad arguments surface."""
    if "Unknown mandatory key" in str(e):
        return True
    jexc = getattr(e, "java_exception", None)
    if jexc is not None:
        try:
            cls = jexc.getClass().getName()
        except Exception:
            return False
        if cls.endswith(".UnsupportedOperationException"):
            return True
        return cls.endswith(".IllegalArgumentException") and (
            _CONDITIONAL_CREATE_OPT in (jexc.getMessage() or "")
        )
    return False


def apply_s3a_confs(spark: SparkSession, confs: dict[str, str]) -> None:
    """Set ``spark.hadoop.*`` entries onto a LIVE session's Hadoop conf.

    Session-builder configs are ignored after the first session exists;
    the hadoopConfiguration object is the runtime-mutable path."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in confs.items():
        hconf.set(k.removeprefix("spark.hadoop."), v)


def s3a_available(spark: SparkSession) -> bool:
    """True when the s3a connector classes are on the session classpath
    (hadoop-aws + aws sdk jars). Probe, don't import-crash — the local
    test environment ships without them."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.hadoop.fs.s3a.S3AFileSystem"
        )
        return True
    except Exception:
        return False


#: Hadoop 3.4.2+ createFile() builder option (HADOOP-19256): on connectors
#: that implement it (s3a against real S3), exclusivity is enforced by the
#: SERVER — the PUT at close() carries ``If-None-Match: *`` and fails with
#: 412 when any object landed meanwhile — instead of the HEAD-then-PUT
#: check the plain ``create(overwrite=false)`` path degrades to on object
#: stores. Passed via ``must(...)`` so a store that does not understand
#: conditional-create semantics REJECTS the build (the spec-mandated
#: "Unknown mandatory key" IllegalArgumentException) rather than silently
#: running the racy check-then-act.
_CONDITIONAL_CREATE_OPT = "fs.option.create.conditional.overwrite"


@functools.cache
def hadoop_path_class(jvm):
    """``org.apache.hadoop.fs.Path`` of the py4j JVM view ``jvm``, looked
    up once per view: a lookup through the view costs about 2 ms (several
    gateway round trips); constructing from the class object costs about
    0.2 ms."""
    return jvm.org.apache.hadoop.fs.Path


class ConditionalCreateUnsupported(Exception):
    """The path's filesystem rejected the conditional-create builder
    option — the caller must fall back to the plain-create protocol."""


class FsClient:
    """Driver-side filesystem operations through Hadoop's ``FileSystem``.

    Replaces ``S3Actions.java``'s hand-rolled switch: every method resolves
    the filesystem FROM the path's scheme, so local paths, ``file://``
    URIs, and ``s3a://`` URIs take the same code path (plain paths resolve
    against ``fs.defaultFS`` — local in local mode, HDFS on a cluster,
    which is the behavior a Spark user expects).
    """

    def __init__(self, spark: SparkSession):
        self._jvm = spark.sparkContext._jvm
        self._hconf = spark.sparkContext._jsc.hadoopConfiguration()
        self._path_class = hadoop_path_class(self._jvm)
        #: filesystem URI -> whether it accepted _CONDITIONAL_CREATE_OPT
        #: (probed on first exclusive create; a rejection is permanent for
        #: the session, so later commits skip the doomed builder attempt)
        self._cond_create_support: dict[str, bool] = {}

    def _fs_path(self, path: str):
        jpath = self._path_class(path)
        return jpath.getFileSystem(self._hconf), jpath

    def qualify(self, path: str) -> str:
        """``path`` as the URI Spark's writers resolve it to: a scheme-less
        path gains ``fs.defaultFS``'s scheme and authority (``file:/tmp/x``
        in local mode, ``hdfs://nn/x`` on a cluster). Callers that pick
        local OS or executor-side I/O from a path's scheme must qualify it
        first, or a plain path lands on local disks while Spark writes to
        the default filesystem."""
        fs, p = self._fs_path(path)
        return str(fs.makeQualified(p).toString())

    def exists(self, path: str) -> bool:
        fs, p = self._fs_path(path)
        return bool(fs.exists(p))

    def is_dir(self, path: str) -> bool:
        fs, p = self._fs_path(path)
        return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())

    def list_names(self, prefix: str) -> list[str]:
        """Sorted child names directly under ``prefix`` (one level, like
        ``os.listdir``); empty when the prefix does not exist. The s3a
        connector pages ListObjectsV2 internally — the mirror of
        ``S3Actions.listObjects``'s paginator loop."""
        fs, p = self._fs_path(prefix)
        if not fs.exists(p):
            return []
        return sorted(st.getPath().getName() for st in fs.listStatus(p))

    def list_sizes(self, prefix: str) -> list[tuple[str, int]]:
        """``(name, bytes)`` of every child directly under ``prefix``,
        sorted by name, from one ``listStatus`` as :meth:`list_names` makes
        it (a directory's length is 0); empty when the prefix does not
        exist. :meth:`file_sizes` gives the same for files through
        ``listFiles``, which took about three times as long (22 prefixes
        holding 9 files on a local disk, warm: 44 ms against 13 ms)."""
        fs, p = self._fs_path(prefix)
        if not fs.exists(p):
            return []
        return sorted(
            (st.getPath().getName(), int(st.getLen())) for st in fs.listStatus(p)
        )

    def delete(self, path: str) -> bool:
        """Recursive delete, quiet on missing paths — ``S3Actions.
        deletePrefix`` (the connector batches DeleteObjects in 1000-key
        chunks, the same MAX_DELETE_COUNT the reference hand-rolls)."""
        fs, p = self._fs_path(path)
        if not fs.exists(p):
            return False
        return bool(fs.delete(p, True))

    def mkdirs(self, path: str) -> bool:
        fs, p = self._fs_path(path)
        return bool(fs.mkdirs(p))

    def size(self, path: str) -> int:
        """File length in bytes (0 when missing)."""
        fs, p = self._fs_path(path)
        if not fs.exists(p):
            return 0
        return int(fs.getFileStatus(p).getLen())

    def rename(self, src: str, dst: str) -> bool:
        """Directory/file rename — atomic on posix/HDFS; on s3a it is a
        copy+delete (callers needing atomic publish on S3 should write to
        the final location and rely on the committer instead)."""
        fs, p_src = self._fs_path(src)
        _, p_dst = self._fs_path(dst)
        return bool(fs.rename(p_src, p_dst))

    def rename_all(self, pairs: list[tuple[str, str]]) -> None:
        """Rename every ``(src, dst)`` pair in order; raises ``OSError``
        on the first rename the filesystem refuses."""
        for src, dst in pairs:
            if not self.rename(src, dst):
                raise OSError(f"rename refused: {src} -> {dst}")

    def file_sizes(self, path: str, recursive: bool = True) -> dict[str, int]:
        """{path: bytes} for every regular file under ``path``
        (``listFiles`` streams a RemoteIterator; s3a pages the listing
        internally)."""
        fs, p = self._fs_path(path)
        if not fs.exists(p):
            return {}
        out: dict[str, int] = {}
        it = fs.listFiles(p, recursive)
        while it.hasNext():
            st = it.next()
            out[st.getPath().toString()] = int(st.getLen())
        return out

    def read_bytes(self, path: str, limit: int | None = None) -> bytes:
        """Read a (small) file fully — driver-side metadata/sidecar reads,
        the ``S3Actions.openDownloadStream`` analog. Not for data files;
        bulk reads belong on executors via ``spark.read``."""
        fs, p = self._fs_path(path)
        try:
            stream = fs.open(p)
        except Exception:
            # Normalize the connector's missing-file error (a raw py4j
            # java.io.FileNotFoundException) to the Python exception so
            # callers racing a concurrent delete (LogTable.manifest vs
            # vacuum) can catch it cleanly; anything else is a real fault.
            if not fs.exists(p):
                raise FileNotFoundError(path) from None
            raise
        try:
            data = bytes(stream.readAllBytes())  # Java 11+; one py4j hop
            return data if limit is None else data[:limit]
        finally:
            stream.close()

    def write_bytes(self, path: str, data: bytes) -> None:
        """Atomic-enough small-file write (create + close) — used for
        dataset sidecar metadata next to parquet outputs."""
        self.write_chunks(path, [data])

    def write_chunks(self, path: str, chunks: Iterable[bytes]) -> None:
        """Write ``path`` (create, overwriting, + close) from ``chunks``
        in order, one py4j write per chunk, so a large file never has to
        be one Python object."""
        fs, p = self._fs_path(path)
        stream = fs.create(p, True)
        try:
            for chunk in chunks:
                stream.write(bytearray(chunk))
        finally:
            stream.close()

    def create_exclusive(self, path: str, data: bytes) -> bool:
        """Write ``path`` only if it does not already exist; False when the
        create loses (target present). Used by the LogTable manifest commit.

        Exclusivity by scheme, strongest available primitive first:

        - **Local paths**: ``os.open(O_CREAT|O_EXCL)`` — a real kernel-level
          exclusive create, atomic ACROSS PROCESSES. Hadoop's
          ``RawLocalFileSystem.create(overwrite=false)`` is only an
          exists-check-then-create (no O_EXCL underneath), so two separate
          processes — e.g. a scheduled ``table_cli optimize`` racing a
          streaming ingest job — could both pass the check and the loser
          would truncate the winner's manifest (silent lost update).
        - **Remote schemes with conditional-create** (s3a on Hadoop 3.4.2+
          against real S3 — conditional PUT is GA since 2024-11): the
          builder's mandatory ``fs.option.create.conditional.overwrite``
          option makes the server arbitrate via ``If-None-Match: *`` — the
          only true cross-writer exclusive create an object store has
          (:meth:`_conditional_create`).
        - **Remaining remote schemes**: plain ``create(overwrite=false)``
          — atomic on HDFS (namenode-arbitrated), but HEAD-then-PUT on
          object-store connectors without conditional writes: two writers
          can both pass the check and the later PUT silently replaces the
          earlier. On those stores exclusivity is best-effort and the
          LogTable commit's post-commit payload verification
          (``lakehouse._commit``) is the arbiter: every writer re-reads
          the manifest and only the one whose bytes durably landed reports
          success — see the rename-less-store protocol note there.

        Never rename-based: posix ``rename(2)`` SILENTLY REPLACES an
        existing target, so rename cannot provide mutual exclusion."""
        local = local_os_path(path)
        if local is not None:
            import os

            try:
                fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                return False
            with os.fdopen(fd, "wb") as fh:
                fh.write(data)
            return True
        try:
            return self._conditional_create(path, data)
        except ConditionalCreateUnsupported:
            pass
        fs, p = self._fs_path(path)
        try:
            stream = fs.create(p, False)
        except Exception:
            # Only an existing target means "lost the race"; any other
            # failure (permissions, read-only FS, transient fault) must
            # surface as the real error, not a phantom conflict.
            if fs.exists(p):
                return False
            raise
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()
        return True

    def _conditional_create(self, path: str, data: bytes) -> bool:
        """Exclusive create through Hadoop's conditional-create builder
        option (HADOOP-19256, 3.4.2+). Returns False when the condition
        fails — the target existed, or another writer's conditional PUT
        landed first (s3a surfaces the 412 at ``close()``, where the
        actual PUT happens). Raises :class:`ConditionalCreateUnsupported`
        when the connector does not implement the option; the verdict is
        cached per filesystem URI so only the first commit pays the
        rejected-builder round-trip."""
        fs, p = self._fs_path(path)
        key = fs.getUri().toString()
        if self._cond_create_support.get(key) is False:
            raise ConditionalCreateUnsupported(key)
        try:
            stream = (
                fs.createFile(p)
                .overwrite(False)
                # TRUE enables the feature: the s3a client then skips its
                # HEAD probe and issues the close()-time PUT with
                # ``If-None-Match: *`` so the SERVER arbitrates. A False
                # here would be accepted by a connector that knows the
                # key and silently run the racy HEAD-then-PUT path —
                # exactly what this arm exists to avoid.
                .must(_CONDITIONAL_CREATE_OPT, True)
                .build()
            )
        except Exception as e:
            if _is_unknown_builder_option(e):
                # The verdict is cached for the whole session, so make a
                # misclassified rejection observable: a bare top-level UOE
                # raised for an unrelated/transient reason would otherwise
                # silently downgrade every later commit on this FS to the
                # racy non-conditional path.
                _log.warning(
                    "conditional create disabled for %s for this session; "
                    "builder rejection was: %s", key, e,
                )
                self._cond_create_support[key] = False
                raise ConditionalCreateUnsupported(key) from None
            if fs.exists(p):
                return False  # condition checked at build time: lost
            raise
        self._cond_create_support[key] = True
        wrote = False
        try:
            stream.write(bytearray(data))
            wrote = True
        finally:
            try:
                stream.close()  # s3a: the If-None-Match PUT happens here
            except Exception:
                # A close-time failure WITH the target present is the
                # conditional PUT losing (S3 412 PreconditionFailed);
                # anything else is a real fault.
                if wrote and fs.exists(p):
                    return False
                raise
        return True

    def mtime(self, path: str) -> int:
        """Modification time in epoch millis (0 when missing) — the age
        signal vacuum-style retention uses."""
        fs, p = self._fs_path(path)
        if not fs.exists(p):
            return 0
        return int(fs.getFileStatus(p).getModificationTime())

    def file_stats(self, path: str, recursive: bool = True) -> dict[str, tuple[int, int]]:
        """{path: (bytes, mtime_ms)} for every regular file under
        ``path`` — one listing RPC total; the LocatedFileStatus already
        carries the mtime, so callers that need ages (vacuum retention)
        must not re-fetch them per file."""
        fs, p = self._fs_path(path)
        if not fs.exists(p):
            return {}
        out: dict[str, tuple[int, int]] = {}
        it = fs.listFiles(p, recursive)
        while it.hasNext():
            st = it.next()
            out[st.getPath().toString()] = (
                int(st.getLen()),
                int(st.getModificationTime()),
            )
        return out

"""Out-of-engine transfer utilities (the reference's OsPool tool family).

The reference ships three picocli commands used by its OSPool (HTCondor)
workflow: ``http-download`` (``OsPoolHttpDownloader.java:42-95`` — GET one
URL to a local file, status-gated, parent dirs created, stream copy),
``s3-upload`` (``OsPoolS3Uploader.java:59-83`` — walk a local directory and
upload every file to ``bucket/key/<relative-path>`` with multipart via
TransferManager), and the inventory diff (``OsPoolUtils`` — implemented as
the oracled ``wod_list_missing`` query).

Spark-first equivalents:

- :func:`http_download` — stdlib urllib, chunked streaming to a ``.part``
  temp + atomic ``os.replace`` publish (the reference writes in place; a
  crash there leaves a torn file that a re-run silently trusts), bounded
  retries with HTTP ``Range`` resume when the server supports it, and the
  reference's trust-all TLS available behind an explicit ``insecure`` flag
  (its TrustAllStrategy is unconditional).
- :func:`upload_dir` — walks the local tree and copies each file through
  the Hadoop ``FileSystem`` for the destination scheme.  On ``s3a://``
  that is the S3A connector, whose block output stream does multipart +
  parallel part upload natively — the managed-transfer behavior the
  reference gets from TransferManager, with no extra dependency. Relative
  layout is preserved exactly like the reference's
  ``source.relativize(path)`` keying.

Both are DRIVER utilities by design (one URL / one directory per OSPool
task); the cluster-scale ingest path does not stage downloads at all —
``wod_scan`` reads any Hadoop-visible URI directly on executors (see
``plans/convert.py`` module docs).
"""

from __future__ import annotations

import os
import ssl
import time
import urllib.error
import urllib.request

_CHUNK = 1 << 20


def http_download(
    url: str,
    dest: str,
    retries: int = 3,
    timeout: float = 60.0,
    insecure: bool = False,
    backoff: float = 0.5,
) -> int:
    """Download ``url`` to ``dest``; returns the final HTTP status code.

    Mirrors ``OsPoolHttpDownloader`` semantics (2xx → body streamed to the
    file, parent dirs created, status code returned; non-2xx → no file)
    and hardens the failure path: the body streams to ``dest + '.part'``
    and publishes via atomic rename only on success, and a mid-stream
    failure retries up to ``retries`` times, resuming from the partial
    offset with a ``Range`` header when the server honors it (206) and
    restarting from zero otherwise.

    Resume is validator-gated: the first response's ``ETag`` (or
    ``Last-Modified``) is captured and sent back as ``If-Range`` on every
    resume, so a remote object that changed between attempts yields a full
    200 body (restart) instead of splicing mismatched byte ranges; when
    the server offers no validator, resume is disabled and retries restart
    from zero. A 416 ("range not satisfiable") publishes the ``.part``
    only after its size matches a fresh HEAD ``Content-Length`` — a
    shrunken remote object restarts instead of publishing truncated or
    oversized content.
    """
    parent = os.path.dirname(dest)
    if parent:
        os.makedirs(parent, exist_ok=True)
    part = dest + ".part"
    ctx = ssl._create_unverified_context() if insecure else None
    if os.path.exists(part):
        os.remove(part)

    last_exc: Exception | None = None
    validator: str | None = None  # ETag/Last-Modified of the stream in .part
    for attempt in range(retries + 1):
        if attempt:
            time.sleep(backoff * (2 ** (attempt - 1)))
        offset = os.path.getsize(part) if os.path.exists(part) else 0
        if offset and validator is None:
            # No validator → a spliced resume could not be detected;
            # restarting from zero is the only safe continuation.
            os.remove(part)
            offset = 0
        req = urllib.request.Request(url)
        if offset:
            req.add_header("Range", f"bytes={offset}-")
            req.add_header("If-Range", validator)
        try:
            with urllib.request.urlopen(req, timeout=timeout, context=ctx) as resp:
                status = resp.status
                if status == 206 and offset:
                    mode = "ab"  # server resumed where we stopped
                elif 200 <= status < 300:
                    # Full body: fresh download (or If-Range mismatch —
                    # the object changed, so the partial bytes are stale).
                    mode, offset = "wb", 0
                else:  # pragma: no cover - urllib raises for most non-2xx
                    return status
                if mode == "wb":
                    validator = resp.headers.get("ETag") or resp.headers.get(
                        "Last-Modified"
                    )
                expected = resp.headers.get("Content-Length")
                written = 0
                with open(part, mode) as out:
                    while True:
                        chunk = resp.read(_CHUNK)
                        if not chunk:
                            break
                        out.write(chunk)
                        written += len(chunk)
                # A dropped connection surfaces as a clean-looking EOF;
                # trust only a byte count that matches the server's claim.
                if expected is not None and written != int(expected):
                    raise IOError(
                        f"short body: {written}/{expected} bytes from {url}"
                    )
            os.replace(part, dest)
            return 200 if status == 206 else status
        except urllib.error.HTTPError as e:
            # Definite server answer: report it like the reference does
            # (it prints the code and writes nothing). 416 after a
            # completed .part can mean "nothing left to resume" — but only
            # a size check against the live object proves the .part IS the
            # complete body rather than a remnant of a changed/shrunken
            # object; on mismatch restart from zero.
            if e.code == 416 and os.path.exists(part):
                remote_len = _head_content_length(url, timeout, ctx)
                if remote_len is not None and remote_len == os.path.getsize(
                    part
                ):
                    os.replace(part, dest)
                    return 200
                os.remove(part)
                validator = None
                last_exc = e
                if attempt < retries:
                    continue  # restart from zero on the next attempt
                # retries exhausted on a DEFINITE server answer: keep the
                # "non-2xx → return the code" contract (no file written)
                return e.code
            if os.path.exists(part):
                os.remove(part)
            return e.code
        except Exception as e:  # network error mid-stream: retry/resume
            last_exc = e
    if os.path.exists(part):
        os.remove(part)
    raise RuntimeError(
        f"download failed after {retries + 1} attempts: {url}"
    ) from last_exc


def _head_content_length(url: str, timeout: float, ctx) -> int | None:
    """``Content-Length`` from a HEAD request, or None when the request
    fails or the header is absent (callers treat None as unverifiable)."""
    req = urllib.request.Request(url, method="HEAD")
    try:
        with urllib.request.urlopen(req, timeout=timeout, context=ctx) as resp:
            cl = resp.headers.get("Content-Length")
            return None if cl is None else int(cl)
    except Exception:
        return None


def build_list(
    base_url: str,
    out_file: str | None = None,
    timeout: float = 30.0,
    insecure: bool = False,
    max_pages: int = 10_000,
) -> list[str]:
    """Mirror of ``wod-ascii-to-parquet-build-list.sh:16-32``: crawl an
    HTTP autoindex tree under ``base_url`` (the NCEI ``YEARLY/`` listing),
    keep every ``*/OBS/*.gz`` object, and emit deduplicated
    ``year,dataset`` work lines in first-seen order (the script's
    ``awk '!seen[$0]++'``). ``SURF_ALL.gz`` under ``SUR/`` maps to
    ``ALL,SUR`` exactly like the script's special case; other names parse
    as ``<DS>O<YYYY>.gz``.

    The reference shells out to recursive wget and scrapes its log; here
    a bounded breadth-first walk follows only relative child links under
    the base (no parent/absolute/query links), so the crawl cannot escape
    the tree. ``max_pages`` is a hard stop against pathological indexes."""
    import re
    from collections import deque

    ctx = ssl._create_unverified_context() if insecure else None
    base = base_url if base_url.endswith("/") else base_url + "/"
    seen_lines: set[str] = set()
    result: list[str] = []
    queue = deque([base])
    visited: set[str] = set()
    pages = 0
    while queue and pages < max_pages:
        url = queue.popleft()
        if url in visited:
            continue
        visited.add(url)
        pages += 1
        req = urllib.request.Request(url)
        with urllib.request.urlopen(req, timeout=timeout, context=ctx) as resp:
            html = resp.read().decode("utf-8", "replace")
        for href in re.findall(r'href="([^"]+)"', html):
            # autoindex child links are relative; skip sort params,
            # parent dirs, absolute paths and foreign hosts
            if href.startswith(("?", "/", "../")) or "://" in href:
                continue
            full = url + href
            if href.endswith("/"):
                queue.append(full)
            elif href.endswith(".gz") and "/OBS/" in full:
                if "/SUR/" in full:
                    line = "ALL,SUR"
                else:
                    m = re.fullmatch(r"([A-Z]{3})O(\d{4})\.gz", href)
                    if not m:
                        continue
                    line = f"{m.group(2)},{m.group(1)}"
                if line not in seen_lines:
                    seen_lines.add(line)
                    result.append(line)
    if out_file is not None:
        with open(out_file, "w") as fh:
            fh.write("".join(line + "\n" for line in result))
    return result


def upload_dir(spark, source_dir: str, dest_url: str) -> list[str]:
    """Upload every file under ``source_dir`` to ``dest_url`` preserving
    the relative layout (``OsPoolS3Uploader.java:74-83``); returns the
    uploaded destination URIs.

    The copy goes through the Hadoop ``FileSystem`` for ``dest_url``'s
    scheme — for ``s3a://`` the connector's block output stream performs
    multipart/parallel part upload (the TransferManager equivalent);
    ``file://``/``hdfs://`` work identically, which is what the tests
    exercise without a bucket."""
    from .filesystem import FsClient

    fs = FsClient(spark)
    dest_root = dest_url.rstrip("/")
    uploaded: list[str] = []
    for dirpath, _, files in os.walk(source_dir):
        for name in sorted(files):
            local = os.path.join(dirpath, name)
            rel = os.path.relpath(local, source_dir).replace(os.sep, "/")
            target = f"{dest_root}/{rel}"
            tfs, tpath = fs._fs_path(target)
            tfs.copyFromLocalFile(
                False,  # keep the source
                True,  # overwrite
                fs._path_class(local),
                tpath,
            )
            uploaded.append(target)
    return uploaded


def main(argv: list[str] | None = None) -> int:
    """CLI mirroring the reference's picocli commands:

    ``python -m wod_ascii_to_parquet_spark_spark.sources.transfer http-download -url URL -o FILE``
    ``python -m wod_ascii_to_parquet_spark_spark.sources.transfer s3-upload -b URL -d DIR``
    """
    import argparse

    p = argparse.ArgumentParser(prog="wod-transfer")
    sub = p.add_subparsers(dest="cmd", required=True)
    dl = sub.add_parser("http-download", help="HTTP file download operations")
    dl.add_argument("-url", "--url", required=True)
    dl.add_argument("-o", "--output-file", required=True, dest="output_file")
    dl.add_argument("--insecure", action="store_true")
    up = sub.add_parser("s3-upload", help="Upload a directory to a bucket")
    up.add_argument("-b", "--bucket-path", required=True, dest="bucket_path")
    up.add_argument("-d", "--dir", required=True, dest="dir")
    bl = sub.add_parser(
        "build-list", help="Crawl a YEARLY index into a year,dataset list"
    )
    bl.add_argument("-url", "--url", required=True)
    bl.add_argument("-o", "--output-file", required=True, dest="output_file")
    bl.add_argument("--insecure", action="store_true")
    args = p.parse_args(argv)
    if args.cmd == "http-download":
        code = http_download(args.url, args.output_file, insecure=args.insecure)
        print(code)  # the reference prints the status code too
        return 0 if 200 <= code < 300 else 1
    if args.cmd == "build-list":
        lines = build_list(
            args.url, out_file=args.output_file, insecure=args.insecure
        )
        print(len(lines))
        return 0
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[1]").getOrCreate()
    for uri in upload_dir(spark, args.dir, args.bucket_path):
        print(uri)
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())

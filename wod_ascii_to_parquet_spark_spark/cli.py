"""CLI mirroring the reference's picocli surface (``Sparkler.java:33-74``).

Flags map 1:1 where meaningful: ``-ifs``/``-ofs`` filesystem types and the
region/credential flags (``Sparkler.java:60-87``) become ``fs.s3a.*``
session configs + URI-scheme prefixes (``FileSystemPrefix.java:5-16``);
the pipeline itself is scheme-agnostic through Hadoop's FileSystem API
(see ``sources/filesystem.py``). Running against a real bucket needs the
hadoop-aws + AWS SDK jars on the classpath (not bundled here; the CLI
fails fast with a clear message when asked for s3 without them).

Usage, over the WOD fixture tree ``sources.wod_encode.wod_fixtures_dir()``
resolves (the reference's bundled files where present, else a generated
tree of the same paths):
    WOD="$(python -c 'from wod_ascii_to_parquet_spark_spark.sources.wod_encode \
        import wod_fixtures_dir; print(wod_fixtures_dir())')"
    python -m wod_ascii_to_parquet_spark_spark.cli \
        --source "$WOD" --output /tmp/wod_out -d CTD -d XBT -p OBS
"""

from __future__ import annotations

import argparse
import json
import sys

from .plans.convert import DEFAULT_DATASETS, DEFAULT_LEVELS, convert
from .session import get_spark
from .sources.filesystem import (
    apply_s3a_confs,
    fs_prefix,
    s3a_available,
    s3a_confs,
)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="wod-ascii-to-parquet-spark",
        description="Convert WOD ASCII casts to geohash-partitioned parquet.",
    )
    p.add_argument("--source", required=True, help="input root: <src>/<DS>/<LEVEL>/*.gz")
    p.add_argument("--output", required=True, help="output root (yearly/ + error/)")
    p.add_argument(
        "-d", "--dataset", action="append", default=None,
        help=f"dataset code(s); default {','.join(DEFAULT_DATASETS)}",
    )
    p.add_argument(
        "-p", "--processing-level", action="append", default=None,
        help="processing level(s); default OBS",
    )
    p.add_argument(
        "-s", "--subset", action="append", default=None,
        help="explicit file name(s) to process instead of all *.gz",
    )
    p.add_argument("-o", "--overwrite", action="store_true")
    p.add_argument("--max-concurrent", type=int, default=4)
    p.add_argument("--master", default=None, help="spark master (default local[ncpu])")
    # Sparkler.java:60-87 — filesystem types + S3 plumbing.
    p.add_argument(
        "-ifs", "--input-file-system", choices=("local", "s3", "emrS3"),
        default="local", help="scheme for --source when it has none",
    )
    p.add_argument(
        "-ofs", "--output-file-system", choices=("local", "s3", "emrS3"),
        default="local", help="scheme for --output when it has none",
    )
    p.add_argument("--s3-region", default=None, help="fs.s3a.endpoint.region")
    p.add_argument("--s3-access-key", default=None, help="fs.s3a.access.key")
    p.add_argument("--s3-secret-key", default=None, help="fs.s3a.secret.key")
    p.add_argument(
        "--s3-endpoint", default=None,
        help="fs.s3a.endpoint (localstack/s3mock test servers)",
    )
    p.add_argument(
        "--s3-path-style", action="store_true",
        help="fs.s3a.path.style.access=true (required by most mock servers)",
    )
    p.add_argument(
        "--geo-encoding", choices=("point", "wkb"), default="point",
        help="geometry encoding: GeoParquet 1.1 native point (default) or "
        "1.0 WKB for readers that predate native encoding",
    )
    p.add_argument(
        "--compact-target-bytes", type=int, default=None, metavar="BYTES",
        help="after all file jobs publish, consolidate the per-input-file "
        "datasets into one geohash3-partitioned dataset per "
        "(dataset, level) under <output>/compacted/ — one file per cold "
        "geohash3 dir, hot cells split into several ~BYTES-sized "
        "geohash-sorted files via a REBALANCE exchange (OPTIMIZE; "
        "yearly/ and its _SUCCESS resume markers are left untouched)",
    )
    return p


def _with_scheme(path: str, fs_type: str) -> str:
    """Prefix ``path`` with the filesystem type's scheme unless it already
    carries one (``FileSystemPrefix.resolve`` + bucket concatenation)."""
    if "://" in path:
        return path
    prefix = fs_prefix(fs_type)
    if fs_type == "local":
        return path  # plain local paths stay plain (default FS)
    return prefix + path.lstrip("/")


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    spark = get_spark(app_name="wod-convert", master=args.master)
    confs = s3a_confs(
        region=args.s3_region,
        access_key=args.s3_access_key,
        secret_key=args.s3_secret_key,
        endpoint=args.s3_endpoint,
        path_style_access=args.s3_path_style,
    )
    if confs:
        apply_s3a_confs(spark, confs)
    uses_s3 = "s3" in (args.input_file_system, args.output_file_system) or (
        "emrS3" in (args.input_file_system, args.output_file_system)
    )
    if uses_s3 and not s3a_available(spark):
        print(
            "error: s3 filesystem requested but the s3a connector "
            "(hadoop-aws + AWS SDK jars) is not on the Spark classpath",
            file=sys.stderr,
        )
        return 2
    result = convert(
        spark,
        source=_with_scheme(args.source, args.input_file_system),
        output=_with_scheme(args.output, args.output_file_system),
        datasets=tuple(args.dataset or DEFAULT_DATASETS),
        levels=tuple(args.processing_level or DEFAULT_LEVELS),
        subset=tuple(args.subset or ()),
        overwrite=args.overwrite,
        max_concurrent=args.max_concurrent,
        geometry_encoding=args.geo_encoding,
    )
    doc = {
        "converted": result.converted,
        "skipped": result.skipped,
        "failed": result.failed,
    }
    if args.compact_target_bytes is not None:
        from .plans.convert import compact_convert_output

        doc["compacted"] = compact_convert_output(
            spark,
            output=_with_scheme(args.output, args.output_file_system),
            target_bytes=args.compact_target_bytes,
        )
    print(json.dumps(doc))
    return 0


if __name__ == "__main__":
    sys.exit(main())

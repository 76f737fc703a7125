"""Row-identity digest of a convert output tree.

For every dataset under ``<out_root>/yearly/<DS>/<LEVEL>/`` and every error
store under ``<out_root>/error/<DS>/<LEVEL>/``, prints one JSON line with

- ``files``: data files (``part-*.parquet``) and ``dirs``: geohash3 dirs,
- ``rows`` and ``schema``: the row count and schema JSON of a Spark read
  of the dataset (partition columns included),
- ``digest``: a SHA-256 over the sorted per-row SHA-256s of each row's
  full JSON form, nested columns included.

Two trees hold the same rows under the same read-back schema exactly when
every line's ``schema``, ``rows`` and ``digest`` agree; ``files`` and
``dirs`` show layout changes. Compare the output of two revisions with
``diff``.

Usage: python tools/convert_digest.py <out_root>
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def dataset_dirs(fs, out_root: str) -> list[tuple[str, str]]:
    """``(relative name, path)`` of every dataset and error store."""
    found = []
    for kind in ("yearly", "error"):
        base = f"{out_root}/{kind}"
        for ds in fs.list_names(base):
            for lvl in fs.list_names(f"{base}/{ds}"):
                for name in fs.list_names(f"{base}/{ds}/{lvl}"):
                    found.append((f"{kind}/{ds}/{lvl}/{name}", f"{base}/{ds}/{lvl}/{name}"))
    return found


def digest(spark, fs, path: str) -> dict:
    from pyspark.sql import functions as F

    data = [
        p for p in fs.file_sizes(path)
        if p.rsplit("/", 1)[-1].startswith("part-") and p.endswith(".parquet")
    ]
    dirs = {p.rsplit("/", 2)[-2] for p in data if "/geohash3=" in p}
    df = spark.read.parquet(path)
    row_hashes = sorted(
        r[0]
        for r in df.select(
            F.sha2(F.to_json(F.struct(*[F.col(c) for c in df.columns])), 256)
        ).collect()
    )
    return {
        "files": len(data),
        "dirs": len(dirs),
        "rows": len(row_hashes),
        "schema": df.schema.json(),
        "digest": hashlib.sha256("\n".join(row_hashes).encode()).hexdigest(),
    }


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.rsplit("Usage: ", 1)[1].strip(), file=sys.stderr)
        return 2
    from wod_ascii_to_parquet_spark_spark.session import get_spark
    from wod_ascii_to_parquet_spark_spark.sources.filesystem import FsClient

    spark = get_spark(app_name="convert_digest")
    spark.sparkContext.setLogLevel("ERROR")
    fs = FsClient(spark)
    out_root = argv[1].rstrip("/")
    for name, path in dataset_dirs(fs, out_root):
        print(json.dumps({"dataset": name, **digest(spark, fs, path)}, sort_keys=True))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

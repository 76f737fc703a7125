"""One-shot replication of the driver's FULL correctness gate at sf0.01
(the driver's compare SF): run every oracled registered query against
DuckDB with the same row-count / schema / order-insensitive-value /
strict-stringified comparison the suite applies at sf0.001
(tests/oracle_harness.py). The per-round driver samples ~50 queries;
this sweeps all of them at the driver's scale in one sitting (~8 min on
local[16], r14: 258/258 green). The session is ``get_spark``'s default,
``local[SPARK_GRAFT_CPUS]`` (all cores when unset).

Usage: python tools/parity_sf001.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> int:
    from oracle_harness import compare, duck_connection

    from wod_ascii_to_parquet_spark_spark.registry import load_all_operators
    from wod_ascii_to_parquet_spark_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="parity-sf001")
    con = duck_connection(sf)
    qs = load_all_operators()
    bad = 0
    for name, q in qs.items():
        if not q.oracle:
            continue
        try:
            problems = compare(q.fn(spark, sf), con, q.oracle)
        except Exception as e:  # noqa: BLE001 — a crash IS a failure row
            problems = [f"EXC {type(e).__name__}: {e}"]
        if problems:
            bad += 1
            print(f"FAIL {name}: {problems[:2]}", flush=True)
    n = sum(1 for q in qs.values() if q.oracle)
    print(f"DONE oracled={n} failures={bad}", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

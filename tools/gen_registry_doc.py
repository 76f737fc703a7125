"""Autogenerate REGISTRY.md — the one-row-per-query reference for the
registered operator surface (VERDICT r11 #6): 251 queries are otherwise
discoverable only by reading COVERAGE.md prose or the source. Each row:

    name | module:function | oracled? | tags | first docstring sentence

The file is PINNED by tests/test_registry_meta.py (regenerate-and-diff),
so it cannot drift from the registry: registering a query without
re-running this tool fails the suite.

Usage: python tools/gen_registry_doc.py        (writes REGISTRY.md)
"""

from __future__ import annotations

import inspect
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADER = """# REGISTRY — registered operator queries

AUTOGENERATED by `tools/gen_registry_doc.py` — do not edit by hand
(tests/test_registry_meta.py pins this file to the live registry; edit
the operator docstrings/registrations and regenerate).

Every row is one entry in `__spark_entry__.queries()`: callable as
`fn(spark, sf_dir)` over the testdata parquet tables. "oracled" rows
carry an equivalent DuckDB SQL string checked side-by-side by the
driver (row count + schema + value hash); rows-only entries are
non-SQL-expressible by design and carry behavioral tests or oracled
twins instead (see COVERAGE.md for the twin audit table).

| # | query | source | oracled | tags | summary |
|---|-------|--------|---------|------|---------|
"""


def _first_sentence(doc: str, limit: int = 110) -> str:
    """First sentence of a docstring, whitespace-collapsed, pipe-safe."""
    text = " ".join((doc or "").split())
    if not text:
        return ""
    m = re.search(r"(?<=[.!?])\s", text)
    s = text[: m.start()] if m else text
    if len(s) > limit:
        s = s[: limit - 1].rstrip() + "…"
    return s.replace("|", "\\|")


def _source_ref(fn) -> str:
    """``path:function`` — anchored by name, not line, so moving code
    inside a module does not churn this file."""
    target = inspect.unwrap(fn)
    try:
        path = inspect.getsourcefile(target)
    except TypeError:
        return "?"
    if path is None:
        return "?"
    rel = os.path.relpath(path, REPO)
    return f"{rel}:{target.__name__}"


def render() -> str:
    from wod_ascii_to_parquet_spark_spark.registry import load_all_operators

    queries = load_all_operators()
    rows = []
    for i, name in enumerate(sorted(queries), 1):
        q = queries[name]
        rows.append(
            f"| {i} | `{name}` | `{_source_ref(q.fn)}` | "
            f"{'yes' if q.oracle else 'rows-only'} | "
            f"{', '.join(q.tags) if q.tags else '—'} | "
            f"{_first_sentence(q.doc)} |"
        )
    oracled = sum(1 for q in queries.values() if q.oracle)
    footer = (
        f"\nTotals: {len(queries)} queries — {oracled} oracled, "
        f"{len(queries) - oracled} rows-only.\n"
    )
    return HEADER + "\n".join(rows) + "\n" + footer


def main() -> None:
    out = os.path.join(REPO, "REGISTRY.md")
    with open(out, "w") as fh:
        fh.write(render())
    print(f"wrote {out}")


if __name__ == "__main__":
    main()

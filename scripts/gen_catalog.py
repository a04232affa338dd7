"""Regenerate CATALOG.md from the live registry: `python scripts/gen_catalog.py`."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_programming_spark.registry import catalog

HEADER = """# CATALOG — all registered queries

Generated from `big_data_programming_spark/registry.py` (do not edit by hand;
regenerate with `python scripts/gen_catalog.py`). One row per
`queries()` entry: SURVEY.md §2 operator tags, oracle status, and the
module the implementation lives in.

| # | Query | §2 tags | Oracle | Module |
|---|---|---|---|---|
"""


CATALOG_MD = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "CATALOG.md"
)


def render() -> str:
    """CATALOG.md's text for the live catalog, rows in catalog() order."""
    rows = []
    for i, (name, q) in enumerate(catalog().items(), 1):
        mod = q.fn.__module__.rsplit(".", 1)[-1]
        if q.oracle is not None:
            oracle = "✅"
        else:
            oracle = f"➖ rows-only: {q.rows_only_reason}"
        rows.append(f"| {i} | `{name}` | {' '.join(q.tags)} | {oracle} | {mod} |")
    return HEADER + "\n".join(rows) + "\n"


def main() -> None:
    text = render()
    with open(CATALOG_MD, "w") as f:
        f.write(text)
    print(f"wrote {CATALOG_MD}: {len(catalog())} queries")


if __name__ == "__main__":
    main()

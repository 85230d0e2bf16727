"""Regenerate docs/QUERIES.md from the registry (one row per declared
query: oracle status, tags, first line of the operator doc)."""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyconnect_spark.registry import ALL

HEADER = """# Declared query index

Auto-generated from `pyconnect_spark.registry` (`python tools/gen_query_index.py`).
One row per declared operator/query: the driver-checked contract surface.
Order = registry order: the operator modules in `registry.py`'s order,
each in declaration order.

| # | query | oracle | tags | summary |
|---|---|---|---|---|
"""


def main() -> None:
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "QUERIES.md")
    with open(out, "w") as f:
        f.write(HEADER)
        for i, (name, q) in enumerate(ALL.queries().items(), 1):
            first = (q.doc or "").split(". ")[0].split(" — ")[0][:110].replace("|", "\\|")
            f.write(
                f"| {i} | `{name}` | {'yes' if q.oracle else 'rows-only'} | {', '.join(q.tags)} | {first} |\n"
            )
    print(f"wrote {out}")


if __name__ == "__main__":
    main()

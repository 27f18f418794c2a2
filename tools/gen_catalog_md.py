"""Generate CATALOG.md — the per-query index of the benchmark catalog.

One row per registered query: name, family tag (the leading
``[...]`` of its docstring), oracle kind, and a one-line summary.
Regenerate after adding queries:

    python tools/gen_catalog_md.py
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def render() -> str:
    """CATALOG.md's text for the catalog as registered now."""
    from module8_movies_etl_spark.plans import benchmark_queries as bq

    lines = [
        "# Catalog index",
        "",
        f"{len(bq.QUERIES)} queries; {len(bq.ORACLE)} with full DuckDB value",
        "oracles (row count + schema + order-insensitive value hash)"
        + (
            "; the rest are rows-only by necessity (engine-specific RNG)."
            if len(bq.ORACLE) < len(bq.QUERIES)
            else " — every entry, including the engine-RNG sampler, whose"
            " oracle pins distribution bounds instead of rows."
        ),
        "The first",
        "50 entries cover every SURVEY §2 core operator plus one flagship",
        "per §2.13 family (the driver's correctness gate samples a prefix).",
        "Generated by `tools/gen_catalog_md.py` — do not edit by hand.",
        "",
        "| # | query | family | oracle | summary |",
        "|---|---|---|---|---|",
    ]
    for i, (name, fn) in enumerate(bq.QUERIES.items(), 1):
        doc = " ".join((fn.__doc__ or "").split())
        m = re.match(r"\[([^\]]+)\]\s*(.*)", doc)
        family = m.group(1) if m else ""
        rest = m.group(2) if m else doc
        first = rest.split(". ")[0].rstrip(".")
        if len(first) > 140:
            first = first[:137] + "..."
        oracle = "full" if name in bq.ORACLE else "rows-only"
        first = first.replace("|", "\\|")
        family = family.replace("|", "\\|")
        lines.append(f"| {i} | `{name}` | {family} | {oracle} | {first} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    out = os.path.join(ROOT, "CATALOG.md")
    with open(out, "w") as fh:
        fh.write(render())
    print(f"wrote {out}")


if __name__ == "__main__":
    main()

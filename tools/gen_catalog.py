#!/usr/bin/env python
"""Generate CATALOG.md: the full query catalog from the live registry —
name, input tables, verification mode, and the operator's own doc, sorted
by query name so the file depends on the registry alone. Re-run after
adding a query or editing a query's doc; never edit CATALOG.md by hand."""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_lakehouse_spark.registry import all_queries


def main() -> None:
    specs = all_queries()
    n_oracle = sum(1 for s in specs.values() if s.oracle)
    lines = [
        "# Query catalog",
        "",
        f"{len(specs)} registered queries; {n_oracle} oracle-verified "
        "(hash-compared against DuckDB on identical data), "
        f"{len(specs) - n_oracle} rows-only by design (streaming/ANN/HLL "
        "surfaces whose semantics are pinned by behavioral tests instead).",
        "",
        "Generated by tools/gen_catalog.py from the live registry, sorted by "
        "query name. Edit a query's doc where it is registered and re-run "
        "the generator.",
        "",
    ]
    for i, (name, s) in enumerate(sorted(specs.items()), 1):
        mode = "oracle" if s.oracle else "rows-only"
        tables = ", ".join(s.tables) or "—"
        lines.append(f"## {i}. `{name}`   [{mode}] ({tables})")
        lines.append("")
        lines.append(s.doc or "(no doc)")
        lines.append("")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "CATALOG.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}: {len(specs)} queries, {n_oracle} oracle-verified")


if __name__ == "__main__":
    main()

"""Regenerate QUERIES.md from the live registry (run from the repo root:
``python scripts/gen_queries_md.py``). One row per registered query, first
docstring line as the description — keep docstring openers informative."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bookstore_aws_lakehouse_spark.registry import GOLDEN, MODULE, load_all


def _row(name: str) -> str:
    doc = (GOLDEN[name].__doc__ or "").strip().splitlines()
    first = (doc[0].strip() if doc else "").replace("|", "\\|")
    return f"| `{name}` | {MODULE[name]} | {first} |"


_OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md")


def render() -> str:
    """QUERIES.md's content for the live registry."""
    load_all()
    lines = [
        "# QUERIES — every registry entry, its module, and what it proves",
        "",
        f"{len(GOLDEN)} queries, every one paired with a DuckDB `oracle_sql()` twin",
        "(generated by scripts/gen_queries_md.py from the registry docstrings;",
        "see COVERAGE.md for the SURVEY-inventory mapping).",
        "",
        "| query | module | what it proves |",
        "|---|---|---|",
    ]
    for name in sorted(GOLDEN):
        lines.append(_row(name))
    return "\n".join(lines) + "\n"


def main() -> None:
    text = render()
    with open(_OUT, "w") as f:
        f.write(text)
    print(f"wrote {len(GOLDEN)} entries to {_OUT}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Regenerate QUERIES.md — the navigable index of every registered
query: name, SURVEY.md §2 ids, and the registry docstring.  Run from
the repo root; also refreshes the COVERAGE.md survey-id table."""

from __future__ import annotations

import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vectorsearch_scylla_spark.plans.registry import (  # noqa: E402
    REGISTRY,
    spark_queries,
)


def _cell(s: str) -> str:
    """Markdown-table-safe cell: collapse whitespace, escape pipes."""
    return " ".join(s.split()).replace("|", "\\|")


def main() -> None:
    exposure = list(spark_queries())
    lines = [
        "# QUERIES — the registered query surface\n",
        "\nAuto-generated by `tools/generate_query_docs.py`. "
        f"{len(REGISTRY)} queries, every one paired with a DuckDB oracle "
        "(the driver's correctness gate). SURVEY ids map to the §2 "
        "operator inventory; details in `COVERAGE.md`. Rows are in "
        "exposure order: # ≤ 50 are the external driver's 50-row "
        "correctness window, derived from `plans/window_history.json` "
        "(`registry.driver_window`, rotated by `tools/rotate_window.py`); "
        "the rest are verified by the full local parity suite.\n",
        "\n| # | Query | SURVEY ids | What it does |\n|---|---|---|---|\n",
    ]
    for i, name in enumerate(exposure, start=1):
        q = REGISTRY[name]
        lines.append(
            f"| {i} | `{name}` | {_cell(', '.join(q.survey_ids))} "
            f"| {_cell(q.doc)} |\n"
        )
    with open("QUERIES.md", "w") as f:
        f.writelines(lines)

    cov = defaultdict(set)
    for name, q in REGISTRY.items():
        for sid in q.survey_ids:
            cov[sid].add(name)
    head = (
        "# COVERAGE — SURVEY.md §2 operator inventory → registry queries\n\n"
        "Auto-generated from `plans/registry.py` survey_ids. Every query "
        "listed has a\nDuckDB oracle (driver-verified). Non-query coverage "
        "(modules/tests) noted inline.\n\n| SURVEY id | Covered by |\n|---|---|\n"
    )
    rows = "".join(
        f"| {sid} | {', '.join('`%s`' % n for n in sorted(cov[sid]))} |\n"
        for sid in sorted(cov)
    )
    tail = open("COVERAGE.md").read().split(
        "## Covered outside the query registry", 1
    )[1]
    with open("COVERAGE.md", "w") as f:
        f.write(head + rows + "\n## Covered outside the query registry" + tail)
    print(f"QUERIES.md: {len(REGISTRY)} queries; COVERAGE.md: {len(cov)} ids")


if __name__ == "__main__":
    main()

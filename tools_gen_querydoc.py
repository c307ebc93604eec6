#!/usr/bin/env python
"""Regenerate QUERIES.md: one line per registered query (module, name,
first docstring sentence) — the human-readable index of the driver
surface, grouped by module. COVERAGE.md maps SURVEY.md §2 to queries;
this file is the flat inventory."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdata_imgprocessing_spark.queries import ORACLES, QUERIES


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())  # collapses newlines, so ". " suffices
    if ". " in text:
        return text[: text.index(". ") + 1]
    return text[:220]


def render() -> str:
    """QUERIES.md's text for the registry as imported."""
    by_module: dict[str, list[tuple[str, str]]] = {}
    for name, fn in QUERIES.items():
        mod = fn.__module__.rsplit(".", 1)[-1]
        by_module.setdefault(mod, []).append((name, first_sentence(fn.__doc__)))
    lines = [
        "# QUERIES — registered driver-surface inventory",
        "",
        f"{len(QUERIES)} queries, {len(ORACLES)} with DuckDB oracles "
        f"({len(QUERIES) - len(ORACLES)} rows-only). Regenerate: "
        "`python tools_gen_querydoc.py`.",
        "",
    ]
    for mod in sorted(by_module):
        entries = sorted(by_module[mod])
        lines.append(f"## {mod} ({len(entries)})")
        lines.append("")
        for name, doc in entries:
            mark = "" if name in ORACLES else " *(rows-only)*"
            lines.append(f"- **{name}**{mark} — {doc}")
        lines.append("")
    return "\n".join(lines)


def main() -> None:
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "QUERIES.md"), "w") as f:
        f.write(render())
    print(f"wrote QUERIES.md ({len(QUERIES)} queries)")


if __name__ == "__main__":
    main()

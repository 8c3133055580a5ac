"""Generate REGISTRY.md — a one-line-per-query index of the declared
inventory (VERDICT r6 item 8: at 164 queries the registry is the de
facto spec and needs a navigable table of contents).

Derived entirely from the live registry, so it can never drift from
the code: name, defining module, docstring headline (first sentence,
clipped), oracle kind, bench/materializing flags.

Usage:
    python tools/gen_registry.py          # rewrites REGISTRY.md at the repo root
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streams_pipeline_spark.inventory._registry import (  # noqa: E402
    BENCH_QUERIES,
    MATERIALIZING,
    ORACLES,
    QUERIES,
)

HEADLINE_MAX = 110


def headline(fn) -> str:
    doc = (fn.__doc__ or "").strip()
    if not doc:
        return "(no docstring)"
    text = " ".join(doc.split())
    # first sentence, else clip
    m = re.match(r"(.+?\.)\s", text + " ")
    line = m.group(1) if m else text
    if len(line) > HEADLINE_MAX:
        line = line[: HEADLINE_MAX - 1].rstrip() + "…"
    return line.replace("|", "\\|")


def module_of(fn) -> str:
    mod = fn.__module__ or ""
    return mod.removeprefix("kafka_streams_pipeline_spark.")


def render() -> str:
    """The full REGISTRY.md content, derived from the live registry —
    shared by main() and the drift-check pytest (VERDICT r9 item 7:
    checked-in file must equal the generated one every round)."""
    rows = []
    for name, fn in QUERIES.items():
        flags = []
        if name in BENCH_QUERIES:
            flags.append("bench")
        if name in MATERIALIZING:
            flags.append("materializing")
        rows.append(
            (
                name,
                module_of(fn),
                "exact SQL" if name in ORACLES else "rows-only",
                "+".join(flags) or "—",
                headline(fn),
            )
        )
    lines = [
        "# REGISTRY — declared query inventory",
        "",
        f"{len(QUERIES)} queries, {len(ORACLES)} with exact DuckDB "
        "oracles. Auto-generated by `tools/gen_registry.py` from the "
        "live registry — regenerate after adding queries; do not edit "
        "by hand.",
        "",
        "| query | module | oracle | flags | what it does |",
        "|---|---|---|---|---|",
    ]
    for r in sorted(rows):
        lines.append("| " + " | ".join(r) + " |")
    return "\n".join(lines) + "\n"


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(repo, "REGISTRY.md")
    with open(out, "w") as f:
        f.write(render())
    print(f"wrote {out}: {len(QUERIES)} rows")


if __name__ == "__main__":
    main()

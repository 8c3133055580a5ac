"""Compare two run records written to ``.bench_out/``.

    python3 perfbench/compare.py BASE.json NEW.json

Prints every end-to-end metric of each workload both records hold, with
the change from BASE to NEW as a share of BASE. Records taken on
different hosts are refused (exit 2): timings only compare on one
machine.
"""

from __future__ import annotations

import json
import sys

from common import same_host


def compare(base: dict, new: dict) -> list[tuple]:
    """(workload, metric, base value, new value, relative change) for
    every metric both records hold. Raises ValueError across hosts."""
    if not same_host(base["stamp"], new["stamp"]):
        raise ValueError(
            f"records come from different hosts: {base['stamp'].get('host')} "
            f"vs {new['stamp'].get('host')}"
        )
    old = {r["workload"]: r["e2e"] for r in base["results"]}
    rows = []
    for r in new["results"]:
        for k, v in r["e2e"].items():
            b = old.get(r["workload"], {}).get(k)
            if b is not None:
                rows.append((r["workload"], k, b, v, (v - b) / b if b else float("nan")))
    return rows


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    records = []
    for path in argv:
        with open(path) as f:
            records.append(json.load(f))
    try:
        rows = compare(*records)
    except ValueError as e:
        print(f"compare: {e}", file=sys.stderr)
        return 2
    for wl, k, b, v, rel in rows:
        print(f"{wl:<14} {k:<14} {b:14.4f} {v:14.4f} {rel:+8.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

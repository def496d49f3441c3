"""Compare two benchmark reports of one workload.

    python3 perfbench/compare.py BASE.json NEW.json

Reports are the JSON files a run writes under ``.perfbench/reports/``.
Prints each metric of BASE with NEW's value and the ratio NEW/BASE.
Refuses, naming every differing field, when the two host blocks differ
(cpus, Spark, Python or Java version, scale, seed): such numbers are not
comparable.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    reports = []
    for path in argv:
        with open(path) as f:
            reports.append(json.load(f))
    base, new = reports
    try:
        stats.check_comparable(base, new)
    except stats.IncomparableReports as exc:
        print(f"refused: {exc}", file=sys.stderr)
        return 2
    for name, b in base["metrics"].items():
        n = new["metrics"].get(name)
        if n is None:
            continue
        ratio = f"{n['value'] / b['value']:.3f}x" if b["value"] else "n/a"
        print(f"{name}: {b['value']:.6g} -> {n['value']:.6g} {b['unit']} ({ratio})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

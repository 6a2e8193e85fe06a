"""Compare two benchmark records metric by metric.

    python3 perfbench/compare.py BASE.json NEW.json

Each file is a record written by ``run.py --out``. The two records must
come from the same workload, scale factor and core count: numbers from
different core counts do not compare, so the tool refuses them and exits
with code 2.
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def metrics(rec: dict) -> dict[str, dict]:
    return {**rec.get("end_to_end", {}), **rec.get("per_layer", {})}


def compare(base: dict, new: dict) -> list[str]:
    for key in ("cpus", "workload", "sf"):
        if base.get(key) != new.get(key):
            raise ValueError(f"records differ in {key}: {base.get(key)!r} vs {new.get(key)!r}")
    a, b = metrics(base), metrics(new)
    lines = [f"{'metric':32s} {'unit':6s} {'base':>14s} {'new':>14s} {'new/base':>9s}"]
    for name in sorted(set(a) & set(b)):
        va, vb = a[name]["value"], b[name]["value"]
        ratio = f"{vb / va:9.3f}" if va else f"{'-':>9s}"
        lines.append(f"{name:32s} {a[name]['unit']:6s} {va:14.6g} {vb:14.6g} {ratio}")
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    try:
        lines = compare(load(argv[0]), load(argv[1]))
    except ValueError as e:
        print(f"refusing to compare: {e}", file=sys.stderr)
        return 2
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

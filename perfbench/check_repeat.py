"""Compare the per-operation counts of two traced runs made with the same seed.

    python3 perfbench/check_repeat.py <trace-a.json> <trace-b.json>

Prints, per count, how many of the operations both runs completed agree,
and exits 1 if any count that should repeat exactly differs.
"""

from __future__ import annotations

import json
import sys

# counts the benchmark promises repeat exactly for the same seed
EXACT = [
    "build_py4j_calls", "build_jobs", "exec_jobs", "exec_stages", "exec_tasks",
    "call_py4j_calls", "call_jobs", "lookup_jobs", "write_jobs", "rows", "entity_rows",
]


def main(a_path: str, b_path: str) -> int:
    a, b = (json.load(open(p))["ops"] for p in (a_path, b_path))
    n = min(len(a), len(b))
    bad = 0
    for key in EXACT + sorted({k for r in a[:n] for k in r} - set(EXACT)):
        pairs = [(x.get(key), y.get(key)) for x, y in zip(a[:n], b[:n]) if key in x or key in y]
        if not pairs:
            continue
        same = sum(x == y for x, y in pairs)
        exact = key in EXACT
        print(f"{key:24s} {'exact' if exact else 'measured':8s} {same}/{len(pairs)} equal")
        if exact and same != len(pairs):
            bad += 1
            diffs = [(i, x, y) for i, (x, y) in enumerate(pairs) if x != y][:5]
            print(f"    first differences (op, a, b): {diffs}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))

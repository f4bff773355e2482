"""Compare two saved benchmark results.

    python3 perfbench/compare.py .perfbench/results/A.json .perfbench/results/B.json

Prints each metric of A and B and B's change relative to A. Refuses
(exit code 2) when the two were taken on different core counts, Spark
parallelism or driver memory, or on different workloads: such numbers
do not compare.
"""

from __future__ import annotations

import json
import sys

MUST_MATCH = ("cores", "spark_graft_cpus", "driver_mem", "workload", "base", "trace")


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (json.load(open(p)) for p in argv)
    pa, pb = a["provenance"], b["provenance"]
    differ = [k for k in MUST_MATCH if pa.get(k) != pb.get(k)]
    if differ:
        for k in differ:
            print(f"refused: {k} differs: {pa.get(k)!r} vs {pb.get(k)!r}", file=sys.stderr)
        return 2
    for name, (va, unit) in a["metrics"].items():
        vb = b["metrics"].get(name, [None])[0]
        if vb is None:
            print(f"{name:32s} {va:>14.6g} {'missing':>14s} {unit}")
            continue
        change = f"{(vb - va) / va:+.1%}" if va else "n/a"
        print(f"{name:32s} {va:>14.6g} {vb:>14.6g} {unit:8s} {change}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

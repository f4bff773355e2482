"""Self-test of the benchmark on the small base dataset (sf0.001).

    python3 perfbench/selftest.py

Run from the root of a source checkout. For every workload it runs the
benchmark untraced and traced, and checks that the result line carries
every metric ``BENCHMARK.json`` names, each with its unit, and nothing
else. It then runs one workload with its first output deliberately
altered and checks that the output check catches it, so a passing check
is never vacuous. Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from oracle import Oracle  # noqa: E402


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace),
           "--base", "sf0.001", *extra]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    expected = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []
    clean = {}
    for w in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            res = run(w, trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != expected[trace]:
                missing = sorted(set(expected[trace]) - set(got))
                extra = sorted(set(got) - set(expected[trace]))
                wrong = sorted(k for k in got if k in expected[trace] and got[k] != expected[trace][k])
                problems.append(f"{w} trace={trace}: missing {missing}, extra {extra}, wrong unit {wrong}")
            if not all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()):
                problems.append(f"{w} trace={trace}: a metric value is not a number")
            clean[w] = res
            print(f"{w} trace={trace}: {len(got)} metrics, correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}", flush=True)

    # the output check must catch an altered output
    target = next((w for w, r in clean.items() if r["correct"]), None)
    if target is None:
        problems.append("no workload ran correct at sf0.001; corrupted-output check not run")
    else:
        res = run(target, 0, "--corrupt")
        if res["correct"] or res["failed"] != 1:
            problems.append(f"{target}: a corrupted output was not caught ({res['failed']} failed)")
        print(f"{target} --corrupt: correct={res['correct']} failed={res['failed']}")
    # and a 0-row result never passes
    oracle = Oracle.__new__(Oracle)
    oracle.expected = {"q": (["a"], [])}
    if oracle.check("q", ["a"], []) is None:
        problems.append("a 0-row result passed the output check")

    for p in problems:
        print(f"FAIL: {p}", file=sys.stderr)
    print("selftest: " + ("ok" if not problems else f"{len(problems)} problem(s)"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

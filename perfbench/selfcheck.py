"""Fast self-check of the benchmark at sf0.001.

Runs every workload in ``BENCHMARK.json`` for one second, untraced and
traced, on the tiny self-check tables, and fails unless each run is
correct and prints every end-to-end (untraced) or per-layer (traced)
metric of ``BENCHMARK.json`` with its declared unit and nothing else.
It also checks that ``design.json`` says which end-to-end metric each
per-layer metric should move. Takes a few minutes.

Run from the repository root:

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import fnmatch
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "design.json")) as f:
        design = json.load(f)
    problems = []
    patterns = [p for m in design["moves"] for p in m["per_layer"]]
    for m in bench["per_layer"]:
        if not any(fnmatch.fnmatchcase(m["name"], p) for p in patterns):
            problems.append(f"design.json maps no end-to-end metric for {m['name']}")
    for w in bench["workloads"]:
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            tag = f"{w['name']} --trace {trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}: {p.stderr[-500:]}")
                continue
            out = json.loads(p.stdout.strip().splitlines()[-1])
            if not out["correct"] or out["attempted"] < 1:
                problems.append(f"{tag}: correct={out['correct']} attempted={out['attempted']}")
            want = {m["name"]: m["unit"] for m in declared}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"missing or wrong unit {sorted(set(want.items()) - set(got.items()))}, "
                                f"extra {sorted(set(got.items()) - set(want.items()))}")
            print(f"{tag}: {out['attempted']} ops, {len(got)} metrics", flush=True)
    for p in problems:
        print("FAIL", p)
    print("self-check", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

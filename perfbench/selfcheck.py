"""Self-check of the benchmark itself, at a tiny input size.

    python3 perfbench/selfcheck.py [workload ...]

Run from the root of a source checkout.  For every workload (all of them
when none is named) it runs run.py three times:

- --trace 0: the result line must carry every end_to_end metric of
  BENCHMARK.json, by name and unit, and no other;
- --trace 1: the same for every per_layer metric;
- --trace 0 --corrupt-expected: one expected value is made wrong, and the
  run must count at least one failed operation.

A workload not listed in BENCHMARK.json (table_sinks) is checked the same
way.  Runs whose checks fail on the correct expectation are reported, not
hidden; the exit code is 1 when any check above fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, *flags: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--tiny", *flags]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    want = {
        "0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "1": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for w in sys.argv[1:] or list(WORKLOADS):
        for trace in ("0", "1"):
            res = run(w, "--trace", trace)
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{w} trace={trace}: keys {sorted(res)}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{w} trace={trace}: metrics differ: {got} != {want[trace]}")
            if res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: nothing attempted")
            print(f"{w} trace={trace}: correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}", flush=True)
        bad = run(w, "--trace", "0", "--corrupt-expected")
        print(f"{w} corrupt-expected: failed={bad['failed']}/{bad['attempted']}", flush=True)
        if bad["failed"] < 1 or bad["correct"]:
            problems.append(f"{w}: a wrong expected value was not caught")
    for p in problems:
        print("PROBLEM", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Fast self-check of the benchmark: runs every workload of BENCHMARK.json
untraced and traced on tiny inputs (sf0.001 tables, 100-line ingest
batches) and asserts that each run is correct and emits exactly the
metrics BENCHMARK.json names, with their units, as finite numbers.

    python3 perfbench/selfcheck.py          # from the root of a checkout

Takes a few minutes, most of it JVM start-up and the warm passes.
"""
import json
import math
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    bad = 0
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "7",
                                     "--seconds", "1", "--trace", str(trace), "--small"]
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=400)
            lines = p.stdout.strip().splitlines()
            problems = []
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                res = None
                problems.append(f"no result line (exit {p.returncode}): "
                                f"{p.stderr.strip()[-800:]}")
            if res is not None:
                if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                    problems.append(f"result keys {sorted(res)}")
                if not res.get("correct") or res.get("failed") or p.returncode:
                    problems.append(f"run not correct: {lines[:-1][-12:]}")
                got = res.get("metrics", {})
                missing = sorted(set(want[trace]) - set(got))
                extra = sorted(set(got) - set(want[trace]))
                if missing or extra:
                    problems.append(f"missing {missing} extra {extra}")
                for name, unit in want[trace].items():
                    m = got.get(name)
                    if m is None:
                        continue
                    v = m.get("value")
                    if m.get("unit") != unit or not isinstance(v, (int, float)) \
                            or not math.isfinite(v):
                        problems.append(f"{name}: {m} (unit {unit})")
                    elif trace == 0 and v <= 0:
                        problems.append(f"{name} is {v}, end-to-end metrics must be > 0")
            tag = f"{w['name']} trace={trace}"
            if problems:
                bad += 1
                print(f"FAIL {tag}")
                for x in problems:
                    print(f"  {x}")
            else:
                print(f"ok   {tag}: {len(want[trace])} metrics")
            sys.stdout.flush()
    print("self-check " + ("passed" if not bad else f"failed ({bad} runs)"))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

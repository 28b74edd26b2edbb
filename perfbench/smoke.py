#!/usr/bin/env python3
"""Self-test of the benchmark harness on tiny inputs.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json through perfbench/run.py with
`--smoke` (inputs a few percent of the benchmark's size), untraced and
traced, and checks that each result line has exactly the keys `correct`,
`attempted`, `failed` and `metrics`, that the run was correct with no failed
operation, and that its metrics are exactly the end-to-end (untraced) or
per-layer (traced) metrics registered in BENCHMARK.json, each with its
registered unit, and that every registered per-layer metric is measured
by at least one workload (run.py reports a layer a workload never calls
as 0). Exit status 0 means every check held.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    unmeasured = {m["name"] for m in spec["per_layer"]}
    for w in spec["workloads"]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", w["name"], "--seed", "1", "--seconds", "1",
                   "--trace", str(trace), "--smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            where = f"{w['name']} trace {trace}"
            if p.returncode != 0 or not p.stdout.strip():
                problems.append(f"{where}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{where}: result keys {sorted(res)}")
            if res.get("correct") is not True or res.get("failed") != 0 \
                    or res.get("attempted", 0) < 1:
                problems.append(f"{where}: correct={res.get('correct')} "
                                f"attempted={res.get('attempted')} "
                                f"failed={res.get('failed')}")
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
            if got != want:
                problems.append(f"{where}: metrics/units differ: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"unit mismatches "
                                f"{sorted(k for k in got if k in want and got[k] != want[k])}")
            if trace and res.get("correct"):
                record = os.path.join(
                    HERE, "out", f"{w['name']}-seed1-trace1-smoke.json")
                with open(record) as f:
                    unmeasured &= set(json.load(f)["per_layer_not_measured"])
            print(f"{where}: checked {len(got)} metrics", flush=True)
    if unmeasured:
        problems.append(f"per-layer metrics no workload measures: "
                        f"{sorted(unmeasured)}")
    if problems:
        print("\n".join(problems), file=sys.stderr)
        sys.exit(1)
    print("smoke: all workloads emit exactly the registered metrics")


if __name__ == "__main__":
    main()

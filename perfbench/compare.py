#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a base (the parent) and a change.

    python3 perfbench/compare.py <base_dir> <change_dir>

Each directory holds run records as perfbench/run.py writes them
(<workload>-seed<n>-trace<t>.json); copy perfbench/out aside after each set.
For every (workload, end-to-end metric) the tool prints each side's median,
quartiles and run count, and a verdict:

  improved    the change wins at least 9 in 10 seed-paired runs (ties count
              for neither) and the medians differ by more than the base's
              own spread (its interquartile distance);
  worse       the change's median is worse than the base's by more than the
              metric's bound in BENCHMARK.json;
  unresolved  either side's spread is wider than the bound and not every
              change run reads better than every base run;
  no worse    otherwise.

Counters (per-layer metrics with unit `count` or `bytes`, from traced runs,
except the staged-bytes reading) compare exactly, seed by seed: every
increase is flagged, and the tool says whether all counters matched. Per-layer timings are listed for reading only.
Exit status is 1 when a metric is worse or a counter moved the wrong way
(up, for a counter where lower is better).
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTER_UNITS = ("count", "bytes")
# Spark keeps persisted RDDs in a weak-valued registry, so what
# `getRDDStorageInfo` still lists after a cycle depends on when the JVM
# collected the unreferenced ones: a measurement, not an exact counter.
NOT_EXACT = {"spark.staged_bytes_after_cycle"}


def load(d):
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        if not isinstance(r, dict) or "workload" not in r or r.get("smoke"):
            continue
        runs[(r["workload"], int(r["trace"]), r["seed"])] = r
    return runs


def quartiles(xs):
    """Quartiles by the default (exclusive) method, as perfbench.Stats
    computes the record's own."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def verdict(pairs, better, bound):
    """`pairs` holds the (base, change) values of each seed run on both."""
    b = [x for x, _ in pairs]
    c = [y for _, y in pairs]
    bq1, bmed, bq3 = quartiles(b)
    cq1, cmed, cq3 = quartiles(c)
    sign = 1 if better == "higher" else -1

    def gain(x, y):  # how much better y reads than x, signed
        return sign * (y - x)

    wins = sum(1 for x, y in pairs if gain(x, y) > 0)
    all_better = all(gain(x, y) > 0 for x in b for y in c)
    spread = max((bq3 - bq1) / bmed, (cq3 - cq1) / cmed) if bmed and cmed else 0
    if gain(bmed, cmed) > 0 and wins >= 0.9 * len(pairs) and \
            abs(cmed - bmed) > bq3 - bq1:
        return "improved"
    if spread > bound and not all_better:
        return "unresolved"
    if -gain(bmed, cmed) > bound * abs(bmed):
        return "worse"
    return "no worse"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, change = load(sys.argv[1]), load(sys.argv[2])
    bad = False
    fmt = "{:<14} {:<30} {:>12} {:>25} {:>12} {:>25}  {}"
    print(fmt.format("workload", "metric", "base median", "base q1..q3 (n)",
                     "change med", "change q1..q3 (n)", "verdict"))
    for w in [x["name"] for x in spec["workloads"]]:
        seeds = sorted({s for (wl, t, s) in base if wl == w and t == 0} &
                       {s for (wl, t, s) in change if wl == w and t == 0})
        for m in spec["end_to_end"]:
            pairs = [(base[(w, 0, s)]["end_to_end"][m["name"]]["value"],
                      change[(w, 0, s)]["end_to_end"][m["name"]]["value"])
                     for s in seeds
                     if m["name"] in base[(w, 0, s)]["end_to_end"]
                     and m["name"] in change[(w, 0, s)]["end_to_end"]]
            if not pairs:
                print(fmt.format(w, m["name"], "-", "-", "-", "-", "no runs"))
                continue
            b = [x for x, _ in pairs]
            c = [y for _, y in pairs]
            v = verdict(pairs, m["better"], m["bound"])
            bad |= v == "worse"
            bq, cq = quartiles(b), quartiles(c)
            print(fmt.format(
                w, m["name"], f"{bq[1]:.4g}", f"{bq[0]:.4g}..{bq[2]:.4g} ({len(b)})",
                f"{cq[1]:.4g}", f"{cq[0]:.4g}..{cq[2]:.4g} ({len(c)})", v))

    better = {m["name"]: m["better"] for m in spec["per_layer"]}
    diffs, compared = [], 0
    for (w, t, s), rb in sorted(base.items()):
        rc = change.get((w, t, s))
        if t != 1 or rc is None:
            continue
        for name, mb in sorted(rb["per_layer"].items()):
            mc = rc["per_layer"].get(name)
            if mc is None:
                continue
            if mb["unit"] in COUNTER_UNITS and name not in NOT_EXACT:
                compared += 1
                if mc["value"] != mb["value"]:
                    up = mc["value"] > mb["value"]
                    bad |= up == (better.get(name) == "lower")
                    diffs.append(f"  {w} seed {s} {name}: {mb['value']} -> "
                                 f"{mc['value']} {'INCREASED' if up else 'decreased'}")
    print(f"\ncounters compared: {compared}; differing: {len(diffs)}")
    print("\n".join(diffs) if diffs else "all counters match exactly")

    print("\nper-layer timings (median over seeds, traced runs):")
    for w in [x["name"] for x in spec["workloads"]]:
        for m in spec["per_layer"]:
            if m["unit"] != "s":
                continue
            vb = [r["per_layer"][m["name"]]["value"] for (wl, t, _), r in base.items()
                  if wl == w and t == 1 and m["name"] in r["per_layer"]]
            vc = [r["per_layer"][m["name"]]["value"] for (wl, t, _), r in change.items()
                  if wl == w and t == 1 and m["name"] in r["per_layer"]]
            if vb and vc and (any(vb) or any(vc)):
                print(f"  {w:<14} {m['name']:<34} {statistics.median(vb):>9.4f} s"
                      f" -> {statistics.median(vc):>9.4f} s")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

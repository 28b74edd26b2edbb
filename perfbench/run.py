#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness together
with the checkout's library sources (perfbench/build.sbt); later runs reuse
that build until a source file changes. Each run starts one JVM with
local[N], N = the usable cores, and one client thread.

The last line is one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics of BENCHMARK.json with `--trace 0`, its
per-layer metrics with `--trace 1`. The full record (every metric with its
quartiles, host and provenance stamps, output checks, tracing overhead) goes
to perfbench/out/<workload>-seed<n>-trace<t>.json, and a traced run's spans
to the matching .spans.jsonl file.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORK = os.path.join(HERE, "work")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "perfbench.stamp")
HEAP = "3g"
YOUNG = "1g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these when the JVM is not started by spark-submit
# (the same list as the library's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    """Digest of every input of the build: library sources and the harness."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(digest):
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as f:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", "compile", "writeClasspath"],
                cwd=HERE, stdout=f, stderr=subprocess.STDOUT,
                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"build failed (log {log}):\n{tail}")
    with open(STAMP, "w") as f:
        f.write(digest)


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                       capture_output=True, text=True)
    return r.stdout.strip() or None


def run_jvm(args, work, record, spans, log):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed heap and young generation: the JVM's peak RSS then follows
    # what the program keeps live, not the collector's resizing decisions
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--smoke", "1" if args.smoke else "0",
              "--work", work, "--out", record, "--spans", spans])
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no library sources under {ROOT}; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the harness self-test only")
    args = ap.parse_args()

    digest = source_digest()
    build(digest)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}" + \
        ("-smoke" if args.smoke else "")
    os.makedirs(OUT, exist_ok=True)
    record_path = os.path.join(OUT, tag + ".json")
    spans_path = os.path.join(OUT, tag + ".spans.jsonl")
    log_path = os.path.join(OUT, tag + ".log")
    work = os.path.join(WORK, tag)
    shutil.rmtree(work, ignore_errors=True)
    for p in (record_path, spans_path):
        if os.path.exists(p):
            os.remove(p)

    load_start = os.getloadavg()[0]
    nproc = len(os.sched_getaffinity(0))
    rc = run_jvm(args, work, record_path, spans_path, log_path)
    load_end = os.getloadavg()[0]
    if rc != 0 or not os.path.exists(record_path):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        fail(f"run {'timed out' if rc is None else f'exited {rc}'} "
             f"(log {log_path}):\n{tail}")
    shutil.rmtree(work, ignore_errors=True)

    with open(record_path) as f:
        rec = json.load(f)
    with open(log_path) as f:
        errors = [l.rstrip() for l in f if re.search(r"\bERROR\b", l)]
    rec["provenance"] = {
        "git_commit": git_commit(), "source_sha256": digest,
        "nproc": nproc, "heap": HEAP,
        "load_1m_start": load_start, "load_1m_end": load_end,
        "loaded": max(load_start, load_end) > nproc,
        # Spark ERROR log lines are kept for the reader, not counted as
        # failed operations: only the output checks decide correctness
        "spark_error_lines": len(errors), "spark_error_sample": errors[:5],
    }
    # the program reports values by name; the units are the ones
    # BENCHMARK.json registers, and a layer a workload never calls did no
    # work on it, so it reads 0
    for section in ("end_to_end", "per_layer"):
        units = {m["name"]: m["unit"] for m in spec[section]}
        extra = sorted(set(rec[section]) - set(units))
        if extra:
            fail(f"{section} metrics {extra} are not in BENCHMARK.json")
        if section == "per_layer" and rec["per_layer"]:
            rec["per_layer_not_measured"] = sorted(set(units) - set(rec[section]))
            rec[section] = {**{k: 0.0 for k in units}, **rec[section]}
        rec[section] = {k: {"value": v, "unit": units[k]}
                        for k, v in rec[section].items()}
    if args.trace:
        base = os.path.join(OUT, tag.replace("-trace1", "-trace0") + ".json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["end_to_end"]
            rec["tracing_overhead"] = {
                k: v["value"] - untraced[k]["value"]
                for k, v in rec["end_to_end"].items() if k in untraced}

    section = "per_layer" if args.trace else "end_to_end"
    names = [m["name"] for m in spec[section]]
    got = rec[section]
    if rec["correct"] and sorted(got) != sorted(names):
        fail(f"{section} metrics {sorted(got)} differ from BENCHMARK.json "
             f"{sorted(names)}")
    with open(record_path, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    print(json.dumps({
        "correct": rec["correct"], "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: got[k] for k in names if k in got}}))


if __name__ == "__main__":
    main()

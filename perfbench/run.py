#!/usr/bin/env python3
"""graft benchmark: batch router, paced streaming router and an eight-query mix.

One run:
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

builds the program from source (perfbench/build.py), makes the workload's
inputs from the seed, measures for S seconds, checks the outputs, prints one
record line (`{"record": ...}`) and, last, the result line
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones. The
exit code is non-zero when a check failed or an operation threw.

    python3 perfbench/run.py --selftest

runs every workload at a tiny size, traced and untraced, checks that every
named metric is reported with its unit, and checks that a wrong pinned
query result fails the run.

Pinned query results live in perfbench/pins/sf<sf>.json; `--write-pins`
re-pins them from the current program (only when the program's output is
meant to change).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen_tables  # noqa: E402

SIZES = {"full": {"sf": "0.01", "rate": 200000}, "tiny": {"sf": "0.001", "rate": 5000}}
WORKLOADS = {
    "route_batch": {
        "loop": "closed", "clients": 1, "input": "2,000,000 generated messages, cached",
        "why": "all time goes to the routing projection: router-kernel changes show here"},
    "route_stream": {
        "loop": "open", "rate_rows_per_s": SIZES["full"]["rate"], "input": "paced source over the same generator",
        "why": "per-batch coordination outweighs per-row routing: trigger and engine changes show here"},
    "query_mix": {
        "loop": "closed", "clients": 1, "input": "8 SparkEntry queries over 10 tables at sf0.01",
        "why": "builder, Catalyst, table-read and shuffle costs of every operator family"},
}
TABLE_ROUNDS = 3
# A run that has not ended this long after its measured seconds is killed.
JVM_TIMEOUT_S = 150
# Per-layer metrics a workload does not exercise; they read 0 there.
NOT_EXERCISED = {
    "route_batch": ("streaming.", "tables.", "entry.", "exec.tpch.", "exec.events.", "exec.dedup.",
                    "exec.sim.", "exec.text.", "exec.mm.", "exec.route."),
    "route_stream": ("tables.", "entry.", "exec.tpch.", "exec.events.", "exec.dedup.", "exec.sim.",
                     "exec.text.", "exec.mm.", "exec.route.", "router.rows_per_s"),
    "query_mix": ("config.", "router.", "streaming."),
}
JDK_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return spec, units


def build_dir():
    d = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
    os.makedirs(d, exist_ok=True)
    return d


def git_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def make_tables(work, sf):
    """Writes the query_mix tables TABLE_ROUNDS times; returns (dir, median seconds)."""
    times, out = [], None
    for r in range(TABLE_ROUNDS):
        out = os.path.join(work, "tables", f"sf{sf}-r{r}")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.time()
        gen_tables.generate(out, float(sf))
        times.append(time.time() - t0)
    return out, statistics.median(times)


def run_jvm(args, work, classes, digest):
    size = SIZES[args.size]
    cpus = len(os.sched_getaffinity(0))
    pre_setup = 0.0
    data_dir = ""
    if args.workload == "query_mix":
        data_dir, pre_setup = make_tables(work, size["sf"])
    for d in ("tmp", "ckpt"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
        os.makedirs(os.path.join(work, d))
    jars = os.path.join(build.spark_jars(), "*")
    cmd = ["java", "-Xmx4g", "-Xss8m", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, jars]), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cpus", str(cpus), "--work-dir", work,
            "--data-dir", data_dir, "--sf", size["sf"], "--rate", str(size["rate"]),
            "--pins", args.pins or os.path.join(HERE, "pins"), "--size", args.size,
            "--write-pins", "1" if args.write_pins else "0",
            "--pre-setup-s", repr(pre_setup), "--launch-ms", str(int(time.time() * 1000)),
            "--env.git_commit", git_commit(), "--env.source_sha256", digest]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=work,
                              timeout=JVM_TIMEOUT_S + args.seconds)
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"[perfbench] {args.workload} did not finish in {JVM_TIMEOUT_S + args.seconds:.0f} s\n")
        return -1, None, None
    record = result = None
    for line in proc.stdout.splitlines():
        if line.startswith("GRAFTBENCH_RECORD "):
            record = json.loads(line.split(" ", 1)[1])
        elif line.startswith("GRAFTBENCH_RESULT "):
            result = json.loads(line.split(" ", 1)[1])
    return proc.returncode, record, result


def finish(args, code, record, result, units, spec):
    """Checks the metric set, attaches units and prints the two output lines."""
    want = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    got = result["metrics"]
    metrics, missing = {}, []
    for name in want:
        v = got.get(name)
        if v is None and args.trace and name.startswith(NOT_EXERCISED[args.workload]):
            v = 0.0
        if v is None:
            missing.append(name)
        else:
            metrics[name] = {"value": v, "unit": units[name]}
    failed = result["failed"] + len(missing)
    if missing:
        sys.stderr.write(f"[perfbench] metrics not measured: {', '.join(missing)}\n")
    correct = result["correct"] and not missing and code == 0
    print(json.dumps({"record": {"spec": WORKLOADS[args.workload], **record}}))
    print(json.dumps({"correct": correct, "attempted": result["attempted"] + len(missing),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct and failed == 0 else 1


def run_once(args):
    spec, units = load_spec()
    if args.workload not in WORKLOADS:
        sys.exit(f"unknown workload {args.workload}; choose from {', '.join(WORKLOADS)}")
    work = build_dir()
    try:
        classes, digest = build.build(work)
    except build.BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
    code, record, result = run_jvm(args, work, classes, digest)
    if result is None:
        sys.exit(f"[perfbench] {args.workload} produced no result (exit {code})")
    return finish(args, code, record, result, units, spec)


def selftest():
    """Tiny runs of every workload; returns the number of problems found."""
    spec, units = load_spec()
    problems = []
    me = [sys.executable, os.path.abspath(__file__)]

    def run(workload, trace, *extra):
        cmd = me + ["--workload", workload, "--seed", "7", "--seconds", "2", "--trace", str(trace),
                    "--size", "tiny", *extra]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        return proc.returncode, json.loads(lines[-1]) if lines else None

    for workload in WORKLOADS:
        for trace in (0, 1):
            code, res = run(workload, trace)
            names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
            tag = f"{workload} trace={trace}"
            if code != 0 or res is None or not res["correct"]:
                problems.append(f"{tag}: exit {code}, result {res}")
                continue
            for n in names:
                m = res["metrics"].get(n)
                if m is None or m.get("unit") != units[n] or not isinstance(m.get("value"), (int, float)):
                    problems.append(f"{tag}: metric {n} missing or without unit: {m}")
            print(f"[selftest] {tag}: {len(res['metrics'])} metrics, exit {code}", file=sys.stderr)

    bad = os.path.join(build_dir(), "selftest-pins")
    shutil.rmtree(bad, ignore_errors=True)
    os.makedirs(bad)
    pin_file = f"sf{SIZES['tiny']['sf']}.json"
    with open(os.path.join(HERE, "pins", pin_file)) as fh:
        pins = json.load(fh)
    first = sorted(pins)[0]
    pins[first]["rows"] += 1
    with open(os.path.join(bad, pin_file), "w") as fh:
        json.dump(pins, fh)
    code, res = run("query_mix", 0, "--pins", bad)
    if code == 0 or res is None or res["correct"] or res["failed"] < 1:
        problems.append(f"a wrong pin for {first} did not fail the run: exit {code}, result {res}")
    else:
        print(f"[selftest] wrong pin for {first}: exit {code}, failed {res['failed']}", file=sys.stderr)
    for p in problems:
        print(f"[selftest] PROBLEM {p}", file=sys.stderr)
    print(json.dumps({"selftest": "pass" if not problems else "fail", "problems": len(problems)}))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--pins", help="directory of pinned query results (default perfbench/pins)")
    ap.add_argument("--write-pins", action="store_true", help="re-pin query results instead of checking")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        return selftest()
    if not args.workload:
        ap.error("--workload is required")
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())

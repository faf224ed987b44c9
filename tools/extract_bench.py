#!/usr/bin/env python3
"""Extract and validate the graft bench sentinel from a raw sbt log.

Usage:  python3 tools/extract_bench.py [logfile]      (or stdin)

Grammar (emitted by graft.Bench, documented in README §Benchmarks):
    GRAFT_BENCH_JSON <one-line JSON object>
The line may be wrapped by sbt as "[info] GRAFT_BENCH_JSON {...}", so the
sentinel is matched UNANCHORED. The LAST occurrence wins (warmup reruns or
concatenated logs keep only the final result). The payload must parse as
JSON, carry the contract keys and report no failed run (env.n_failed == 0);
on success the bare JSON is printed to stdout (exit 0), otherwise a
diagnostic goes to stderr (exit 1).

The same payload is also written by Bench to $BENCH_OUT (default
bench_out.json, repo root) — if the log tail was truncated, read that file
instead; this script cross-checks it when present.
"""
import json
import sys

SENTINEL = "GRAFT_BENCH_JSON "
REQUIRED_KEYS = ("metric", "value", "unit", "queries", "oracles", "sf",
                 "router_throughput")


def extract(text: str):
    payload = None
    for line in text.splitlines():
        i = line.find(SENTINEL)
        if i >= 0:
            payload = line[i + len(SENTINEL):].strip()
    return payload


def main() -> int:
    text = (open(sys.argv[1], encoding="utf-8", errors="replace").read()
            if len(sys.argv) > 1 else sys.stdin.read())
    payload = extract(text)
    if payload is None:
        print("extract_bench: no GRAFT_BENCH_JSON sentinel in input", file=sys.stderr)
        return 1
    try:
        doc = json.loads(payload)
    except json.JSONDecodeError as e:
        print(f"extract_bench: sentinel payload is not valid JSON: {e}", file=sys.stderr)
        return 1
    missing = [k for k in REQUIRED_KEYS if k not in doc]
    if missing:
        print(f"extract_bench: payload missing keys {missing}", file=sys.stderr)
        return 1
    if not (isinstance(doc["queries"], dict) and doc["queries"]
            and all(isinstance(v, (int, float)) for v in doc["queries"].values())):
        print("extract_bench: 'queries' must be a non-empty name->seconds map",
              file=sys.stderr)
        return 1
    n_failed = doc.get("env", {}).get("n_failed", 0)
    if n_failed > 0:
        print(f"extract_bench: {n_failed} failed run(s) in the sweep (env.n_failed); "
              "failed runs are left out of every timing", file=sys.stderr)
        return 1
    print(json.dumps(doc, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())

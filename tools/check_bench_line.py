#!/usr/bin/env python3
"""Driver-shaped parse check for Bench's one-line JSON (VERDICT r15 #2:
the r14 record failed to parse driver-side and the round lost its whole
PERF table). Run it on the bench stdout (file or '-' for stdin); it
parses the LAST line that starts with '{' exactly like a strict JSON
consumer would and asserts the contract keys.

Usage: python3 tools/check_bench_line.py <bench_stdout_file|->
Exit 0 = parseable + contract keys present; nonzero = broken record.
Negative query values (the failed/killed marker) are a valid record: they
are printed as a NEGATIVE warning and do not change the exit code.
"""
import json
import sys


def main(path):
    text = sys.stdin.read() if path == "-" else open(path, encoding="utf-8").read()
    lines = [l for l in text.splitlines() if l.startswith("{")]
    if not lines:
        print("FAIL: no JSON line found")
        return 1
    try:
        rec = json.loads(lines[-1])
    except json.JSONDecodeError as e:
        print(f"FAIL: last JSON-looking line does not parse: {e}")
        return 1
    missing = [k for k in ("metric", "value", "unit", "queries", "sf") if k not in rec]
    if missing:
        print(f"FAIL: contract keys missing: {missing}")
        return 1
    qs = rec["queries"]
    bad = {k: v for k, v in qs.items() if not isinstance(v, (int, float))}
    if bad:
        print(f"FAIL: non-numeric query entries: {bad}")
        return 1
    neg = sorted(k for k, v in qs.items() if v < 0)
    print(f"OK: value={rec['value']} {rec['unit']}, {len(qs)} queries"
          + (f", NEGATIVE (failed/killed): {neg}" if neg else "")
          + f", sf1={len(rec.get('sf1', {}))}, gc_sec={len(rec.get('gc_sec', {}))}"
          + f", cpu_sec={len(rec.get('cpu_sec', {}))}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 2:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(sys.argv[1]))

#!/usr/bin/env python3
"""Interleaved A/B pairs of perfbench runs in two checkouts.

    python3 tools/ab_pairs.py --a PARENT_DIR --b CHANGE_DIR \\
        --workload ingest_burst --seeds 551-560 [--seconds 16] \\
        [--record write_ack_p50_s --record server_cpu_s_per_request] [--log runs.jsonl]

For each seed it runs `python3 perfbench/run.py --workload W --seed S
--seconds N` once in each checkout, A first on pairs 1, 3, ... and B
first on pairs 2, 4, ..., so drift over the session hits both sides alike. Each
run's `record` line is appended to --log as it finishes. Then, for every
end-to-end metric of A's BENCHMARK.json (and every --record figure), it
prints each side's q1/median/q3 (inclusive quartiles), how many pairs B
won (ties count for neither), the ratio of medians B/A, and whether the
gain rule holds: B wins at least 9/10 of the pairs and its median beats
A's by more than A's interquartile range. For an A/A check, pass two
checkouts of the same commit. The script only reads perfbench's output.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(checkout, workload, seed, seconds):
    """The run's record figures (name -> value), or None when it failed."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds)],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]
    rec = next((l["record"] for l in lines if "record" in l), None)
    last = lines[-1] if lines else {}
    if p.returncode != 0 or rec is None or not last.get("correct"):
        return None
    return {k: v["value"] for k, v in rec.items()
            if isinstance(v, dict) and isinstance(v.get("value"), (int, float))}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs, metrics):
    """One row per metric: each side's quartiles, B's wins, ratio, gain rule."""
    print("%-28s %-6s %-26s %-26s %-7s %-7s %s" % (
        "metric", "better", "A q1/med/q3", "B q1/med/q3", "B wins", "B/A", "gain rule"))
    for name, better in metrics:
        both = [(a[name], b[name]) for a, b in pairs if a and b and name in a and name in b]
        if not both:
            continue
        a, b = [x for x, _ in both], [y for _, y in both]
        sign = 1 if better == "higher" else -1
        wins = sum(1 for x, y in both if sign * (y - x) > 0)
        (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
        holds = wins >= 0.9 * len(both) and sign * (bm - am) > a3 - a1
        print("%-28s %-6s %-26s %-26s %-7s %-7s %s" % (
            name, better, "%.4g/%.4g/%.4g" % (a1, am, a3), "%.4g/%.4g/%.4g" % (b1, bm, b3),
            "%d/%d" % (wins, len(both)), "%.3f" % (bm / am) if am else "-",
            "holds" if holds else "no"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--a", required=True, help="checkout of the parent (the base)")
    ap.add_argument("--b", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", help="e.g. 551-560 or 551,553,560-562")
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--record", action="append", default=[],
                    help="a record figure to summarize as well (lower is better)")
    ap.add_argument("--log", help="append each run's figures to this JSONL file")
    ap.add_argument("--summarize", action="store_true",
                    help="run nothing; summarize the --log file's pairs of --workload")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(args.a, "BENCHMARK.json")))
    metrics = [(m["name"], m["better"]) for m in bench["end_to_end"]]
    metrics += [(r, "lower") for r in args.record]
    if args.summarize:
        runs = {}
        for l in open(args.log):
            r = json.loads(l)
            if r["workload"] == args.workload:
                runs.setdefault(r["seed"], {})[r["side"]] = r["figures"]
        pairs = [(r.get("a"), r.get("b")) for _, r in sorted(runs.items())]
        print("%s, %d pairs from %s" % (args.workload, len(pairs), args.log))
        summarize(pairs, metrics)
        return
    if not args.seeds:
        ap.error("--seeds is required unless --summarize")
    pairs = []
    for i, seed in enumerate(seeds(args.seeds)):
        order = ("a", "b") if i % 2 == 0 else ("b", "a")
        got = {}
        for side in order:
            got[side] = run(getattr(args, side), args.workload, seed, args.seconds)
            shown = got[side] and {n: round(got[side].get(n, float("nan")), 4) for n, _ in metrics}
            print("pair %d seed %d %s: %s" % (i + 1, seed, side.upper(), shown or "FAILED"),
                  flush=True)
            if args.log:
                with open(args.log, "a") as f:
                    f.write(json.dumps({"workload": args.workload, "seed": seed, "pair": i + 1,
                                        "side": side, "first": order[0] == side,
                                        "checkout": getattr(args, side), "figures": got[side]})
                            + "\n")
        pairs.append((got["a"], got["b"]))
    failed = sum(1 for a, b in pairs for r in (a, b) if r is None)
    print("\n%s, %d pairs, %d failed runs, A=%s B=%s" % (
        args.workload, len(pairs), failed, args.a, args.b))
    summarize(pairs, metrics)


if __name__ == "__main__":
    main()

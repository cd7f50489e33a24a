#!/usr/bin/env python3
"""Interleaved A/B of the benchmark between two checkouts.

    python3 scripts/ab.py PARENT_DIR CHANGE_DIR --workload etl_daily --seeds 101-110

Runs `perfbench/run.py` once per seed in each checkout, alternating which
checkout goes first from pair to pair, so slow drift of a shared machine
falls on both sides. Every run must print `"correct": true` and
`"failed": 0`; a run that does not is reported and counted. For each metric
that `BENCHMARK.json` declares for the chosen trace mode, it prints both
sides' median and quartiles, the change of the median, the pairs the change
wins, and whether the median moved by more than the parent's interquartile
range (a gain smaller than the parent's own spread is not evidence). The
raw result lines go to `--out` as JSON lines when given.

It only calls `perfbench/run.py`; it changes nothing in either checkout
except what that runner builds and cleans up.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(checkout, args, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(p.stderr[-2000:])
        return {"correct": False, "failed": None, "metrics": {}}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="write every result line here, as JSON lines")
    args = ap.parse_args()
    dirs = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(dirs["change"], "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]

    results = {"parent": [], "change": []}
    out = open(args.out, "w") if args.out else None
    for i, seed in enumerate(seeds(args.seeds)):
        for side in (("parent", "change") if i % 2 == 0 else ("change", "parent")):
            r = run(dirs[side], args, seed)
            results[side].append(r)
            ok = r.get("correct") is True and r.get("failed") == 0
            print(f"ab: seed {seed} {side}: {'ok' if ok else 'NOT CORRECT'}", file=sys.stderr, flush=True)
            if out:
                out.write(json.dumps({"side": side, "seed": seed, **r}) + "\n")
                out.flush()
    if out:
        out.close()

    bad = {s: sum(1 for r in rs if not (r.get("correct") is True and r.get("failed") == 0))
           for s, rs in results.items()}
    print(f"pairs: {len(results['parent'])}  incorrect runs: parent {bad['parent']}, change {bad['change']}")
    print(f"{'metric':<24} {'parent median [q1, q3]':<30} {'change median [q1, q3]':<30}"
          f" {'change':>8} {'wins':>6} {'> parent IQR':>13}")
    for m in declared:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                 for p, c in zip(results["parent"], results["change"])
                 if name in p.get("metrics", {}) and name in c.get("metrics", {})]
        if not pairs:
            continue
        pq = quartiles(sorted(p for p, _ in pairs))
        cq = quartiles(sorted(c for _, c in pairs))
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        gain = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        rel = (cq[1] - pq[1]) / pq[1] * 100 if pq[1] else float("nan")
        side = "{:.4g} [{:.4g}, {:.4g}]"
        print(f"{name:<24} {side.format(pq[1], pq[0], pq[2]):<30} {side.format(cq[1], cq[0], cq[2]):<30}"
              f" {rel:>+7.1f}% {wins:>3}/{len(pairs):<2} {'yes' if gain > pq[2] - pq[0] else 'no':>13}")
    return 0 if not any(bad.values()) else 1


if __name__ == "__main__":
    sys.exit(main())

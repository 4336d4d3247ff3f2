#!/usr/bin/env python3
"""Alternating A/B pairs of the streaming benchmark between two checkouts.

Usage:

    SPARK_HOME=/opt/spark python3 tools/perfbench_ab.py \\
        --parent ../parent-checkout --change . --pairs 10 --seed 801

For every pair and every workload in the change's BENCHMARK.json, runs the
benchmark command once in each checkout, alternating which side goes first,
with the same seed on both sides (seed, seed + 1, ... per pair). Then prints,
per workload and gated end-to-end metric, the median and interquartile range
of each side, the pairs the change won, and flags:

  WORSE  the change's median is worse than the parent's by more than the
         metric's bound;
  GAIN   the change won at least 9 of 10 pairs and its median beats the
         parent's by more than the parent's interquartile range.

Every run must print `correct: true` with 0 failed; any other run is listed.
The tool only runs the benchmark command: it writes nothing into either
checkout beyond what that command writes, and edits no file. --out writes
the raw runs as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def load_benchmark(root):
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(root, bench, workload, seed, trace):
    cmd = list(bench["command"]) + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=root, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith('{"correct"')]
    if not lines:
        return {"correct": False, "failed": None, "exit": proc.returncode, "metrics": {}}
    result = json.loads(lines[-1])
    result["exit"] = proc.returncode
    result["metrics"] = {k: v["value"] for k, v in result.get("metrics", {}).items()}
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(bench, runs, pairs):
    flagged = False
    for wl in [w["name"] for w in bench["workloads"]]:
        print(f"\n{wl} ({pairs} pairs)")
        print(f"  {'metric':<20} {'parent median [IQR]':>28} {'change median [IQR]':>28} "
              f"{'move':>8} {'won':>6}  flag")
        for m in bench["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            p = [r["metrics"].get(name) for r in runs[wl]["parent"]]
            c = [r["metrics"].get(name) for r in runs[wl]["change"]]
            paired = [(a, b) for a, b in zip(p, c) if a is not None and b is not None]
            if not paired:
                print(f"  {name:<20} no values")
                continue
            pv, cv = [a for a, _ in paired], [b for _, b in paired]
            pm, cm = statistics.median(pv), statistics.median(cv)
            (pq1, pq3), (cq1, cq3) = quartiles(pv), quartiles(cv)
            won = sum(1 for a, b in paired if (b < a if lower else b > a))
            move = (cm - pm) / pm if pm else 0.0
            worse = move > m["bound"] if lower else -move > m["bound"]
            gain = (won >= 0.9 * len(paired) and
                    ((pm - cm) if lower else (cm - pm)) > (pq3 - pq1))
            flag = "WORSE" if worse else ("GAIN" if gain else "")
            flagged |= worse
            pcell, ccell = f"{pm:.5g} [{pq1:.5g}-{pq3:.5g}]", f"{cm:.5g} [{cq1:.5g}-{cq3:.5g}]"
            print(f"  {name:<20} {pcell:>28} {ccell:>28} {move:>+8.1%} {won:>3}/{len(paired):<2}  {flag}")
    return flagged


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--workload", action="append",
                    help="run only this workload (repeatable); default: all")
    ap.add_argument("--out", help="write the raw runs to this JSON file")
    args = ap.parse_args()

    parent, change = os.path.abspath(args.parent), os.path.abspath(args.change)
    bench = load_benchmark(change)
    if load_benchmark(parent) != bench:
        print("perfbench_ab: the two checkouts' BENCHMARK.json differ; using the change's",
              file=sys.stderr)
    if args.workload:
        bench["workloads"] = [w for w in bench["workloads"] if w["name"] in args.workload]
    runs = {w["name"]: {"parent": [], "change": []} for w in bench["workloads"]}
    bad = []
    for i in range(args.pairs):
        seed = args.seed + i
        order = [("parent", parent), ("change", change)]
        if i % 2:
            order.reverse()
        for wl in runs:
            for side, root in order:
                r = run_once(root, bench, wl, seed, args.trace)
                r["seed"] = seed
                runs[wl][side].append(r)
                ok = r["correct"] is True and r["failed"] == 0 and r["exit"] == 0
                if not ok:
                    bad.append((wl, side, seed, r["exit"], r["failed"]))
                print(f"pair {i + 1}/{args.pairs} {wl} {side} seed {seed}: "
                      f"{'ok' if ok else 'NOT CORRECT'}", file=sys.stderr, flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(runs, fh, indent=1)
    flagged = report(bench, runs, args.pairs)
    for wl, side, seed, code, failed in bad:
        print(f"NOT CORRECT: {wl} {side} seed {seed} exit {code} failed {failed}")
    sys.exit(1 if flagged or bad else 0)


if __name__ == "__main__":
    main()

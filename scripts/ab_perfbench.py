#!/usr/bin/env python3
"""Paired parent-vs-change perfbench comparison on two checkouts.

    python3 scripts/ab_perfbench.py PARENT CHANGE --workload W --seeds 101-110 [--seconds S] [--out runs.jsonl]

PARENT and CHANGE are checkout roots (e.g. two `git clone`s, one at the
parent commit). For each seed it runs `python3 perfbench/run.py
--workload W --seed N --seconds S --trace 0` in both, one run at a time,
alternating which checkout goes first. It then prints, per end-to-end
metric of CHANGE's BENCHMARK.json: both medians, the change/parent ratio,
the parent's spread (IQR/median), in how many pairs the change was
better, and pass/fail against the metric's bound. BENCHMARK.json is only
read. Seeds are a comma list and/or ranges (`101-105,201`); S defaults to
the file's run_seconds. Exits 1 when a bound fails or a run is incorrect.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(root, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    result["wall_s"] = round(time.time() - t0, 1)
    result["exit"] = proc.returncode
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out", help="append every run's JSON result to this file")
    a = ap.parse_args()

    spec = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    roots = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    runs = {"parent": [], "change": []}
    for k, seed in enumerate(parse_seeds(a.seeds)):
        order = ["parent", "change"] if k % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run_once(roots[side], a.workload, seed, seconds)
            r.update(side=side, seed=seed, workload=a.workload)
            runs[side].append(r)
            job = r["metrics"].get("job_s", {}).get("value")
            print(f"pair {k + 1} seed {seed} {side}: correct={r['correct']} job_s={job} ({r['wall_s']} s)",
                  file=sys.stderr, flush=True)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps(r) + "\n")

    ok = True
    for side, rs in runs.items():
        bad = [r["seed"] for r in rs if not r["correct"] or r["failed"]]
        print(f"{side}: {len(rs)} runs, {len(rs) - len(bad)} correct" + (f", incorrect seeds {bad}" if bad else ""))
        ok &= not bad
    print(f"{'metric':<16}{'parent':>11}{'change':>11}{'ratio':>8}{'p_iqr/med':>11}{'better':>8}{'bound':>7}  verdict")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                 for p, c in zip(runs["parent"], runs["change"])
                 if name in p["metrics"] and name in c["metrics"]]
        if not pairs:
            print(f"{name:<16} no values")
            ok = False
            continue
        pv, cv = [p for p, _ in pairs], [c for _, c in pairs]
        pm, cm = statistics.median(pv), statistics.median(cv)
        ratio = cm / pm if pm else float("inf")
        q1, q3 = quartiles(pv)
        better = sum((c < p) if lower else (c > p) for p, c in pairs)
        passed = ratio <= 1 + m["bound"] if lower else ratio >= 1 - m["bound"]
        ok &= passed
        print(f"{name:<16}{pm:>11.4g}{cm:>11.4g}{ratio:>8.3f}{(q3 - q1) / pm if pm else 0:>11.3f}"
              f"{better:>5}/{len(pairs):<2}{m['bound']:>7}  {'pass' if passed else 'FAIL'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

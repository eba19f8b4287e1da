#!/usr/bin/env python3
"""Steadiness tool: run the same tree as sets of seeded runs and report,
for every end-to-end metric of every workload, each set's median and
quartiles, the spread (q3 - q1) / median, and whether the sets agree within
the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py [--workload W ...] [--seeds 1-10] [--sets 2]

For every metric, setup_s included, each set's spread must stay within
the bound, and every later set's median must differ from the first set's
by no more than the bound, in either direction; otherwise, or when an
operation failed, the tool exits 1. A spread below a third of the bound is
marked "tight", one above it "loose": the benchmark aims at tight, but on
a shared 4-core host whole runs drift by about 10 %, which keeps the
timing metrics loose (see CHANGES.md). Each run's result line is kept in
.bench_build/perfbench/steady/<workload>.jsonl.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def seeds_of(text):
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def run_once(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def differ(first, later):
    """Relative difference of `later` from `first`, either direction."""
    return abs(later - first) / first


def report(spec, workload, sets):
    ok = True
    print(f"== {workload}")
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        stats = [metrics.spread([r["metrics"][name]["value"] for r in s]) for s in sets]
        cells = "  ".join(f"set{i + 1} med {st[0]:.4g} q1 {st[1]:.4g} q3 {st[2]:.4g} "
                          f"spread {st[3]:.3f}" for i, st in enumerate(stats))
        within = all(st[3] <= bound for st in stats)
        tight = all(st[3] < bound / 3 for st in stats)
        agree = all(differ(stats[0][0], st[0]) <= bound for st in stats[1:])
        ok &= within and agree
        print(f"{name:>14} [{m['unit']}] bound {bound}: {cells}  "
              f"{'within' if within else 'SPREAD'} {'tight' if tight else 'loose'} "
              f"{'agree' if agree else 'DISAGREE'}")
    fails = sum(r["failed"] for s in sets for r in s)
    print(f"{'runs':>14}: {sum(len(s) for s in sets)}, failed operations {fails}")
    return ok and fails == 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=2)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    out_dir = os.path.join(ROOT, ".bench_build", "perfbench", "steady")
    os.makedirs(out_dir, exist_ok=True)
    ok = True
    for w in workloads:
        sets = []
        with open(os.path.join(out_dir, f"{w}.jsonl"), "w") as log:
            for k in range(args.sets):
                runs = []
                for seed in seeds_of(args.seeds):
                    r = run_once(w, seed, spec["run_seconds"])
                    log.write(json.dumps({"set": k + 1, "seed": seed, **r}) + "\n")
                    log.flush()
                    runs.append(r)
                sets.append(runs)
        ok &= report(spec, w, sets)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

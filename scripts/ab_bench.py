#!/usr/bin/env python3
"""Alternated-pair A/B of one perfbench workload between two commits.

Exports the base and the head commit with `git archive` into a temporary
directory outside the repository, then, for each seed, runs

  python3 perfbench/run.py --workload W --seed S --seconds N --trace 0

once in each export, swapping which side runs first on every pair. Each
export builds itself on its first run (run.py builds from the sources in
its checkout). Prints, for every end-to-end metric of BENCHMARK.json, each
side's median and quartiles, the number of pairs each side won (ties count
for neither), the gap between the medians next to the base's interquartile
range, and whether every run printed `correct: true`. Removes the exports
at the end.

An export, unlike a worktree, leaves the repository's .git untouched, and
--head also takes a tree, so a change that is staged but not committed can
be measured:

  git add -A
  python3 scripts/ab_bench.py --base HEAD --head "$(git write-tree)" \\
      --workload batch_light --seeds 41-50

Usage (from the repository root):
  python3 scripts/ab_bench.py --base <commit> --head <commit or tree>
      --workload <name> --seeds <a-b | a,b,c> [--seconds 30]
      [--workdir DIR] [--json FILE]
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time


def log(msg):
    print(f"[ab_bench] {msg}", file=sys.stderr, flush=True)


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def export(rev, dest):
    """Writes the files of `rev` (a commit or a tree) under `dest`."""
    os.makedirs(dest)
    archive = subprocess.run(["git", "archive", rev], check=True, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], input=archive.stdout, check=True)


def run(side, checkout, workload, seed, seconds):
    """One run.py invocation: its parsed result, or a failed record."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    res.update(side=side, seed=seed, exit=p.returncode, wall_s=round(time.time() - t0, 1))
    log(f"{side} seed {seed}: exit {p.returncode}, correct {res['correct']}, " +
        ", ".join(f"{k} {v['value']:.3f}" for k, v in res["metrics"].items()))
    return res


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def report(bench, runs, base, head):
    by = {(r["side"], r["seed"]): r for r in runs}
    pairs = sorted({r["seed"] for r in runs})
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"

        def vals(side):
            return [by[(side, s)]["metrics"][name]["value"] for s in pairs
                    if name in by[(side, s)]["metrics"]]
        b, h = vals("base"), vals("head")
        if not b or not h:
            print(f"{name}: no values")
            continue
        wins = {"base": 0, "head": 0}
        for s in pairs:
            mb = by[("base", s)]["metrics"].get(name)
            mh = by[("head", s)]["metrics"].get(name)
            if mb and mh and mb["value"] != mh["value"]:
                head_better = (mh["value"] < mb["value"]) == lower
                wins["head" if head_better else "base"] += 1
        (bq1, bmed, bq3), (hq1, hmed, hq3) = quartiles(b), quartiles(h)
        print(f"{name} ({m['unit']}, {m['better']} is better), {len(pairs)} pairs:")
        print(f"  base {base}: median {bmed:.3f}  q1 {bq1:.3f}  q3 {bq3:.3f}")
        print(f"  head {head}: median {hmed:.3f}  q1 {hq1:.3f}  q3 {hq3:.3f}")
        print(f"  head/base {hmed / bmed:.3f}; head won {wins['head']}, base won {wins['base']}; "
              f"gap {abs(bmed - hmed):.3f} vs base IQR {bq3 - bq1:.3f}")
    bad = [r for r in runs if not r["correct"] or r["exit"] != 0]
    print(f"correct: true on {len(runs) - len(bad)} of {len(runs)} runs" +
          "".join(f"\n  NOT CORRECT: {r['side']} seed {r['seed']} exit {r['exit']}" for r in bad))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True)
    ap.add_argument("--head", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seeds)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--workdir", help="where the exports go (default: a new temporary dir)")
    ap.add_argument("--json", help="also write every run's result here")
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = args.seconds if args.seconds is not None else bench["run_seconds"]
    root = tempfile.mkdtemp(prefix="ab_bench_", dir=args.workdir)
    checkouts = {"base": os.path.join(root, "base"), "head": os.path.join(root, "head")}
    runs = []
    try:
        for side, rev in (("base", args.base), ("head", args.head)):
            export(rev, checkouts[side])
        for i, seed in enumerate(args.seeds):
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            for side in order:
                runs.append(run(side, checkouts[side], args.workload, seed, seconds))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        if args.json:
            with open(args.json, "w") as f:
                json.dump({"base": args.base, "head": args.head, "workload": args.workload,
                           "seconds": seconds, "runs": runs}, f, indent=1)
    print(f"{args.workload}: base {args.base} vs head {args.head}, --seconds {seconds:g}")
    report(bench, runs, args.base, args.head)
    return 0


if __name__ == "__main__":
    sys.exit(main())

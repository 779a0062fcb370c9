#!/usr/bin/env python3
"""Steadiness evidence for the benchmark: runs every workload with ten
different seeds (trace off), brackets each set with a traced run for the
host calibration and the exact counters, and reports per metric the
median, the quartiles and the spread (Q3 - Q1) / median, next to the bound
in BENCHMARK.json. It then repeats the whole thing and compares the two
medians, as a second independent set of runs of the same code. Writes
results/steadiness.json and results/STEADINESS.md.

Usage (from the repository root):
  python3 perfbench/steadiness.py
"""
import json
import os
import statistics
import subprocess
import sys
import time

# Counters that must read the same in two traced runs of a workload with
# the same seed. Stream micro-batch boundaries follow timing, so there only
# the late-row count is exact.
EXACT = {"batch": ("tables.jobs", "staging.jobs", "build.jobs", "plan.exchanges",
                   "plan.joins", "plan.aggregates", "plan.scans", "exec.jobs",
                   "exec.stages", "exec.tasks", "exec.input_bytes"),
         "stream": ("state.dropped_late_rows",)}
RUNS = 10
SETS = 2
OUT = "perfbench/results/steadiness.json"


def run(workload, seed, seconds, trace, bench):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode not in (0, 1) or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode} without a result")
    res = json.loads(lines[-1])
    if not res["correct"]:
        # Kept in the report (failed_runs), not dropped from it.
        print(f"  FAILED RUN: {' '.join(cmd)}: {res['failed']} failed operations",
              file=sys.stderr, flush=True)
    declared = [(m["name"], m["unit"]) for m in bench["per_layer" if trace else "end_to_end"]]
    if [(k, v["unit"]) for k, v in res["metrics"].items()] != declared:
        raise RuntimeError(f"{' '.join(cmd)}: metrics differ from BENCHMARK.json")
    res["wall_s"] = wall
    return res


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}


def one_set(bench, workload, runs, seed0):
    seconds = bench["run_seconds"]
    names = [m["name"] for m in bench["end_to_end"]]
    before = run(workload, seed0 + 900, seconds, 1, bench)
    samples = []
    for i in range(runs):
        res = run(workload, seed0 + i, seconds, 0, bench)
        samples.append(res)
        print(f"  {workload} seed {seed0 + i}: " + ", ".join(
            f"{n} {res['metrics'][n]['value']:.4f}" for n in names), file=sys.stderr, flush=True)
    after = run(workload, seed0 + 900, seconds, 1, bench)
    metrics = {n: spread([s["metrics"][n]["value"] for s in samples]) for n in names}
    for n in names:
        metrics[n]["values"] = [s["metrics"][n]["value"] for s in samples]
    exact = EXACT["stream" if workload.startswith("stream") else "batch"]
    counters = {n: [before["metrics"][n]["value"], after["metrics"][n]["value"]] for n in exact}
    return {
        "metrics": metrics,
        "host.calib_s": [before["metrics"]["host.calib_s"]["value"],
                         after["metrics"]["host.calib_s"]["value"]],
        "exact_counters": counters,
        "exact_counters_repeat": all(a == b for a, b in counters.values()),
        "failed_runs": sum(not s["correct"] for s in samples + [before, after]),
        "run_wall_s": spread([s["wall_s"] for s in samples]),
        "traced_run_wall_s": [before["wall_s"], after["wall_s"]],
    }


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = [w["name"] for w in bench["workloads"]]
    report = {"host": {"nproc": os.cpu_count()}, "runs_per_set": RUNS, "sets": []}
    for s in range(SETS):
        one = {}
        for w in workloads:
            print(f"set {s + 1}, {w}", file=sys.stderr, flush=True)
            one[w] = one_set(bench, w, RUNS, 1000 * (s + 1))
        report["sets"].append(one)
    verdict = {}
    for w in workloads:
        for n, bound in bounds.items():
            meds = [st[w]["metrics"][n]["median"] for st in report["sets"]]
            spreads = [st[w]["metrics"][n]["spread"] for st in report["sets"]]
            drift = max(meds) / min(meds) - 1
            verdict[f"{w}/{n}"] = {
                "bound": bound, "spreads": spreads, "medians": meds,
                "median_drift": drift,
                "spread_within_third_of_bound": n == "setup_s" or all(x < bound / 3 for x in spreads),
                "drift_within_bound": drift <= bound,
            }
    report["verdict"] = verdict
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(report, f, indent=1)
    with open(os.path.join(os.path.dirname(OUT), "STEADINESS.md"), "w") as f:
        f.write(markdown(report, workloads, bounds))
    for k, v in verdict.items():
        print(f"{k:36s} bound {v['bound']:.2f} spreads " +
              " ".join(f"{x:.4f}" for x in v["spreads"]) +
              f" drift {v['median_drift']:.4f}")


def markdown(report, workloads, bounds):
    """Per workload and metric: each set's median [Q1, Q3] and spread, the
    drift between the set medians, and the host calibration beside them."""
    out = [f"# Steadiness: {report['runs_per_set']} seeds per set, "
           f"{len(report['sets'])} sets, {report['host']['nproc']} vCPUs", ""]
    for w in workloads:
        sets = [st[w] for st in report["sets"]]
        calib = "; ".join(" / ".join(f"{c:.4f}" for c in st["host.calib_s"]) for st in sets)
        out += [f"## {w}", "",
                f"host.calib_s before / after each set: {calib} s. "
                f"Exact counters repeat: {all(st['exact_counters_repeat'] for st in sets)}. "
                f"Runs with a failed output check, per set: "
                f"{', '.join(str(st['failed_runs']) for st in sets)}.", "",
                "| metric | bound | " + " | ".join(
                    f"set {i + 1} median [Q1, Q3] (spread)" for i in range(len(sets)))
                + " | drift |", "|---|---|" + "---|" * len(sets) + "---|"]
        for n, bound in bounds.items():
            v = report["verdict"][f"{w}/{n}"]
            cells = [f"{st['metrics'][n]['median']:.4f} [{st['metrics'][n]['q1']:.4f}, "
                     f"{st['metrics'][n]['q3']:.4f}] ({st['metrics'][n]['spread']:.3f})"
                     for st in sets]
            out.append(f"| {n} | {bound} | " + " | ".join(cells) +
                       f" | {v['median_drift']:.3f} |")
        out.append("")
    return "\n".join(out)


if __name__ == "__main__":
    main()

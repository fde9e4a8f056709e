#!/usr/bin/env python3
"""A/A check: two sets of runs of one commit, compared against the bounds.

Usage, from the root of a checkout:

    python3 perfbench/aa.py                         # 10 runs per set, every workload
    python3 perfbench/aa.py --runs 5 --workloads etl_curate --out aa.json

For each workload it runs set A and set B untraced, interleaved (A1 B1 A2
B2 ...), with the same seeds in both sets (the default seed from
baseline.json, then the next ones) at run_seconds from BENCHMARK.json,
then for every end-to-end metric in BENCHMARK.json reports each side's
median and quartiles, the spread (quartile distance over the median) and
whether the two sides agree: both spreads within the metric's bound
(except setup_s, whose spread is not bounded) and the medians within the
bound of each other. It then makes two traced runs at the default seed
and checks that their scheduler counts (.jobs, .tasks, .shuffle_bytes,
.input_bytes, .output_bytes) repeat exactly, and lists rows_per_s and
step_s_p50 of the default and the held-out seed side by side (the
held-out seed is among the seeds run from --runs 2 on).

Prints a table, then one JSON summary as the last line; exits 0 only if
every workload agrees and every count repeats.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT = (".jobs", ".tasks", ".shuffle_bytes", ".input_bytes", ".output_bytes")


def run(workload, seed, trace):
    """One run.py run at run_seconds from BENCHMARK.json; its result."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: run.py exited {out.returncode}")
    return json.loads(lines[-1])


def summarize(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"),
            "values": values}


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    notes = json.load(open(os.path.join(HERE, "baseline.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(
        w["name"] for w in bench["workloads"]))
    ap.add_argument("--out")
    a = ap.parse_args()
    seed0 = notes["default_seed"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    report, ok = {}, True
    for w in a.workloads.split(","):
        sides = {"A": [], "B": []}
        for i in range(a.runs):
            for side in ("A", "B"):
                r = run(w, seed0 + i, 0)
                ok &= r["correct"] and r["failed"] == 0
                sides[side].append(r)
                print(f"[aa] {w} {side}{i + 1} seed {seed0 + i}: " + ", ".join(
                    f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                    file=sys.stderr, flush=True)
        rows = {}
        for m, bound in bounds.items():
            s = {k: summarize([r["metrics"][m]["value"] for r in v])
                 for k, v in sides.items()}
            gap = abs(s["B"]["median"] - s["A"]["median"]) / s["A"]["median"]
            # setup_s is bounded by its median only, as in the benchmark
            # contract: one set-up per run includes the JVM's warm-up
            within = gap <= bound and (m == "setup_s" or max(
                s["A"]["spread"], s["B"]["spread"]) <= bound)
            ok &= within
            rows[m] = {"A": s["A"], "B": s["B"], "median_gap": gap,
                       "bound": bound, "agree": within}
        t1 = run(w, seed0, 1)["metrics"]
        t2 = run(w, seed0, 1)["metrics"]
        diff = sorted(k for k in t1 if k.endswith(EXACT)
                      and t1[k]["value"] != t2[k]["value"])
        ok &= not diff
        traced = {"counts_repeat": not diff,
                  "differing": {k: [t1[k]["value"], t2[k]["value"]] for k in diff},
                  "first": {k: v["value"] for k, v in t1.items()}}
        runs = sides["A"] + sides["B"]
        report[w] = {"end_to_end": rows, "traced": traced,
                     "failed_ops_frac": sum(r["failed"] for r in runs)
                     / sum(r["attempted"] for r in runs)}

    print(f"{'workload':<14} {'metric':<28} {'A median':>12} {'A spread':>9} "
          f"{'B median':>12} {'B spread':>9} {'gap':>7} {'bound':>6} agree")
    for w, r in report.items():
        for m, row in r["end_to_end"].items():
            print(f"{w:<14} {m:<28} {row['A']['median']:>12.5g} "
                  f"{row['A']['spread']:>9.3f} {row['B']['median']:>12.5g} "
                  f"{row['B']['spread']:>9.3f} {row['median_gap']:>7.3f} "
                  f"{row['bound']:>6.2f} {row['agree']}")
        print(f"{w:<14} traced counts repeat exactly: "
              f"{r['traced']['counts_repeat']} {r['traced']['differing']}")
    # the held-out seed next to the default one, from the A and B sets
    seeds = [notes["default_seed"], notes["held_out_seed"]]
    for w, r in report.items():
        for m in ("rows_per_s", "step_s_p50"):
            row = r["end_to_end"][m]
            cells = []
            for s in seeds:
                i = s - seed0
                if 0 <= i < a.runs:
                    cells.append(f"seed {s}: {row['A']['values'][i]:.5g} / "
                                 f"{row['B']['values'][i]:.5g}")
            if cells:
                print(f"{w:<14} {m:<28} " + "   ".join(cells))
    summary = {"agree": ok, "runs_per_set": a.runs, "workloads": report}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(summary, f, indent=1)
    print(json.dumps({"agree": ok, "workloads": {
        w: {m: row["agree"] for m, row in r["end_to_end"].items()}
        for w, r in report.items()}}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

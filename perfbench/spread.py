#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports each end-to-end
metric's median and quartile spread against its bound in BENCHMARK.json.

    python3 perfbench/spread.py --seeds 1-10 --out perfbench/results/set1
    python3 perfbench/spread.py --seeds 11-20 --out perfbench/results/set2 \\
        --compare perfbench/results/set1

Each run's output, headed by its wall time, is kept as
<out>/<workload>-seed<n>.json (the last line is the result), the table as
<out>/summary.json. The spread of a metric is (Q3 - Q1) / median
over the seeds (statistics.quantiles, n=4); --compare also reports how far
each median moved from the other set's, as a share of that median. The
wall-clock times a run prints are summarised the same way, for reference.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--compare")
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    # seed-major order: a burst of host noise lasting minutes is shared
    # among the workloads instead of landing on consecutive seeds of one
    for s in seeds(a.seeds):
        for w in a.workloads.split(","):
            path = os.path.join(a.out, f"{w}-seed{s}.json")
            if os.path.exists(path):
                continue
            t0 = time.monotonic()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                 "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.exit(f"{w} seed {s} failed:\n{p.stderr[-2000:]}")
            wall = time.monotonic() - t0
            with open(path, "w") as fh:
                fh.write(f"# run_wall_s: {wall:.1f}\n" + p.stdout)
            print(f"{w} seed {s} ({wall:.0f} s): {p.stdout.strip().splitlines()[-1]}",
                  flush=True)

    summary = {}
    ok = True
    for w in a.workloads.split(","):
        texts = [open(os.path.join(a.out, f"{w}-seed{s}.json")).read().strip().splitlines()
                 for s in seeds(a.seeds)]
        runs = [json.loads(t[-1]) for t in texts]
        ok &= all(r["correct"] and r["failed"] == 0 for r in runs)
        # the printed wall-clock times, summarised for reference, not gated
        walls = [dict((m.group(1), float(m.group(2))) for m in
                      (re.match(rf"{w} (\S+) = (\S+) s \(wall clock\)$", x) for x in t) if m)
                 for t in texts]
        for k in walls[0]:
            q1, med, q3 = statistics.quantiles([x[k] for x in walls], n=4)
            summary.setdefault(w, {})[k] = {"median": med, "spread": (q3 - q1) / med,
                                            "values": [x[k] for x in walls]}
            print(f"{w:14s} {k:17s} median {med:10.4f} s   spread {(q3 - q1) / med:.3f}"
                  " (wall clock, not gated)")
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            row = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                   "bound": m["bound"], "values": vals}
            if a.compare:
                prev = json.load(open(os.path.join(a.compare, "summary.json")))
                base = prev[w][m["name"]]["median"]
                row["drift"] = (med - base) / base * (1 if m["better"] == "lower" else -1)
            summary.setdefault(w, {})[m["name"]] = row
            flag = "" if row["spread"] < m["bound"] / 3 else "  SPREAD>bound/3"
            if "drift" in row and row["drift"] > m["bound"]:
                flag += "  DRIFT>bound"
            print(f"{w:14s} {m['name']:17s} median {med:10.4f} {m['unit']:3s} "
                  f"spread {row['spread']:.3f} (bound {m['bound']})"
                  + (f" drift {row['drift']:+.3f}" if "drift" in row else "") + flag)
    with open(os.path.join(a.out, "summary.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
        fh.write("\n")
    if not ok:
        sys.exit("some run reported incorrect output")


if __name__ == "__main__":
    main()

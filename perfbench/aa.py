#!/usr/bin/env python3
"""A/A steadiness report for perfbench.

Runs the benchmark on every workload of BENCHMARK.json with several
seeds, in one or more sets of the same code, and reports for each
end-to-end metric the spread of its values (the distance between the
first and third quartile, as statistics.quantiles(values, n=4) gives
them, as a share of the median) and, between consecutive sets, how far
the second median moved from the first. Run from the root of a
checkout:

    python3 perfbench/aa.py --seeds 10 --sets 2 --out perfbench/aa_report.json

`--seeds 1 --sets 1 --no-trace` runs every workload once and prints
each end-to-end metric by name with its unit.

A failed run, or a spread or median shift above a metric's bound, fails
the report (setup_s is exempt from the spread rule); failed runs are
listed per set and left out of the statistics. One traced run per workload
adds the tracing overhead: the traced end-to-end value against the
untraced median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()


def run(workload, seed, seconds, trace):
    """The run's metrics, or None (with its log tail) when it failed."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    r = json.loads(last)
    if p.returncode != 0 or not r.get("correct"):
        return None, [l for l in p.stderr.splitlines() if "[perfbench]" in l][-3:]
    return r["metrics"], None


def spread(values):
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--no-trace", action="store_true")
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    lower = {m["name"]: m["better"] == "lower" for m in bench["end_to_end"]}
    workloads = [w["name"] for w in bench["workloads"]]
    secs = bench["run_seconds"]
    head = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              stdout=subprocess.PIPE).stdout.strip()
    report = {"started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "commit": head,
              "nproc": os.cpu_count(), "run_seconds": secs, "seeds": a.seeds,
              "sets": a.sets, "workloads": {}}
    ok = True
    for w in workloads:
        sets = []
        for s in range(a.sets):
            # each set uses its own seeds: the check must hold on unseen inputs
            seeds = [1 + s * a.seeds + i for i in range(a.seeds)]
            runs, failures = [], {}
            for seed in seeds:
                t0 = time.time()
                metrics, why = run(w, seed, secs, 0)
                if metrics is None:
                    failures[seed] = why
                    print(f"{w} set {s} seed {seed}: FAILED {why}", file=sys.stderr, flush=True)
                    continue
                runs.append(metrics)
                print(f"{w} set {s} seed {seed}: "
                      + " ".join(f"{k}={v['value']:.3f} {v['unit']}" for k, v in metrics.items())
                      + f" ({time.time() - t0:.0f} s)", file=sys.stderr, flush=True)
            # spreads and medians are over the runs that passed their checks
            sets.append({"seeds": seeds, "failed": failures,
                         "values": {m: [r[m]["value"] for r in runs] for m in bounds}})
        rows = {}
        for m, bound in bounds.items():
            row = {"bound": bound,
                   "median": [statistics.median(st["values"][m]) for st in sets],
                   "spread": [spread(st["values"][m]) for st in sets]}
            # how much worse each set's median is than the previous one's
            row["shift"] = [(row["median"][i + 1] - row["median"][i]) / row["median"][i]
                            * (1 if lower[m] else -1) for i in range(len(sets) - 1)]
            row["ok"] = (all(x <= bound for x in row["shift"]) and
                         (m == "setup_s" or all(x <= bound for x in row["spread"])) and
                         not any(st["failed"] for st in sets))
            ok = ok and row["ok"]
            rows[m] = row
        entry = {"sets": sets, "metrics": rows}
        if not a.no_trace:
            traced, why = run(w, 1, secs, 1)
            traced = {k: v["value"] for k, v in (traced or {}).items()}
            entry["traced"] = traced or {"failed": why}
            entry["tracing_overhead"] = {
                m: traced[f"trace.{m}"] - rows[m]["median"][0]
                for m in bounds if f"trace.{m}" in traced}
        report["workloads"][w] = entry
        for m, row in rows.items():
            print(f"{w:12s} {m:10s} median " + " / ".join(f"{x:.3f}" for x in row["median"])
                  + "  spread " + " / ".join(f"{x:.3f}" for x in row["spread"])
                  + "  shift " + " / ".join(f"{x:+.3f}" for x in row["shift"])
                  + f"  bound {row['bound']}  {'ok' if row['ok'] else 'FAIL'}")
    report["ok"] = ok
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

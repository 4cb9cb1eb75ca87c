#!/usr/bin/env python3
"""perfbench: graft's layered benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload provenance --seed 1 --seconds 20 --trace 0

Builds the repository and the harness (perfbench/harness) once per
source tree, generates the workload's inputs from --seed under
.bench_build/runs/, runs the workload on local[4] in one JVM, checks
its outputs and prints one JSON object as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
The run's full record (environment, checks, spans) is written under
.bench_build/results/. Exit code 0 only when every check passed.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
CORES = min(4, os.cpu_count() or 1)
HEAP = "3g"
# the whole run, build excluded, may take this long plus 2 x --seconds
# (set-up takes 25-40 s on 4 vCPUs, and the last iteration of each
# phase may run past its share of --seconds)
SETUP_ALLOWANCE_S = 120
WORKLOADS = ["provenance", "analytics"]
# per-layer metric prefixes of each workload's own layers; in a traced
# run the other workload's layers read 0, every other metric must be set
OWN_LAYERS = {
    "provenance": ("prov.", "provq.", "filegroup.", "vcs.", "self_s.prov_",
                   "self_s.filegroup", "self_s.vcs"),
    "analytics": ("query.", "store.", "self_s.query", "self_s.store"),
}
# a run is contended when the 1-minute load exceeds this share of the
# cores it uses (graft.Bench.contendedAt's rule)
CONTENDED_SHARE = 0.15
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# input sizes (rows unless named otherwise)
SIZES = {
    # key count of graft.ProvBench's pipeline
    "pairs": 10000, "keys": 1000, "prov_lineitem_sf": 0.002, "sciphy_groups": 8,
    "headline_sf": 0.001,
    "emb_base": 500, "emb_copies": 24, "emb_late": 3000, "docs": 500, "doc_copies": 6,
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def cpu_jiffies():
    """(busy, steal, total) jiffies of all cpus, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2], v[7], sum(v)


def commit():
    """HEAD of the checkout when it is a git work tree, else "unknown"
    (the source stamp still identifies the code)."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    return p.stdout.strip() or "unknown"


def source_stamp():
    """Hash of everything the build reads: repo sources + build files
    and the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties"),
             os.path.join(HARNESS, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile repo + harness with sbt once per source tree; returns the
    run classpath."""
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) and
            os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("no graft sources here: run from the root of a checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            with open(cp_file) as f:
                old_stamp, cp = f.read().split("\n")[:2]
            if old_stamp == stamp:
                return cp
        except (OSError, ValueError):
            pass
        log("building graft and the harness (sbt) ...")
        t0 = time.time()
        p = subprocess.run(["sbt", "-batch", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HARNESS, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           stdin=subprocess.DEVNULL, timeout=840)
        lines = [l for l in p.stdout.splitlines()
                 if l.startswith("/") and ".jar" in l]
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stdout[-4000:])
            fail(f"build failed (exit {p.returncode})")
        cp = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(f"{stamp}\n{cp}\n")
        log(f"built in {time.time() - t0:.0f} s")
        return cp


def generate(workload, seed, inputs):
    rng = np.random.default_rng(seed)
    s = SIZES
    if workload == "provenance":
        sizes = gen.prov_inputs(rng, inputs, s["pairs"], s["keys"], s["prov_lineitem_sf"])
        sizes.update(gen.sciphy_inputs(rng, inputs, s["sciphy_groups"]))
        for f in os.listdir(os.path.join(HERE, "sciphy")):
            shutil.copy(os.path.join(HERE, "sciphy", f), inputs)
        return sizes
    sizes = gen.write_tables(rng, s["headline_sf"], inputs)
    sizes.update(gen.vector_inputs(rng, inputs, s["emb_base"], s["emb_copies"], s["docs"],
                                   s["doc_copies"], s["emb_late"]))
    return sizes


def oracle_check(tables_dir, verify_dir):
    """Compare each headline query's parquet output with its oracle SQL
    in DuckDB over the same generated tables, by the repository's own
    gate (tools/check.py). Returns (queries checked, failure lines)."""
    try:
        p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                            tables_dir, verify_dir], stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           text=True, timeout=30)
    except subprocess.TimeoutExpired:
        return 0, ["tools/check.py took over 30 s"]
    lines = p.stdout.splitlines()
    n = sum(1 for l in lines if l.startswith(("PASS ", "FAIL ")))
    # FAIL lines and check.py's indented detail lines under them
    failed = [l for l in lines if l.startswith(("FAIL ", "  "))]
    if p.returncode != 0 and not failed:
        failed = lines[-5:] or [f"tools/check.py exited {p.returncode}"]
    return n, failed


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    bench = spec()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    tmp = os.path.join(run_dir, "tmp")
    for d in (inputs, work, tmp):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    t_start = time.time()
    deadline = SETUP_ALLOWANCE_S + 2 * a.seconds
    load_start = load1()
    cpu0 = cpu_jiffies()
    try:
        sizes = generate(a.workload, a.seed, inputs)
        gen_s = time.time() - t_start
        cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                "-cp", cp, "graft.perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--inputs", inputs, "--work", work, "--out", out,
                "--cores", str(CORES)])
        t_launch = time.time()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)
        try:
            jout, jerr = proc.communicate(timeout=deadline - (t_launch - t_start))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            fail(f"{a.workload} exceeded {deadline:.0f} s", 3)
        if proc.returncode != 0 or not os.path.exists(out):
            sys.stderr.write(jerr[-6000:])
            fail(f"JVM exited {proc.returncode} without a result", 3)
        with open(out) as f:
            r = json.load(f)
        jvm_errors = [l for l in jerr.splitlines() if "[perfbench]" in l]
        for l in jvm_errors:
            log(l)
        correct = r["ok"] == "true" if isinstance(r["ok"], str) else bool(r["ok"])
        oracle = None
        if a.workload == "analytics":
            n, failed = oracle_check(inputs, os.path.join(work, "verify"))
            oracle = {"checked": n, "failed": failed}
            correct = correct and n > 0 and not failed
            if failed:
                log(f"oracle mismatches: {failed}")
        if r["error"]:
            log(f"workload error: {r['error']}")
        load_end = load1()
        busy, steal, total = (b - a for a, b in zip(cpu0, cpu_jiffies()))
        # input generation start → first timed op
        setup_s = r["first_timed_ms"] / 1000.0 - t_start
        e2e = dict(r["e2e"])
        e2e["setup_s"] = setup_s
        names = [m["name"] for m in bench["end_to_end"]]
        units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
        if a.trace:
            layer = r["layer"]
            names = [m["name"] for m in bench["per_layer"]]
            other = tuple(p for w, ps in OWN_LAYERS.items() if w != a.workload for p in ps)
            vals = {n: layer.get(n, 0.0 if n.startswith(other) else None) for n in names}
        else:
            vals = {n: e2e.get(n) for n in names}
        missing = [n for n, v in vals.items() if v is None]
        if missing:
            log(f"missing metrics: {missing}")
            correct = False
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "correct": correct,
            "source_stamp": source_stamp()[:16],
            "commit": commit(),
            "nproc": os.cpu_count(), "master": f"local[{CORES}]",
            "jvm": {"heap": HEAP, "java": r["java"], "spark": r["spark"], "conf": r["conf"]},
            "load_1m": {"start": load_start, "jvm_start": r["load_start"],
                        "jvm_end": r["load_end"], "end": load_end},
            "contended": max(load_start, load_end) > CONTENDED_SHARE * CORES,
            # shares of all cpus' time over the run: busy (user+nice+system)
            # and stolen by the hypervisor
            "cpu_busy": busy / max(1, total), "cpu_steal": steal / max(1, total),
            "inputs": sizes, "gen_s": gen_s, "setup_s": setup_s,
            "run_s": r["run_s"], "peak_rss_mb": r["peak_rss_mb"],
            "e2e": e2e, "layer": r["layer"], "ops": r["ops"], "checks": r["checks"],
            "oracle": oracle, "info": r["info"], "spans": r["spans"],
            "attempted": r["attempted"], "failed": r["failed"],
        }
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        with open(os.path.join(BUILD, "results",
                               f"{a.workload}-{a.seed}-t{a.trace}-{int(t_start)}.json"), "w") as f:
            json.dump(record, f, indent=1)
        summary = {k: record[k] for k in ("workload", "seed", "contended", "load_1m",
                                          "inputs", "checks", "oracle", "info")}
        log("record " + json.dumps(summary))
        result = {"correct": correct, "attempted": int(r["attempted"]),
                  "failed": int(r["failed"]),
                  "metrics": ({n: {"value": v, "unit": units[n]} for n, v in vals.items()}
                              if correct else {})}
        print(json.dumps(result))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

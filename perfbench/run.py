#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

Usage (from the repository root):
  python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

Builds the engine and the harness (perfbench/build.py), generates the
workload's inputs from the seed, runs them in one local[nproc] Spark
JVM, checks every answer, and prints one JSON line last:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics; with --trace 1
they are the per-layer metrics, and the trace file and its per-layer
summary are written next to the full result under .bench_build/results.
Exits non-zero, naming the failed op or check, if any answer is wrong.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics as M  # noqa: E402

ROOT = build.ROOT
RESULTS = os.path.join(build.BUILD, "results")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"


def nproc():
    return len(os.sched_getaffinity(0))


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or None


def run_jvm(classes, jars, args, work, log_path):
    cmd = ["java", f"-Xmx{HEAP}", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{os.path.join(jars, '*')}", "graft.bench.Main"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            return proc.wait(timeout=170)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=M.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fail-op", type=int, default=-1,
                    help="make op N read a missing store (the benchmark's own failure check)")
    a = ap.parse_args()

    classes, jars, stamp = build.build()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(build.BUILD, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(RESULTS, exist_ok=True)
    out = os.path.join(RESULTS, f"{tag}.json")
    log = os.path.join(RESULTS, f"{tag}.log")
    try:
        for f in (out, out.replace(".json", ".trace.json"), out.replace(".json", ".summary.json")):
            if os.path.exists(f):
                os.remove(f)
        code = run_jvm(classes, jars, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out,
            "--fail-op", str(a.fail_op), "--cores", str(nproc())], work, log)
        if not os.path.exists(out):
            sys.stderr.write(open(log).read()[-5000:])
            raise SystemExit(f"benchmark JVM exited with code {code} and wrote no result")
        res = json.load(open(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["conditions"].update({"source_stamp": stamp, "git_commit": git_commit(),
                              "heap": HEAP, "python": sys.version.split()[0]})
    with open(out, "w") as fh:
        json.dump(res, fh, indent=1)
    for f in res["failures"]:
        sys.stderr.write(f"FAIL {f}\n")
    metrics, missing = M.line_metrics(a.workload, a.trace, res)
    if missing and res["correct"]:
        raise SystemExit(f"result lacks metrics {missing}")
    line = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}
    sys.stderr.write(f"result: {out}\n")
    print(json.dumps(line))
    sys.exit(0 if res["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()

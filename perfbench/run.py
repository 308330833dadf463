#!/usr/bin/env python3
"""Run one perfbench workload and print its result.

    python3 perfbench/run.py --workload replay_wide --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest      # the benchmark's own helper tests

Builds the engine and the benchmark from source when needed (build.py),
starts one JVM that drives the engine at local[<= 4]
(perfbench.Main), and prints two lines on stdout: a detail line with
provenance, sample counts and percentiles, and, last, the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric (--trace 0) or every per-layer metric
(--trace 1). The exit code is 0 only when every output check passed.
Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing in the package directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("replay_wide", "read_while_write")
HEAP = "2g"
# the whole run (build excluded) must end well inside the 180 s limit
JVM_TIMEOUT_S = 165

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_commit():
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() or None


def jvm(cp, main, args, work, log_path, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True, cwd=work)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    try:
        cp, source_hash = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(build.OUT, "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = os.path.join(build.OUT, "work", f"{name}.log")
    try:
        if a.selftest:
            spec = os.path.join(build.ROOT, "BENCHMARK.json")
            rc = jvm(cp, "perfbench.SelfTest",
                     [spec] if os.path.exists(spec) else [], work, log_path,
                     120)
            print(tail(log_path, 200), end="")
            return 0 if rc == 0 else 1
        out = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--out", out, "--heap", HEAP]
        t0 = time.monotonic()
        rc = jvm(cp, "perfbench.Main", args, work, log_path, JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(out):
            why = "timed out" if rc is None else f"exited with {rc}"
            print(f"perfbench: JVM {why} after "
                  f"{time.monotonic() - t0:.0f} s; log tail:\n"
                  + tail(log_path), file=sys.stderr)
            return 1
        with open(out) as fh:
            res = json.load(fh)
        res["detail"]["provenance"].update(
            {"git_commit": git_commit(), "source_hash": source_hash,
             "python_nproc": os.cpu_count()})
        print(json.dumps({"workload": a.workload, "seed": a.seed,
                          "trace": a.trace, "detail": res["detail"]}))
        line = {k: res[k] for k in ("correct", "attempted", "failed",
                                     "metrics")}
        print(json.dumps(line))
        if not res["correct"]:
            print("perfbench: output check failed:\n  "
                  + "\n  ".join(res["detail"].get("problems", [])),
                  file=sys.stderr)
            return 1
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the repository root. Builds the program and the benchmark from
source (see build.py), runs the workload in one JVM with Spark
`local[nproc]`, and prints the JVM's stdout once it has exited cleanly; its
last line is the result object. Every file the run writes lives under the
build directory (`$CARGO_TARGET_DIR`, else `.bench_build`): the per-run
scratch directory is deleted on exit, and a traced run keeps its spans in
`traces/<workload>-seed<N>.json`. Exits non-zero, printing no result, if
the build, the run or its output fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("fraud_pipeline", "geoscan_dense", "serve_stream")
RUN_LIMIT_S = 175
FIRST_BUILD_LIMIT_S = 890


def jvm(jar, scratch, main, args, timeout):
    """Run a main class; return (exit code, stdout). Kills the whole
    process group on timeout or when this process is stopped, and waits
    for it."""
    cmd = build.java_cmd(jar, scratch, main, args, build.cds_flag(build.build_dir()))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=scratch,
                            start_new_session=True)

    def stop(signum, frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        print(f"run.py: the run exceeded {timeout:.0f} s and was stopped", file=sys.stderr)
        return 124, ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def valid_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1
            and isinstance(r["failed"], int) and isinstance(r["metrics"], dict))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--selftest", action="store_true",
                    help="run the generator and checker tests instead of a workload")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    start = time.monotonic()
    out_dir = build.build_dir()
    stamp_existed = os.path.exists(os.path.join(out_dir, "classes.stamp"))
    try:
        jar = build.build(out_dir)
    except (build.BuildError, subprocess.TimeoutExpired, OSError) as e:
        print(f"run.py: build failed: {e}", file=sys.stderr)
        return 2
    limit = RUN_LIMIT_S if stamp_existed else FIRST_BUILD_LIMIT_S
    remaining = limit - (time.monotonic() - start)

    name = "selftest" if a.selftest else a.workload
    scratch = os.path.join(out_dir, "scratch", f"{name}-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    try:
        if a.selftest:
            code, out = jvm(jar, scratch, "perfbench.SelfTest", [scratch], remaining)
            sys.stdout.write(out)
            return code
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", repr(a.seconds),
                "--trace", str(a.trace), "--scratch", scratch]
        if a.trace:
            args += ["--trace-out", os.path.join(out_dir, "traces", f"{a.workload}-seed{a.seed}.json")]
        code, out = jvm(jar, scratch, "perfbench.Main", args, remaining)
        lines = out.rstrip("\n").split("\n")
        if code != 0 or not valid_result(lines[-1]):
            sys.stderr.write(out)
            print(f"run.py: the run failed (exit {code}) or printed no result", file=sys.stderr)
            return code or 1
        sys.stdout.write(out)
        sys.stdout.flush()
        return 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Steadiness check: run one workload N times with distinct seeds and
report every metric's median, quartiles and spread.

    python3 perfbench/steady.py --workload fraud_pipeline [--runs 10]
        [--sets 2] [--seed0 1] [--seconds S]

Spread is (q3 - q1) / median with Python's statistics.quantiles(n=4). For
each end-to-end metric the check passes when the spread is within the
metric's bound in BENCHMARK.json, and, with --sets 2,
when the second set's median is not worse than the first set's by more
than the bound. "target" marks spreads under a third of the bound. Raw
results, with each run's report line, are kept in <build dir>/steady/.
Exits 1 if any check fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402


def cpu_times():
    """(steal, total) jiffies of the whole machine, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return f[7], sum(f)


def run_once(workload, seed, seconds):
    """One untraced run: (result, report line, wall seconds, steal %).
    Steal is the share of CPU time the hypervisor gave to other guests
    while the run lasted: a run with high steal was slowed from outside."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    c0 = cpu_times()
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.monotonic() - t0
    c1 = cpu_times()
    steal = 100.0 * (c1[0] - c0[0]) / max(c1[1] - c0[1], 1) if c0 and c1 else float("nan")
    if p.returncode != 0:
        return None, None, wall, steal
    lines = p.stdout.strip().split("\n")
    return json.loads(lines[-1]), json.loads(lines[-2]), wall, steal


def summarize(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds or bench["run_seconds"]
    spec = {m["name"]: m for m in bench["end_to_end"]}

    sets, failed_runs, walls, steals, reports = [], 0, [], [], []
    for s in range(a.sets):
        results = []
        for i in range(a.runs):
            seed = a.seed0 + s * a.runs + i
            r, rep, wall, steal = run_once(a.workload, seed, seconds)
            walls.append(wall)
            reports.append(rep)
            steals.append(steal)
            ok = r is not None and r["correct"] and r["failed"] == 0
            failed_runs += not ok
            print(f"set {s + 1} seed {seed}: {wall:5.1f} s steal {steal:4.1f} % "
                  + ("FAILED" if r is None else f"correct={r['correct']} failed={r['failed']}/{r['attempted']}"),
                  file=sys.stderr)
            if r is not None:
                results.append(r)
        sets.append(results)

    ok = failed_runs == 0
    report = {"workload": a.workload, "runs": a.runs, "sets": a.sets, "seconds": seconds,
              "run_wall_s_max": max(walls), "run_wall_s_mean": sum(walls) / len(walls),
              "steal_pct_max": max(steals), "failed_runs": failed_runs, "metrics": {},
              "reports": reports}
    names = sorted({n for res in sets for r in res for n in r["metrics"]})
    print(f"{'metric':40} {'set':>3} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>7} {'bound':>6}  verdict")
    for name in names:
        m = spec.get(name)
        bound = m["bound"] if m else None
        row = []
        for si, res in enumerate(sets):
            vals = [r["metrics"][name]["value"] for r in res if name in r["metrics"]]
            if len(vals) < 2:
                continue
            med, q1, q3, spread = summarize(vals)
            verdict = ""
            if bound is not None:
                verdict = "target" if spread < bound / 3 else ("ok" if spread <= bound else "TOO WIDE")
                ok &= spread <= bound
            row.append(med)
            print(f"{name:40} {si + 1:>3} {med:14.4f} {q1:14.4f} {q3:14.4f} {spread:7.3f} "
                  f"{bound if bound is not None else '':>6}  {verdict}")
            report["metrics"].setdefault(name, []).append(
                {"median": med, "q1": q1, "q3": q3, "spread": spread, "values": vals})
        if bound is not None and len(row) == 2:
            worse = (row[1] - row[0]) / row[0] * (1 if m["better"] == "lower" else -1)
            agree = worse <= bound
            ok &= agree
            print(f"{name:40} second set worse by {worse:+.3f} (bound {bound}): "
                  + ("agree" if agree else "DISAGREE"))
    report["ok"] = ok
    out = os.path.join(build.build_dir(), "steady")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{a.workload}-{int(time.time())}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps({k: report[k] for k in ("workload", "ok", "failed_runs", "run_wall_s_max",
                                               "run_wall_s_mean", "steal_pct_max")}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

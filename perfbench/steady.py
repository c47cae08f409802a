"""Steadiness check for the graft benchmark.

    python3 perfbench/steady.py --workload serve --runs 10 [--seed 1] \
        [--seconds 10] [--trace 0|1] [--overhead] [--same-seed]

Runs one workload N times, each with another seed (seed, seed+1, ...), and
prints per metric the median, the quartiles and the spread (q3 - q1) /
median, with the quartiles taken as statistics.quantiles(values, n=4) gives
them. End-to-end metrics are marked against a third of their bound in
BENCHMARK.json. --overhead also makes a traced run per seed and prints
traced minus untraced end-to-end medians (the tracing overhead). The
machine, the host CPU steal over the runs and the Spark settings the
benchmark fixes are printed with the table.
--same-seed runs every run on --seed and checks that the index digest each
run records (notes.digest in its report) is identical.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) of a sample of two or more."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def report(workload, seed, trace):
    path = ROOT / ".bench_build" / "reports" / f"{workload}-seed{seed}-trace{trace}.json"
    return json.loads(path.read_text()) if path.exists() else {}


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"steady: {' '.join(cmd)} exited {r.returncode}")
    res = json.loads(lines[-1])
    if not res["correct"] or res["failed"]:
        raise SystemExit(f"steady: seed {seed}: correct={res['correct']} failed={res['failed']}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat, or None off Linux."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    except (OSError, ValueError):
        return None
    return f[7] if len(f) > 7 else 0, sum(f)


def environment(workload, seed, trace):
    mem = next((l.split()[1] for l in Path("/proc/meminfo").read_text().splitlines()
                if l.startswith("MemTotal:")), "?") if Path("/proc/meminfo").exists() else "?"
    print(f"nproc {os.cpu_count()}  memory {mem} kB  {platform.platform()}")
    for k, v in report(workload, seed, trace).get("settings", {}).items():
        print(f"  {k} = {v}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--same-seed", action="store_true")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seeds = [args.seed] * args.runs if args.same_seed else range(args.seed, args.seed + args.runs)

    runs, digests = [], set()
    before = cpu_ticks()
    for s in seeds:
        runs.append(run_once(args.workload, s, seconds, args.trace))
        digests.add(report(args.workload, s, args.trace).get("notes", {}).get("digest"))
        print(f"seed {s}: " + " ".join(f"{k}={v:.6g}" for k, v in runs[-1].items() if k in bounds or args.trace),
              flush=True)
    if args.same_seed and digests != {None}:
        if len(digests) != 1:
            raise SystemExit(f"steady: seed {args.seed} gave different index digests: {digests}")
        print(f"index digest identical across {args.runs} runs of seed {args.seed}")
    environment(args.workload, args.seed, args.trace)
    after = cpu_ticks()
    if before and after and after[1] > before[1]:
        # time the hypervisor gave this machine's CPUs to someone else
        print(f"host CPU steal over the runs: {(after[0] - before[0]) / (after[1] - before[1]):.1%}")
    print(f"{args.workload}: {len(runs)} runs of {seconds} s, trace {args.trace}")
    print(f"{'metric':44} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
    for name in runs[0]:
        med, q1, q3, sp = spread([r[name] for r in runs])
        mark = ""
        if name in bounds:
            mark = "ok" if sp < bounds[name] / 3 else f"WIDE (bound/3 = {bounds[name] / 3:.3f})"
        print(f"{name:44} {med:12.6g} {q1:12.6g} {q3:12.6g} {sp:8.4f} {mark}")

    if args.overhead and args.trace == 0:
        traced = [run_once(args.workload, s, seconds, 1) for s in seeds]
        print("tracing overhead (traced - untraced medians):")
        for name in bounds:
            a = statistics.median(r[name] for r in runs)
            b = statistics.median(r[f"trace.{name}"] for r in traced)
            print(f"  {name:20} {b - a:+.6g} ({(b - a) / a:+.2%})")


if __name__ == "__main__":
    main()

"""graft benchmark launcher.

    python3 perfbench/run.py --workload <serve|curate> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source if needed (perfbench/build.py),
runs one workload on local[<cores>], and prints as its last stdout line
{"correct", "attempted", "failed", "metrics"}: every end-to-end metric of
BENCHMARK.json with --trace 0, every per-layer metric with --trace 1 (a
layer a workload does not exercise reads 0). A failed output check exits
nonzero without a result; a run in which operations threw prints its
result, with "correct": false and the count in "failed", and exits 1.
Reports (settings, span tables) land in .bench_build/reports/.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 880


def jvm(main_args, deadline):
    """Run graftbench.Main; return (exit code, stdout). Kills the whole
    process group if it outlives the deadline."""
    cmd, env = build.command(main_args)
    proc = subprocess.Popen(cmd, cwd=build.ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(5.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("run: timed out", file=sys.stderr)
        return 124, ""
    return proc.returncode, out


def with_units(result, spec, trace):
    """Attach units from BENCHMARK.json; insist on exactly its names."""
    wanted = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    names = {m["name"] for m in wanted}
    extra = sorted(set(got) - names)
    missing = sorted(names - set(got))
    if extra or (missing and not trace and result["correct"]):
        raise SystemExit(f"run: metrics differ from BENCHMARK.json: extra {extra}, missing {missing}")
    # a traced run reads 0 for a layer its workload does not exercise; a
    # run with failed operations leaves out what it had no sample for
    result["metrics"] = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
                         for m in wanted if trace or m["name"] in got}
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()

    start = time.monotonic()
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    build.ensure()  # compiles when stale; exits nonzero without sources
    limit = BUILD_RUN_LIMIT_S if time.monotonic() - start > 30 else RUN_LIMIT_S
    deadline = start + limit

    if args.selftest:
        code, out = jvm(["--selftest"], deadline)
        sys.stdout.write(out)
        if code == 0:
            code = subprocess.run([sys.executable, "-m", "unittest", "-q", "test_steady"],
                                  cwd=Path(__file__).resolve().parent).returncode
        sys.exit(code)

    names = {w["name"] for w in spec["workloads"]}
    if args.workload not in names:
        raise SystemExit(f"run: --workload must be one of {sorted(names)}")
    code, out = jvm(["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--root", str(build.ROOT)], deadline)
    lines = [l for l in out.splitlines() if l.strip()]
    # exit 1 with a result line: operations failed, and the result says so;
    # any other nonzero exit (3: an output check failed) has no result
    if not lines or code not in (0, 1) or (code == 1 and not lines[-1].startswith("{")):
        sys.stderr.write(out)
        sys.exit(code or 1)
    result = with_units(json.loads(lines[-1]), spec, args.trace)
    print(json.dumps(result))
    sys.exit(code)


if __name__ == "__main__":
    main()

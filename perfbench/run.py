"""Runs one workload of the graft benchmark and prints its result.

    python3 perfbench/run.py --workload train_wide --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --selfcheck

Run from the root of a checkout. The first run builds graft and the
benchmark (see build.py). The last line of stdout is the result JSON; the
lines before it give the workload's own figures. With --trace 1 the metrics
are the per-layer ones and the spans are kept under
.bench_build/perfbench/run/traces/. See perfbench/README.md.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["train_wide", "train_rank", "crawl_gate"]
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selfcheck", action="store_true",
                    help="check that a seed gives the same inputs at any partition or core count")
    args = ap.parse_args()
    if not args.selfcheck and args.workload is None:
        ap.error("--workload is required")

    build.build()
    work = os.path.join(build.out_dir(), "run")
    build.clean(work)
    main_args = ["--selfcheck", "1"] if args.selfcheck else [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace)]
    try:
        proc = subprocess.run(build.java_command(main_args, work), stdout=subprocess.PIPE,
                              text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: the run did not end within %d s" % JVM_TIMEOUT_S)
    finally:
        build.clean(work)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or args.selfcheck:
        print("\n".join(lines))
        sys.exit(proc.returncode)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = {}
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: no result line")
    print("\n".join(lines))


if __name__ == "__main__":
    main()

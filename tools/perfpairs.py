#!/usr/bin/env python3
"""Alternating parent/change pairs of the repo benchmark, and their tables.

    tools/perfpairs.py --scratch DIR [--base REV] [--pairs train_wide=10,crawl_gate=5]
                       [--seed0 N] [--seconds 6] [--trace 0] [--out runs.jsonl]
    tools/perfpairs.py --summarize runs.jsonl

The first form copies the parent revision (`git archive REV`) and the
working tree (tracked and untracked files that are not ignored) into
DIR/parent and DIR/change. REV defaults to HEAD while the working tree has
changes (a change not yet committed) and to HEAD~1 when it is clean (a
committed change); the output starts with the two resolved revisions. DIR
must lie outside the repository. Each copy builds the benchmark into
DIR/parent-build or DIR/change-build, reused while its sources are
unchanged. Then pair i of the k-th workload runs both sides on seed
SEED0 + 100k + i (fresh seeds: pick ones not used while developing), the
parent first on even pairs and the change first on odd ones. Every result is appended to the --out file as one JSON line and
printed; at --trace 0 the per-run and summary tables follow as Markdown.

The second form only recomputes the tables from saved result lines.

Summary columns, per end-to-end metric of BENCHMARK.json: median and IQR
(linearly interpolated quartiles) of each side, the relative change of the
median, the bound as an absolute value (bound x parent median), the number
of pairs in which the change was better, and a verdict: "worse" when the
change's median is worse than the parent's by more than the bound,
"unresolved" when either side's IQR exceeds the bound (the runs spread
too widely to tell), else "ok".
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_COLUMNS = ["setup_s", "fit_s", "score_s", "quality", "peak_rss_mb", "ok_rate"]


def quantile(xs, q):
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def fmt(v, digits=4):
    return "%.*g" % (digits, v)


def value(result, name):
    return result["metrics"][name]["value"]


def tables(runs, spec):
    """The per-run and summary Markdown tables of each workload."""
    out = []
    for wl in dict.fromkeys(r["workload"] for r in runs):
        rs = [r for r in runs if r["workload"] == wl]
        out.append("%s\n" % wl)
        out.append("| seed | side | " + " | ".join(RUN_COLUMNS) + " | correct |")
        out.append("|---" * (len(RUN_COLUMNS) + 3) + "|")
        for r in rs:
            out.append("| %d | %s | " % (r["seed"], r["side"]) +
                       " | ".join(fmt(value(r["result"], m)) for m in RUN_COLUMNS) +
                       " | %s |" % r["result"]["correct"])
        out.append("")
        out.append("| metric | parent median | parent IQR | change median | change IQR "
                   "| Δ median | bound (abs) | change better | verdict |")
        out.append("|---" * 9 + "|")
        seeds = sorted({r["seed"] for r in rs})
        for m in spec["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            side = {s: [value(r["result"], name) for r in rs if r["side"] == s] for s in "PC"}
            if not side["P"] or not side["C"]:
                continue
            pm, cm = quantile(side["P"], 0.5), quantile(side["C"], 0.5)
            piqr = quantile(side["P"], 0.75) - quantile(side["P"], 0.25)
            ciqr = quantile(side["C"], 0.75) - quantile(side["C"], 0.25)
            bound = m["bound"] * abs(pm)
            pairs = []
            for s in seeds:
                by = {r["side"]: value(r["result"], name) for r in rs if r["seed"] == s}
                if "P" in by and "C" in by:
                    pairs.append(by["C"] < by["P"] if lower else by["C"] > by["P"])
            worse = (cm - pm) if lower else (pm - cm)
            verdict = ("worse" if worse > bound else
                       "unresolved" if max(piqr, ciqr) > bound else "ok")
            delta = (cm - pm) / abs(pm) * 100 if pm else 0.0
            out.append("| %s | %s | %s | %s | %s | %+.1f%% | %s | %d/%d | %s |" % (
                name, fmt(pm), fmt(piqr, 3), fmt(cm), fmt(ciqr, 3), delta, fmt(bound, 3),
                sum(pairs), len(pairs), verdict))
        out.append("")
    return "\n".join(out)


def copy_tree(dst, base):
    """DIR/parent from `git archive base`, DIR/change from the working tree."""
    parent, change = os.path.join(dst, "parent"), os.path.join(dst, "change")
    for d in (parent, change):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    archive = subprocess.run(["git", "-C", ROOT, "archive", base], check=True,
                             stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", parent], input=archive, check=True)
    files = subprocess.run(["git", "-C", ROOT, "ls-files", "-z", "--cached", "--others",
                            "--exclude-standard"], check=True,
                           stdout=subprocess.PIPE).stdout.decode().split("\0")
    for f in files:
        src = os.path.join(ROOT, f)
        if f and os.path.isfile(src):
            os.makedirs(os.path.dirname(os.path.join(change, f)), exist_ok=True)
            shutil.copy2(src, os.path.join(change, f))
    return {"P": parent, "C": change}


def git(*args):
    return subprocess.run(["git", "-C", ROOT] + list(args), check=True,
                          stdout=subprocess.PIPE, text=True).stdout.strip()


def revisions(base):
    """(parent revision, its commit, a description of the change side)."""
    dirty = git("status", "--porcelain") != ""
    if base is None:
        base = "HEAD" if dirty else "HEAD~1"
    head = git("rev-parse", "--short", "HEAD")
    change = head + (" + working tree" if dirty else "")
    return base, git("rev-parse", "--short", base), change


def env_for(copy):
    """The build goes next to the copy, so a fresh copy of the same sources
    reuses it."""
    env = dict(os.environ)
    env["CARGO_TARGET_DIR"] = copy + "-build"
    return env


def run_one(copy, workload, seed, seconds, trace):
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds),
                           "--trace", str(trace)], cwd=copy, env=env_for(copy),
                          stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit("perfpairs: %s seed %d failed in %s" % (workload, seed, copy))
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--summarize", metavar="RUNS_JSONL")
    ap.add_argument("--scratch", help="directory outside the repo for the two copies")
    ap.add_argument("--base", default=None,
                    help="parent revision (default HEAD with uncommitted changes, else HEAD~1)")
    ap.add_argument("--pairs", default="train_wide=10,crawl_gate=5")
    ap.add_argument("--seed0", type=int, default=9001)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", default=None, help="result lines (default SCRATCH/runs.jsonl)")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    if args.summarize:
        runs = [json.loads(l) for l in open(args.summarize) if l.strip()]
        for side, name in (("P", "parent"), ("C", "change")):
            revs = sorted({r["rev"] for r in runs if r["side"] == side and "rev" in r})
            if revs:
                print("%s: %s" % (name, ", ".join(revs)))
        print(tables(runs, spec))
        return
    if not args.scratch:
        ap.error("--scratch or --summarize is required")
    scratch = os.path.abspath(args.scratch)
    if os.path.commonpath([scratch, ROOT]) == ROOT:
        ap.error("--scratch must lie outside the repository")
    base, parent_rev, change_rev = revisions(args.base)
    print("parent: %s (%s)\nchange: %s" % (parent_rev, base, change_rev), flush=True)
    copies = copy_tree(scratch, base)
    for side in "PC":
        subprocess.run([sys.executable, "perfbench/build.py"], cwd=copies[side],
                       env=env_for(copies[side]), check=True)
    out = args.out or os.path.join(scratch, "runs.jsonl")
    runs = []
    for k, item in enumerate(args.pairs.split(",")):
        workload, n = item.split("=")
        for i in range(int(n)):
            seed = args.seed0 + 100 * k + i
            for side in ("PC" if i % 2 == 0 else "CP"):
                r = {"workload": workload, "seed": seed, "side": side,
                     "rev": parent_rev if side == "P" else change_rev,
                     "result": run_one(copies[side], workload, seed, args.seconds, args.trace)}
                runs.append(r)
                with open(out, "a") as fh:
                    fh.write(json.dumps(r) + "\n")
                print("%s seed %d %s: %s" % (workload, seed, side, " ".join(
                    "%s=%s" % (m, fmt(v["value"])) for m, v in r["result"]["metrics"].items())),
                    flush=True)
    if args.trace == 0:
        print(tables(runs, spec))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Interleaved base/head A/B of the repository benchmark.

    python3 scripts/ab_bench.py --base HEAD~1 --head HEAD \\
        --workload tick_drain [--pairs 10] [--seeds 1,2,3] [--trace 0]

Each side is a git revision (exported with `git archive` into its own
directory, so only committed files take part, as in a fresh checkout) or
an existing source directory used as it is. Each side builds into its own
`CARGO_TARGET_DIR`, and both are built before the first timed run, so no
compile lands inside a measurement.

The runs alternate in one window: pair i runs base then head when i is
even and head then base when it is odd, so slow drift of the host falls
on both sides alike. Pair i uses seed `seeds[i % len(seeds)]`. Every run is
one `perfbench/run.py` invocation for the `run_seconds` that BENCHMARK.json
fixes (both sides must declare the same); nothing under `perfbench/` is
changed.

A run counts only when it exits cleanly, reports `correct` and has no
failed operation; the medians and ratios use counted runs only. The report
gives, per metric: the median of each side, the median of the per-pair
head/base ratios, how many of all the pairs run head won (by the metric's
`better` direction in BENCHMARK.json; ties, and pairs with a run that does
not count, go to neither side), the interquartile range of the base runs,
and `gain`: head won at least nine tenths of the pairs, its median is
better than the base median by more than that range, and head has no more
runs that do not count than base. Each run's `attempted` op count is
printed with it and listed per side before the table, so runs that held
a different number of rounds (one drain or two in a `tick_drain` window)
show. The runs themselves are written as JSON to `--out` when it is
given.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, dest):
    """The committed tree of `rev` in `dest`, or `rev` itself when it is a dir."""
    if os.path.isdir(rev):
        return os.path.abspath(rev)
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", REPO, "archive", rev],
                             check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def build(tree, target):
    env = dict(os.environ, CARGO_TARGET_DIR=target)
    subprocess.run([sys.executable, "perfbench/build.py"], cwd=tree, env=env,
                   check=True, stdout=subprocess.DEVNULL)


def run(tree, target, workload, seed, seconds, trace):
    env = dict(os.environ, CARGO_TARGET_DIR=target)
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=tree, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return {"ok": False, "metrics": {}}
    r = json.loads(lines[-1])
    return {"ok": r["correct"] and r["failed"] == 0,
            "attempted": r["attempted"], "failed": r["failed"],
            "metrics": {k: v["value"] for k, v in r["metrics"].items()}}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(names, better, runs):
    pairs = list(zip(runs["base"], runs["head"]))
    bad = {side: sum(1 for r in rs if not r["ok"]) for side, rs in runs.items()}
    print(f"{'metric':44} {'base':>10} {'head':>10} {'ratio':>7} {'wins':>6} "
          f"{'base IQR':>10}  gain")
    for name in names:
        base = [r["metrics"][name] for r in runs["base"]
                if r["ok"] and name in r["metrics"]]
        head = [r["metrics"][name] for r in runs["head"]
                if r["ok"] and name in r["metrics"]]
        if not base or not head:
            continue
        got = [(b["metrics"][name], h["metrics"][name]) for b, h in pairs
               if b["ok"] and h["ok"] and name in b["metrics"] and name in h["metrics"]]
        ratios = [h / b for b, h in got if b]
        lower = better.get(name, "lower") == "lower"
        wins = sum(1 for b, h in got if (h < b if lower else h > b))
        q1, q3 = quartiles(base)
        mb, mh = statistics.median(base), statistics.median(head)
        ahead = (mb - mh if lower else mh - mb) > (q3 - q1)
        gain = ahead and wins >= 0.9 * len(pairs) and bad["head"] <= bad["base"]
        ratio = f"{statistics.median(ratios):7.3f}" if ratios else f"{'-':>7}"
        print(f"{name:44} {mb:10.4g} {mh:10.4g} {ratio} {wins:3d}/{len(pairs):<2d} "
              f"{q3 - q1:10.4g}  {'yes' if gain else 'no'}")
        if ratios:
            print(f"{'':44} per-pair ratios: " + " ".join(f"{r:.3f}" for r in ratios))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision or source directory")
    ap.add_argument("--head", required=True, help="git revision or source directory")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="1,2,3,4,5,6,7,8,9,10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", help="directory for the trees and builds (default: a temp dir)")
    ap.add_argument("--out", help="write every run's metrics here as JSON")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]

    work = os.path.abspath(a.work) if a.work else tempfile.mkdtemp(prefix="ab_bench-")
    own_work = not a.work
    try:
        sides = {}
        for side, rev in (("base", a.base), ("head", a.head)):
            tree = export(rev, os.path.join(work, side))
            target = os.path.join(work, f"{side}-build")
            print(f"{side}: {rev} -> {tree}, building", file=sys.stderr, flush=True)
            build(tree, target)
            sides[side] = (tree, target)

        declared_seconds = set()
        for tree, _ in sides.values():
            with open(os.path.join(tree, "BENCHMARK.json")) as fh:
                declared_seconds.add(json.load(fh)["run_seconds"])
        if len(declared_seconds) != 1:
            sys.exit(f"base and head declare different run_seconds: {sorted(declared_seconds)}")
        seconds = declared_seconds.pop()

        runs = {"base": [], "head": []}
        for i in range(a.pairs):
            seed = seeds[i % len(seeds)]
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            for side in order:
                tree, target = sides[side]
                r = run(tree, target, a.workload, seed, seconds, a.trace)
                r["seed"] = seed
                runs[side].append(r)
                print(f"pair {i + 1}/{a.pairs} seed {seed} {side}: "
                      f"{'ok' if r['ok'] else 'FAILED'}, attempted {r.get('attempted', '-')}",
                      file=sys.stderr, flush=True)

        with open(os.path.join(sides["head"][0], "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        declared = bench["end_to_end"] + (bench["per_layer"] if a.trace else [])
        better = {m["name"]: m["better"] for m in declared}
        names = [m["name"] for m in declared]
        bad = {side: sum(1 for r in rs if not r["ok"]) for side, rs in runs.items()}
        print(f"workload {a.workload}, {a.pairs} pairs of {seconds} s runs, seeds "
              f"{[seeds[i % len(seeds)] for i in range(a.pairs)]}, runs not "
              f"correct or with failed ops: base {bad['base']}, head {bad['head']}")
        for side, rs in runs.items():
            print(f"attempted per {side} run: "
                  + " ".join(str(r.get("attempted", "-")) for r in rs))
        report(names, better, runs)
        if a.out:
            with open(a.out, "w") as fh:
                json.dump({"base": a.base, "head": a.head, "workload": a.workload,
                           "runs": runs}, fh, indent=1)
        return 1 if bad["base"] or bad["head"] else 0
    finally:
        if own_work:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

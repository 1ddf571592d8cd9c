#!/usr/bin/env python3
"""Checks how closely the generated headline tables imitate real data.

    python3 perfbench/fidelity.py --seed 1 --passes 5 <sf0.1 dir>

Writes the `headline_queries` tables for the seed (perfbench/sfgen.py),
then runs the 8 headline queries on them and on the given directory in one
JVM (`perfbench.Fidelity`) and prints one line per query: result rows,
input records, shuffle bytes, jobs, tasks, median wall time and wall-time
share on both.
The benchmark itself never reads outside its checkout; this check is run by
hand when the generator or the queries change.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=5)
    ap.add_argument("real")
    a = ap.parse_args()
    build.build()
    work = os.path.join(build.build_dir(), "fidelity")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    gen = os.path.join(work, "sf")
    try:
        subprocess.run([sys.executable, os.path.join(build.ROOT, "perfbench/sfgen.py"),
                        "--seed", str(a.seed), "--out", gen], check=True)
        out = subprocess.run(run.java_cmd(tmp, "perfbench.Fidelity",
                                          [str(a.passes), gen, os.path.abspath(a.real)]),
                             cwd=build.ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    finally:
        shutil.rmtree(work, ignore_errors=True)
    recs = [json.loads(l) for l in out.splitlines() if l.startswith("{")]
    by = {(r["dir"] == gen, r["query"]): r for r in recs}
    keys = ("rows", "input_records", "shuffle_bytes", "jobs", "tasks", "wall_s", "wall_share")
    print("query " + " ".join(f"{k}(gen/real)" for k in keys))
    for q in sorted({r["query"] for r in recs}):
        g, r = by[(True, q)], by[(False, q)]
        print(q, " ".join(f"{g[k]:.3g}/{r[k]:.3g}" for k in keys))


if __name__ == "__main__":
    main()

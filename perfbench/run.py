#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <tick_drain|headline_queries>
        --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness from source (perfbench/build.py), then
runs one workload in a single JVM (`perfbench.Main`). Everything the run
writes stays under the build directory (`$CARGO_TARGET_DIR`, default
`.bench_build`). The harness prints a metadata line and, as the last line of
standard output, one JSON object with `correct`, `attempted`, `failed` and
`metrics`; this script relays both and exits non-zero if the JVM failed or
printed no result.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("tick_drain", "headline_queries")
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(tmp, main_class, args):
    """The harness JVM: fixed heap, temp files under `tmp`."""
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
             f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false"]
            + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-cp", build.classpath(), main_class] + args)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build.build()
    work = os.path.join(build.build_dir(), "run")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = java_cmd(tmp, "perfbench.Main", [
        "--work", work, "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace)])
    p = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit(f"run: harness exceeded {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(out)
        raise SystemExit(f"run: harness exited with code {p.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit("run: harness printed no result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

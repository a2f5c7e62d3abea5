#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload pages --seed 1 --seconds 15 --trace 0

Builds the program and the benchmark from source first (see build.py),
then runs perfbench.Main in a fixed-heap JVM on local[nproc]. All inputs
are generated from --seed into a per-run directory under .bench_build,
which is removed at exit. With --trace 1 the spans are also written to
.bench_build/traces/<workload>-<seed>.jsonl.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

HEAP = "3g"
# hard stop for the measuring JVM: the run must end within 180 s
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["pages", "scene", "table"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--docs", type=int, help="pages/table input size override")
    a = ap.parse_args()

    try:
        classes = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.OUT, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--workdir", work]
    if a.trace == "1":
        cmd += ["--trace-out",
                os.path.join(build.OUT, "traces", f"{a.workload}-{a.seed}.jsonl")]
    if a.docs:
        cmd += ["--docs", str(a.docs)]

    out = ""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        raise SystemExit(128 + signum)

    # a terminated run takes its JVM down with it (finally below)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    # the JVM's stdout is report lines, then the result line; a run that
    # failed prints none of it
    lines = [line for line in out.splitlines() if line.strip()]
    try:
        ok = proc.returncode == 0 and "correct" in json.loads(lines[-1])
    except (IndexError, ValueError):
        ok = False
    if not ok:
        print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    print("\n".join(lines), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this
checkout.

    python3 perfbench/run.py --workload tagpipe|lifecycle \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds (perfbench/build.py).
Every store, table and Spark temp file goes under one scratch directory
inside the build directory, removed on every exit path. The last line of
standard output is the JSON result; when the run fails, no result is
printed and the exit code is not 0. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# Limits on one run: 180 s, or 900 s for the run that compiles.
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 880
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
HEAP = "3g"
YOUNG = "768m"

# Spark 4 on JDK 17 needs these when started outside spark-submit.
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def on_term(signum, frame):
    raise SystemExit(128 + signum)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["tagpipe", "lifecycle"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, on_term)
    start = time.monotonic()
    try:
        classpath, source, compiled = build.build()
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    limit = BUILD_RUN_LIMIT_S if compiled else RUN_LIMIT_S
    out = build.out_dir()
    scratch = os.path.join(out, "scratch", f"run-{os.getpid()}")
    spans = os.path.join(out, "spans", f"{args.workload}-seed{args.seed}.jsonl")
    os.makedirs(scratch)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
            "-XX:+UseParallelGC", "-Xss4m", "-XX:-UsePerfData",
            "-Xlog:disable",
            "-Xlog:all=warning:stderr",
            f"-Djava.io.tmpdir={scratch}",
            "-Dlog4j2.configurationFile=" +
            os.path.join(build.HERE, "log4j2.properties")] +
           [a for p in OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--scratch", scratch, "--spans", spans,
            "--digests", os.path.join(build.HERE, "tagpipe_digests.txt")])
    env = dict(os.environ, PERFBENCH_SOURCE=source[:16])
    proc = None
    try:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, cwd=scratch,
                                env=env, text=True, start_new_session=True)
        remaining = limit - (time.monotonic() - start)
        try:
            stdout, _ = proc.communicate(timeout=max(remaining, 1))
        except subprocess.TimeoutExpired:
            print(f"run exceeded {limit} s", file=sys.stderr)
            return 1
        lines = stdout.rstrip("\n").split("\n")
        res = None
        if proc.returncode == 0:
            try:
                res = json.loads(lines[-1])
            except ValueError:
                pass
        if not isinstance(res, dict) or set(res) != RESULT_KEYS:
            print("\n".join(lines), file=sys.stderr)
            print(f"no result (exit {proc.returncode})", file=sys.stderr)
            return 1
        print("\n".join(lines))
        return 0
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""The benchmark's own test: the Spark work counts it reports repeat
exactly.

    python3 perfbench/selftest.py [--seed N]

For each workload, runs `run.py --trace 1` twice with the same seed, each
in its own JVM, and compares every `<layer>.calls`, `.jobs`, `.stages` and
`.tasks` of the two results. A later change may then claim a difference
on these names as a count, not as a timing. Exits 1 when a run fails or
any count differs.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTS = (".calls", ".jobs", ".stages", ".tasks")


def counts(workload, seed):
    """The count metrics of one traced run, or None when it fails."""
    done = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        stdout=subprocess.PIPE, text=True)
    if done.returncode != 0:
        return None
    res = json.loads(done.stdout.splitlines()[-1])
    return {k: v["value"] for k, v in res["metrics"].items()
            if k.endswith(COUNTS)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    failed = []
    for workload in ("tagpipe", "lifecycle"):
        a, b = counts(workload, args.seed), counts(workload, args.seed)
        if a is None or b is None:
            print(f"selftest {workload}: a traced run failed")
            failed.append(workload)
            continue
        diffs = [k for k in a if a[k] != b.get(k)]
        for k in diffs:
            print(f"MISMATCH {workload} {k} {a[k]} != {b.get(k)}")
        print(f"selftest {workload} {len(a)} counts "
              + ("FAILED" if diffs else "ok"))
        if diffs:
            failed.append(workload)
    print("selftest " + ("FAILED: " + ", ".join(failed) if failed else "ok"))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

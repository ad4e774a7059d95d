#!/usr/bin/env python3
"""Pins the expected output of every query the query workloads run.

    python3 perfbench/pin_hashes.py

Runs `graft.Verify` over those queries on the benchmark's tables,
requires `tools/check_oracle.py` to pass each of them against DuckDB,
then writes the drain hash of each verified output to
`perfbench/expected_hashes.tsv`. Run it again after changing a
workload's query list; a changed hash for an unchanged query is a
finding about the engine, not a reason to re-pin.
"""
import shutil
import subprocess
import sys

import build
import run

WORK = run.HERE / ".work" / "pin"


def java(classes, *args, capture=False):
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(run.os.environ, SPARK_LOCAL_DIRS=str(WORK / "spark-local"))
    done = subprocess.run(run.java_cmd(classes, WORK) + list(args), cwd=WORK, env=env,
                          stdout=subprocess.PIPE if capture else sys.stderr, check=True)
    return done.stdout.decode() if capture else None


def main():
    classes = build.build()
    shutil.rmtree(WORK, ignore_errors=True)
    WORK.mkdir(parents=True)
    names = java(classes, "graftbench.Main", "queries", capture=True).split()[-1].split(",")
    verify = WORK / "verify"
    java(classes, "graft.Verify", run.SF_DIR, str(verify), ",".join(names))
    report = subprocess.run([sys.executable, str(run.ROOT / "tools" / "check_oracle.py"),
                             run.SF_DIR, str(verify)], stdout=subprocess.PIPE, text=True)
    print(report.stdout, file=sys.stderr)
    passed = {line.split()[1] for line in report.stdout.splitlines() if line.startswith("PASS ")}
    if set(names) - passed:
        raise SystemExit(f"pin: oracle did not pass {sorted(set(names) - passed)}")
    java(classes, "graftbench.Main", "pin", "--verify", str(verify),
         "--out", str(run.HERE / "expected_hashes.tsv"), "--work", str(WORK))
    shutil.rmtree(WORK, ignore_errors=True)
    print((run.HERE / "expected_hashes.tsv").read_text(), end="")


if __name__ == "__main__":
    main()

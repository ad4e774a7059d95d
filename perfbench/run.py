#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics as the last line.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --check      # tests of the benchmark's helpers

Run from the repository root. Builds the engine and the benchmark from
source first (see build.py), then starts the benchmark JVM and times it
from outside. See README.md for the workloads and metrics.
"""
import argparse
import json
import os
import pathlib
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import build

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("curation", "ingest")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", str(pathlib.Path.home() / "testdata" / "sf0.1"))
SETUPS = 2          # JVM starts per run; setup_s is their median
SETUP_TIMEOUT_S = 30
RUN_LIMIT_S = 170   # a run, its build aside, ends within this or fails
# -XX:-UsePerfData: no hsperfdata file in the system temp directory
JVM_OPTS = ["-Xmx4g", "-XX:-UsePerfData",
            "-Dlog4j2.configurationFile=" + str(HERE / "log4j2.properties")] + [
    opt for pkg in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
    for opt in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]
# Spark keeps 20 call-site frames by default; the traced run needs the
# whole stack to find the engine frames that attribute each job.
TRACE_OPTS = ["-Dspark.callstack.depth=1000"]


def java_cmd(classes, work, traced=False):
    return (["java"] + JVM_OPTS + (TRACE_OPTS if traced else [])
            + [f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", build.classpath(classes)])


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Jvm:
    """One benchmark JVM. Records how long it took to print its ready
    line, and is always stopped and waited for."""

    def __init__(self, classes, work, args, traced=False):
        work.mkdir(parents=True, exist_ok=True)
        (work / "tmp").mkdir(exist_ok=True)
        self.log_path = work / "jvm.log"
        self.log_file = open(self.log_path, "ab")
        cmd = java_cmd(classes, work, traced) + ["graftbench.Main"] + args
        # Spark's shuffle and spill files stay inside the run's directory
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
        self.start = time.monotonic()
        self.proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                     stderr=self.log_file, stdin=subprocess.DEVNULL)
        self.ready = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self):
        for line in self.proc.stdout:
            if line.strip() == b"GRAFTBENCH READY":
                self.ready.put(time.monotonic() - self.start)

    def wait_ready(self, timeout):
        """Seconds from process start to the ready line."""
        try:
            return self.ready.get(timeout=timeout)
        except queue.Empty:
            self.fail(f"no ready line within {timeout} s")

    def finish(self, timeout):
        try:
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.fail(f"still running after {timeout} s")
        self.close()
        if self.proc.returncode != 0:
            self.fail(f"exited with {self.proc.returncode}")

    def close(self):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.log_file.close()

    def fail(self, why):
        self.close()
        tail = self.log_path.read_text(errors="replace").splitlines()[-40:]
        raise SystemExit(f"perfbench: JVM {why}; log tail:\n" + "\n".join(tail))


def run(args):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    if not pathlib.Path(SF_DIR, "events.parquet").is_file():
        raise SystemExit(f"perfbench: no sf tables at {SF_DIR} (set SPARK_GRAFT_SF_DIR)")
    classes = build.build()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    out = work / "result.json"
    setups = []
    jvms = []
    try:
        if not args.trace:
            for k in range(SETUPS - 1):
                jvm = Jvm(classes, work / f"setup{k}",
                          ["setup", "--workload", args.workload, "--work", str(work / f"setup{k}")])
                jvms.append(jvm)
                setups.append(jvm.wait_ready(SETUP_TIMEOUT_S))
                jvm.finish(SETUP_TIMEOUT_S)
        jvm = Jvm(classes, work, [
            "run", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", SF_DIR, "--work", str(work), "--out", str(out),
            "--hashes", str(HERE / "expected_hashes.tsv")], traced=bool(args.trace))
        jvms.append(jvm)
        setups.append(jvm.wait_ready(SETUP_TIMEOUT_S))
        jvm.finish(max(1.0, deadline - time.monotonic()))
    finally:
        for jvm in jvms:
            jvm.close()
        if (work / "jvm.log").is_file():
            shutil.copyfile(work / "jvm.log", HERE / ".work" / f"{args.workload}.log")
    result = json.loads(out.read_text())
    measured = result["metrics"]
    if not args.trace:
        measured["setup_s"] = statistics.median(setups)
    names = [m["name"] for m in wanted]
    if set(measured) != set(names):
        raise SystemExit(f"perfbench: metrics {sorted(measured)} != declared {sorted(names)}")
    if args.trace:
        spans = HERE / ".work" / f"trace-{args.workload}.jsonl"
        shutil.copyfile(str(out) + ".spans.jsonl", spans)
        log(f"spans written to {spans.relative_to(ROOT)}")
    shutil.rmtree(work, ignore_errors=True)
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    if not result["correct"]:
        log(f"output gate failed: {result['failed']} of {result['attempted']} operations")
        return 1
    return 0


def check():
    classes = build.build()
    done = subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(classes),
                           "graftbench.Main", "check"])
    return done.returncode


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--check", action="store_true", help="test the benchmark's helpers")
    args = p.parse_args()
    # a SIGTERM from the caller must still stop and reap the JVMs (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.check:
        return check()
    if args.workload is None:
        p.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())

"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) into `perfbench/.build/classes`, with
the Scala compiler that ships in the Spark distribution, so a build needs
nothing beyond the Spark installation's jars and a JDK. A build is
skipped when no source file changed since the last one.

    python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
# $SPARK_HOME, else the installation that owns the spark-submit on PATH
SPARK_HOME = os.environ.get("SPARK_HOME") or str(
    pathlib.Path(os.path.realpath(shutil.which("spark-submit") or "/")).parent.parent)
SPARK_JARS = pathlib.Path(SPARK_HOME) / "jars"
SOURCE_TREES = (ROOT / "src" / "main" / "scala", HERE / "src")
OUT = HERE / ".build"


def sources():
    missing = [str(t) for t in SOURCE_TREES if not t.is_dir()]
    if missing:
        raise SystemExit(f"build: source tree missing: {', '.join(missing)}")
    return sorted(p for t in SOURCE_TREES for p in t.rglob("*.scala"))


def classpath(classes):
    return f"{classes}{os.pathsep}{SPARK_JARS}/*"


def build():
    """Returns the classes directory, compiling first if a source changed."""
    if not SPARK_JARS.is_dir():
        raise SystemExit(f"build: no Spark jars at {SPARK_JARS}")
    files = sources()
    digest = hashlib.sha256()
    for p in files:
        digest.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    stamp = digest.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    staging = OUT / "staging"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(staging),
           "-classpath", f"{SPARK_JARS}/*", f"@{argfile}"]
    print(f"build: compiling {len(files)} sources", file=sys.stderr)
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=600)
    if done.returncode != 0:
        raise SystemExit(f"build: scalac exited with {done.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())

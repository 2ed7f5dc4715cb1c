"""Build file of the benchmark.

Compiles the program's Scala sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into .bench_build/classes, using
the Scala compiler that ships with Spark's jars. The build is skipped when
a stamp of every source file's path and content matches the last build.

    python3 perfbench/build.py      # build (or confirm up to date) and exit
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"
BUILD_DIR = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
CLASSES = BUILD_DIR / "classes"


def spark_jars() -> Path:
    jars = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not (jars / "scala-compiler-2.13.17.jar").exists():
        raise SystemExit(f"build: no Spark 4 / Scala 2.13 jars under {jars}")
    return jars


def sources() -> list:
    found = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        files = sorted(base.rglob("*.scala")) if base.is_dir() else []
        if not files:
            raise SystemExit(f"build: no Scala sources under {base}")
        found += files
    return found


def build() -> Path:
    """Returns the classes directory, compiling first if sources changed."""
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    stamp_file = CLASSES / ".stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return CLASSES
    staging = BUILD_DIR / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = BUILD_DIR / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(staging), f"@{argfile}"]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-4000:])
        raise SystemExit(f"build: scalac exited with {done.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    staging.rename(CLASSES)
    stamp_file.write_text(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())

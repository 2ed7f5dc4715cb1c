"""Benchmark entry point: one seeded run of one workload.

    python3 perfbench/run.py --workload direct_ingest --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark (see build.py), runs the workload in
one JVM with Spark in local[nproc] mode, and prints as the last line of
stdout one JSON object: correct, attempted, failed and the metrics (the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1).
Everything it writes stays under .bench_build/ in the checkout; the spans
of a traced run land in .bench_build/traces/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("direct_ingest", "mv_rollup")
# A run must end within 180 s; the JVM gets what the build left of that.
RUN_LIMIT_S = 175

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(classes, work, main_class, args) -> list:
    """The JVM command for one benchmark main, with its temp dir in `work`."""
    return (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss4m", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={work / 'tmp'}"]
            + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*",
               main_class] + [str(a) for a in args])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()

    classes = build.build()
    work = build.BUILD_DIR / "work" / f"{args.workload}-{args.seed}"
    traces = build.BUILD_DIR / "traces"
    logs = build.BUILD_DIR / "logs"
    shutil.rmtree(work, ignore_errors=True)
    for d in (work / "tmp", traces, logs):
        d.mkdir(parents=True, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    cmd = java_cmd(classes, work, "perfbench.Main",
                   [args.workload, args.seed, args.seconds, args.trace, work,
                    traces / f"{tag}.json"])
    log_path = logs / f"{tag}.log"
    try:
        with open(log_path, "w") as log:
            done = subprocess.run(
                cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                timeout=max(10, RUN_LIMIT_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"run: {tag} exceeded its time limit\n")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in done.stdout.splitlines() if ln.strip()]
    if done.returncode != 0 or not lines:
        sys.stderr.write(open(log_path).read()[-3000:])
        sys.stderr.write(f"run: {tag} exited with {done.returncode}\n")
        return 1
    result = json.loads(lines[-1])
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

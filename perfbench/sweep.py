"""One-off sweep: which registered queries does count() under-price?

    python3 perfbench/sweep.py <sfDir> [outFile]

Runs every SparkEntry query twice over the parquet tables in <sfDir>, as
count() and as a full-result noop write, and writes a markdown table of
the queries whose count() executed plan drops operators or computed
columns that the full-result plan keeps (default outFile:
perfbench/count_vs_noop.md).
"""
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402


def main() -> int:
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    sf_dir = Path(sys.argv[1]).resolve()
    out = Path(sys.argv[2]) if len(sys.argv) > 2 else \
        Path(__file__).resolve().parent / "count_vs_noop.md"
    classes = build.build()
    work = build.BUILD_DIR / "work" / "sweep"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        return subprocess.run(run.java_cmd(
            classes, work, "perfbench.CountSweep", [sf_dir, out.resolve(), work]),
            stderr=subprocess.DEVNULL).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

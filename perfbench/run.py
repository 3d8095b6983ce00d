"""Benchmark entry point, run from the repository root:

    python3 perfbench/run.py --workload weblog_agg --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark if their sources changed (see
build.py), runs one workload in one JVM, and prints the result JSON as the
last line of stdout. Scratch data lives in .bench_build/work and is deleted
when the run ends; per-run detail and span files go to .bench_build/results.
"""
import argparse
import fcntl
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["weblog_agg", "route_fanout", "weblog_stream", "curate_incremental"]
DEADLINE_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build.BUILD.mkdir(exist_ok=True)
    with open(build.BUILD / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        classes = build.build()

    work = (build.BUILD / "work" / f"{a.workload}-{a.seed}-{os.getpid()}").resolve()
    results = (build.BUILD / "results").resolve()
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    here = Path(__file__).resolve().parent
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss4m",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={here / 'log4j2.properties'}",
           "-cp", f"{classes.resolve()}{os.pathsep}{build.spark_jars() / '*'}",
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", str(work), "--results", str(results)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("perfbench: run exceeded its deadline", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        print(f"perfbench: JVM exited {proc.returncode} without a result", file=sys.stderr)
        return proc.returncode or 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())

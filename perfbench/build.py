"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py        # from the repository root

Classes go to .bench_build/classes; a stamp of the source contents skips the
compile when nothing changed.
"""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

BUILD = Path(".bench_build")
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"
SOURCE_DIRS = [Path("src/main/scala"), Path("perfbench/src")]


def spark_jars() -> Path:
    """Spark's jars: $SPARK_HOME/jars, else those of the first spark-submit
    on PATH that sits in a Spark install."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else []
    homes += [Path(d).resolve().parent for d in os.environ.get("PATH", "").split(os.pathsep)
              if d and (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if list((Path(home) / "jars").glob("spark-sql_*.jar")):
            return Path(home) / "jars"
    sys.exit("perfbench: no Spark jars found; set SPARK_HOME")


def sources() -> list:
    found = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            sys.exit(f"perfbench: {d} not found; run from the repository root")
        found += sorted(str(p) for p in d.rglob("*.scala"))
    return found


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        h.update(Path(f).read_bytes())
    return h.hexdigest()


def build() -> Path:
    files = sources()
    want = stamp(files)
    if STAMP.exists() and STAMP.read_text() == want and CLASSES.is_dir():
        return CLASSES
    jars = spark_jars()
    tmp = BUILD / "classes.tmp"
    subprocess.run(["rm", "-rf", str(tmp)], check=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), "@" + str(argfile)]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    subprocess.run(["rm", "-rf", str(CLASSES)], check=True)
    tmp.rename(CLASSES)
    STAMP.write_text(want)
    return CLASSES


if __name__ == "__main__":
    print(build())

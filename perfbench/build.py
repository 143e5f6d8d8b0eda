"""Builds the engine and the benchmark program from source with scalac.

Compiles the engine (`src/main/scala`) and the benchmark's own sources
(`perfbench/src`) into one class directory under `.bench_build/`,
against the Spark and Scala jars the toolchain ships in
`$SPARK_HOME/jars`. A content hash of every source file is stored next
to the classes, so an unchanged tree is not compiled twice.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jars():
    """`$SPARK_HOME/jars`, or the jars of the Spark whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = Path(home or ".") / "jars"
    if not jars.is_dir():
        raise SystemExit(f"build: no Spark jars at {jars}; set SPARK_HOME")
    return jars


def sources():
    files = sorted(p for d in SOURCES if d.is_dir() for p in d.rglob("*.scala"))
    if not (SOURCES[0] / "graft").is_dir():
        raise SystemExit(f"build: engine sources missing under {SOURCES[0]}")
    return files


def build():
    """Returns the class directory, compiling first if any source changed."""
    files = sources()
    digest = hashlib.sha256(Path(__file__).read_bytes())
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    classes, stamp = OUT / "classes", OUT / "classes.sha256"
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    jars = spark_jars()
    compiler = os.pathsep.join(str(j) for j in sorted(jars.glob("scala-*.jar")))
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-classpath", str(jars / "*"),
           "-d", str(classes), f"@{argfile}"]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-8000:])
        raise SystemExit(f"build: scalac failed with code {done.returncode}")
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())

#!/usr/bin/env python3
"""Build the benchmark: the program's own Scala sources (src/main/scala)
compiled together with the benchmark's sources in tracebench/src, by the Scala compiler
that ships in Spark's jar directory. No network, no sbt.

Output goes to .bench_build/<digest>/classes, where <digest> covers every
source and resource file, so an unchanged tree is built once.

    python3 tracebench/build.py      # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SOURCES = [ROOT / "src" / "main" / "scala", BENCH / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"
OUT = ROOT / ".bench_build"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not any(jars.glob("scala-compiler-*.jar")):
        sys.exit("build: no Spark jar directory with scala-compiler "
                 "(set SPARK_HOME)")
    return jars


def _files():
    for d in SOURCES:
        if not d.is_dir():
            sys.exit(f"build: missing source directory {d.relative_to(ROOT)}")
    scala = sorted(p for d in SOURCES for p in d.rglob("*.scala"))
    res = sorted(p for p in RESOURCES.rglob("*") if p.is_file()) \
        if RESOURCES.is_dir() else []
    return scala, res


def build():
    """Compile if needed; return the classes directory."""
    scala, res = _files()
    h = hashlib.sha256()
    for p in scala + res:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    target = OUT / h.hexdigest()[:16]
    classes = target / "classes"
    if (target / "ok").exists():
        return classes
    tmp = OUT / (target.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in sorted(spark_jars().glob("*.jar")))
    args = tmp / "sources.txt"
    args.write_text("\n".join(str(p) for p in scala) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp / "classes"), "-classpath", cp,
           f"@{args}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"build: scalac failed with code {r.returncode}")
    for p in res:
        dst = tmp / "classes" / p.relative_to(RESOURCES)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    (tmp / "ok").touch()
    shutil.rmtree(target, ignore_errors=True)
    tmp.rename(target)
    return classes


if __name__ == "__main__":
    print(build())

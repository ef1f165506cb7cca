"""Compiles the program and the benchmark's own Scala sources.

The program's main sources (`src/main/scala` at the checkout root) and
the benchmark's mains (`clibench/scala`) are compiled with the Scala
compiler that ships in Spark's jars, into `.bench_build/classes/`. A
stamp over every source file skips the compile when nothing changed.

    python3 clibench/build.py
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("SPARK_HOME is not set and spark-submit is not on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not jars.is_dir():
        raise SystemExit(f"no Spark jars under {jars}")
    return jars


def _compiler_cp(jars):
    picks = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(str(jars / f"{name}-2.13.*.jar")))
        if not found:
            raise SystemExit(f"{name} 2.13 not found in {jars}")
        picks.append(found[-1])
    return os.pathsep.join(picks)


def _sources(d):
    return sorted(str(p) for p in Path(d).rglob("*.scala"))


def _scalac(jars, sources, classpath, out):
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", _compiler_cp(jars), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", str(out)] + sources
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        raise SystemExit(f"scalac failed for {out.name}")


def build():
    """Returns (program classpath, benchmark classpath), compiling first
    when a source changed."""
    src = ROOT / "src" / "main" / "scala"
    if not src.is_dir():
        raise SystemExit(f"program sources not found at {src}")
    jars = spark_jars()
    spark_cp = str(jars / "*")
    program, bench = _sources(src), _sources(HERE / "scala")
    digest = hashlib.sha256()
    for f in program + bench:
        digest.update(f.encode())
        digest.update(Path(f).read_bytes())
    stamp = BUILD / "classes" / "stamp"
    graft, clib = BUILD / "classes" / "graft", BUILD / "classes" / "clibench"
    if not (stamp.exists() and stamp.read_text() == digest.hexdigest()):
        if stamp.exists():
            stamp.unlink()
        _scalac(jars, program, spark_cp, graft)
        _scalac(jars, bench, os.pathsep.join([str(graft), spark_cp]), clib)
        stamp.write_text(digest.hexdigest())
    return (os.pathsep.join([str(graft), spark_cp]),
            os.pathsep.join([str(graft), str(clib), spark_cp]))


if __name__ == "__main__":
    print(build()[1])

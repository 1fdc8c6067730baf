"""Build file of the benchmark: compiles the program (src/main/scala of the
repository) together with the benchmark sources (perfbench/src) with the
Scala compiler that ships in the Spark distribution's jars
($SPARK_HOME/jars, else the directory build.sbt names as unmanagedBase).

The classes land in .bench_build/classes-<hash>, keyed by a hash of every
source file, so an unchanged tree is compiled once.

    python3 perfbench/build.py          # prints the classes directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory build.sbt uses."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            dirs.append(Path(m.group(1)))
    for d in dirs:
        if any(d.glob("scala-compiler-*.jar")):
            return d
    raise SystemExit("perfbench: no Spark jars with a Scala compiler; set SPARK_HOME")


def sources() -> list:
    program = ROOT / "src" / "main" / "scala"
    prog = sorted(program.rglob("*.scala"))
    if not prog:
        raise SystemExit(f"perfbench: program sources not found under {program}")
    return prog + sorted((HERE / "src").rglob("*.scala"))


def build() -> Path:
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / ".built").exists():
        return out
    BUILD.mkdir(exist_ok=True)
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    out.mkdir()
    cp = f"{spark_jars()}/*"
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", cp] + [str(f) for f in srcs]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({res.returncode})")
    (out / ".built").touch()
    return out


if __name__ == "__main__":
    print(build())

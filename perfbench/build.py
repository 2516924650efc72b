"""Build file of the benchmark.

Compiles the engine's main sources (`src/main/scala`) together with the
benchmark's own Scala sources (`perfbench/src`) into one class directory,
`.bench_build/classes` at the checkout root, with the Scala compiler that
ships among the Spark jars, and copies `src/main/resources` beside the
classes as sbt would. A stamp over every input file's path and bytes skips
the build when nothing changed.

Usage: python3 perfbench/build.py            (prints the class directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"


def spark_jars() -> Path:
    """The Spark jar directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    the repository's own sbt build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"perfbench: engine sources not found under {main}")
    own = Path(__file__).resolve().parent / "src"
    return sorted(main.rglob("*.scala")) + sorted(own.rglob("*.scala"))


def resources() -> list:
    res = ROOT / "src" / "main" / "resources"
    return sorted(p for p in res.rglob("*") if p.is_file()) if res.is_dir() else []


def build() -> Path:
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256(str(jars).encode())
    for s in srcs + resources():
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    stamp = h.hexdigest()
    if CLASSES.is_dir() and STAMP.exists() and STAMP.read_text() == stamp:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    compiler = os.pathsep.join(str(j) for j in sorted(jars.glob("scala-*.jar")))
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", str(jars / "*"), "-d", str(CLASSES), f"@{argfile}"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-8000:])
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise SystemExit("perfbench: compile failed")
    for r in resources():
        dest = CLASSES / r.relative_to(ROOT / "src" / "main" / "resources")
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dest)
    STAMP.write_text(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())

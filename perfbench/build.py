"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's JVM program (perfbench/scala) into .bench_build/classes with scalac.

The Spark jars directory is read from the repo's build.sbt
(`unmanagedBase := file(...)`); it also supplies the Scala compiler. A build
is skipped when a stamp of every source file and jar name is unchanged.

Usage: python3 perfbench/build.py   (prints the classpath on success)
"""
import fcntl
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


class BuildError(Exception):
    pass


def spark_jars():
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise BuildError(f"{sbt} not found: run from a checkout of the repo")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m or not Path(m.group(1)).is_dir():
        raise BuildError("build.sbt names no existing unmanagedBase jar directory")
    return Path(m.group(1))


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"{main} not found: run from a checkout of the repo")
    files = sorted(main.rglob("*.scala")) + sorted((ROOT / "perfbench" / "scala").glob("*.scala"))
    return files


def classpath():
    return f"{CLASSES}{os.pathsep}{spark_jars()}/*"


def build():
    jars = spark_jars()
    files = sources()
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build(jars, files)


def _build(jars, files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for j in sorted(p.name for p in jars.glob("*.jar")):
        h.update(j.encode())
    stamp = h.hexdigest()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return classpath()
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-classpath", f"{jars}/*", "-nowarn", "-d", str(tmp),
           f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(stamp)
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")

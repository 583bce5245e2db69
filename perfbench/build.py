#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler that ships in Spark's
jars ($SPARK_HOME/jars, else the `unmanagedBase` the program's build.sbt
names), into .bench_build/perfbench/classes. A stamp of the sources'
contents skips the compile when nothing changed.

    python3 perfbench/build.py          # build
    python3 perfbench/build.py --test   # build, then run the benchmark's unit tests
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
CLASSES = BUILD / "classes"


def jars():
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise FileNotFoundError("SPARK_HOME is unset and build.sbt names no unmanagedBase")
    return Path(m.group(1))


def classpath(*extra):
    return os.pathsep.join([str(p) for p in extra] + [str(jars() / "*")])


def sources(*dirs):
    out = []
    for d in dirs:
        if not d.is_dir():
            raise FileNotFoundError(f"source directory {d} is missing")
        out += sorted(p for p in d.rglob("*.scala"))
    return out


def scalac(srcs, dest, *cp):
    if dest.exists():
        shutil.rmtree(dest)
    dest.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(dest), "-cp", classpath(*cp)] + [str(s) for s in srcs]
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def build():
    """Compile if the sources changed; return the classes directory."""
    if not list(jars().glob("scala-compiler*.jar")):
        raise FileNotFoundError(f"no Scala compiler under {jars()}")
    srcs = sources(ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src")
    h = hashlib.sha1()
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    stamp = BUILD / "stamp"
    if stamp.exists() and stamp.read_text() == h.hexdigest() and CLASSES.is_dir():
        return CLASSES
    if stamp.exists():
        stamp.unlink()
    scalac(srcs, CLASSES)
    stamp.write_text(h.hexdigest())
    return CLASSES


def test():
    classes = build()
    dest = BUILD / "test-classes"
    scalac(sources(ROOT / "perfbench" / "test"), dest, classes)
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath(dest, classes), "perfbench.JsonTest"], check=True)


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    test() if "--test" in sys.argv[1:] else build()

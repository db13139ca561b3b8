#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine sources (src/main/scala of the checkout) together with
the benchmark's own sources (perfbench/src/main/scala) into
.bench_build/classes, using the Scala compiler that ships in the Spark
distribution's jars (the same jars the engine's build.sbt compiles
against). A content stamp skips the compile when no source changed.

    python3 perfbench/build.py        # build if stale, print the classes dir
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src" / "main" / "scala"


def spark_jars() -> Path:
    """The Spark distribution's jars: $SPARK_HOME/jars, else found from the
    spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        sys.exit("perfbench: no Spark jars with a Scala compiler found; "
                 "set SPARK_HOME")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.exists() else "java"


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        sys.exit(f"perfbench: engine sources not found under {ENGINE_SRC.relative_to(ROOT)}")
    return sorted(p for d in (ENGINE_SRC, BENCH_SRC)
                  for p in d.rglob("*") if p.suffix in (".scala", ".java"))


def stamp(srcs: list, jars: Path) -> str:
    h = hashlib.sha256()
    for p in srcs + [Path(__file__).resolve()]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(str(sorted(j.name for j in jars.glob("*.jar"))).encode())
    return h.hexdigest()


def build() -> Path:
    """Compile if stale; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    want = stamp(srcs, jars)
    stamp_file = CLASSES / ".stamp"
    if stamp_file.exists() and stamp_file.read_text() == want:
        return CLASSES
    BUILD.mkdir(exist_ok=True)
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    args = BUILD / "scalac.args"
    args.write_text("\n".join(f'"{p}"' for p in srcs) + "\n")
    cp = str(jars / "*")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    rc = subprocess.run(
        # no hsperfdata or temp files outside the checkout
        [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={BUILD}", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{args}"],
        stdout=sys.stderr).returncode
    if rc != 0:
        sys.exit(f"perfbench: compile failed (exit {rc})")
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return CLASSES


if __name__ == "__main__":
    print(build())

#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the program (`src/main/scala`) and the harness (`perfbench/src`)
into one class directory with the Scala compiler that ships in Spark's jars
directory, so no build tool or network is needed. The result is cached under
`.bench_build/perfbench` and rebuilt only when a source file changes.

Usage (from the repository root): python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def spark_jars() -> Path:
    """`$SPARK_HOME/jars`, else the jars beside the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = Path(submit).resolve().parent.parent
    return Path(home) / "jars"


def sources(root: Path) -> list:
    found = []
    for d in (root / "src" / "main" / "scala", HERE / "src"):
        found += sorted(str(p) for p in d.rglob("*.scala"))
    return found


def build(root: Path) -> Path:
    """Returns the class directory, compiling first if it is stale."""
    program = root / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"perfbench: program sources not found at {program}")
    jars = spark_jars()
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler in {jars} (set SPARK_HOME)")
    srcs = sources(root)
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        digest.update(Path(s).read_bytes())
    out = root / ".bench_build" / "perfbench"
    classes, stamp = out / "classes", out / "stamp"
    if classes.is_dir() and stamp.exists() and stamp.read_text() == digest.hexdigest():
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build(Path.cwd()))

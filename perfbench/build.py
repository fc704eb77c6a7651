#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (src/main/scala) and the
benchmark (perfbench/src) in one scalac run, with the Scala compiler and
Spark jars of the local Spark installation ($SPARK_HOME/jars, default
/opt/spark/jars).

Usage: python3 perfbench/build.py   (from the repository root)

Classes go to $CARGO_TARGET_DIR (default .bench_build), in a directory
named after a hash of every source file, so a rebuild happens exactly when
a source changes. Prints the classes directory.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spark_jars() -> Path:
    jars = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"build: no Spark and Scala jars under {jars} (set SPARK_HOME)")
    return jars


def sources() -> list:
    graft = ROOT / "src" / "main" / "scala"
    bench = ROOT / "perfbench" / "src"
    if not graft.is_dir() or not any(graft.rglob("*.scala")):
        sys.exit(f"build: no graft sources under {graft}")
    return sorted(graft.rglob("*.scala")) + sorted(bench.rglob("*.scala"))


def build() -> Path:
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    out = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    if not out.is_absolute():
        out = ROOT / out
    classes = out / f"classes-{digest.hexdigest()[:16]}"
    if (classes / "_BUILD_OK").exists():
        return classes
    if out.exists():
        for old in out.glob("classes-*"):
            shutil.rmtree(old, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "scalac-sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(classes), f"@{argfile}"]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("build: scalac failed")
    (classes / "_BUILD_OK").touch()
    return classes


if __name__ == "__main__":
    print(build())

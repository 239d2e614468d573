#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/src) into one class directory.

Usage: python3 perfbench/build.py        (from the repository root)

The Scala compiler and every library come from the Spark distribution at
$SPARK_HOME/jars, the same jar set the repository's own build uses, so no
download is needed. Output goes to $CARGO_TARGET_DIR (default .bench_build)
under `classes/`. A stamp of the source set makes a rebuild a no-op when no
source changed.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = pathlib.Path(__file__).resolve().parent
SCALA = "2.13.17"


def build_dir() -> pathlib.Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars() -> pathlib.Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (pathlib.Path(home) / "jars").is_dir():
        raise SystemExit("build: SPARK_HOME must point at a Spark distribution")
    return pathlib.Path(home) / "jars"


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"build: engine sources not found under {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return [str(f) for f in files]


def classpath() -> str:
    return os.pathsep.join([str(build_dir() / "classes"), str(spark_jars() / "*")])


def build() -> str:
    """Compile if the sources changed; return the runtime classpath."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        h.update(pathlib.Path(f).read_bytes())
    stamp = h.hexdigest()
    out = build_dir() / "classes"
    stamp_file = build_dir() / "classes.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and out.is_dir():
        return classpath()
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    jars = spark_jars()
    compiler = os.pathsep.join(
        str(jars / f"scala-{m}-{SCALA}.jar") for m in ("compiler", "library", "reflect"))
    args_file = build_dir() / "scalac.args"
    args_file.write_text("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-cp", str(jars / "*"), f"@{args_file}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    stamp_file.write_text(stamp)
    return classpath()


if __name__ == "__main__":
    build()
    print(classpath())

#!/usr/bin/env python3
"""Build the benchmark: compile the program's sources (src/main/scala) and
the harness (perfbench/src/main/scala) into one class directory with the
Scala compiler that ships in Spark's jars directory.

    python3 perfbench/build.py            # prints the class directory

The build is skipped when a stamp of every source file's path and content
matches the last successful build.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src" / "main" / "scala"]


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler among the jars in {jars}")
    return jars


def sources() -> list:
    found = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"perfbench: missing source directory {d.relative_to(ROOT)}")
        found += sorted(d.rglob("*.scala"))
    return found


def build() -> Path:
    srcs = sources()
    stamp = hashlib.sha256()
    for f in srcs:
        stamp.update(str(f.relative_to(ROOT)).encode())
        stamp.update(f.read_bytes())
    out = build_dir() / "classes"
    stamp_file = build_dir() / "classes.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp.hexdigest() and out.is_dir():
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cp = str(spark_jars() / "*")
    args_file = build_dir() / "scalac.args"
    args_file.write_text("\n".join(str(f) for f in srcs) + "\n")
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java), "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", cp, "@" + str(args_file)]
    res = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, timeout=800)
    if res.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({res.returncode})")
    stamp_file.write_text(stamp.hexdigest())
    return out


if __name__ == "__main__":
    print(build())
    sys.exit(0)

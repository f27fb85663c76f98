#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the harness
(`perfbench/src`) using the Scala compiler that ships in Spark's `jars`
directory ($SPARK_HOME/jars, or the directory of `spark-submit` on PATH):

    python3 perfbench/build.py

Output goes to `$CARGO_TARGET_DIR/classes` (default `.bench_build/classes`,
relative to the checkout root). A hash of every source file stamps the
output, so an unchanged tree is not rebuilt.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent


def out_dir():
    return (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()


def java():
    home = os.environ.get("JAVA_HOME")
    return str(pathlib.Path(home) / "bin" / "java") if home else "java"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = str(pathlib.Path(exe).resolve().parent.parent)
    if not home:
        sys.exit("build: SPARK_HOME is unset and spark-submit is not on PATH")
    jars = pathlib.Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"build: no scala-compiler jar in {jars}")
    return jars


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        sys.exit("build: no program sources under src/main/scala")
    return program + sorted((BENCH / "src").rglob("*.scala"))


def build():
    """Return the classes directory, compiling first if the sources changed."""
    srcs = sources()
    h = hashlib.sha256(pathlib.Path(__file__).read_bytes())
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    stamp = h.hexdigest()
    out = out_dir()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    out.mkdir(parents=True, exist_ok=True)
    tmp = out / f"classes.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cp = str(spark_jars() / "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"build: scalac failed with exit code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())

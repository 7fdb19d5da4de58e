#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`)
and the harness (`perfbench/src`) with the Scala compiler that ships in
Spark's jar directory ($SPARK_HOME/jars), into
`.bench_build/<source hash>/classes`. An unchanged source tree reuses
its earlier build.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one beside the
    `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("Spark not found: set SPARK_HOME")
    return Path(home) / "jars"


def sources(root):
    roots = [root / "src" / "main" / "scala", root / "perfbench" / "src"]
    if not roots[0].is_dir():
        raise SystemExit(f"engine sources not found under {roots[0]}")
    return sorted(p for r in roots for p in r.rglob("*.scala"))


def build(root):
    root = Path(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(root)).encode() + b"\0" + p.read_bytes() + b"\0")
    out = root / ".bench_build" / h.hexdigest()[:16]
    classes = out / "classes"
    if (out / "_DONE").exists():
        return classes
    shutil.rmtree(out, ignore_errors=True)
    classes.mkdir(parents=True)
    cp = f"{spark_jars()}/*"
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(classes), "-cp", cp] + [str(p) for p in srcs]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-4000:])
        raise SystemExit(f"build failed (exit {done.returncode})")
    (out / "_DONE").write_text("")
    return classes


if __name__ == "__main__":
    print(build(Path(__file__).resolve().parent.parent))

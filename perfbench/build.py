#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's own Scala sources (perfbench/src) into one class directory.

It uses the Scala compiler that ships among the Spark distribution's jars,
so it needs no build tool and no network. The output lands under
.bench_build/perfbench/<source hash>/classes in the checkout and is reused
until a source file changes.

    python3 perfbench/build.py          # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path


class BuildError(Exception):
    pass


def spark_jars(root: Path) -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else the project's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = root / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    raise BuildError("no Spark jars: set SPARK_HOME")


def sources(root: Path) -> list:
    program = root / "src" / "main" / "scala"
    if not (program / "minietl").is_dir():
        raise BuildError(f"program sources not found under {program}")
    return sorted(program.rglob("*.scala")) + sorted((root / "perfbench" / "src").rglob("*.scala"))


def build(root: Path) -> tuple:
    """Returns (class directory, Spark jar directory), compiling if needed."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256(str(jars).encode())
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()[:16]
    base = root / ".bench_build" / "perfbench"
    classes = base / stamp / "classes"
    if classes.is_dir():
        return classes, jars
    if base.exists():
        shutil.rmtree(base)
    tmp = base / stamp / "classes.tmp"
    tmp.mkdir(parents=True)
    argfile = base / stamp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = f"{jars}/*"
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    tmp.rename(classes)
    return classes, jars


if __name__ == "__main__":
    try:
        print(build(Path(__file__).resolve().parent.parent)[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")

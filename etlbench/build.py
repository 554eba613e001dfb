#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (etlbench/src) with the Scala compiler that ships among the
project's Spark jars, into .bench_build/classes.

The jar directory is the one the project's own build.sbt names as its
`unmanagedBase` (or $SPARK_HOME/jars). A stamp of every source's content
makes a second call a no-op until a source changes.

    python3 etlbench/build.py        # from the repository root
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

BUILD_DIR = pathlib.Path(".bench_build")
BENCH_SRC = pathlib.Path(__file__).resolve().parent / "src"


class BuildError(Exception):
    pass


def spark_jars(root: pathlib.Path) -> pathlib.Path:
    """Directory of the Spark (and Scala) jars the program builds against."""
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and pathlib.Path(m.group(1)).is_dir():
            return pathlib.Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (pathlib.Path(home) / "jars").is_dir():
        return pathlib.Path(home) / "jars"
    raise BuildError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def sources(root: pathlib.Path) -> list:
    prog = root / "src" / "main" / "scala"
    if not (prog / "graft" / "EtlMain.scala").is_file():
        raise BuildError(f"program sources not found under {prog}")
    return sorted(prog.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def build(root: pathlib.Path) -> str:
    """Compiles if needed; returns the runtime classpath."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256(str(jars).encode())
    for s in srcs:
        h.update(str(s.relative_to(root)).encode())
        h.update(s.read_bytes())
    stamp = h.hexdigest()
    out = root / BUILD_DIR / "classes"
    stamp_file = root / BUILD_DIR / "classes.stamp"
    if not (stamp_file.is_file() and stamp_file.read_text() == stamp):
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        argfile = root / BUILD_DIR / "scalac.args"
        argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
        cp = f"{jars}/*"
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", str(out), "-classpath", cp, f"@{argfile}"]
        print(f"[etlbench] compiling {len(srcs)} sources", file=sys.stderr)
        r = subprocess.run(cmd, stdout=sys.stderr, timeout=840)
        if r.returncode != 0:
            raise BuildError(f"scalac exited with {r.returncode}")
        stamp_file.write_text(stamp)
    resources = root / "src" / "main" / "resources"
    return os.pathsep.join([str(out), str(resources), f"{jars}/*"])


if __name__ == "__main__":
    try:
        print(build(pathlib.Path.cwd()))
    except BuildError as e:
        print(f"[etlbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)

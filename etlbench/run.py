#!/usr/bin/env python3
"""Runs the ETL benchmark from the repository root:

    python3 etlbench/run.py --workload etl_bulk --seed 1 --seconds 30 --trace 0

Builds the program and the benchmark from source if needed (build.py),
then runs etlbench.EtlBench in one JVM. The JVM's standard output is
passed through; its last line is the JSON result. Exits non-zero, with no
result, when the sources are missing, the build fails, or the run does
not finish in time.
"""
import pathlib
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

RUN_TIMEOUT_S = 175

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (the same list as the project's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main() -> int:
    root = pathlib.Path.cwd()
    try:
        cp = build.build(root)
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[etlbench] build failed: {e}", file=sys.stderr)
        return 2
    tmp = root / build.BUILD_DIR / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    here = pathlib.Path(__file__).resolve().parent
    jvm = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={here / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd = jvm + ["-cp", cp, "etlbench.EtlBench", *sys.argv[1:]]
    try:
        return subprocess.run(cmd, timeout=RUN_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        print(f"[etlbench] run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3


if __name__ == "__main__":
    sys.exit(main())

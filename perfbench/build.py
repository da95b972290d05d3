"""Build the program and the benchmark harness from source.

Compiles `src/main/scala` (the program) together with `perfbench/src`
(the harness) using the Scala compiler of the Spark distribution, so the
build needs only `java` and Spark's jars (`$SPARK_HOME/jars`, else the
directory `build.sbt` compiles against). The output is reused while
every source file is byte-identical.

    python3 perfbench/build.py        # prints the classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
PROGRAM_SRC = REPO / "src" / "main" / "scala"
RESOURCES = REPO / "src" / "main" / "resources"


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory the sbt build compiles
    against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (REPO / "build.sbt").read_text())
    return Path(m.group(1) if m else "jars")


def build_dir():
    # CARGO_TARGET_DIR, when set, names the build directory; by default it
    # sits beside the sources
    return Path(os.environ.get("CARGO_TARGET_DIR", REPO / ".bench_build")).resolve()


def sources():
    found = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return [p for p in found if p.is_file()]


def stamp(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath string."""
    if not PROGRAM_SRC.is_dir():
        raise SystemExit(f"perfbench: program sources not found at {PROGRAM_SRC}")
    jars = spark_jars()
    if not jars.is_dir():
        raise SystemExit(f"perfbench: Spark jars not found at {jars}; set SPARK_HOME")
    out = build_dir()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    srcs = sources()
    want = stamp(srcs)
    if not (stamp_file.exists() and stamp_file.read_text() == want):
        shutil.rmtree(classes, ignore_errors=True)
        classes.mkdir(parents=True)
        cp = f"{jars}/*"
        subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", str(classes), "-classpath", cp] + [str(p) for p in srcs],
            check=True, stdout=sys.stderr)
        stamp_file.write_text(want)
    return os.pathsep.join([str(classes), str(RESOURCES), f"{jars}/*"])


if __name__ == "__main__":
    print(build())

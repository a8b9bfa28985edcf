"""Build file of the benchmark: compiles the engine (src/main/scala) together with
the benchmark's JVM program (servebench/scala) into .bench_build/classes.

The Scala compiler and Spark come from $SPARK_HOME/jars, the same unmanaged
classpath build.sbt uses, so no dependency is resolved. A build is skipped when
the digest of every compiled source matches the last successful one.

    python3 servebench/build.py        # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.digest"
MODULE_OPTIONS = BUILD / "module-options.txt"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must point at a Spark 4 install (its jars/ holds the Scala compiler)")
    return Path(home) / "jars"


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    bench = ROOT / "servebench" / "scala"
    if not engine.is_dir():
        raise BuildError(f"engine sources not found under {engine.relative_to(ROOT)}")
    files = sorted(engine.rglob("*.scala")) + sorted(bench.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources to compile")
    return files


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{spark_jars()}/*"


def module_options() -> list:
    """The JVM options Spark 4 needs on JDK 17 outside spark-submit (--add-opens
    and friends). They are read from the installed Spark's own list,
    org.apache.spark.launcher.JavaModuleOptions (build.sbt's jdk17AddOpens is a
    subset of it), so no copy of it is kept here. Cached with the classes."""
    if not MODULE_OPTIONS.exists():
        p = subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath(), "servebench.ServeBench",
                            "module-options"], cwd=BUILD, capture_output=True, text=True, timeout=120)
        if p.returncode != 0 or not p.stdout.strip():
            raise BuildError("cannot read Spark's JavaModuleOptions:\n" + p.stderr[-2000:])
        MODULE_OPTIONS.write_text(p.stdout)
    return MODULE_OPTIONS.read_text().split()


def build(log=sys.stderr) -> str:
    """Compile if needed; returns the source digest of the classes in place."""
    files = sources()
    d = digest(files)
    if STAMP.exists() and STAMP.read_text() == d and CLASSES.is_dir():
        return d
    BUILD.mkdir(exist_ok=True)
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-d", str(tmp), f"@{argfile}"]
    print(f"[servebench] compiling {len(files)} sources", file=log, flush=True)
    p = subprocess.run(cmd, cwd=BUILD, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    MODULE_OPTIONS.unlink(missing_ok=True)
    tmp.rename(CLASSES)
    STAMP.write_text(d)
    return d


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[servebench] build failed: {e}", file=sys.stderr)
        sys.exit(1)

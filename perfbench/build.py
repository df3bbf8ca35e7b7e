"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark driver (perfbench/src) with the Scala compiler shipped in Spark's
jar directory into <build dir>/graftbench.jar, then dumps the class-data
archive <build dir>/graftbench.jsa that every run maps (see train). Rebuilds
only when a source changes. The build dir is $CARGO_TARGET_DIR, or
.bench_build.

    python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BuildError(Exception):
    pass


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory the repo's build.sbt uses."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise BuildError("no Spark jar directory in build.sbt; set SPARK_HOME")
    return Path(m.group(1))


def sources() -> list:
    engine = sorted(ENGINE_SRC.rglob("*.scala")) if ENGINE_SRC.is_dir() else []
    bench = sorted(BENCH_SRC.rglob("*.scala")) if BENCH_SRC.is_dir() else []
    if not engine:
        raise BuildError(f"no engine sources under {ENGINE_SRC.relative_to(ROOT)}")
    if not bench:
        raise BuildError(f"no benchmark sources under {BENCH_SRC.relative_to(ROOT)}")
    return engine + bench


def classpath() -> str:
    jars = spark_jars()
    if not (jars / "scala-compiler-2.13.17.jar").is_file():
        raise BuildError(f"Spark/Scala jars not found in {jars} (set SPARK_HOME)")
    return f"{jars}/*"


def archive() -> Path:
    return build_dir() / "graftbench.jsa"


def java(jar: Path, tmpdir: Path, cds: str) -> list:
    """The command line of a benchmark JVM up to graftbench.Main; `cds` is
    its class-data archive flag."""
    return (["java", "-Xmx3g", "-Xshare:auto", cds, f"-Djava.io.tmpdir={tmpdir}"]
            + [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-cp", f"{jar}{os.pathsep}{classpath()}", "graftbench.Main"])


def train(jar: Path) -> None:
    """Dump the class-data archive: one JVM runs a tiny traced round of both
    workloads (Main's `train`, fixed seed) and writes the classes it loaded
    when it exits. Every run maps that archive instead of loading and
    verifying the classes again, about 10 s of each run's JVM start."""
    work = build_dir() / "scratch" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    dump = archive().with_suffix(".jsa.tmp")
    dump.unlink(missing_ok=True)
    cmd = java(jar, work / "tmp", f"-XX:ArchiveClassesAtExit={dump}") + [
        "--workload", "train", "--seed", "1", "--seconds", "1", "--trace", "1",
        "--work", str(work), "--size", "tiny", "--cores", "4"]
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    except (OSError, subprocess.TimeoutExpired) as e:
        raise BuildError(f"class-data training run did not finish: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not dump.is_file():
        raise BuildError("class-data training run failed:\n"
                         + (proc.stdout + proc.stderr)[-4000:])
    dump.replace(archive())


def build() -> Path:
    """Compile and train if needed; return the jar."""
    srcs = sources()
    cp = classpath()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    out = build_dir()
    jar, stamp_file = out / "graftbench.jar", out / "graftbench.stamp"
    if (jar.is_file() and archive().is_file() and stamp_file.is_file()
            and stamp_file.read_text() == stamp):
        return jar
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp)] + [str(p) for p in srcs]
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        raise BuildError(f"scalac did not run: {e}")
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + (proc.stdout + proc.stderr)[-4000:])
    stamp_file.unlink(missing_ok=True)
    archive().unlink(missing_ok=True)
    with zipfile.ZipFile(out / "graftbench.jar.tmp", "w") as z:
        for f in sorted(tmp.rglob("*")):
            z.write(f, f.relative_to(tmp).as_posix())
    (out / "graftbench.jar.tmp").replace(jar)
    shutil.rmtree(tmp)
    train(jar)
    stamp_file.write_text(stamp)
    return jar


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)

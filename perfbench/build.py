"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark client (perfbench/src/main/scala) with the Scala compiler
that ships in Spark's jar directory into one jar, then records a JVM
class-data-sharing archive from one small traced run, so each benchmark
run starts its JVM and loads Spark's classes in a fraction of the time.

    python3 perfbench/build.py          # build if sources changed

The output goes under $CARGO_TARGET_DIR if set, else .bench_build/, at
the checkout root. A stamp over every source file's path and bytes
skips the build when nothing changed. Spark is found through
SPARK_HOME, else through `spark-submit` on PATH.
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala",
               ROOT / "perfbench" / "src" / "main" / "scala"]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark not found: set SPARK_HOME")
    return Path(home) / "jars"


def sources() -> list:
    engine, bench = ([sorted(d.rglob("*.scala")) if d.is_dir() else []
                      for d in SOURCE_DIRS])
    if not engine:
        raise BuildError(f"no engine sources under {SOURCE_DIRS[0]}")
    if not bench:
        raise BuildError(f"no benchmark sources under {SOURCE_DIRS[1]}")
    return engine + bench


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(cds: str, work: Path) -> list:
    """The benchmark JVM running in `work`: heap, GC, C1-only JIT (see
    README, warm-up policy) on a fixed set of compiler threads (whose
    CPU time op costs leave out), no perf-data file, temp files under
    `work`, Spark's module opens, and the class path. `cds` is "use" to map the archive if
    present, "record" to write it at exit."""
    out = build_dir()
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
           "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
    archive = out / "perfbench.jsa"
    if cds == "record":
        cmd.append(f"-XX:ArchiveClassesAtExit={archive}")
    elif archive.is_file():
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    for m in JDK_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{out / 'perfbench.jar'}{os.pathsep}"
                  f"{spark_jars() / '*'}", "perfbench.Main"]


def client_args(workload, seed, seconds, trace, work: Path) -> list:
    return ["--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cpus()), "--work", str(work),
            "--out", str(work / "result.json")]


def record_archive(out: Path, log) -> None:
    """One small traced run (every workload's classes: the sweep runs
    the other two) with the archive written at exit. A failed recording
    only costs start-up time, so it warns instead of failing."""
    work = out / "train"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cmd = java_cmd("record", work) + client_args("ingest", 0, 1, 1, work) \
        + ["--small", "1"]
    r = subprocess.run(cmd, stdout=log, stderr=log, cwd=work)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        (out / "perfbench.jsa").unlink(missing_ok=True)
        print("[perfbench] class-data archive not recorded",
              file=sys.stderr)


def build() -> Path:
    """Build if needed; return the build directory. Compiler and
    recording output go to <build>/build.log."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(str(s.relative_to(ROOT)).encode())
        digest.update(s.read_bytes())
    stamp = digest.hexdigest()
    out = build_dir()
    stamp_file = out / "build.stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return out
    out.mkdir(parents=True, exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    (out / "perfbench.jsa").unlink(missing_ok=True)
    with open(out / "build.log", "w") as log:
        compile_and_record(srcs, jars, out, log)
    stamp_file.write_text(stamp)
    return out


def compile_and_record(srcs, jars, out: Path, log) -> None:
    classes = out / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr,
          flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", str(jars / "*")] + [str(s) for s in srcs]
    if subprocess.run(cmd, stdout=log, stderr=log).returncode != 0:
        raise BuildError(f"scalac failed, see {log.name}")
    # the archive maps classes from jars only, never from a directory
    if subprocess.run(["jar", "cf", str(out / "perfbench.jar"), "-C",
                       str(classes), "."], stdout=log, stderr=log
                      ).returncode != 0:
        raise BuildError("jar failed")
    shutil.rmtree(classes)
    print("[perfbench] recording the class-data archive", file=sys.stderr,
          flush=True)
    record_archive(out, log)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")

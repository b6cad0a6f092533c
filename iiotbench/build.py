"""Build file of the benchmark package.

Compiles the engine sources (``src/main/scala``) together with the
benchmark's own Scala sources (``iiotbench/scala``) using the Scala
compiler that ships among the Spark jars the engine's ``build.sbt`` names,
into ``.bench_build/iiotbench/classes``, and packs them into
``iiotbench.jar``. A hash of every source file is stamped next to the
classes, so an unchanged tree is not rebuilt. After a build, one short
training run of the stream workload writes a class-data-sharing archive
(``classes.jsa``) that later JVMs map instead of loading and verifying
the Spark classes again, which takes ~4 s off every run's first session.

    python3 iiotbench/build.py          # build (or confirm up to date)
"""
import hashlib
import os
import re
import signal
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "iiotbench"
CLASSES = OUT / "classes"
JAR = OUT / "iiotbench.jar"
ARCHIVE = OUT / "classes.jsa"

JAVA_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]

# C1 only, so the JIT has settled by the end of the cold pass and warm
# passes do not keep speeding up (with C2 they do for ~70 s); a fixed-size
# heap and the serial collector keep GC work the same from pass to pass.
# JVM log lines go to stderr, never into the stdout the result is read from.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseSerialGC", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=256m", "-Xlog:disable", "-Xlog:all=warning:stderr"]


class BuildError(Exception):
    pass


def engine_sources():
    src = ROOT / "src" / "main" / "scala"
    if not (src / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        raise BuildError(f"engine sources not found under {ROOT}")
    return sorted(src.rglob("*.scala"))


def bench_sources():
    return sorted((BENCH / "scala").glob("*.scala"))


def spark_jars():
    """The jar directory `build.sbt` puts on the classpath (its
    ``unmanagedBase``), or ``$SPARK_HOME/jars``."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    candidates = [Path(m.group(1))] if m else []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    for c in candidates:
        if list(c.glob("spark-core_*.jar")):
            return c
    raise BuildError("no Spark jar directory found (build.sbt unmanagedBase or SPARK_HOME)")


def compiler_classpath(jars):
    cp = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(jars.glob(f"{name}-2.13*.jar"))
        if not found:
            raise BuildError(f"{name} jar missing from {jars}")
        cp.append(str(found[-1]))
    return os.pathsep.join(cp)


def source_hash(files, jars):
    h = hashlib.sha256(str(sorted(p.name for p in jars.glob("scala-*.jar"))).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_jvm(cp, args, work, log_path, timeout, extra_opts=()):
    """Runs ``iiotbench.Main`` in ``work``; returns (exit code, stdout).
    The JVM is killed if the timeout passes or this process is stopped."""
    shared = [f"-XX:SharedArchiveFile={ARCHIVE}"] if ARCHIVE.is_file() and not extra_opts else []
    cmd = ["java", *JVM_OPTS, *shared, *extra_opts, f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", *JAVA_OPENS, "-cp", cp, "iiotbench.Main", *args]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             cwd=work, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    return p.returncode, out


def pack_jar():
    """Class-data sharing needs jars on the class path, not directories."""
    tmp = JAR.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(CLASSES.rglob("*")):
            if f.is_file() and f.name != ".stamp":
                z.write(f, f.relative_to(CLASSES).as_posix())
    tmp.replace(JAR)


def train_archive(runtime_cp, log):
    """One short stream run that dumps the classes it loaded; without the
    archive the benchmark still runs, only its first session is slower."""
    ARCHIVE.unlink(missing_ok=True)
    work = OUT / "cds-training"
    subprocess.run(["rm", "-rf", str(work)], check=True)
    work.mkdir(parents=True)
    print("[iiotbench] writing the class-data-sharing archive", file=log, flush=True)
    try:
        code, _ = run_jvm(runtime_cp, ["--workload", "iiot_stream", "--seed", "0", "--seconds", "0",
                                       "--trace", "0", "--work", str(work), "--out", str(work / "raw.json")],
                          work, OUT / "cds-training.log", 170,
                          extra_opts=[f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    except subprocess.TimeoutExpired:
        code = None
    finally:
        subprocess.run(["rm", "-rf", str(work)], check=True)
    if code != 0:
        ARCHIVE.unlink(missing_ok=True)
        print(f"[iiotbench] no class-data-sharing archive (training run exited {code})", file=log)


def build(log=sys.stderr):
    """Compiles if needed; returns the runtime classpath."""
    files = engine_sources() + bench_sources()
    jars = spark_jars()
    stamp = CLASSES / ".stamp"
    key = source_hash(files, jars)
    runtime_cp = os.pathsep.join([str(JAR), str(jars / "*")])
    if stamp.is_file() and stamp.read_text() == key and JAR.is_file():
        return runtime_cp
    if CLASSES.exists():
        subprocess.run(["rm", "-rf", str(CLASSES)], check=True)
    CLASSES.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    print(f"[iiotbench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_classpath(jars), "scala.tools.nsc.Main",
         "-nowarn", "-d", str(CLASSES), "-cp", str(jars / "*"), f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-6000:], file=log)
        raise BuildError("scala compilation failed")
    pack_jar()
    train_archive(runtime_cp, log)
    stamp.write_text(key)
    return runtime_cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[iiotbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)

"""Build file of the benchmark package: compiles graft's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/graftbench.jar with the Scala compiler that ships in the Spark
distribution, and skips the compile when no source changed. After a compile
it runs every workload once, briefly and untimed, in a JVM that writes the
classes it loaded to a class-data sharing archive
(.bench_build/graftbench.jsa): every measured run then maps that archive
instead of loading Spark's ~15k classes again, which takes seconds off each
start, and every run starts the same way.

    python3 perfbench/build.py        # build if stale, print the JVM command
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
ARCHIVE = OUT / "graftbench.jsa"
# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HEAP = "3g"


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars of the first Spark distribution whose
    bin/ on PATH holds spark-submit."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if (Path(d) / "spark-submit").exists()]
    for h in filter(None, homes):
        if list((Path(h) / "jars").glob("scala-compiler-*.jar")):
            return Path(h) / "jars"
    raise SystemExit("build: no Spark distribution with a Scala compiler; set SPARK_HOME")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources() -> list:
    missing = [str(s.relative_to(ROOT)) for s in SOURCES if not s.is_dir()]
    if missing:
        raise SystemExit(f"build: source directories missing: {', '.join(missing)}")
    return sorted(p for s in SOURCES for p in s.rglob("*.scala"))


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure() -> None:
    """Compile if any source changed, and write the class-data sharing
    archive if the jar has none."""
    files = sources()
    jars = spark_jars()
    jar = OUT / "graftbench.jar"
    want = stamp(files)
    OUT.mkdir(parents=True, exist_ok=True)
    with open(OUT / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time per checkout
        if not (jar.exists() and stamp_file().exists() and stamp_file().read_text() == want):
            ARCHIVE.unlink(missing_ok=True)
            compile_to(jar, files, jars)
            stamp_file().write_text(want)
        if not ARCHIVE.exists():
            write_archive()


def command(main_args: list, jvm_flags: list = ()) -> tuple:
    """(argv, env) of a JVM running graftbench.Main on the built jar, with
    the archive mapped when there is one. JVM log lines go to stderr."""
    local, tmp = OUT / "spark-local", OUT / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    share = [f"-XX:SharedArchiveFile={ARCHIVE}"] if ARCHIVE.exists() else []
    cmd = [java(), "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr",
           *share, *jvm_flags, f"-Xms{HEAP}", f"-Xmx{HEAP}", *OPENS,
           f"-Djava.io.tmpdir={tmp}", "-cp", f"{OUT / 'graftbench.jar'}{os.pathsep}{spark_jars()}/*",
           "graftbench.Main", *main_args]
    return cmd, dict(os.environ, SPARK_LOCAL_DIRS=str(local))


def write_archive() -> None:
    part = ARCHIVE.with_suffix(".part")
    part.unlink(missing_ok=True)
    cmd, env = command(["--root", str(ROOT), "--archive"], [f"-XX:ArchiveClassesAtExit={part}"])
    print("build: writing the class-data sharing archive", file=sys.stderr)
    with open(OUT / "archive.log", "w") as log:
        r = subprocess.run(cmd, cwd=ROOT, env=env, stdout=log, stderr=log, timeout=600)
    if r.returncode != 0 or not part.exists():
        raise SystemExit(f"build: archive run failed with code {r.returncode}; see {OUT / 'archive.log'}")
    part.replace(ARCHIVE)


def stamp_file() -> Path:
    return OUT / "graftbench.stamp"


def compile_to(jar: Path, files: list, jars: Path) -> None:
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = [java(), "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", str(tmp), "-nowarn", *map(str, files)]
    print(f"build: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    # a jar, not a directory: the JVM's class-data sharing archives only
    # classes that come from jars
    part = jar.with_suffix(".part")
    with zipfile.ZipFile(part, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(tmp.rglob("*.class")):
            z.write(f, f.relative_to(tmp).as_posix())
    part.replace(jar)
    shutil.rmtree(tmp)


if __name__ == "__main__":
    ensure()
    print(" ".join(command(["--selftest"])[0]))

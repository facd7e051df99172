"""Build file of the benchmark: compiles the program's main sources and the
benchmark's own Scala sources with the Scala compiler that ships in the Spark
distribution's jars, packs them as jars in a build directory inside the
checkout, and records a class-data-sharing archive of the classes a short
training run loads (it cuts JVM start-up in every measured run).

    python3 perfbench/build.py

The build directory is `CARGO_TARGET_DIR` (default `.bench_build`). A stamp
over every source file, this file and the compiler jars makes a second call
with nothing changed a no-op.
"""
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
FIXTURE = BENCH / "fixture" / "sf0.1"
HEAP = "4g"
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((BENCH / "scala").rglob("*.scala"))
    return main, bench


def archive(out: Path) -> Path:
    return out / "classes.jsa"


def java(out: Path, work: Path, main_class: str, args, extra=()):
    """The JVM command line every benchmark process uses."""
    cp = os.pathsep.join([str(out / "main.jar"), str(out / "bench.jar"),
                          os.path.join(SPARK_JARS, "*")])
    return (["java", *ADD_OPENS, f"-Xmx{HEAP}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC", *extra, "-cp", cp, main_class]
            + [str(a) for a in args])


def run_jvm(cmd, work: Path, timeout: int) -> int:
    """Run one JVM in its own process group with its output in the work
    directory; kill the group on timeout. Returns the exit code (None on
    timeout)."""
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=str(work), start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def stamp(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for j in sorted(glob.glob(os.path.join(SPARK_JARS, "scala-*.jar"))):
        h.update(j.encode())
    return h.hexdigest()


def scalac(classes: Path, cp: str, files, jar: Path) -> None:
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"compile failed: {classes}")
    subprocess.run(["jar", "-J-XX:-UsePerfData", "cf", str(jar), "-C", str(classes), "."],
                   check=True)
    shutil.rmtree(classes)


def train(out: Path) -> None:
    """Record the class-data archive from a short run that touches every
    workload. Without it the benchmark still runs, only slower to start."""
    work = out / "work" / "train"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    jsa = archive(out)
    jsa.unlink(missing_ok=True)
    cmd = java(out, work, "perfbench.Main",
               ["train", 0, 1, 0, FIXTURE, work, BENCH / "expected_digests.json",
                work / "record.json"],
               extra=[f"-XX:ArchiveClassesAtExit={jsa}"])
    code = run_jvm(cmd, work, timeout=600)
    if code != 0:
        sys.stderr.write(f"class-data archive not recorded (exit {code})\n")
        jsa.unlink(missing_ok=True)
    shutil.rmtree(work, ignore_errors=True)


def build() -> Path:
    """Compile and train if needed; return the build directory."""
    main, bench = sources()
    if not main:
        raise SystemExit("no program sources under src/main/scala")
    if not glob.glob(os.path.join(SPARK_JARS, "spark-sql_*.jar")):
        raise SystemExit(f"no Spark jars under {SPARK_JARS}")
    out = build_dir()
    want = stamp(main + bench + [Path(__file__).resolve()])
    stamp_file = out / "build.stamp"
    if stamp_file.exists() and stamp_file.read_text() == want:
        return out
    out.mkdir(parents=True, exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    spark_cp = os.path.join(SPARK_JARS, "*")
    scalac(out / "classes" / "main", spark_cp, main, out / "main.jar")
    scalac(out / "classes" / "bench", os.pathsep.join([str(out / "main.jar"), spark_cp]),
           bench, out / "bench.jar")
    shutil.rmtree(out / "classes", ignore_errors=True)
    train(out)
    stamp_file.write_text(want)
    return out


if __name__ == "__main__":
    print(build())

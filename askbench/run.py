#!/usr/bin/env python3
"""Build and run the RAG benchmark.

    python3 askbench/run.py --workload chat|live --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles the engine's sources
(`src/main/scala`) together with the benchmark's code, with the Scala
compiler that ships in Spark's jars; later runs reuse that build while no
source file changed. The benchmark JVM gets a pinned heap and the module flags Spark
needs on JDK 17. Its last stdout line is the result JSON; Spark's log goes
to `askbench/out/<workload>-seed<N>-trace<T>.log`.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main"
TARGET = HERE / "target"
CLASSES = TARGET / "classes"
STAMP = TARGET / "askbench.stamp"
HEAP = "2g"
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"askbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    found = []
    for base in (ENGINE_SRC / "scala", HERE / "src" / "main" / "scala"):
        found += sorted(p for p in base.rglob("*.scala") if p.is_file())
    return found


def source_digest(jars):
    h = hashlib.sha256()
    for name in jars:
        h.update(name.name.encode())
    files = sources()
    resources = ENGINE_SRC / "resources"
    if resources.is_dir():
        files += sorted(p for p in resources.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def spark_jars():
    """The jars of the Spark installation: SPARK_HOME, else the one whose
    `spark-submit` is on the PATH, else the jar directory the engine's own
    build names (`unmanagedBase`). A pip-installed wrapper has no `jars/`
    and is skipped. Spark's jars also hold the Scala compiler."""
    dirs = [Path(os.environ["SPARK_HOME"]) / "jars"] if os.environ.get("SPARK_HOME") else []
    for d in os.environ.get("PATH", "").split(os.pathsep):
        sub = Path(d) / "spark-submit" if d else None
        if sub and sub.is_file():
            dirs.append(sub.resolve().parent.parent / "jars")
    engine_build = ROOT / "build.sbt"
    if engine_build.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', engine_build.read_text())
        if m:
            dirs.append(Path(m.group(1)))
    for d in dirs:
        jars = sorted(d.glob("*.jar")) if d.is_dir() else []
        if any(j.name.startswith("scala-compiler") for j in jars):
            return jars
    fail("no Spark installation with its jars found; set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    if exe and exe.is_file():
        return str(exe)
    found = shutil.which("java")
    if not found:
        fail("no java found; set JAVA_HOME")
    return found


def jvm_flags(tmp):
    # no hsperfdata files, and temporary files inside the checkout
    return (["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")])


def build(tmp, jars):
    """Compile the engine's sources together with the benchmark's with the
    Scala compiler from Spark's jars. The classes and the stamp of the
    sources they came from go under askbench/target/."""
    digest = source_digest(jars)
    if STAMP.is_file() and CLASSES.is_dir() and STAMP.read_text() == digest:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    STAMP.unlink(missing_ok=True)
    cp = os.pathsep.join(str(j) for j in jars)
    args = tmp / "scalac.args"
    args.write_text("\n".join(["-d", str(CLASSES), "-classpath", cp]
                               + [str(p) for p in sources()]) + "\n")
    cmd = ([java(), "-Xss16m", "-Xmx2g"] + jvm_flags(tmp)
           + ["-cp", cp, "scala.tools.nsc.Main", f"@{args}"])
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    STAMP.write_text(digest)


def stop(signum, _frame):
    # SIGTERM unwinds like an error, so the child JVM is killed and waited for
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, stop)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["chat", "live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (ENGINE_SRC / "scala" / "graft").is_dir():
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    # temporary files of the compiler and of the JVM stay inside the checkout
    tmp = HERE / f".work-tmp-{os.getpid()}"
    tmp.mkdir()
    try:
        jars = spark_jars()
        build(tmp, jars)
        run(a, jars, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run(a, jars, tmp):
    out = HERE / "out"
    out.mkdir(exist_ok=True)
    log = out / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    cp = [CLASSES] + ([ENGINE_SRC / "resources"] if (ENGINE_SRC / "resources").is_dir() else [])
    cp = os.pathsep.join(str(x) for x in cp + jars)
    cmd = ([java(), f"-Xms{HEAP}", f"-Xmx{HEAP}"] + jvm_flags(tmp)
           + ["-cp", cp, "askbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace)])
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.stderr.write(log.read_text(errors="replace")[-4000:])
            fail(f"run exceeded {RUN_TIMEOUT_S}s; see {log}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0:
        sys.stderr.write(stdout)
        sys.stderr.write(log.read_text(errors="replace")[-4000:])
        fail(f"benchmark exited with {proc.returncode}; see {log}")
    sys.stdout.write(stdout)
    sys.stdout.flush()


if __name__ == "__main__":
    main()

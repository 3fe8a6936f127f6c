#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into one
class directory, with the Scala compiler that ships with Spark.

    python3 perfbench/build.py            # from the repository root

Output goes to $CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench).
A stamp of the source contents skips the compile when nothing changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def out_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME, else the
    distribution that holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not list(jars.glob("scala-compiler-*.jar")):
        fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")
    return jars


def sources():
    if not PROGRAM_SRC.is_dir():
        fail(f"program sources not found under {PROGRAM_SRC.relative_to(ROOT)}; run from the repository root")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        fail("no sources to compile")
    return files


def classpath(classes):
    return f"{classes}{os.pathsep}{spark_jars() / '*'}"


def build():
    """Compile if the sources changed; return the class directory."""
    files = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    for j in sorted(jars.glob("scala-*.jar")):
        digest.update(j.name.encode())
    stamp = digest.hexdigest()
    out = out_dir()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes
    if classes.exists():
        shutil.rmtree(classes)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", str(jars / "*"), f"@{argfile}"]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        fail("compile failed")
    stamp_file.write_text(stamp)
    return classes


def jvm_args(work):
    """JVM flags for the benchmark's processes: the module opens Spark needs
    on JDK 17, a bounded heap, and temp files kept inside the work dir."""
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return opens + ["-Xmx3g", "-Xms3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                    f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}"]


if __name__ == "__main__":
    print(build())

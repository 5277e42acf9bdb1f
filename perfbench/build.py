#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library sources
(src/main/scala) together with the harness (perfbench/scala) with the
Scala compiler that ships in Spark's jar directory ($SPARK_HOME/jars).

Usage: python3 perfbench/build.py [checkout root]

Output goes to .bench_build: the classes packed as perfbench.jar, and a
class-data-sharing archive (app.jsa) recorded from a short training run
(Train.scala). The archive cuts about 6 s from each run's JVM and first
session start and about 3 s from its cold pass (paired runs in
perfbench/NOTES.md); setup_s is timed after a warm-up set-up, so the
archive does not change it. A stamp over every source file makes a
second build in the same checkout a no-op.
"""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

SOURCES = ("src/main/scala", "perfbench/scala")
HERE = Path(__file__).resolve().parent
ADD_OPENS = (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = Path(home) / "jars" if home else None
    if not jars or not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit("perfbench: SPARK_HOME must point at a Spark install "
                         "whose jars/ holds scala-compiler")
    return str(jars / "*")


def sources(root):
    files = []
    for d in SOURCES:
        files += sorted((root / d).rglob("*.scala"))
    return files


def jvm_flags(jsa):
    """Flags shared by the training run and the benchmark runs (the
    class-data-sharing archive is only used with the flags it was made with)."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["-Xmx3g", "-XX:+UseG1GC", f"-XX:SharedArchiveFile={jsa}", *opens]


def build(root):
    """Compile if the sources changed; return (classpath, JVM flags)."""
    root = Path(root).resolve()
    jars = spark_jars()
    if not (root / "src/main/scala/graft/SparkEntry.scala").is_file():
        raise SystemExit("perfbench: no library sources under src/main/scala")
    srcs = sources(root)
    base = root / ".bench_build"
    classes, jar, jsa, stamp = (base / "classes", base / "perfbench.jar",
                                base / "app.jsa", base / "build.stamp")
    classpath = f"{jar}{os.pathsep}{jars}"
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()
    if stamp.is_file() and stamp.read_text() == digest:
        return classpath, jvm_flags(jsa)
    for p in (classes, jar, jsa, stamp):
        subprocess.run(["rm", "-rf", str(p)], check=True)
    classes.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", jars] + [str(f) for f in srcs]
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compile failed")
    subprocess.run(["jar", "cf", str(jar), "-C", str(classes), "."], check=True)
    scratch = base / "train"
    flags = [f if not f.startswith("-XX:SharedArchiveFile=") else f"-XX:ArchiveClassesAtExit={jsa}"
             for f in jvm_flags(jsa)]
    train = subprocess.run(
        ["java", *flags, f"-Djava.io.tmpdir={base}", "-Dspark.ui.enabled=false",
         f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
         "-cp", classpath, "perfbench.Train", str(scratch / "t")],
        cwd=base, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    subprocess.run(["rm", "-rf", str(scratch), str(base / "spark-warehouse")], check=True)
    if train.returncode != 0:  # runs still work, only start slower
        print("perfbench: class-sharing training run failed", file=sys.stderr)
    stamp.write_text(digest)
    return classpath, jvm_flags(jsa)


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else ".")[0])

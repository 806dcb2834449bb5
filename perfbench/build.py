#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
perfbench/.build/classes, with the Scala compiler that ships in the Spark
distribution's jars ($SPARK_HOME/jars, else those of the spark-submit on
PATH).

A build is skipped when the sources are byte-identical to the last one.
Run it alone with `python3 perfbench/build.py`; run.py calls it first.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / ".build"
CLASSES = BUILD / "classes"


def fail(msg):
    print(f"perfbench build: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = pathlib.Path(home or ".") / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        fail(f"no Scala compiler in {jars}; set SPARK_HOME")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        fail(f"no program sources at {main}")
    return sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def build():
    """Compile if needed; return (classes dir, Spark jars dir)."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = BUILD / "stamp"
    if CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == h.hexdigest():
        return CLASSES, jars
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-cp", cp] + [str(f) for f in files]
    print(f"perfbench build: compiling {len(files)} files", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr, timeout=800).returncode != 0:
        fail("compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp.write_text(h.hexdigest())
    return CLASSES, jars


ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def java_cmd(classes, jars, tmp, main_class, args):
    """The JVM command line that runs `main_class` on the built classes,
    with its temp dir at `tmp`."""
    return (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=400",
             "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
             "-Dspark.ui.enabled=false",
             f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-cp", f"{classes}{os.pathsep}{jars}/*", main_class] + args)


if __name__ == "__main__":
    print(build()[0])

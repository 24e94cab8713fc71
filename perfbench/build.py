"""Build file of the benchmark package: compiles the program
(`src/main/scala`) together with the benchmark's own Scala sources
(`perfbench/scala`) into `.bench_build/classes` with the Scala compiler
that ships in the Spark distribution the program builds against.

The build is skipped when a previous one used identical sources and jars.
Run directly (`python3 perfbench/build.py`) or through `run.py`.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """The jar directory the program builds against: `$SPARK_HOME/jars`,
    else the `unmanagedBase` the sbt build declares."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jars found (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("build: program sources src/main/scala not found")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return files


def classpath(jars):
    return CLASSES + os.pathsep + os.path.join(jars, "*")


def build():
    """Compile if needed; returns the runtime classpath."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isdir(CLASSES):
        return classpath(jars)
    os.makedirs(BUILD, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala = [glob.glob(os.path.join(jars, f"scala-{p}-2.13*.jar"))[0]
             for p in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", os.pathsep.join(scala),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("build: compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath(jars)


if __name__ == "__main__":
    print(build())

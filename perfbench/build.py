"""Build file of the benchmark: compiles the program (src/main of the
checkout) together with the benchmark's own Scala sources (perfbench/src)
with the Scala compiler shipped in the Spark distribution, into
perfbench/.build/classes. A build is skipped when the sources are
unchanged since the last one (content hash in perfbench/.build/stamp).

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, ".build")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the ones
    next to the spark-submit on PATH, else the unmanagedBase directory
    of the repository's build.sbt."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        dirs.append(os.path.join(
            os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if jars:
            return jars
    raise SystemExit("build: no Spark jars found (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"build: program sources missing ({main})")
    files = []
    for d in (main, os.path.join(BENCH, "src")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def resources():
    return os.path.join(ROOT, "src", "main", "resources")


def stamp(files):
    h = hashlib.sha256()
    res = resources()
    extra = sorted(glob.glob(os.path.join(res, "**", "*"), recursive=True))
    for f in files + [x for x in extra if os.path.isfile(x)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and os.path.isdir(CLASSES):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return CLASSES
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as f:
        f.write("-nowarn\n-classpath\n" + os.pathsep.join(jars) + "\n")
        f.write("-d\n" + tmp + "\n")
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    if os.path.isdir(resources()):
        shutil.copytree(resources(), tmp, dirs_exist_ok=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return CLASSES


if __name__ == "__main__":
    print(build())

"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/harness) into .bench_build/classes with the
Scala compiler that ships in the Spark distribution ($SPARK_HOME/jars).

The build is skipped when a stamp of every source file's contents matches
the last build; a class tree older than its sources is never used.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

OUT = ".bench_build"
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp.json")
SOURCE_DIRS = ["src/main/scala", "perfbench/harness"]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler under {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"source directory {d} is missing")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    if not files:
        raise BuildError("no Scala sources")
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def fresh(files):
    """True when the class tree was built from exactly these sources and no
    source is newer than it."""
    try:
        with open(STAMP) as fh:
            stamp = json.load(fh)
    except (OSError, ValueError):
        return False
    built = os.path.getmtime(STAMP)
    return (stamp.get("digest") == digest(files) and os.path.isdir(CLASSES)
            and all(os.path.getmtime(f) <= built for f in files))


def build(log=sys.stderr):
    """Compile if needed; returns the class directory."""
    files = sources()
    if fresh(files):
        return CLASSES
    jars = spark_jars()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        json.dump({"digest": digest(files), "files": len(files)}, fh)
    if not fresh(files):
        raise BuildError("sources changed during the build")
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)

"""Build file of the benchmark package.

Compiles graft's main sources (`src/main/scala`) together with the
benchmark program (`perfbench/src`) with the Scala compiler that ships in
Spark's jar directory, into `<build_dir>/classes`. A digest of every
source file is kept beside the classes, so an unchanged tree is not
compiled twice.

Usage: python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    that the repository's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def default_build_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, base, "perfbench")


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not graft:
        raise BuildError(f"no Scala sources under {os.path.join(ROOT, 'src/main/scala')}")
    own = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    return graft + own


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(ROOT, "src/main/resources"),
                            os.path.join(spark_jars(), "*")])


def build(build_dir):
    """Compile if the sources changed; return (classes_dir, source_digest)."""
    srcs = sources()
    want = digest(srcs)
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.digest")
    if os.path.exists(stamp) and open(stamp).read() == want:
        return classes, want
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", jars, "@" + argfile]
    res = subprocess.run(cmd, capture_output=True, text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:] + res.stderr[-4000:])
    with open(stamp, "w") as f:
        f.write(want)
    return classes, want


if __name__ == "__main__":
    out = os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else default_build_dir()
    os.makedirs(out, exist_ok=True)
    try:
        print(build(out)[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")

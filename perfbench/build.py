"""Build file of the benchmark: compiles the repo's program sources
(src/main/scala) together with the benchmark's own sources (perfbench/src)
with the Scala compiler that ships in Spark's jars directory, and copies the
program's resources next to the classes.

    python3 perfbench/build.py        # prints the classes directory

The build is skipped when a stamp over every input file still matches.
Output goes under $CARGO_TARGET_DIR (default .bench_build) in the checkout.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spark_home():
    """$SPARK_HOME, else the first Spark install with a jars directory whose
    bin/spark-submit is on the PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


SPARK_JARS = os.path.join(_spark_home(), "jars")


class BuildError(Exception):
    pass


def _inputs():
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**"), recursive=True)
                 if os.path.isfile(p))
    return srcs, res


def _scala_jars():
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(SPARK_JARS, f"{name}-2.13.*.jar")))
        if not found:
            raise BuildError(f"{name} jar not found in {SPARK_JARS}")
        jars.append(found[-1])
    return jars


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "graftbench")


def build():
    """Compile if needed; returns the classes directory."""
    srcs, res = _inputs()
    if not any("/src/main/scala/" in s for s in srcs):
        raise BuildError("no program sources under src/main/scala")
    h = hashlib.sha256()
    for p in srcs + res + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes

    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(_scala_jars()),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(SPARK_JARS, "*"), "@" + argfile]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    res_root = os.path.join(ROOT, "src/main/resources")
    for r in res:
        dst = os.path.join(tmp, os.path.relpath(r, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)

"""Build file of the benchmark package: compiles graft's main sources and
the benchmark's own sources with the Scala compiler that ships in Spark's
jar directory, into `.bench_build/` at the repository root.

The output directory is named after a digest of every input, so an
unchanged tree is compiled once and a changed one is always recompiled.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
GRAFT_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def _files(top, suffix=""):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def inputs():
    """Every file the build reads from the tree, in a stable order."""
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        raise FileNotFoundError(f"graft sources not found under {GRAFT_SRC}")
    return (_files(GRAFT_SRC, ".scala") + _files(BENCH_SRC, ".scala"),
            _files(GRAFT_RES) if os.path.isdir(GRAFT_RES) else [])


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; return (classpath entries, source digest)."""
    sources, resources = inputs()
    tag = digest(sources + resources)
    classes = os.path.join(OUT, "classes-" + tag[:16])
    jars = spark_jars()
    if not os.path.isdir(classes):
        tmp = classes + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = os.pathsep.join(jars)
        cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", cp] + sources
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit("perfbench: compilation failed")
        for f in resources:
            dst = os.path.join(tmp, os.path.relpath(f, GRAFT_RES))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
        try:
            os.rename(tmp, classes)
        except OSError:  # a concurrent build finished first
            shutil.rmtree(tmp, ignore_errors=True)
        for old in glob.glob(os.path.join(OUT, "classes-*")):
            if old != classes and ".tmp" not in old:
                shutil.rmtree(old, ignore_errors=True)
    return [classes] + jars, tag


if __name__ == "__main__":
    print(build()[0][0])

"""Build file of the benchmark: compiles graft's main sources together with the
benchmark's own Scala sources into one class directory, with the Scala compiler
that ships in Spark's jar directory. A stamp of the source hashes skips the
build when nothing changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

GRAFT_SRC = os.path.join("src", "main", "scala")
GRAFT_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "src")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles graft against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME to a Spark installation")
    return m.group(1)


def sources(root):
    out = []
    for top in (GRAFT_SRC, BENCH_SRC):
        for d, _dirs, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, build_dir):
    """Return the class directory, compiling first if the sources changed."""
    if not os.path.isdir(os.path.join(root, GRAFT_SRC, "graft")):
        raise SystemExit("perfbench: graft sources not found under %s" % GRAFT_SRC)
    files = sources(root)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "stamp")
    stamp = stamp_of(files)
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-cp", cp] + files
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    res = os.path.join(root, GRAFT_RES)
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes

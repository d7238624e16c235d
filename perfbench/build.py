"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/src) into .bench_build/classes with the Scala
compiler that ships in the Spark distribution's jars. No sbt, no network.

The build is skipped when a stamp of every source file and the JDK
version matches the last build. Run it from the repository root:

    python3 perfbench/build.py
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
RESOURCE_DIR = "src/main/resources"
BUILD_DIR = ".bench_build"


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark distribution on
    PATH whose jars include the Scala compiler."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        jars = os.path.join(os.path.dirname(os.path.abspath(d)), "jars")
        if os.path.exists(os.path.join(d, "spark-submit")) and os.path.isdir(jars) and \
                any(n.startswith("scala-compiler") for n in os.listdir(jars)):
            return jars
    return "jars"


def classpath(root):
    return os.pathsep.join([os.path.join(root, BUILD_DIR, "classes"), os.path.join(spark_jars(), "*")])


def _files(root, rel):
    out = []
    for d, _, names in os.walk(os.path.join(root, rel)):
        out += [os.path.join(d, n) for n in names]
    return sorted(out)


def _stamp(root, sources):
    h = hashlib.sha256()
    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    h.update(java.stderr.encode())
    for path in sources + _files(root, RESOURCE_DIR):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root, log=sys.stderr):
    """Compiles when stale; returns the classes directory. Raises
    RuntimeError when the sources are missing or do not compile."""
    missing = [d for d in SOURCE_DIRS + [RESOURCE_DIR] if not os.path.isdir(os.path.join(root, d))]
    if missing:
        raise RuntimeError("sources missing: %s (run from the repository root)" % ", ".join(missing))
    if not os.path.isdir(spark_jars()):
        raise RuntimeError("no Spark distribution found (set SPARK_HOME)")
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    with open(os.path.join(root, BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time per checkout
        return _build(root, log)


def _build(root, log):
    sources = [p for d in SOURCE_DIRS for p in _files(root, d) if p.endswith(".scala")]
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(root, BUILD_DIR, "classes.stamp")
    stamp = _stamp(root, sources)
    if os.path.isdir(out) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(root, BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    print("building %d sources into %s" % (len(sources), out), file=log)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
        cwd=root, capture_output=True, text=True)
    if r.returncode != 0:
        raise RuntimeError("compile failed:\n" + (r.stdout + r.stderr)[-4000:])
    shutil.copytree(os.path.join(root, RESOURCE_DIR), tmp, dirs_exist_ok=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except RuntimeError as e:
        print(e, file=sys.stderr)
        sys.exit(2)

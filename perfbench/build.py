"""Build file of the benchmark: compiles the program (src/main) and the
benchmark's own Scala sources (perfbench/src) with the Scala compiler that
ships in the Spark distribution, into <checkout>/.bench_build/classes.

    python3 perfbench/build.py      # build if any source changed

A build is reused while the sha256 over every source file is unchanged.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars(root):
    """The Spark jars build.sbt compiles against (its unmanagedBase), else
    $SPARK_HOME/jars."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if "SPARK_HOME" not in os.environ:
        raise FileNotFoundError("build.sbt names no unmanagedBase and SPARK_HOME is not set")
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def _sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**"), recursive=True)
                 if os.path.isfile(p))
    return main, bench, res


def source_hash(root):
    h = hashlib.sha256()
    for group in _sources(root):
        for p in group:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _scalac(jars, out, classpath, files, log):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-cp", classpath]
    subprocess.run(cmd + files, check=True, stdout=log, stderr=subprocess.STDOUT)


def ensure_built(root, log=sys.stderr):
    """Return (runtime classpath, whether a build ran)."""
    main, bench, res = _sources(root)
    if not main:
        raise FileNotFoundError(f"no program sources under {root}/src/main/scala")
    jars = spark_jars(root)
    build = os.path.join(root, ".bench_build")
    classes = os.path.join(build, "classes")
    cp = os.pathsep.join([os.path.join(classes, "main"), os.path.join(classes, "bench"),
                          os.path.join(jars, "*")])
    stamp = os.path.join(build, "classes.sha256")
    want = source_hash(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == want:
                return cp, False
    shutil.rmtree(classes, ignore_errors=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    _scalac(jars, os.path.join(classes, "main"), None, main, log)
    for p in res:
        dst = os.path.join(classes, "main", os.path.relpath(p, os.path.join(root, "src/main/resources")))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    _scalac(jars, os.path.join(classes, "bench"), os.path.join(classes, "main"), bench, log)
    with open(stamp, "w") as f:
        f.write(want)
    return cp, True


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    print(ensure_built(root)[0])
